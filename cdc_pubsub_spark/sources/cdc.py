"""CDC layer: the faithful Spark reimplementation of the reference bridge.

The reference (bobvawter/cdc-pubsub) receives CockroachDB changefeed HTTP
posts and routes them by URL path; its entire semantic surface is:

- the wrapped JSON envelope it transports (README.md:5-27, publisher.go:131):
  ``{"after": {...}, "key": [...], "updated": "<33-digit HLC>"}``
- the path regexes that extract (topic, date, hlc, uniquer, table,
  schema_id) — publisher.go:133 (``generalFile``) and the typo-broken
  ``resolvedFile`` at publisher.go:134 (we implement the *intended*
  pattern, see SURVEY.md §2.A13)
- the dispatch order: resolved → general → 404 (publisher.go:152-165)
- upsert-by-key semantics: a later ``updated`` HLC supersedes, ``after:
  null`` deletes (changefeed contract, README.md:27)

Fixtures are synthesized deterministically from the ``orders`` table
(FIXTURES.md §3) with identical expressions in Spark and the DuckDB
oracle, so every CDC operator carries an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from cdc_pubsub_spark.functions.rounding import r2
from cdc_pubsub_spark.registry import register
from cdc_pubsub_spark.tables import load

# Path regexes. GENERAL_FILE is lifted semantically from the reference
# (publisher.go:133): groups = (topic, date, hlc33, uniquer, table,
# schema_id). RESOLVED_FILE is the reference's *intent* — its actual
# pattern has a typo (`(\d{33)`, publisher.go:134) and never matches; we
# implement the corrected form per SURVEY.md §2.A13.
GENERAL_FILE = r"/([^/]*)/(\d{4}-\d{2}-\d{2})/(\d{33})-(.+)-([^-]+)-([^-]+).ndjson$"
RESOLVED_FILE = r"/([^/]*)/(\d{4}-\d{2}-\d{2})/(\d{33})\.RESOLVED$"

def auth_filter(df, keys: tuple[str, ...], key_col: str = "sharedKey"):
    """Admit rows whose shared key is in the configured key set.

    Faithful to the reference's auth check (publisher.go:143-150,
    options.go:50-56): multiple keys are accepted simultaneously (key
    rotation, README.md:77-78), and — matching the reference exactly —
    an EMPTY key set admits everything (the Go range-loop over zero keys
    never rejects; dumpOnly/testing mode). Returns (admitted, rejected):
    the rejected branch is the 401 path, kept as a dead-letter DataFrame
    instead of being dropped.
    """
    if not keys:
        return df, df.limit(0)
    pred = F.col(key_col).isin(*keys)
    return df.filter(pred), df.filter(~pred | F.col(key_col).isNull())


def dispatch_path(df: DataFrame) -> DataFrame:
    """The reference's dispatch over a `path` column: resolved → general
    → unmatched (404), publisher.go:152-165. Adds `route` and the path
    groups `topic`, `date_part`, `hlc`, `table_attr` ('RESOLVED' for a
    resolved path, as publisher.go:155-157 intended) and `schema_id`
    (general paths only); the groups are null on unmatched rows."""
    is_resolved = F.col("path").rlike(RESOLVED_FILE)
    is_general = F.col("path").rlike(GENERAL_FILE)

    def gx(pattern: str, i: int) -> F.Column:
        return F.regexp_extract("path", pattern, i)

    def group(i: int) -> F.Column:
        return F.when(is_resolved, gx(RESOLVED_FILE, i)).when(
            is_general, gx(GENERAL_FILE, i)
        )

    return df.withColumns(
        {
            "route": F.when(is_resolved, "resolved")
            .when(is_general, "general")
            .otherwise("unmatched"),
            "topic": group(1),
            "date_part": group(2),
            "hlc": group(3),
            "table_attr": F.when(is_resolved, F.lit("RESOLVED")).when(
                is_general, gx(GENERAL_FILE, 5)
            ),
            "schema_id": F.when(is_general & ~is_resolved, gx(GENERAL_FILE, 6)),
        }
    )


# 33-digit HLC synthesis: lpad(epoch_ms(orderdate)*1e6 + orderkey*10 +
# version). Monotone in (orderdate, orderkey, version), pure function of
# the source row — FIXTURES.md §4 determinism rules.
_HLC_SQL = "lpad(CAST(epoch_ms(o_orderdate) * 1000000 + o_orderkey * 10 + {v} AS VARCHAR), 33, '0')"


def _hlc33(version: int) -> F.Column:
    # cast: parquet yields TIMESTAMP_NTZ; unix_millis wants TIMESTAMP.
    # Session tz is UTC (session.py) so the cast is a pure reinterpret and
    # matches DuckDB's epoch_ms over the naive timestamp.
    num = (
        F.unix_millis(F.col("o_orderdate").cast("timestamp")) * F.lit(1000000)
        + F.col("o_orderkey") * 10
        + F.lit(version)
    )
    return F.lpad(num.cast("string"), 33, "0")


@register(
    "cdc_parse_envelope",
    category="cdc",
    oracle=rf"""
    WITH lines AS (
      SELECT
        o_orderkey,
        concat(
          '{{"after": {{"o_orderkey": ', o_orderkey,
          ', "o_custkey": ', o_custkey,
          ', "o_orderstatus": "', o_orderstatus,
          '", "o_totalprice": ', printf('%.2f', o_totalprice),
          '}}, "key": [', o_orderkey,
          '], "updated": "', {_HLC_SQL.format(v=0)}, '"}}'
        ) AS line
      FROM orders WHERE o_orderkey <= 2000
    )
    SELECT
      CAST(json_extract_string(line, '$.after.o_orderkey') AS BIGINT)   AS key_orderkey,
      CAST(json_extract_string(line, '$.after.o_custkey') AS BIGINT)    AS custkey,
      json_extract_string(line, '$.after.o_orderstatus')                AS status,
      round(CAST(json_extract_string(line, '$.after.o_totalprice') AS DOUBLE), 2) AS totalprice,
      json_extract_string(line, '$.updated')                            AS updated,
      CAST(json_extract(line, '$.key[0]') AS BIGINT)                    AS key0
    FROM lines
    """,
)
def cdc_parse_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize wrapped-envelope NDJSON lines from orders, then parse
    them back into typed columns with from_json.

    The reference never parses payloads (publisher.go:193-196 treats them
    as opaque bytes); the engine parses lazily ONLY at the point of typed
    access — this operator is that point, using `from_json` with an
    explicit envelope StructType so Catalyst can prune unused fields at
    100 TB (JSON field pruning works schema-first).
    """
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    line = F.concat(
        F.lit('{"after": {"o_orderkey": '),
        F.col("o_orderkey").cast("string"),
        F.lit(', "o_custkey": '),
        F.col("o_custkey").cast("string"),
        F.lit(', "o_orderstatus": "'),
        F.col("o_orderstatus"),
        F.lit('", "o_totalprice": '),
        F.format_string("%.2f", F.col("o_totalprice")),
        F.lit('}, "key": ['),
        F.col("o_orderkey").cast("string"),
        F.lit('], "updated": "'),
        _hlc33(0),
        F.lit('"}'),
    )
    envelope_schema = T.StructType(
        [
            T.StructField(
                "after",
                T.StructType(
                    [
                        T.StructField("o_orderkey", T.LongType()),
                        T.StructField("o_custkey", T.LongType()),
                        T.StructField("o_orderstatus", T.StringType()),
                        T.StructField("o_totalprice", T.DoubleType()),
                    ]
                ),
            ),
            T.StructField("key", T.ArrayType(T.LongType())),
            T.StructField("updated", T.StringType()),
            T.StructField("resolved", T.StringType()),
        ]
    )
    parsed = orders.select(F.from_json(line, envelope_schema).alias("env"))
    return parsed.select(
        F.col("env.after.o_orderkey").alias("key_orderkey"),
        F.col("env.after.o_custkey").alias("custkey"),
        F.col("env.after.o_orderstatus").alias("status"),
        F.round(F.col("env.after.o_totalprice"), 2).alias("totalprice"),
        F.col("env.updated").alias("updated"),
        F.element_at(F.col("env.key"), 1).alias("key0"),
    )


@register(
    "cdc_route_path",
    category="cdc",
    oracle=rf"""
    WITH paths AS (
      SELECT
        o_orderkey,
        CASE
          WHEN o_orderkey % 100 = 0 THEN
            concat('/v1/orders-topic/', strftime(o_orderdate, '%Y-%m-%d'), '/',
                   {_HLC_SQL.format(v=0)}, '.RESOLVED')
          WHEN o_orderkey % 97 = 0 THEN concat('/v1/healthz-', o_orderkey)
          ELSE
            concat('/v1/orders-topic/', strftime(o_orderdate, '%Y-%m-%d'), '/',
                   {_HLC_SQL.format(v=0)}, '-',
                   substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8),
                   '-orders-1.ndjson')
        END AS path
      FROM orders WHERE o_orderkey <= 2000
    )
    SELECT
      o_orderkey,
      CASE
        WHEN regexp_matches(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})\.RESOLVED$') THEN 'resolved'
        WHEN regexp_matches(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})-(.+)-([^-]+)-([^-]+).ndjson$') THEN 'general'
        ELSE 'unmatched'
      END AS route,
      CASE
        WHEN regexp_matches(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})\.RESOLVED$')
          THEN regexp_extract(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})\.RESOLVED$', 1)
        WHEN regexp_matches(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})-(.+)-([^-]+)-([^-]+).ndjson$')
          THEN regexp_extract(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})-(.+)-([^-]+)-([^-]+).ndjson$', 1)
      END AS topic,
      CASE
        WHEN regexp_matches(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})\.RESOLVED$')
          THEN regexp_extract(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})\.RESOLVED$', 2)
        WHEN regexp_matches(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})-(.+)-([^-]+)-([^-]+).ndjson$')
          THEN regexp_extract(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})-(.+)-([^-]+)-([^-]+).ndjson$', 2)
      END AS date_part,
      CASE
        WHEN regexp_matches(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})\.RESOLVED$')
          THEN regexp_extract(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})\.RESOLVED$', 3)
        WHEN regexp_matches(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})-(.+)-([^-]+)-([^-]+).ndjson$')
          THEN regexp_extract(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})-(.+)-([^-]+)-([^-]+).ndjson$', 3)
      END AS hlc,
      CASE
        WHEN regexp_matches(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})\.RESOLVED$') THEN 'RESOLVED'
        WHEN regexp_matches(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})-(.+)-([^-]+)-([^-]+).ndjson$')
          THEN regexp_extract(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})-(.+)-([^-]+)-([^-]+).ndjson$', 5)
      END AS table_attr,
      CASE
        WHEN regexp_matches(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})-(.+)-([^-]+)-([^-]+).ndjson$')
         AND NOT regexp_matches(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})\.RESOLVED$')
          THEN regexp_extract(path, '/([^/]*)/(\d{{4}}-\d{{2}}-\d{{2}})/(\d{{33}})-(.+)-([^-]+)-([^-]+).ndjson$', 6)
      END AS schema_id
    FROM paths
    """,
)
def cdc_route_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize changefeed URL paths and route them through the
    reference's dispatch: resolved → general → unmatched (404).

    Applies the generalFile regex (publisher.go:133) and the *corrected*
    resolvedFile pattern (publisher.go:134 is typo-dead; SURVEY.md
    §2.A13). Resolved paths get table_attr='RESOLVED' exactly as
    publisher.go:155-157 intended. All regex work is JVM-side
    `regexp_extract` — one codegen'd pass, no UDF.
    """
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    date_s = F.date_format("o_orderdate", "yyyy-MM-dd")
    uniquer = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8)
    path = (
        F.when(
            F.col("o_orderkey") % 100 == 0,
            F.concat(
                F.lit("/v1/orders-topic/"), date_s, F.lit("/"), _hlc33(0), F.lit(".RESOLVED")
            ),
        )
        .when(
            F.col("o_orderkey") % 97 == 0,
            F.concat(F.lit("/v1/healthz-"), F.col("o_orderkey").cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("/v1/orders-topic/"),
                date_s,
                F.lit("/"),
                _hlc33(0),
                F.lit("-"),
                uniquer,
                F.lit("-orders-1.ndjson"),
            )
        )
    )
    return dispatch_path(orders.select("o_orderkey", path.alias("path"))).select(
        "o_orderkey", "route", "topic", "date_part", "hlc", "table_attr", "schema_id"
    )


@register(
    "cdc_scd2_history",
    category="cdc",
    oracle=rf"""
    WITH changes AS (
      SELECT o_orderkey AS key, o_orderstatus AS status,
             o_totalprice AS price, {_HLC_SQL.format(v=0)} AS updated,
             FALSE AS is_delete
      FROM orders WHERE o_orderkey <= 3000
      UNION ALL
      SELECT o_orderkey, 'U',
             floor(o_totalprice * 1.1 * 100 + 0.5) / 100, {_HLC_SQL.format(v=1)},
             FALSE
      FROM orders WHERE o_orderkey <= 3000 AND o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, NULL, NULL, {_HLC_SQL.format(v=2)}, TRUE
      FROM orders WHERE o_orderkey <= 3000 AND o_orderkey % 10 = 0
    )
    SELECT key, status, round(price, 2) AS price,
           updated AS valid_from, valid_to,
           (valid_to IS NULL AND NOT is_delete) AS is_current
    FROM (
      -- window BEFORE the tombstone filter: a delete must close its
      -- predecessor's validity interval even though it emits no row.
      SELECT *, lead(updated) OVER (PARTITION BY key ORDER BY updated) AS valid_to
      FROM changes
    )
    WHERE NOT is_delete
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: the FULL version history per key,
    each version stamped [valid_from, valid_to) in HLC time.

    Where cdc_upsert_materialize keeps only the latest row (SCD1), this
    keeps every version — the "state as of any timestamp" query the
    changefeed's `updated` cursor exists to enable (README.md:27): an
    as-of lookup is `valid_from <= ts < valid_to`. One window pass
    (lead over the per-key HLC order); a tombstone closes the last
    version without emitting a row of its own. This is the engine's
    MERGE-free SCD2 — append-only history + window, no mutable table
    required.
    """
    changes = synth_changes(spark, sf_dir)
    w = Window.partitionBy("key").orderBy("updated")
    hist = changes.withColumn("valid_to", F.lead("updated").over(w)).withColumn(
        "is_current", F.col("valid_to").isNull() & ~F.col("is_delete")
    )
    return hist.filter(~F.col("is_delete")).select(
        "key",
        "status",
        F.round("price", 2).alias("price"),
        F.col("updated").alias("valid_from"),
        "valid_to",
        "is_current",
    )


def synth_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic change stream from orders: every key gets a v0
    insert; keys ÷3 a v1 update (price ×1.1); keys ÷10 a v2 tombstone
    (`after: null`, README.md:27). Columns: key, status, price, updated
    (33-digit HLC), is_delete, ver. Pure function of the source table
    (FIXTURES.md §4)."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 3000)
    inserts = orders.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        _hlc33(0).alias("updated"),
        F.lit(False).alias("is_delete"),
        F.lit(0).alias("ver"),
    )
    updates = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("key"),
        F.lit("U").alias("status"),
        r2(F.col("o_totalprice") * 1.1).alias("price"),
        _hlc33(1).alias("updated"),
        F.lit(False).alias("is_delete"),
        F.lit(1).alias("ver"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("key"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("price"),
        _hlc33(2).alias("updated"),
        F.lit(True).alias("is_delete"),
        F.lit(2).alias("ver"),
    )
    return inserts.unionByName(updates).unionByName(deletes)


# The latest-state oracle over the synthesized change stream. Shared by
# the batch materialization below AND its streaming twin
# (stream_cdc_upsert): both must converge to this exact table.
UPSERT_ORACLE_SQL = rf"""
    WITH changes AS (
      SELECT o_orderkey AS key, o_orderstatus AS status,
             o_totalprice AS price, {_HLC_SQL.format(v=0)} AS updated,
             FALSE AS is_delete
      FROM orders WHERE o_orderkey <= 3000
      UNION ALL
      SELECT o_orderkey, 'U',
             floor(o_totalprice * 1.1 * 100 + 0.5) / 100, {_HLC_SQL.format(v=1)},
             FALSE
      FROM orders WHERE o_orderkey <= 3000 AND o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, NULL, NULL, {_HLC_SQL.format(v=2)}, TRUE
      FROM orders WHERE o_orderkey <= 3000 AND o_orderkey % 10 = 0
    ),
    latest AS (
      SELECT *, row_number() OVER (PARTITION BY key ORDER BY updated DESC) AS rn
      FROM changes
    )
    SELECT key, status, round(price, 2) AS price
    FROM latest
    WHERE rn = 1 AND NOT is_delete
    """


@register(
    "cdc_upsert_materialize",
    category="cdc",
    oracle=UPSERT_ORACLE_SQL,
)
def cdc_upsert_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay a synthesized change stream (insert → update → delete
    versions per key) into the latest-row-per-key materialized table.

    This is the consumer-side point of the whole CDC bridge: at-least-once
    delivery + HLC ordering ⇒ the materialized state is row_number()=1
    over (key ORDER BY updated DESC), with tombstones (`after: null`,
    README.md:27) dropped. One shuffle on the key; at 100 TB this runs
    incrementally per micro-batch in foreachBatch (streaming.sinks) —
    the batch form here is the oracle-checkable twin.
    """
    changes = synth_changes(spark, sf_dir)
    w = Window.partitionBy("key").orderBy(F.col("updated").desc())
    return (
        changes.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & ~F.col("is_delete"))
        .select("key", "status", F.round("price", 2).alias("price"))
    )


_ASOF_PROBE = "899251200000000000"  # epoch_ms('1998-07-01') * 1e6, HLC wall part


@register(
    "cdc_asof_snapshot",
    category="cdc",
    oracle=rf"""
    WITH changes AS (
      SELECT o_orderkey AS key, o_orderstatus AS status,
             o_totalprice AS price, {_HLC_SQL.format(v=0)} AS updated,
             FALSE AS is_delete
      FROM orders WHERE o_orderkey <= 3000
      UNION ALL
      SELECT o_orderkey, 'U',
             floor(o_totalprice * 1.1 * 100 + 0.5) / 100, {_HLC_SQL.format(v=1)},
             FALSE
      FROM orders WHERE o_orderkey <= 3000 AND o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, NULL, NULL, {_HLC_SQL.format(v=2)}, TRUE
      FROM orders WHERE o_orderkey <= 3000 AND o_orderkey % 10 = 0
    ),
    hist AS (
      SELECT *, lead(updated) OVER (PARTITION BY key ORDER BY updated) AS valid_to
      FROM changes
    ),
    snap AS (
      SELECT * FROM hist
      WHERE NOT is_delete
        AND updated <= lpad('{_ASOF_PROBE}', 33, '0')
        AND (valid_to IS NULL OR valid_to > lpad('{_ASOF_PROBE}', 33, '0'))
    )
    SELECT status, count(*) AS n_keys, round(sum(price), 2) AS total_price
    FROM snap
    GROUP BY status
    """,
)
def cdc_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) snapshot over the SCD2 history: the
    table's state as of HLC 1998-07-01, summarized per status.

    The query the changefeed's `updated` cursor exists to answer
    (README.md:27): filter the version history to
    `valid_from <= T < valid_to`. Keys whose changes happen after T are
    absent (not yet inserted); tombstoned keys whose delete precedes T
    are absent (interval closed); updated keys show the version current
    AT T. 33-digit zero-padded HLC strings compare lexicographically =
    numerically, so the probe is a plain string comparison pushed into
    the scan — at 100 TB, history partitioned by valid_from date prunes
    to the partitions straddling T.
    """
    probe = F.lpad(F.lit(_ASOF_PROBE), 33, "0")
    changes = synth_changes(spark, sf_dir)
    w = Window.partitionBy("key").orderBy("updated")
    hist = changes.withColumn("valid_to", F.lead("updated").over(w))
    snap = hist.filter(
        (~F.col("is_delete"))
        & (F.col("updated") <= probe)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > probe))
    )
    return snap.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.round(F.sum("price"), 2).alias("total_price"),
    )


@register(
    "cdc_schema_epoch_routing",
    category="cdc",
    oracle="""
    SELECT
      CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS schema_id,
      count(*)                                        AS n,
      count(CASE WHEN o_orderkey % 2 = 1
                 THEN o_orderpriority END)            AS n_with_priority,
      CAST(sum(o_orderkey) AS BIGINT)                 AS key_sum
    FROM orders
    WHERE o_orderkey <= 4000
    GROUP BY 1
    """,
)
def cdc_schema_epoch_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-change epochs in a CDC stream: route envelope lines by
    their schema id and parse each epoch with its own schema, then union
    by name with missing columns null-filled.

    The reference carries a schema-change epoch in every changefeed
    filename (regex group 6, publisher.go:133) precisely because
    upstream ALTER TABLE changes the payload shape mid-stream — but it
    only forwards the id, never acts on it. The engine completes the
    story: epoch-1 envelopes (even keys here) predate the column add
    and lack o_orderpriority; epoch-2 envelopes carry it. Each branch
    parses with its epoch's StructType (schema-first so Catalyst prunes
    JSON fields) and `unionByName(allowMissingColumns=True)` re-unifies
    the stream — old rows surface NULL for the new column, exactly
    parquet mergeSchema semantics applied to in-flight data.
    """
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 4000)
    epoch = F.when(F.col("o_orderkey") % 2 == 0, 1).otherwise(2)
    line_v1 = F.concat(
        F.lit('{"after": {"o_orderkey": '),
        F.col("o_orderkey").cast("string"),
        F.lit(', "o_orderstatus": "'),
        F.col("o_orderstatus"),
        F.lit('"}}'),
    )
    line_v2 = F.concat(
        F.lit('{"after": {"o_orderkey": '),
        F.col("o_orderkey").cast("string"),
        F.lit(', "o_orderstatus": "'),
        F.col("o_orderstatus"),
        F.lit('", "o_orderpriority": "'),
        F.col("o_orderpriority"),
        F.lit('"}}'),
    )
    lines = orders.select(
        epoch.alias("schema_id"),
        F.when(epoch == 1, line_v1).otherwise(line_v2).alias("line"),
    )
    v1_schema = "after STRUCT<o_orderkey: BIGINT, o_orderstatus: STRING>"
    v2_schema = (
        "after STRUCT<o_orderkey: BIGINT, o_orderstatus: STRING,"
        " o_orderpriority: STRING>"
    )
    e1 = (
        lines.filter(F.col("schema_id") == 1)
        .select("schema_id", F.from_json("line", v1_schema).alias("env"))
        .select(
            "schema_id",
            F.col("env.after.o_orderkey").alias("k"),
            F.col("env.after.o_orderstatus").alias("status"),
        )
    )
    e2 = (
        lines.filter(F.col("schema_id") == 2)
        .select("schema_id", F.from_json("line", v2_schema).alias("env"))
        .select(
            "schema_id",
            F.col("env.after.o_orderkey").alias("k"),
            F.col("env.after.o_orderstatus").alias("status"),
            F.col("env.after.o_orderpriority").alias("priority"),
        )
    )
    unified = e1.unionByName(e2, allowMissingColumns=True)
    return unified.groupBy("schema_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("priority").alias("n_with_priority"),
        F.sum("k").cast("bigint").alias("key_sum"),
    )


@register(
    "cdc_incremental_view",
    category="cdc",
    oracle=rf"""
    WITH changes AS (
      SELECT o_orderkey AS key, o_orderstatus AS status,
             o_totalprice AS price, {_HLC_SQL.format(v=0)} AS updated,
             FALSE AS is_delete
      FROM orders WHERE o_orderkey <= 3000
      UNION ALL
      SELECT o_orderkey, 'U',
             floor(o_totalprice * 1.1 * 100 + 0.5) / 100, {_HLC_SQL.format(v=1)},
             FALSE
      FROM orders WHERE o_orderkey <= 3000 AND o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, NULL, NULL, {_HLC_SQL.format(v=2)}, TRUE
      FROM orders WHERE o_orderkey <= 3000 AND o_orderkey % 10 = 0
    ),
    latest AS (
      SELECT *, row_number() OVER (PARTITION BY key ORDER BY updated DESC) AS rn
      FROM changes
    )
    SELECT status, count(*) AS n_keys, round(sum(price), 2) AS total_price
    FROM latest
    WHERE rn = 1 AND NOT is_delete
    GROUP BY status
    """,
)
def cdc_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a per-status aggregate
    maintained from SIGNED DELTAS of the change stream — never by
    re-aggregating the base table.

    Each change contributes (+1, +price) for its new version and
    (-1, -prev_price) retracting the version it replaces (lag() per key
    in HLC order); deletes contribute only the retraction. Summing the
    signed deltas per group yields EXACTLY the aggregate a full
    recompute over the final materialized state produces — which is
    what the oracle computes, so the equality IS the test. This is the
    differential-dataflow/IVM contract that makes CDC analytics viable
    at 100 TB: each micro-batch folds O(batch) delta rows into the
    view, instead of O(history) reprocessing (the batch twin of a
    streaming foreachBatch MERGE). Cost: one window shuffle on key to
    pair each version with its predecessor, one aggregate shuffle on
    the group key. Groups whose count nets to zero are dropped —
    retraction must actually remove emptied groups, not leave zombie
    zeros.
    """
    changes = synth_changes(spark, sf_dir)
    w = Window.partitionBy("key").orderBy("updated")
    with_prev = changes.select(
        "key",
        "status",
        "price",
        "is_delete",
        F.lag("status").over(w).alias("prev_status"),
        F.lag("price").over(w).alias("prev_price"),
    )
    additions = with_prev.filter(~F.col("is_delete")).select(
        F.col("status").alias("g"),
        F.lit(1).alias("dn"),
        F.col("price").alias("dp"),
    )
    retractions = with_prev.filter(F.col("prev_status").isNotNull()).select(
        F.col("prev_status").alias("g"),
        F.lit(-1).alias("dn"),
        (-F.col("prev_price")).alias("dp"),
    )
    return (
        additions.unionByName(retractions)
        .groupBy(F.col("g").alias("status"))
        .agg(
            F.sum("dn").cast("bigint").alias("n_keys"),
            F.round(F.sum("dp"), 2).alias("total_price"),
        )
        .filter(F.col("n_keys") > 0)
    )


@register(
    "cdc_malformed_deadletter",
    category="cdc",
    oracle="""
    SELECT CASE WHEN o_orderkey % 13 = 0 THEN 'malformed_json'
                WHEN o_orderkey % 17 = 0 THEN 'missing_key'
                ELSE 'ok' END AS verdict,
           count(*)        AS n,
           min(o_orderkey) AS first_key
    FROM orders
    GROUP BY 1
    """,
)
def cdc_malformed_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-envelope dead-lettering: every incoming line is parsed
    and CLASSIFIED — unparseable JSON, parseable-but-keyless, or ok —
    instead of silently dropped (the reference has no error path at
    all: a bad line just breaks the scanner loop, publisher.go:182-202).

    The fixture corrupts deterministically (every 13th line truncated
    mid-JSON, every 17th missing its key field), so the oracle derives
    the expected verdict counts from the corruption RULE while the
    Spark side must recover them by actually PARSING the damaged lines:
    from_json in PERMISSIVE mode yields all-null fields for unparseable
    input, so `updated IS NULL` separates garbage from a well-formed
    envelope that merely lacks its key. Classify-don't-drop is what
    makes a 100 TB ingest auditable — the dead-letter rates per reason
    are the pipeline's data-quality dashboard.
    """
    from pyspark.sql import types as T

    orders = load(spark, sf_dir, "orders")
    valid = F.to_json(
        F.struct(
            F.struct(F.col("o_orderstatus").alias("status")).alias("after"),
            F.array(F.col("o_orderkey")).alias("key"),
            _hlc33(0).alias("updated"),
        )
    )
    keyless = F.to_json(
        F.struct(
            F.struct(F.col("o_orderstatus").alias("status")).alias("after"),
            _hlc33(0).alias("updated"),
        )
    )
    line = (
        F.when(F.col("o_orderkey") % 13 == 0, F.concat(F.substring(valid, 1, 10), F.lit("%%%")))
        .when(F.col("o_orderkey") % 17 == 0, keyless)
        .otherwise(valid)
    )
    envelope = T.StructType(
        [
            T.StructField(
                "after",
                T.StructType([T.StructField("status", T.StringType())]),
            ),
            T.StructField("key", T.ArrayType(T.LongType())),
            T.StructField("updated", T.StringType()),
        ]
    )
    parsed = orders.select(
        "o_orderkey", F.from_json(line, envelope).alias("env")
    )
    verdict = (
        F.when(F.col("env.updated").isNull(), "malformed_json")
        .when(F.col("env.key").isNull(), "missing_key")
        .otherwise("ok")
    )
    return parsed.groupBy(verdict.alias("verdict")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("first_key"),
    )


# Two multi-master change feeds over the same key space, rendered from
# orders (identical SQL text on both engines). Feed A (priority 2) emits
# even keys; feed B (priority 1) emits keys % 3 == 0 — overlap on
# keys % 6 == 0 forces real conflicts. HLC: epoch-day * 1000 + a
# per-feed logical counter, with a deliberate tie population (keys
# % 12 == 0 get the SAME hlc from both feeds, so the priority and
# source-id tie-breaks are load-bearing).
_LWW_FEED_SQL = """
      SELECT o_orderkey AS k, 'A' AS src, 2 AS prio,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                  AS BIGINT) * 1000
             + CASE WHEN o_orderkey % 12 = 0 THEN 77
                    ELSE o_orderkey % 500 END AS hlc,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS val
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, 'B', 1,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                  AS BIGINT) * 1000
             + CASE WHEN o_orderkey % 12 = 0 THEN 77
                    ELSE (o_orderkey * 7) % 500 END,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 11
      FROM orders WHERE o_orderkey % 3 = 0
"""


@register(
    "cdc_conflict_lww",
    category="cdc",
    oracle=f"""
    WITH feed AS MATERIALIZED ({_LWW_FEED_SQL}),
    ranked AS (
      SELECT k, src, prio, hlc, val,
             row_number() OVER (
               PARTITION BY k ORDER BY hlc DESC, prio DESC, src) AS rn,
             count(*) OVER (PARTITION BY k) AS n_versions
      FROM feed
    )
    SELECT src AS winning_source,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN n_versions > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_conflicted,
           CAST(sum(val) AS BIGINT) AS val_checksum,
           CAST(sum(k) AS BIGINT) AS key_checksum
    FROM ranked WHERE rn = 1
    GROUP BY src
    ORDER BY src
    """,
)
def cdc_conflict_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-MASTER CONFLICT RESOLUTION by last-writer-wins: two change
    feeds over one key space (overlap planted on keys % 6 == 0),
    resolved per key by the (HLC desc, priority desc, source-id) total
    order — the deterministic LWW ladder every multi-region CDC
    replicator implements on top of hybrid logical clocks (the
    reference's 33-digit HLC path component, cdc.py:57, is exactly
    this ordering's wire form; this op is what the CONSUMER does when
    two publishers race). Keys % 12 == 0 carry IDENTICAL HLCs from
    both feeds, so the priority and source tie-breaks are provably
    exercised — resolution without them would be nondeterministic,
    which is the bug this op exists to rule out.

    Output: per winning source, how many keys it won, how many of
    those were real conflicts (>1 version), and exact value/key
    checksums of the resolved table. Exactness: integer HLCs, counts,
    sums. Shape: one shuffle on the key for the per-key rank (the
    upsert-materialize layout — WindowGroupLimit keeps only the
    winner per key map-side), then a 2-key aggregate.
    """
    orders = load(spark, sf_dir, "orders")
    a = orders.filter(F.expr("o_orderkey % 2 = 0")).selectExpr(
        "o_orderkey AS k",
        "'A' AS src",
        "2 AS prio",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')"
        " AS BIGINT) * 1000"
        " + CASE WHEN o_orderkey % 12 = 0 THEN 77"
        "   ELSE o_orderkey % 500 END AS hlc",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS val",
    )
    b = orders.filter(F.expr("o_orderkey % 3 = 0")).selectExpr(
        "o_orderkey AS k",
        "'B' AS src",
        "1 AS prio",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')"
        " AS BIGINT) * 1000"
        " + CASE WHEN o_orderkey % 12 = 0 THEN 77"
        "   ELSE (o_orderkey * 7) % 500 END AS hlc",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 11 AS val",
    )
    feed = a.unionByName(b)
    w = Window.partitionBy("k").orderBy(
        F.col("hlc").desc(), F.col("prio").desc(), "src"
    )
    wc = Window.partitionBy("k")
    ranked = feed.select(
        "k",
        "src",
        "val",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_versions"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .groupBy(F.col("src").alias("winning_source"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(F.expr("CASE WHEN n_versions > 1 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_conflicted"),
            F.sum("val").cast("bigint").alias("val_checksum"),
            F.sum("k").cast("bigint").alias("key_checksum"),
        )
        .orderBy("winning_source")
    )


# Multi-generation change feed for tombstone compaction, rendered from
# orders (identical algebra on both engines): each key carries
# 1 + (key % 3) generations at hlc = epoch_day*1000 + g*7; the FINAL
# generation is a tombstone (after = NULL) on the key % 5 slice, and a
# SUPERSEDED tombstone is planted at generation 0 on the key % 7 slice
# (where a later re-insert exists) so the latest-version rank is
# provably load-bearing — a compactor that purges on "any tombstone
# version" instead of "latest version is a tombstone" corrupts those
# re-inserted keys.
_TOMBSTONE_FEED_SQL = """
      SELECT o_orderkey AS k,
             g.g AS gen,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                  AS BIGINT) * 1000 + g.g * 7 AS hlc,
             CASE WHEN (g.g = o_orderkey % 3 AND o_orderkey % 5 = 0)
                    OR (g.g = 0 AND o_orderkey % 7 = 0
                        AND o_orderkey % 3 >= 1)
                  THEN NULL
                  ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + g.g
             END AS val
      FROM orders, LATERAL unnest(range(0, o_orderkey % 3 + 1)) AS g(g)
"""

_TOMBSTONE_WM = "9496000"  # epoch_day('1996-01-01') * 1000


@register(
    "cdc_tombstone_compaction",
    category="cdc",
    oracle=f"""
    WITH feed AS ({_TOMBSTONE_FEED_SQL}),
    ranked AS (
      SELECT k, hlc, val,
             row_number() OVER (PARTITION BY k ORDER BY hlc DESC) AS rn,
             count(*) OVER (PARTITION BY k) AS n_versions
      FROM feed
    ),
    latest AS (
      SELECT k, hlc, val, n_versions,
             CASE WHEN val IS NOT NULL THEN 'live'
                  WHEN hlc > {_TOMBSTONE_WM} THEN 'tombstone_retained'
                  ELSE 'tombstone_purged' END AS status
      FROM ranked WHERE rn = 1
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(k) AS BIGINT) AS key_checksum,
           CAST(sum(hlc) AS BIGINT) AS hlc_checksum,
           CAST(sum(coalesce(val, 0)) AS BIGINT) AS val_checksum,
           CAST(sum(n_versions - 1) AS BIGINT) AS n_superseded_dropped
    FROM latest
    GROUP BY status
    ORDER BY status
    """,
)
def cdc_tombstone_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOMBSTONE COMPACTION over a multi-generation CDC feed — the
    storage-reclamation step every log-structured CDC consumer runs
    (Cassandra's gc_grace_seconds, Delta's delete-vector vacuum, Kafka
    compacted-topic tombstone retention): a delete event must survive
    as a TOMBSTONE long enough for every lagging replica to observe it
    (hlc > watermark => retained), after which the compactor may drop
    the key entirely (hlc <= watermark => purged); live keys keep only
    their latest version. The grace watermark here is the fixed HLC of
    1996-01-01 — both purge and retain populations are nonempty across
    the fixture's 1992-1998 span.

    The compaction rule is about the LATEST version only: the key % 7
    slice plants tombstones at generation 0 that a later generation
    re-inserts — a compactor keyed on "has any tombstone" instead of
    "latest is a tombstone" would misclassify those keys, and the
    oracle's checksums (key/hlc/value, plus the superseded-version
    drop count) would diverge. Exactness: integer HLCs, cents, counts
    throughout.

    Scale shape: generation fan-out is a bounded explode (<= 3 per
    key); one shuffle on the key for the per-key rank (WindowGroupLimit
    keeps only the winner map-side — the cdc_upsert_materialize
    layout); then a 3-key status aggregate. At 100 TB the feed is the
    ingested changelog and the watermark comes from the replication
    low-water mark; the plan is unchanged.
    """
    orders = load(spark, sf_dir, "orders")
    feed = orders.selectExpr(
        "o_orderkey AS k",
        "explode(sequence(0, CAST(o_orderkey % 3 AS INT))) AS gen",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')"
        " AS BIGINT) * 1000 AS hlc_base",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
    ).selectExpr(
        "k",
        "hlc_base + gen * 7 AS hlc",
        "CASE WHEN (gen = k % 3 AND k % 5 = 0)"
        " OR (gen = 0 AND k % 7 = 0 AND k % 3 >= 1)"
        " THEN NULL ELSE cents + gen END AS val",
    )
    w = Window.partitionBy("k").orderBy(F.col("hlc").desc())
    wc = Window.partitionBy("k")
    ranked = feed.select(
        "k",
        "hlc",
        "val",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_versions"),
    )
    latest = ranked.filter(F.col("rn") == 1).selectExpr(
        "k",
        "hlc",
        "val",
        "n_versions",
        "CASE WHEN val IS NOT NULL THEN 'live'"
        f" WHEN hlc > {_TOMBSTONE_WM} THEN 'tombstone_retained'"
        " ELSE 'tombstone_purged' END AS status",
    )
    return (
        latest.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("k").cast("bigint").alias("key_checksum"),
            F.sum("hlc").cast("bigint").alias("hlc_checksum"),
            F.sum(F.expr("coalesce(val, 0)"))
            .cast("bigint")
            .alias("val_checksum"),
            F.sum(F.expr("n_versions - 1"))
            .cast("bigint")
            .alias("n_superseded_dropped"),
        )
        .orderBy("status")
    )


# --- r12 extension wave G: replication lag observability -----------------------


@register(
    "cdc_replication_lag",
    category="cdc",
    oracle="""
    WITH feed AS (
      SELECT o_orderkey AS k,
             CAST(o_orderkey % 4 AS BIGINT) AS partition_id,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                  AS BIGINT) * 86400000 AS commit_ms,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                  AS BIGINT) * 86400000
               + 50 + (o_orderkey * 37) % 400
               + CASE WHEN o_orderkey % 4 = 3
                      THEN 5000 + (o_orderkey * 11) % 20000
                      ELSE 0 END AS publish_ms
      FROM orders
    ),
    lags AS (
      SELECT partition_id, publish_ms - commit_ms AS lag_ms FROM feed
    ),
    ranked AS (
      SELECT partition_id, lag_ms,
             row_number() OVER (PARTITION BY partition_id
                                ORDER BY lag_ms, lag_ms) AS rn,
             count(*) OVER (PARTITION BY partition_id) AS n
      FROM lags
    )
    SELECT partition_id,
           CAST(max(n) AS BIGINT) AS n_messages,
           CAST(min(lag_ms) AS BIGINT) AS lag_min_ms,
           CAST(max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                    THEN lag_ms END) AS BIGINT) AS lag_p50_ms,
           CAST(max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                    THEN lag_ms END) AS BIGINT) AS lag_p99_ms,
           CAST(max(lag_ms) AS BIGINT) AS lag_max_ms,
           CAST(sum(CASE WHEN lag_ms > 1000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sla_breaches,
           floor(CAST(sum(CASE WHEN lag_ms > 1000 THEN 1 ELSE 0 END)
                 AS DOUBLE) / max(n) * 10000 + 0.5) / 10000
             AS breach_rate
    FROM ranked
    GROUP BY partition_id
    ORDER BY partition_id
    """,
)
def cdc_replication_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLICATION LAG OBSERVABILITY per feed partition — the
    operational readout every CDC bridge (the reference included: its
    whole job is commit-to-publish forwarding, publisher.go:168-213)
    ships to its dashboard: publish-minus-commit lag distribution as
    exact order statistics (min / p50 / p99 / max, percentile_disc
    semantics via explicit row_number — never interpolated), plus the
    1-second SLA breach count and rate. Partition 3 is planted as a
    STRAGGLER (a flat 5-20 s extra delay on every message — the
    hot-partition failure mode lag monitoring exists to catch), so
    p99/SLA populations differ meaningfully across partitions and the
    invariant test can pin the straggler's breach rate at 1.0 against
    the healthy partitions' ~0.

    Exactness: all lags are integer milliseconds from closed-form
    commit/publish times (both engines render the identical feed);
    order statistics are exact integers; the breach rate is the one
    r4 float.

    Scale shape: one shuffle on the partition id for the per-partition
    rank (WindowGroupLimit-friendly), then a 4-row aggregate. At
    100 TB the feed is the bridge's own emit log and the partition
    count is the topic's — the plan is unchanged.
    """
    orders = load(spark, sf_dir, "orders")
    feed = orders.selectExpr(
        "CAST(o_orderkey % 4 AS BIGINT) AS partition_id",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')"
        " AS BIGINT) * 86400000 AS commit_ms",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')"
        " AS BIGINT) * 86400000"
        " + 50 + (o_orderkey * 37) % 400"
        " + CASE WHEN o_orderkey % 4 = 3"
        " THEN 5000 + (o_orderkey * 11) % 20000 ELSE 0 END AS publish_ms",
    )
    lags = feed.selectExpr(
        "partition_id", "publish_ms - commit_ms AS lag_ms"
    )
    wr = Window.partitionBy("partition_id").orderBy("lag_ms")
    wc = Window.partitionBy("partition_id")
    ranked = lags.select(
        "partition_id",
        "lag_ms",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return (
        ranked.groupBy("partition_id")
        .agg(
            F.max("n").cast("bigint").alias("n_messages"),
            F.min("lag_ms").cast("bigint").alias("lag_min_ms"),
            F.max(
                F.expr(
                    "CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)"
                    " THEN lag_ms END"
                )
            )
            .cast("bigint")
            .alias("lag_p50_ms"),
            F.max(
                F.expr(
                    "CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)"
                    " THEN lag_ms END"
                )
            )
            .cast("bigint")
            .alias("lag_p99_ms"),
            F.max("lag_ms").cast("bigint").alias("lag_max_ms"),
            F.sum(F.expr("CASE WHEN lag_ms > 1000 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_sla_breaches"),
        )
        .selectExpr(
            "partition_id",
            "n_messages",
            "lag_min_ms",
            "lag_p50_ms",
            "lag_p99_ms",
            "lag_max_ms",
            "n_sla_breaches",
            "floor(CAST(n_sla_breaches AS DOUBLE) / n_messages"
            " * 10000 + 0.5) / 10000 AS breach_rate",
        )
        .orderBy("partition_id")
    )


# --- r13 growth: multi-partition resolved frontier -------------------------
@register(
    "cdc_resolved_frontier",
    category="cdc",
    oracle="""
    WITH ev AS (
      SELECT event_type AS topic,
             user_id % 4 AS part,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events
    ),
    per_part AS (
      SELECT topic, part,
             CAST(max(ts_us) AS BIGINT) AS part_high,
             CAST(count(*) AS BIGINT) AS n
      FROM ev GROUP BY 1, 2
    ),
    fr AS (
      SELECT topic,
             CAST(min(part_high) AS BIGINT) AS frontier_us,
             CAST(max(part_high) AS BIGINT) AS high_us,
             CAST(count(*) AS BIGINT) AS n_parts,
             CAST(min(part) FILTER (WHERE part_high = (
               SELECT min(p2.part_high) FROM per_part p2
               WHERE p2.topic = per_part.topic)) AS BIGINT)
               AS straggler_part
      FROM per_part GROUP BY topic
    )
    SELECT f.topic, f.n_parts, f.frontier_us, f.high_us,
           f.high_us - f.frontier_us AS frontier_lag_us,
           f.straggler_part,
           CAST(sum(CASE WHEN e.ts_us <= f.frontier_us THEN 1 ELSE 0 END)
                AS BIGINT) AS n_resolved,
           CAST(sum(CASE WHEN e.ts_us > f.frontier_us THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unresolved
    FROM fr f JOIN ev e ON e.topic = f.topic
    GROUP BY 1, 2, 3, 4, 5, 6
    ORDER BY f.topic
    """,
)
def cdc_resolved_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESOLVED-TIMESTAMP FRONTIER per topic — the multi-partition
    semantics behind the reference's RESOLVED messages
    (publisher.go:134, 155-157): a changefeed may emit a resolved
    timestamp T only when EVERY partition's high-water mark has
    passed T, so the emittable frontier is min-over-partitions of
    max-over-rows — the lattice meet that turns per-partition
    progress into a global consistency point. The op reports each
    topic's frontier, its lag behind the fastest partition (the
    straggler cost — one slow partition holds the whole topic's
    resolved stream back, exactly the situation the reference's
    consumer would see as a stalled RESOLVED suffix), WHICH partition
    is the straggler, and how many events are at-or-below vs above
    the frontier (the resolved/unresolved split a downstream
    materializer can and cannot apply).

    Exactness: pure integer max/min/count lattice arithmetic on
    microsecond timestamps; ties on the straggler break to the
    lowest partition id via the same FILTER/min_by device both
    engines.

    Scale shape: one groupBy to (topic × partition) highs —
    domain-sized — a topic-level meet, and one conditional-aggregate
    pass for the resolved split (broadcast of the 5-row frontier
    relation onto the scan). At 100 TB this is the shape of a real
    resolved-timestamp tracker: partition highs are the only shuffled
    state.
    """
    ev = load(spark, sf_dir, "events").selectExpr(
        "event_type AS topic",
        "user_id % 4 AS part",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us",
    )
    per_part = ev.groupBy("topic", "part").agg(
        F.max("ts_us").cast("bigint").alias("part_high"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    fr = per_part.groupBy("topic").agg(
        F.min("part_high").cast("bigint").alias("frontier_us"),
        F.max("part_high").cast("bigint").alias("high_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.expr(
            "CAST(min_by(part, struct(part_high, part)) AS BIGINT)"
        ).alias("straggler_part"),
    )
    return (
        ev.join(F.broadcast(fr), "topic")
        .groupBy(
            "topic",
            "n_parts",
            "frontier_us",
            "high_us",
            "straggler_part",
        )
        .agg(
            F.sum(
                F.expr("CASE WHEN ts_us <= frontier_us THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("n_resolved"),
            F.sum(
                F.expr("CASE WHEN ts_us > frontier_us THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("n_unresolved"),
        )
        .selectExpr(
            "topic",
            "n_parts",
            "frontier_us",
            "high_us",
            "high_us - frontier_us AS frontier_lag_us",
            "straggler_part",
            "n_resolved",
            "n_unresolved",
        )
        .orderBy("topic")
    )


# --- r13 growth: commit-order disorder statistics ---------------------------
@register(
    "cdc_out_of_order_stats",
    category="cdc",
    oracle="""
    WITH ev AS (
      SELECT event_type AS topic, user_id % 4 AS part,
             event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events
    ),
    adj AS (
      SELECT topic, part, ts_us,
             lead(ts_us) OVER (PARTITION BY topic, part
                               ORDER BY event_id) AS next_ts
      FROM ev
    )
    SELECT topic,
           CAST(count(next_ts) AS BIGINT) AS n_adjacent,
           CAST(sum(CASE WHEN next_ts < ts_us THEN 1 ELSE 0 END)
                AS BIGINT) AS n_inversions,
           floor(CAST(sum(CASE WHEN next_ts < ts_us THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(next_ts) * 1000000 + 0.5)
             / 1000000 AS disorder_rate,
           CAST(coalesce(max(CASE WHEN next_ts < ts_us
                                  THEN ts_us - next_ts END), 0)
                AS BIGINT) AS max_regression_us,
           CAST(coalesce(sum(CASE WHEN next_ts < ts_us
                                  THEN ts_us - next_ts END), 0)
                AS BIGINT) AS total_regression_us
    FROM adj
    GROUP BY topic
    ORDER BY topic
    """,
)
def cdc_out_of_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMIT-ORDER DISORDER per topic — how far does event-time
    regress along the arrival order (event_id) within each partition?
    The operational companion to cdc_resolved_frontier: the frontier
    says how far RESOLVED can advance; this measures WHY — every
    adjacent arrival whose timestamp steps backwards forces a
    consumer that wants commit-time order to buffer at least the
    regression span. `max_regression_us` is the minimum reorder
    buffer that loses nothing; `disorder_rate` is the fraction of
    adjacent arrivals that regress (publisher.go's transport preserves
    per-request order but nothing orders ACROSS requests —
    README.md:14-27 — so this is the consumer's reality).

    Exactness: pure integer timestamp arithmetic over one lead window
    partitioned by (topic, partition); counts, max, and sum of
    regressions are exact; the rate is one pinned division (r6).

    Scale shape: one window per (topic, partition) arrival order, a
    5-row topic aggregate. Nothing data-sized past the sort the
    window semantics itself requires.
    """
    ev = load(spark, sf_dir, "events").selectExpr(
        "event_type AS topic",
        "user_id % 4 AS part",
        "event_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us",
    )
    w = Window.partitionBy("topic", "part").orderBy("event_id")
    adj = ev.select(
        "topic",
        "ts_us",
        F.lead("ts_us").over(w).alias("next_ts"),
    )
    return (
        adj.groupBy("topic")
        .agg(
            F.count("next_ts").cast("bigint").alias("n_adjacent"),
            F.sum(
                F.expr("CASE WHEN next_ts < ts_us THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("n_inversions"),
            F.expr(
                "floor(CAST(sum(CASE WHEN next_ts < ts_us THEN 1"
                " ELSE 0 END) AS DOUBLE) / count(next_ts)"
                " * 1000000 + 0.5) / 1000000"
            ).alias("disorder_rate"),
            F.expr(
                "CAST(coalesce(max(CASE WHEN next_ts < ts_us"
                " THEN ts_us - next_ts END), 0) AS BIGINT)"
            ).alias("max_regression_us"),
            F.expr(
                "CAST(coalesce(sum(CASE WHEN next_ts < ts_us"
                " THEN ts_us - next_ts END), 0) AS BIGINT)"
            ).alias("total_regression_us"),
        )
        .orderBy("topic")
    )
