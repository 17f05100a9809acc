"""Custom Python Data Source (Spark 4 DataSource API): a synthetic
changefeed source.

This is the idiomatic Spark-4 answer to "the reference is an ingest
server": instead of a bespoke HTTP daemon (reference server.go:45-103),
an engine-native source implements `DataSource`/`DataSourceReader`, gets
partitioned parallel reads, schema enforcement, and full Catalyst
integration for free, and is driven declaratively
(`spark.read.format("cdc_synthetic").option(...)`).

The source generates the deterministic changefeed row-stream as a pure
function of (n, partition) — the oracle reproduces it with a `range()`
relation, so even the custom source is hash-verified against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from cdc_pubsub_spark.registry import register

_STATUSES = ("O", "F", "P")


def _row(i: int) -> tuple[int, str, float]:
    # Pure function of i; two-decimal prices are exact in binary after
    # /100.0 of an integer, so the oracle's arithmetic is bit-identical.
    return (i, _STATUSES[i % 3], (100000 + (i * 37) % 900000) / 100.0)


class ChangefeedDataSource(DataSource):
    """`format("cdc_synthetic")` — options: n (row count), parts."""

    @classmethod
    def name(cls) -> str:
        return "cdc_synthetic"

    def schema(self) -> str:
        return "key bigint, status string, price double"

    def reader(self, schema) -> "ChangefeedReader":
        return ChangefeedReader(
            int(self.options.get("n", 1000)), int(self.options.get("parts", 4))
        )


class ChangefeedReader(DataSourceReader):
    def __init__(self, n: int, parts: int) -> None:
        self.n = n
        self.parts = parts

    def partitions(self):
        # Contiguous key ranges — each Spark task reads one slice in
        # parallel, the property the reference's single accept-loop
        # thread never had.
        step = max(1, self.n // self.parts)
        bounds = list(range(1, self.n + 1, step)) + [self.n + 1]
        return [
            InputPartition((lo, hi)) for lo, hi in zip(bounds, bounds[1:])
        ]

    def read(self, partition: InputPartition):
        lo, hi = partition.value
        for i in range(lo, hi):
            yield _row(i)


@register(
    "source_python_datasource",
    category="scans",
    bench=False,
    oracle="""
    SELECT
      CASE WHEN i % 3 = 0 THEN 'O' WHEN i % 3 = 1 THEN 'F' ELSE 'P' END AS status,
      count(*) AS n,
      round(sum((100000 + (i * 37) % 900000) / 100.0), 2) AS total_price
    FROM (SELECT unnest(range(1, 2001)) AS i)
    GROUP BY 1
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read 2000 rows from the custom Python data source, aggregated.

    Registration is idempotent per session; the read plans one task per
    InputPartition (4 here). The oracle regenerates the identical rows
    from a range() relation — a custom source whose output is still
    exactly verifiable.
    """
    try:
        spark.dataSource.register(ChangefeedDataSource)
    except Exception:
        pass  # already registered in this session
    df = spark.read.format("cdc_synthetic").option("n", 2000).option("parts", 4).load()
    return df.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("price"), 2).alias("total_price"),
    )


class ChangefeedStreamDataSource(DataSource):
    """`format("cdc_synthetic_stream")` — options: n (total rows),
    rows_per_batch. The STREAMING face of the same synthetic changefeed."""

    @classmethod
    def name(cls) -> str:
        return "cdc_synthetic_stream"

    def schema(self) -> str:
        return "key bigint, status string, price double"

    def streamReader(self, schema) -> "ChangefeedStreamReader":
        return ChangefeedStreamReader(
            int(self.options.get("n", 2000)),
            int(self.options.get("rows_per_batch", 500)),
        )


class ChangefeedStreamReader(DataSourceStreamReader):
    """Offset-managed micro-batch reader: offsets are key positions,
    checkpointed by Spark as JSON dicts. `latestOffset` reports the
    TRUE frontier of the (bounded) source — all n keys — never a
    simulated partial frontier: a restarted reader instance must return
    an offset >= the checkpointed start or the offset log regresses and
    committed keys replay. Because rows are a pure function of the key
    range, re-planning [checkpointed start, n+1) after a crash re-reads
    exactly the unprocessed keys — offset-based exactly-once resume,
    the contract the reference's HTTP listener could not offer (its
    ACK-on-failure bug is the opposite, publisher.go:209-211). Each
    batch's range splits into `parts` partition tasks."""

    def __init__(self, n: int, rows_per_batch: int, parts: int = 2) -> None:
        self.n = n
        self.rows_per_batch = rows_per_batch  # kept: per-batch split hint
        self.parts = parts

    def initialOffset(self) -> dict:
        return {"k": 1}

    def latestOffset(self) -> dict:
        # The bounded source's real frontier: everything. Deriving this
        # from driver-instance memory instead (e.g. advancing by
        # rows_per_batch per poll) breaks on restart — a fresh instance
        # would report an offset BEHIND the checkpoint.
        return {"k": self.n + 1}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["k"], end["k"]
        if lo >= hi:
            return []
        step = max(1, (hi - lo) // self.parts)
        bounds = list(range(lo, hi, step)) + [hi]
        return [
            InputPartition((a, b))
            for a, b in zip(bounds, bounds[1:])
            if a < b
        ]

    def read(self, partition: InputPartition):
        lo, hi = partition.value
        for i in range(lo, hi):
            yield _row(i)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; nothing external to ack


@register(
    "source_python_stream",
    category="scans",
    bench=False,
    oracle="""
    SELECT
      CASE WHEN i % 3 = 0 THEN 'O' WHEN i % 3 = 1 THEN 'F' ELSE 'P' END AS status,
      count(*) AS n,
      round(sum((100000 + (i * 37) % 900000) / 100.0), 2) AS total_price
    FROM (SELECT unnest(range(1, 2001)) AS i)
    GROUP BY 1
    """,
)
def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom Python data source (Spark 4 DataSourceStreamReader):
    the synthetic changefeed delivered through offset-managed
    micro-batches — initialOffset → latestOffset → partitions(start,end)
    → read → commit, with offsets checkpointed by the engine.

    This is the reference's ingest server rebuilt as a first-class
    streaming CONNECTOR rather than a daemon: partitioned parallel reads
    per micro-batch, offset-based exactly-once resume from the
    checkpoint (latestOffset reports the bounded source's true frontier,
    so a restart re-plans exactly the unprocessed key range — never a
    regressed offset), schema enforcement, and full Catalyst integration
    on the stream. All n (2000) keys drain deterministically, so the
    aggregate carries the SAME exact oracle as the batch source — a
    custom streaming connector whose output is still hash-verified.
    """
    import os as _os
    import time as _time
    import uuid as _uuid

    from cdc_pubsub_spark.paths import work_dir
    from cdc_pubsub_spark.streaming.harness import start_query

    try:
        spark.dataSource.register(ChangefeedStreamDataSource)
    except Exception:
        pass  # already registered in this session
    # Each invocation materializes a fresh memory-sink view; drop the
    # previous invocation's view so repeated runs in one session don't
    # accumulate aggregate tables in driver memory.
    prev = getattr(source_python_stream, "_last_qname", None)
    if prev is not None:
        try:
            spark.catalog.dropTempView(prev)
        except Exception:
            pass
    n_total = 2000
    stream = (
        spark.readStream.format("cdc_synthetic_stream")
        .option("n", n_total)
        .option("rows_per_batch", 500)
        .load()
    )
    agg = stream.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("price"), 2).alias("total_price"),
    )
    qname = f"pyds_stream_{_uuid.uuid4().hex[:8]}"
    q = start_query(
        spark,
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .option(
            "checkpointLocation",
            _os.path.join(work_dir("pyds_stream"), f"ckpt_{qname}"),
        )
        .trigger(processingTime="250 milliseconds"),
    )
    try:
        deadline = _time.time() + 120
        got = 0
        while _time.time() < deadline:
            got = (
                spark.table(qname).agg(F.sum("n").alias("s")).collect()[0]["s"]
                or 0
            )
            if int(got) >= n_total:
                break
            _time.sleep(0.25)
        else:
            raise TimeoutError(
                f"python stream source drained {got}/{n_total} rows in 120 s"
            )
    finally:
        # stop() interrupts the stream execution thread (it does NOT
        # promise to finish an in-flight batch); safe here because the
        # drain loop already verified the committed totals and the
        # memory sink's complete-mode commit is atomic.
        q.stop()
        q.awaitTermination()
    source_python_stream._last_qname = qname
    return spark.table(qname)
