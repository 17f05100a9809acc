"""Batch-twin equivalence tests for the rows-only streaming operators
(the SQL-oracled ones are covered by the parity suite, which runs the
real streams against their batch-twin oracles)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.window import Window

import cdc_pubsub_spark.all_queries  # noqa: F401
from cdc_pubsub_spark.registry import REGISTRY
from cdc_pubsub_spark.tables import load


def test_stateful_matches_batch_twin(spark, sf_dir):
    """applyInPandasWithState result == batch window computation."""
    got = {
        r["user_id"]: (r["n_events"], r["n_transitions"], r["last_type"])
        for r in REGISTRY["stream_stateful"].fn(spark, sf_dir).collect()
    }
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    twin = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.col("prev").isNotNull() & (F.col("prev") != F.col("event_type")), 1
                ).otherwise(0)
            ).alias("n_transitions"),
            F.max_by("event_type", F.struct("ts", "event_id")).alias("last_type"),
        )
    )
    want = {
        r["user_id"]: (r["n_events"], r["n_transitions"], r["last_type"])
        for r in twin.collect()
    }
    assert got == want


def test_stream_stream_join_matches_batch_twin(spark, sf_dir):
    got = {
        r["p_user"]: r["n_pairs"]
        for r in REGISTRY["stream_stream_join"].fn(spark, sf_dir).collect()
    }
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    twin = (
        p.join(
            e,
            (F.col("p_user") == F.col("e_user"))
            & (F.col("e_ts") >= F.col("p_ts"))
            & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 10 MINUTES")),
        )
        .groupBy("p_user")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    want = {r["p_user"]: r["n_pairs"] for r in twin.collect()}
    assert got == want


def test_late_data_dropped(spark, sf_dir):
    """No emitted window may contain day-0 (late-arriving) events, and
    every emitted window must agree with the on-time batch subset."""
    out = {
        r["window_start_s"]: r["n_events"]
        for r in REGISTRY["stream_late_data"].fn(spark, sf_dir).collect()
    }
    assert out, "some closed windows must be emitted"
    ev = load(spark, sf_dir, "events")
    t0 = ev.agg(F.min(F.col("ts").cast("timestamp"))).collect()[0][0]
    import datetime

    cutoff = t0 + datetime.timedelta(days=1)
    on_time = (
        ev.filter(F.col("ts").cast("timestamp") >= F.lit(cutoff))
        .groupBy((F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600) * 3600).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {r["w"]: r["n"] for r in on_time.collect()}
    late_windows = set()
    late = (
        ev.filter(F.col("ts").cast("timestamp") < F.lit(cutoff))
        .select((F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600) * 3600).alias("w"))
        .distinct()
    )
    late_windows = {r["w"] for r in late.collect()}
    for w_start, n in out.items():
        assert w_start not in late_windows, f"late window {w_start} emitted"
        assert want.get(w_start) == n, f"window {w_start}: {n} != {want.get(w_start)}"


def test_stream_cdc_upsert_matches_batch_twin(spark, sf_dir):
    """Incremental per-batch MERGE must converge to the same materialized
    table as the one-shot batch upsert."""
    got = {
        r["key"]: (r["status"], r["price"])
        for r in REGISTRY["stream_cdc_upsert"].fn(spark, sf_dir).collect()
    }
    want = {
        r["key"]: (r["status"], r["price"])
        for r in REGISTRY["cdc_upsert_materialize"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_update_mode_converges_to_batch_aggregate(spark, sf_dir):
    """Update-mode's latest emission per group must equal the batch
    aggregate over the doubled stream. The duplicated input lands as two
    files, so maxFilesPerTrigger=1 gives two micro-batches with input and
    the latest-version pick has versions to choose between."""
    from pyspark.sql.streaming import StreamingQueryListener

    input_rows: list[int] = []

    class _Batches(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.name and p.name.startswith("update_mode_") and p.numInputRows:
                input_rows.append(p.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Batches()
    spark.streams.addListener(listener)
    try:
        got = {
            r["event_type"]: (r["n"], r["total_value"])
            for r in REGISTRY["stream_update_mode"].fn(spark, sf_dir).collect()
        }
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    finally:
        spark.streams.removeListener(listener)
    ev = load(spark, sf_dir, "events")
    n_events = ev.count()
    assert input_rows == [n_events, n_events], input_rows
    doubled = ev.unionByName(ev)
    twin = doubled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("t")
    )
    want = {r["event_type"]: (r["n"], r["t"]) for r in twin.collect()}
    assert got == want


def test_upsert_merge_is_order_independent(spark, sf_dir):
    """The HLC-ranked merge must converge to the same state regardless of
    delivery order — the property that makes at-least-once + reordered
    redelivery safe (the reference can redeliver whole files on
    changefeed retry; README.md:5-12)."""
    from cdc_pubsub_spark.sources.cdc import synth_changes

    changes = synth_changes(spark, sf_dir)
    w = Window.partitionBy("key").orderBy(F.col("updated").desc())

    def materialize(df):
        return {
            (r["key"]): (r["status"], r["price"])
            for r in (
                df.withColumn("rn", F.row_number().over(w))
                .filter((F.col("rn") == 1) & ~F.col("is_delete"))
                .collect()
            )
        }

    in_order = materialize(changes)
    # Reversed "delivery": union the version groups backwards and add a
    # full duplicate of the update wave (redelivery).
    v0 = changes.filter(F.col("ver") == 0)
    v1 = changes.filter(F.col("ver") == 1)
    v2 = changes.filter(F.col("ver") == 2)
    scrambled = v2.unionByName(v1).unionByName(v0).unionByName(v1)
    assert materialize(scrambled) == in_order


def test_graceful_drain_at_batch_boundary(spark, sf_dir):
    """A12 (server.go:75,87-98): stop() drains at a micro-batch boundary —
    the sink never holds a partial batch, and stopped queries report
    inactive (the healthz 503 analog, A11 server.go:65-73)."""
    from cdc_pubsub_spark.streaming.harness import (
        BASE,
        read_event_stream,
        write_events_ndjson,
    )

    input_dir = write_events_ndjson(spark, sf_dir, "drain")
    stream = read_event_stream(spark, input_dir)
    q = (
        stream.writeStream.format("memory")
        .queryName("drain_sink")
        .option(
            "checkpointLocation", os.path.join(BASE, "drain/ck_drain")
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.isActive  # healthz OK while live
    q.awaitTermination()
    assert not q.isActive  # healthz 503 after drain
    assert q.exception() is None
    n_sink = spark.table("drain_sink").count()
    from cdc_pubsub_spark.tables import load as _load

    assert n_sink == _load(spark, sf_dir, "events").count()


def test_dynamic_partition_overwrite_spares_siblings(spark, sf_dir):
    """Only the re-delivered partition is rewritten; siblings keep their
    original rows."""
    got = {
        r["o_orderstatus"]: r["n_rows"]
        for r in REGISTRY["sink_dynamic_partition_overwrite"].fn(spark, sf_dir).collect()
    }
    orders = load(spark, sf_dir, "orders")
    want_full = {
        r["o_orderstatus"]: r["n"]
        for r in orders.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    want_f_redone = orders.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 2 == 0)
    ).count()
    assert got["F"] == want_f_redone, "F partition must hold only redelivered rows"
    for status in ("O", "P"):
        assert got[status] == want_full[status], f"{status} partition must be untouched"


def test_pubsub_sink_fanout_complete(spark, sf_dir):
    """Every event lands in exactly one topic partition, none lost —
    the at-least-once + idempotent-write contract (fixing ref A9)."""
    res = {r["topic"]: (r["n_messages"], r["n_distinct"]) for r in
           REGISTRY["sink_pubsub_emulated"].fn(spark, sf_dir).collect()}
    ev = load(spark, sf_dir, "events")
    want = {
        f"events-{r['event_type']}": r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert {t: n for t, (n, _) in res.items()} == want
    for t, (n, nd) in res.items():
        assert n == nd, f"{t}: duplicate messages in sink"


def test_stream_stream_left_outer_matches_batch_twin(spark, sf_dir):
    """Outer join with watermark flush == plain batch left join + agg."""
    got = {
        r["p_user"]: (r["n_purchases"], r["n_matched"], r["n_unmatched"])
        for r in REGISTRY["stream_stream_left_outer"].fn(spark, sf_dir).collect()
    }
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    twin = (
        p.join(
            e,
            (F.col("p_user") == F.col("e_user"))
            & (F.col("e_ts") >= F.col("p_ts"))
            & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 10 MINUTES")),
            "leftOuter",
        )
        .groupBy("p_user")
        .agg(
            F.countDistinct("p_id").alias("n_purchases"),
            F.count("e_id").alias("n_matched"),
            F.countDistinct(
                F.when(F.col("e_id").isNull(), F.col("p_id"))
            ).alias("n_unmatched"),
        )
    )
    want = {
        r["p_user"]: (r["n_purchases"], r["n_matched"], r["n_unmatched"])
        for r in twin.collect()
    }
    assert got == want


def test_exactly_once_manifest_hides_orphans(spark, sf_dir):
    """The manifest-committed view must NOT count the orphaned replay
    directory a naive recursive listing would double-count."""
    import os

    from cdc_pubsub_spark.streaming.harness import BASE

    committed = (
        REGISTRY["sink_exactly_once_manifest"]
        .fn(spark, sf_dir)
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    n_events = load(spark, sf_dir, "events").count()
    assert committed == n_events
    # The orphan is really on disk (crash between data write and commit) …
    data_root = os.path.join(BASE, "exactly_once", "data")
    assert os.path.isdir(os.path.join(data_root, "batch-0-orphaned-replay"))
    # … and a manifest-ignorant reader would see duplicates.
    naive = (
        spark.read.option("recursiveFileLookup", "true").parquet(data_root).count()
    )
    assert naive > n_events


def test_stream_join_state_evicts_below_watermark(spark, sf_dir):
    """Stream-stream join state must SHRINK once the watermark passes
    row expiry — the bounded-state guarantee that lets the join run
    forever. Asserted from StreamingQueryProgress.stateOperators, not
    inferred: peak buffered rows during the data batches must exceed
    the rows remaining after the kicker batch advances the watermark 2
    hours past every real event."""
    import json as _json
    import time as _time
    import uuid

    from cdc_pubsub_spark.streaming.harness import (
        BASE,
        EVENT_JSON_SCHEMA,
        read_event_stream,
        write_events_ndjson,
    )

    input_dir = write_events_ndjson(spark, sf_dir, "state_ttl")
    # Kicker file, strictly newer mtime: one event per joined side 2 h
    # past max ts so both sides' watermark nodes advance.
    rows = [
        _json.loads(line.value)
        for line in spark.read.schema("value string").text(input_dir).collect()
    ]
    max_ts = max(r["ts_us"] for r in rows)
    kick = [
        {"event_id": 10**9 + i, "ts_us": max_ts + 2 * 3600 * 1_000_000,
         "user_id": 10**6 + i, "event_type": et, "value": 0.0, "props": "{}"}
        for i, et in enumerate(["purchase", "error"])
    ]
    dst = os.path.join(input_dir, "zz-kicker.ndjson")
    with open(dst, "w") as f:
        f.write("\n".join(_json.dumps(k) for k in kick))
    now = _time.time()
    os.utime(dst, (now + 60, now + 60))

    base = read_event_stream(spark, input_dir, max_files_per_trigger=1)
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"))
    )
    errors = (
        read_event_stream(spark, input_dir, max_files_per_trigger=1)
        .filter(F.col("event_type") == "error")
        .withWatermark("ts", "10 minutes")
        .select(F.col("event_id").alias("e_id"), F.col("user_id").alias("e_user"),
                F.col("ts").alias("e_ts"))
    )
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    qname = f"state_ttl_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(BASE, "state_ttl", f"ck_{qname}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progresses = [p for p in q.recentProgress if p and p.get("stateOperators")]
    totals = [p["stateOperators"][0]["numRowsTotal"] for p in progresses]
    removed = sum(p["stateOperators"][0]["numRowsRemoved"] for p in progresses)
    assert totals, "no stateOperators progress captured"
    assert max(totals) > 0, "join never buffered state"
    assert removed > 0, "watermark never evicted state"
    assert totals[-1] < max(totals), (
        f"state did not shrink after kicker: {totals}"
    )


def test_left_outer_join_state_evicts_below_watermark(spark, sf_dir):
    """stream_stream_left_outer's topology must evict state once the
    watermark passes row expiry, exactly like the inner join — the outer
    variant buffers MORE (unmatched left rows await their null-flush),
    so bounded state is the difference between running forever and OOM.
    Asserted from StreamingQueryProgress.stateOperators: rows are
    removed, and the post-kicker total sits below the peak (the plateau
    check from the round-3 candidate list)."""
    import json as _json
    import time as _time
    import uuid

    from cdc_pubsub_spark.streaming.harness import (
        BASE,
        read_event_stream,
        write_events_ndjson,
    )

    input_dir = write_events_ndjson(spark, sf_dir, "state_ttl_lo")
    rows = [
        _json.loads(line.value)
        for line in spark.read.schema("value string").text(input_dir).collect()
    ]
    max_ts = max(r["ts_us"] for r in rows)
    kick = [
        {"event_id": 10**9 + i, "ts_us": max_ts + 2 * 3600 * 1_000_000,
         "user_id": 10**6 + i, "event_type": et, "value": 0.0, "props": "{}"}
        for i, et in enumerate(["purchase", "error"])
    ]
    dst = os.path.join(input_dir, "zz-kicker.ndjson")
    with open(dst, "w") as f:
        f.write("\n".join(_json.dumps(k) for k in kick))
    now = _time.time()
    os.utime(dst, (now + 60, now + 60))

    purchases = (
        read_event_stream(spark, input_dir, max_files_per_trigger=1)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"))
    )
    errors = (
        read_event_stream(spark, input_dir, max_files_per_trigger=1)
        .filter(F.col("event_type") == "error")
        .withWatermark("ts", "10 minutes")
        .select(F.col("event_id").alias("e_id"), F.col("user_id").alias("e_user"),
                F.col("ts").alias("e_ts"))
    )
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 10 MINUTES")),
        "leftOuter",
    )
    qname = f"state_ttl_lo_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option(
            "checkpointLocation", os.path.join(BASE, "state_ttl_lo", f"ck_{qname}")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progresses = [p for p in q.recentProgress if p and p.get("stateOperators")]
    totals = [p["stateOperators"][0]["numRowsTotal"] for p in progresses]
    removed = sum(p["stateOperators"][0]["numRowsRemoved"] for p in progresses)
    assert totals, "no stateOperators progress captured"
    assert max(totals) > 0, "outer join never buffered state"
    assert removed > 0, "watermark never evicted outer-join state"
    assert totals[-1] < max(totals), (
        f"state did not shrink after kicker: {totals}"
    )
    # The outer flush must have emitted null-right rows for unmatched
    # purchases — eviction and the null-flush are the same mechanism.
    flushed = spark.table(qname).filter(
        (F.col("e_id").isNull()) & (F.col("p_user") < 10**6)
    ).count()
    assert flushed > 0, "no unmatched purchases were null-flushed"


def test_pubsub_ordered_delivery_contract(spark, sf_dir):
    """Ordering-key contract: zero keys split across files within a
    topic, zero event-time inversions in physical row order, and full
    message conservation vs the source."""
    from cdc_pubsub_spark.tables import load

    out = {r.topic: r for r in REGISTRY["sink_pubsub_ordered"].fn(spark, sf_dir).collect()}
    assert out, "no topics produced"
    for topic, r in out.items():
        assert r.split_keys == 0, f"{topic}: keys split across files"
        assert r.order_inversions == 0, f"{topic}: out-of-order delivery"
    total = sum(r.n_messages for r in out.values())
    assert total == load(spark, sf_dir, "events").count()


def test_push_ingest_runs_and_matches_batch_twin(spark, sf_dir):
    """Push ingest (rate source): the op itself RAISES if the live
    committed aggregate diverges from the batch twin over the committed
    prefix, and returns the pinned-twin aggregate over [0, 5000) — all
    four types present, equal counts (5000 divides by 4)."""
    out = {r.event_type: r for r in
           REGISTRY["stream_push_ingest"].fn(spark, sf_dir).collect()}
    assert set(out) == {"click", "view", "purchase", "error"}
    assert all(r.n == 1250 for r in out.values())
    assert all(r.total_value > 0 for r in out.values())


def test_health_drain_probes_all_healthy(spark, sf_dir):
    """Health/drain surface: liveness observed while running, clean
    drain at a batch boundary, and every input row acknowledged (any
    probe failure raises inside the op)."""
    from cdc_pubsub_spark.tables import load

    [r] = REGISTRY["stream_health_drain"].fn(spark, sf_dir).collect()
    assert r.healthz_live and r.drain_clean
    assert r.rows_acked == r.rows_expected
    assert r.rows_expected == load(spark, sf_dir, "events").count()


def test_exactly_once_across_injected_publish_failure(spark, sf_dir):
    """The A9 contract the reference breaks (ACK on failed publish): a
    TRANSIENT publish failure must fail the micro-batch, and the
    restarted query must replay it from the checkpoint with no loss and
    no duplicates — manifest-idempotent foreachBatch over at-least-once
    delivery = exactly-once table state, across a REAL query failure,
    not just a simulated orphan."""
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from cdc_pubsub_spark.streaming.harness import (
        BASE,
        read_event_stream,
        write_events_ndjson,
    )

    input_dir = write_events_ndjson(spark, sf_dir, "eo_failure")
    root = os.path.join(BASE, "eo_failure")
    data_root = os.path.join(root, "data")
    manifest_root = os.path.join(root, "manifest")
    ckpt = os.path.join(root, "ckpt")
    for d in (data_root, manifest_root):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)

    # Split the landing file so maxFilesPerTrigger=1 yields 2+ batches.
    [first] = os.listdir(input_dir)
    src = os.path.join(input_dir, first)
    with open(src) as fh:
        lines = fh.read().splitlines()
    half = len(lines) // 2
    with open(os.path.join(input_dir, "00-a.ndjson"), "w") as fh:
        fh.write("\n".join(lines[:half]) + "\n")
    with open(os.path.join(input_dir, "01-b.ndjson"), "w") as fh:
        fh.write("\n".join(lines[half:]) + "\n")
    os.remove(src)

    poison = {"armed": True}

    def publish(batch_df, batch_id):
        entry = os.path.join(manifest_root, f"batch-{batch_id}.json")
        if os.path.exists(entry):
            return
        batch_dir = os.path.join(data_root, f"batch-{batch_id}")
        batch_df.write.mode("overwrite").parquet(batch_dir)
        if batch_id == 1 and poison["armed"]:
            poison["armed"] = False  # transient: fails exactly once,
            # AFTER the data write, BEFORE the manifest commit — the
            # worst-case crash point.
            raise RuntimeError("injected transient publish failure")
        tmp = entry + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"batch": batch_id, "dir": batch_dir}, fh)
        os.rename(tmp, entry)

    def run():
        q = (
            read_event_stream(spark, input_dir, max_files_per_trigger=1)
            .writeStream.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(publish)
            .start()
        )
        q.awaitTermination()

    try:
        run()
        raise AssertionError("query must fail on the poisoned batch")
    except Exception as e:
        assert "injected transient publish failure" in str(e)

    run()  # restart: replays batch 1 from the checkpoint, commits it

    committed = [
        json.load(open(os.path.join(manifest_root, m)))["dir"]
        for m in sorted(os.listdir(manifest_root))
        if m.endswith(".json")
    ]
    got = spark.read.parquet(*committed).count()
    assert got == load(spark, sf_dir, "events").count(), (
        "replayed batch lost or duplicated rows"
    )


def test_stateful_runs_on_rocksdb_state_store(spark, sf_dir, sf_correct):
    """SURVEY §7 risk 4 / round-6 VERDICT item 4: the 100 TB state
    backend must actually be exercised, not just configured. Three
    binds: (1) the session (and tables.ensure_session_confs, which
    heals driver-passed bare sessions) selects RocksDB; (2) a keyed
    streaming aggregation's stateOperators report ROCKSDB custom
    metrics — physical proof the provider engaged, not just a conf
    string; (3) a stateful op hash-matches its DuckDB oracle at sf0.01
    under that provider (the driver's own check, replicated)."""
    import uuid

    from tests.parity import assert_parity

    from cdc_pubsub_spark.streaming.harness import (
        BASE,
        read_event_stream,
        write_events_ndjson,
    )

    provider = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    assert "RocksDBStateStoreProvider" in provider

    input_dir = write_events_ndjson(spark, sf_dir, "rocksdb_probe")
    counted = (
        read_event_stream(spark, input_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    qname = f"rocksdb_probe_{uuid.uuid4().hex[:8]}"
    q = (
        counted.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .option(
            "checkpointLocation", os.path.join(BASE, "rocksdb_probe", f"ck_{qname}")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progresses = [p for p in q.recentProgress if p and p.get("stateOperators")]
    assert progresses, "no stateOperators progress captured"
    metrics = progresses[-1]["stateOperators"][0].get("customMetrics", {})
    rocks_keys = [k for k in metrics if "rocksdb" in k.lower()]
    assert rocks_keys, (
        f"state operator reported no RocksDB metrics: {sorted(metrics)[:10]}"
    )
    assert spark.table(qname).count() > 0

    # The driver's oracle-equality check, on RocksDB-backed state.
    assert_parity(spark, "stream_stateful", sf_correct)


def test_exactly_once_across_crash_after_sink_commit(spark, sf_dir):
    """The OTHER crash window (round-6 VERDICT item 7): the query dies
    AFTER the sink's atomic manifest commit but BEFORE Spark's own
    batch commit is recorded in the checkpoint. On restart Spark
    REPLAYS the batch (at-least-once delivery is its only promise);
    the manifest-existence guard must turn that replay into a no-op —
    otherwise the sink double-publishes. Together with
    test_exactly_once_across_injected_publish_failure (crash BEFORE
    the manifest commit → replay completes the work) this covers both
    sides of the commit barrier with real query failures."""
    import json
    import os
    import shutil

    from cdc_pubsub_spark.streaming.harness import (
        BASE,
        read_event_stream,
        write_events_ndjson,
    )
    from cdc_pubsub_spark.tables import load

    input_dir = write_events_ndjson(spark, sf_dir, "eo_postcommit")
    root = os.path.join(BASE, "eo_postcommit")
    data_root = os.path.join(root, "data")
    manifest_root = os.path.join(root, "manifest")
    ckpt = os.path.join(root, "ckpt")
    for d in (data_root, manifest_root):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    shutil.rmtree(ckpt, ignore_errors=True)

    [first] = os.listdir(input_dir)
    src = os.path.join(input_dir, first)
    with open(src) as fh:
        lines = fh.read().splitlines()
    half = len(lines) // 2
    with open(os.path.join(input_dir, "00-a.ndjson"), "w") as fh:
        fh.write("\n".join(lines[:half]) + "\n")
    with open(os.path.join(input_dir, "01-b.ndjson"), "w") as fh:
        fh.write("\n".join(lines[half:]) + "\n")
    os.remove(src)

    poison = {"armed": True}
    replayed_committed = {"n": 0}

    def publish(batch_df, batch_id):
        entry = os.path.join(manifest_root, f"batch-{batch_id}.json")
        if os.path.exists(entry):
            replayed_committed["n"] += 1  # replay of a committed batch
            return
        batch_dir = os.path.join(data_root, f"batch-{batch_id}")
        batch_df.write.mode("overwrite").parquet(batch_dir)
        tmp = entry + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"batch": batch_id, "dir": batch_dir}, fh)
        os.rename(tmp, entry)  # atomic commit point — the sink is DONE
        if batch_id == 1 and poison["armed"]:
            poison["armed"] = False
            # Crash AFTER the sink committed, BEFORE Spark records the
            # batch: the worst case for duplicates.
            raise RuntimeError("injected crash after sink commit")

    def run():
        q = (
            read_event_stream(spark, input_dir, max_files_per_trigger=1)
            .writeStream.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(publish)
            .start()
        )
        q.awaitTermination()

    try:
        run()
        raise AssertionError("query must fail on the poisoned batch")
    except Exception as e:
        assert "injected crash after sink commit" in str(e)

    run()  # restart: Spark replays batch 1; the manifest guard absorbs it

    assert replayed_committed["n"] >= 1, (
        "restart never replayed the committed batch — the crash window "
        "this test exists for was not exercised"
    )
    committed = [
        json.load(open(os.path.join(manifest_root, m)))["dir"]
        for m in sorted(os.listdir(manifest_root))
        if m.endswith(".json")
    ]
    assert len(committed) == len(set(committed)), "duplicate manifest entries"
    got = spark.read.parquet(*committed).count()
    assert got == load(spark, sf_dir, "events").count(), (
        "replayed batch lost or duplicated rows"
    )


def test_windowed_distinct_dedups_duplicated_delivery(spark, sf_dir):
    """The input stream carries every event twice; the (user, hour)
    dedup must reduce each window to the batch COUNT DISTINCT — pin
    that against an independent DuckDB rollup, and pin that a naive
    count over the duplicated feed would NOT equal it (the dedup is
    load-bearing, not decorative)."""
    import duckdb

    from cdc_pubsub_spark.registry import REGISTRY

    con = duckdb.connect()
    exp = dict(
        con.sql(
            "SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000)"
            " * 3600, CAST(count(DISTINCT user_id) AS BIGINT)"
            f" FROM read_parquet('{sf_dir}/events.parquet') GROUP BY 1"
        ).fetchall()
    )
    raw = dict(
        con.sql(
            "SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000)"
            " * 3600, CAST(count(*) AS BIGINT)"
            f" FROM read_parquet('{sf_dir}/events.parquet') GROUP BY 1"
        ).fetchall()
    )
    rows = REGISTRY["stream_windowed_distinct"].fn(spark, sf_dir).collect()
    assert {r.window_start_s for r in rows} == set(exp)
    for r in rows:
        assert r.distinct_users == exp[r.window_start_s], r.window_start_s
        # duplicated-delivery feed holds 2x raw events per window; the
        # result must be far below that (and below raw) wherever the
        # hour has any repeat visitors or duplicates.
        assert r.distinct_users <= raw[r.window_start_s]
    assert sum(rows_.distinct_users for rows_ in rows) < 2 * sum(
        raw.values()
    )


def test_interval_join_state_evicts_both_sides(spark, sf_dir):
    """The r12 two-sided interval join (stream_interval_join's shape:
    c_ts ∈ [p_ts − 5min, p_ts + 5min]) must evict join state as the
    watermark advances — asserted from StreamingQueryProgress like the
    one-sided sibling. The two-sided bound is what lets Spark compute a
    state watermark for BOTH buffers, so after a kicker batch advances
    event time 2 h past every real event the retained state must
    shrink from its peak."""
    import json as _json
    import time as _time
    import uuid

    from cdc_pubsub_spark.streaming.harness import (
        BASE,
        read_event_stream,
        write_events_ndjson,
    )

    input_dir = write_events_ndjson(spark, sf_dir, "iv_state_ttl")
    rows = [
        _json.loads(line.value)
        for line in spark.read.schema("value string").text(input_dir).collect()
    ]
    max_ts = max(r["ts_us"] for r in rows)
    kick = [
        {"event_id": 10**9 + i, "ts_us": max_ts + 2 * 3600 * 1_000_000,
         "user_id": 10**6 + i, "event_type": et, "value": 0.0, "props": "{}"}
        for i, et in enumerate(["purchase", "click"])
    ]
    dst = os.path.join(input_dir, "zz-kicker.ndjson")
    with open(dst, "w") as f:
        f.write("\n".join(_json.dumps(k) for k in kick))
    now = _time.time()
    os.utime(dst, (now + 60, now + 60))

    purchases = (
        read_event_stream(spark, input_dir, max_files_per_trigger=1)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(F.col("event_id").alias("p_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"))
    )
    clicks = (
        read_event_stream(spark, input_dir, max_files_per_trigger=1)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(F.col("event_id").alias("c_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"))
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 5 MINUTES")),
    )
    qname = f"iv_state_ttl_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation",
                os.path.join(BASE, "iv_state_ttl", f"ck_{qname}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progresses = [p for p in q.recentProgress if p and p.get("stateOperators")]
    totals = [p["stateOperators"][0]["numRowsTotal"] for p in progresses]
    removed = sum(p["stateOperators"][0]["numRowsRemoved"] for p in progresses)
    assert totals and max(totals) > 0, "join never buffered state"
    assert removed > 0, "watermark never evicted interval-join state"
    assert totals[-1] < max(totals), (
        f"state did not shrink after kicker: {totals}"
    )


def test_session_window_state_evicts_below_watermark(spark, sf_dir):
    """stream_session_join's stateful step is the session_window agg;
    in append mode its per-session state must be EMITTED AND EVICTED
    once the watermark passes session end — the bounded-state property
    that distinguishes watermark-driven sessionization from buffering
    the stream. Kicker advances event time 2 h past every real event;
    the session operator must then report rows removed and the state
    must shrink from its peak."""
    import json as _json
    import time as _time
    import uuid

    from cdc_pubsub_spark.streaming.harness import (
        BASE,
        read_event_stream,
        write_events_ndjson,
    )

    input_dir = write_events_ndjson(spark, sf_dir, "sess_state_ttl")
    rows = [
        _json.loads(line.value)
        for line in spark.read.schema("value string").text(input_dir).collect()
    ]
    max_ts = max(r["ts_us"] for r in rows)
    kick = [{"event_id": 10**9, "ts_us": max_ts + 2 * 3600 * 1_000_000,
             "user_id": 10**6, "event_type": "purchase", "value": 0.0,
             "props": "{}"}]
    dst = os.path.join(input_dir, "zz-kicker.ndjson")
    with open(dst, "w") as f:
        f.write("\n".join(_json.dumps(k) for k in kick))
    now = _time.time()
    os.utime(dst, (now + 60, now + 60))

    stream = (
        read_event_stream(spark, input_dir, max_files_per_trigger=1)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
    )
    agg = stream.groupBy(
        F.session_window("ts", "30 minutes"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    qname = f"sess_state_ttl_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation",
                os.path.join(BASE, "sess_state_ttl", f"ck_{qname}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progresses = [p for p in q.recentProgress if p and p.get("stateOperators")]
    totals = [p["stateOperators"][0]["numRowsTotal"] for p in progresses]
    removed = sum(p["stateOperators"][0]["numRowsRemoved"] for p in progresses)
    emitted = spark.table(qname).count()
    assert totals and max(totals) > 0, "session agg never buffered state"
    assert removed > 0, "watermark never evicted session state"
    assert totals[-1] < max(totals), (
        f"session state did not shrink after kicker: {totals}"
    )
    assert emitted > 0, "append mode emitted no closed sessions"


def test_bridge_state_partitions_sized_to_cores(spark, sf_correct):
    """The bridge's keyed streaming aggregations run one state store per
    core, not one per batch shuffle partition: each stateful operator's
    last progress reports min(32, defaultParallelism) shuffle
    partitions, the caller's session keeps its batch width, and both
    ops still hash-match their DuckDB oracles."""
    from pyspark.sql.streaming import StreamingQueryListener

    from tests.parity import assert_parity

    last: dict[str, list] = {}

    class _LastState(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.stateOperators:
                last[str(p.id)] = [s.numShufflePartitions for s in p.stateOperators]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    before = spark.conf.get("spark.sql.shuffle.partitions")
    want = min(int(before), spark.sparkContext.defaultParallelism)
    listener = _LastState()
    spark.streams.addListener(listener)
    try:
        for name in ("pipeline_bridge_e2e", "stream_http_ingest"):
            n_queries = len(last)
            assert_parity(spark, name, sf_correct)
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            assert len(last) > n_queries, f"{name}: no stateful progress seen"
            assert spark.conf.get("spark.sql.shuffle.partitions") == before
    finally:
        spark.streams.removeListener(listener)
    for qid, widths in last.items():
        assert widths == [want] * len(widths), (qid, widths, want)


def test_start_query_restores_conf_when_start_fails(spark):
    """A start that throws still puts the session's batch width back."""
    import pytest

    from cdc_pubsub_spark.streaming.harness import start_query

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    wide = str(spark.sparkContext.defaultParallelism + 3)
    writer = spark.readStream.format("rate").load().writeStream.format(
        "no_such_sink_format"
    )
    spark.conf.set(key, wide)
    try:
        with pytest.raises(Exception):
            start_query(spark, writer)
        assert spark.conf.get(key) == wide
    finally:
        spark.conf.set(key, before)


def test_http_receiver_lands_concurrent_posts(tmp_path):
    """Concurrent POSTs each get their own landing file: the receiver's
    sequence numbers and counters are handed out under a lock. A short
    switch interval maximises interleaving between the handler threads."""
    import sys
    import threading
    import urllib.request

    from cdc_pubsub_spark.streaming.ops import HttpLandingReceiver

    input_dir, tmp_dir = tmp_path / "input", tmp_path / "tmp"
    input_dir.mkdir()
    tmp_dir.mkdir()
    rx = HttpLandingReceiver(str(input_dir), str(tmp_dir), {"k"})
    url = f"http://127.0.0.1:{rx.port}/v1/feed?sharedKey=k"
    bodies = [f'{{"body": {i}}}\n'.encode() for i in range(32)]
    errors: list[BaseException] = []

    def post(chunk):
        try:
            for body in chunk:
                req = urllib.request.Request(url, data=body)
                with urllib.request.urlopen(req, timeout=30) as r:
                    assert r.status == 200
        except BaseException as err:  # surfaced by the main thread
            errors.append(err)

    threads = [threading.Thread(target=post, args=(bodies[i::8],)) for i in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
        rx.close()
    assert not any(t.is_alive() for t in threads), "a sender thread hung"
    assert not errors, errors
    landed = sorted(input_dir.iterdir())
    assert len(landed) == 32 and rx.n_received == 32
    assert sorted(p.read_bytes() for p in landed) == sorted(bodies)
    assert not list(tmp_dir.iterdir())


_STARTERS = ("start", "toTable")


def _stream_start_sites(source: str) -> list[int]:
    """Lines calling .start()/.toTable() on a writeStream chain, followed
    through plain name assignments (`w = df.writeStream...; w.start()`)."""
    import ast

    def from_write_stream(node, names):
        while True:
            if isinstance(node, ast.Attribute):
                if node.attr == "writeStream":
                    return True
                node = node.value
            elif isinstance(node, ast.Call):
                node = node.func
            else:
                return isinstance(node, ast.Name) and node.id in names

    tree = ast.parse(source)
    assigns = [n for n in ast.walk(tree) if isinstance(n, ast.Assign)]
    names: set[str] = set()
    grew = True
    while grew:
        grew = False
        for a in assigns:
            if from_write_stream(a.value, names):
                for t in a.targets:
                    if isinstance(t, ast.Name) and t.id not in names:
                        names.add(t.id)
                        grew = True
    return sorted(
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in _STARTERS
        and from_write_stream(n.func.value, names)
    )


def test_stream_start_site_detector():
    src = (
        "a = df.writeStream.format('memory').start()\n"
        "w = df.writeStream.option('x', 1)\n"
        "w = w.trigger(availableNow=True)\n"
        "w.start()\n"
        "df.writeStream.toTable('t')\n"
        "threading.Thread(target=f).start()\n"
        "q = start_query(spark, df.writeStream.format('memory'))\n"
    )
    assert _stream_start_sites(src) == [1, 4, 5]


def test_streaming_queries_start_only_in_harness():
    """One start path: every streaming query in the package starts via
    streaming.harness.start_query, which sizes state partitions to the
    cores."""
    import pathlib

    import cdc_pubsub_spark

    pkg = pathlib.Path(cdc_pubsub_spark.__file__).parent
    harness = pkg / "streaming" / "harness.py"
    offenders = [
        f"{path.relative_to(pkg.parent)}:{line}"
        for path in sorted(pkg.rglob("*.py"))
        if path != harness
        for line in _stream_start_sites(path.read_text())
    ]
    assert not offenders, f"start streaming queries via start_query: {offenders}"


def _raw_post(port: int, head: str, body: bytes) -> int:
    """POST over a raw socket (urllib always frames the body itself);
    returns the response status."""
    import socket

    with socket.create_connection(("127.0.0.1", port), timeout=30) as sock:
        sock.sendall(head.encode() + b"Host: x\r\n\r\n" + body)
        resp = b""
        while chunk := sock.recv(4096):
            resp += chunk
    return int(resp.split(b" ", 2)[1])


def test_http_receiver_refuses_bodies_without_valid_length(tmp_path):
    """A chunked body (no Content-Length) gets 411 and a malformed
    Content-Length 400, on the feed and the auth path alike, and nothing
    lands: the receiver never ACKs a body it could not read whole."""
    from cdc_pubsub_spark.streaming.ops import HttpLandingReceiver

    input_dir, tmp_dir = tmp_path / "input", tmp_path / "tmp"
    input_dir.mkdir()
    tmp_dir.mkdir()
    rx = HttpLandingReceiver(str(input_dir), str(tmp_dir), {"k"})
    chunked = ("Transfer-Encoding: chunked\r\n", b"6\r\n{}\n{}\n\r\n0\r\n\r\n")
    try:
        for key in ("k", "wrong"):
            line = f"POST /v1/feed?sharedKey={key} HTTP/1.1\r\n"
            assert _raw_post(rx.port, line + chunked[0], chunked[1]) == 411, key
            for bad in ("abc", "-1", "1.5", ""):
                head = f"{line}Content-Length: {bad}\r\n"
                assert _raw_post(rx.port, head, b"{}\n") == 400, (key, bad)
        # the same socket client gets 200 for a well-framed body
        head = "POST /v1/feed?sharedKey=k HTTP/1.1\r\nContent-Length: 3\r\n"
        assert _raw_post(rx.port, head, b"{}\n") == 200
    finally:
        rx.close()
    assert [p.read_bytes() for p in input_dir.iterdir()] == [b"{}\n"]
    assert rx.n_received == 1 and rx.n_unauthorized == 0
    assert not list(tmp_dir.iterdir())


def test_land_numbers_files_after_existing_ones(spark, tmp_path):
    """Each landed part is one file, numbered and mtime-ordered after
    every file already in the dir, across calls; the writer's _SUCCESS
    and .crc files and the staging dir never reach the landing dir."""
    from cdc_pubsub_spark.streaming.harness import land

    input_dir = tmp_path / "input"

    def part(*values):
        return spark.createDataFrame([(v,) for v in values], "value string")

    first = land(str(input_dir), part("a1", "a2"), part("b"))
    second = land(str(input_dir), part("c"))
    names = [os.path.basename(p) for p in first + second]
    assert names == ["00.ndjson", "01.ndjson", "02.ndjson"]
    assert sorted(os.listdir(input_dir)) == names
    assert os.listdir(tmp_path) == ["input"]
    mtimes = [os.path.getmtime(p) for p in first + second]
    assert mtimes == sorted(set(mtimes)), mtimes
    assert [sorted(open(p).read().split()) for p in first + second] == [
        ["a1", "a2"],
        ["b"],
        ["c"],
    ]


def test_land_order_is_file_source_read_order(spark, tmp_path):
    """A file source with maxFilesPerTrigger=1 reads one landed file per
    micro-batch, in landing order — also when the files land in separate
    calls."""
    from cdc_pubsub_spark.streaming.harness import land, run_to_completion

    input_dir = str(tmp_path / "input")

    def part(v):
        return spark.createDataFrame([(v,)], "value string")

    land(input_dir, part("first"), part("second"))
    land(input_dir, part("third"))
    batches: list[tuple[int, list[str]]] = []

    def record(batch_df, batch_id):
        batches.append((batch_id, [r["value"] for r in batch_df.collect()]))

    stream = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .text(input_dir)
    )
    run_to_completion(stream, "land_order", foreach_batch=record)
    assert [values for _, values in sorted(batches)] == [
        ["first"],
        ["second"],
        ["third"],
    ]
