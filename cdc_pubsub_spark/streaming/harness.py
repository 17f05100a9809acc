"""File-stream harness: replay the events table as an NDJSON stream.

Mirrors the reference's transport exactly: the bridge receives NDJSON
bodies over HTTP (publisher.go:182-202); the engine's equivalent source
is a landing directory of NDJSON files consumed by `readStream` (SURVEY.md
§1.3). The harness writes deterministic NDJSON from the `events` table
(optionally duplicated or split for late-arrival tests) and runs queries
to completion with Trigger.AvailableNow — real streaming execution
(micro-batches, state store, watermarks) with a bounded, replayable input,
so every streaming operator has a batch twin on identical rows
(SURVEY.md §5.2; prefix-consistency makes the comparison sound).

Timestamps travel as epoch-micros longs (ts_us) in the JSON — exact,
engine-neutral serialization; the reader reconstructs TimestampType.

Start contract: every streaming query in the engine starts through
`start_query` (run_to_completion included; tests/test_streaming.py fails
on any other `writeStream…start()` in the package). A stateful query's
state is partitioned over `spark.sql.shuffle.partitions`, AQE never
coalesces it, and the count is pinned in the checkpoint's offset log at
first start — the batch width of 32 would open and commit 32 state
stores per trigger on a 4-core host. `start_query` starts the query with
the conf lowered to min(current, defaultParallelism) and restores the
previous value before returning: `StreamExecution` clones the session at
start, so the clone (foreachBatch bodies included) keeps the lowered
width for the query's whole life, while the caller's session is back at
its batch width. A restart from an existing checkpoint keeps the count
the checkpoint recorded. A batch query planned on another thread inside
the short start window merely begins with fewer shuffle partitions —
AQE re-plans it, and results do not depend on the partition count
(tests/test_determinism.py::test_partition_count_insensitive).
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from cdc_pubsub_spark.paths import work_dir
from cdc_pubsub_spark.tables import load

BASE = work_dir("stream")

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_START_LOCK = threading.Lock()

EVENT_JSON_SCHEMA = (
    "event_id bigint, ts_us bigint, user_id bigint, event_type string, "
    "value double, props string"
)


def _event_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        F.to_json(
            F.struct(
                "event_id",
                F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
                "user_id",
                "event_type",
                "value",
                "props",
            )
        ).alias("value")
    )


def write_events_ndjson(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    duplicate: bool = False,
    late_cutoff_days: int | None = None,
) -> str:
    """Write events as NDJSON under a fresh landing dir; returns the dir.

    duplicate=True appends a full second copy of every line (at-least-once
    delivery simulation). late_cutoff_days splits into three files: file A
    = events *after* the cutoff (processed first, advancing the
    watermark), file B = a single copy of the max-ts line (a
    watermark-kicker batch: Spark applies an advanced watermark to
    operators one batch AFTER it is computed, so a dedicated tiny batch
    is needed before late rows are actually filtered), file C = events
    before the cutoff (arriving late, behind the established watermark).
    The kicker duplicates one event in the stream's final window, which
    is never emitted in append mode (its end exceeds the watermark), so
    emitted window counts are unaffected.
    """
    root = os.path.join(BASE, name)
    shutil.rmtree(root, ignore_errors=True)
    input_dir = os.path.join(root, "input")
    os.makedirs(input_dir)

    lines = _event_lines(spark, sf_dir)
    if late_cutoff_days is None:
        df = lines.union(lines) if duplicate else lines
        df.coalesce(1).write.mode("append").text(input_dir)
    else:
        ev = load(spark, sf_dir, "events")
        # Timezone-independent cutoff: unix_micros inside the plan. A
        # collected naive datetime's .timestamp() reinterprets the UTC
        # session value in the HOST zone — on a non-UTC host that shifts
        # the split boundary off the oracle's epoch-based cutoff.
        t0_us = ev.agg(
            F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("t0")
        ).collect()[0]["t0"]
        cutoff_us = int(t0_us) + late_cutoff_days * 86_400_000_000
        all_lines = _event_lines(spark, sf_dir).withColumn(
            "ts_us", F.get_json_object("value", "$.ts_us").cast("bigint")
        )
        on_time = all_lines.filter(F.col("ts_us") >= cutoff_us).select("value")
        late = all_lines.filter(F.col("ts_us") < cutoff_us).select("value")
        kicker = (
            all_lines.orderBy(F.col("ts_us").desc()).limit(1).select("value")
        )
        dirs = [os.path.join(root, d) for d in ("a", "b", "c")]
        on_time.coalesce(1).write.text(dirs[0])
        kicker.coalesce(1).write.text(dirs[1])
        late.coalesce(1).write.text(dirs[2])
        # Move the part files into the landing dir with controlled mtimes:
        # the file source orders files by modification time, so later
        # stages must be strictly newer.
        now = time.time()
        for i, d in enumerate(dirs):
            part = next(p for p in os.listdir(d) if p.startswith("part-"))
            dst = os.path.join(input_dir, f"{i:02d}-{part}.ndjson")
            shutil.move(os.path.join(d, part), dst)
            os.utime(dst, (now + i * 10, now + i * 10))
    return input_dir


def read_event_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over the landing dir, reconstructing TimestampType ts."""
    reader = spark.readStream.schema(EVENT_JSON_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(input_dir)
    return raw.withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")


def synth_event_columns(df: DataFrame) -> DataFrame:
    """Map a (seq bigint, ts timestamp) frame to the engine's canonical
    event schema — a pure function of the sequence number, so the SAME
    projection over a batch `spark.range` is the streaming source's
    batch twin (asserted in tests/test_streaming.py)."""
    return df.select(
        F.col("seq").alias("event_id"),
        "ts",
        (F.col("seq") % 1000).alias("user_id"),
        F.element_at(
            F.array(
                F.lit("click"), F.lit("view"), F.lit("purchase"), F.lit("error")
            ),
            (F.col("seq") % 4 + 1).cast("int"),
        ).alias("event_type"),
        F.round((F.col("seq") % 997).cast("double") * 0.13, 2).alias("value"),
        F.to_json(F.struct(F.col("seq"))).alias("props"),
    )


def read_event_stream_push(
    spark: SparkSession, rows_per_second: int = 2000
) -> DataFrame:
    """PUSH-based live ingest twin of the reference's HTTP listener (A1,
    server.go:82-92): the `rate` source generates rows on the source's
    own clock — data arrives whether or not the sink is ready, exactly
    the push contract of an HTTP endpoint, and unlike the landing-dir
    twin it is unbounded and non-replayable-from-files. Rows map to the
    canonical event schema via a pure function of the sequence number
    (synth_event_columns), so every downstream operator runs unchanged
    on pushed or file-landed input."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return synth_event_columns(
        rate.select(F.col("value").alias("seq"), F.col("timestamp").alias("ts"))
    )


def start_query(spark: SparkSession, writer: DataStreamWriter) -> StreamingQuery:
    """`writer.start()` with the shuffle width sized to the cores (see
    the module docstring for the contract). The lock serializes the
    set/start/restore window across threads sharing the session."""
    with _START_LOCK:
        prev = spark.conf.get(SHUFFLE_PARTITIONS)
        width = min(int(prev), spark.sparkContext.defaultParallelism)
        spark.conf.set(SHUFFLE_PARTITIONS, str(width))
        try:
            return writer.start()
        finally:
            spark.conf.set(SHUFFLE_PARTITIONS, prev)


def run_to_completion(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    foreach_batch=None,
) -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow), return the
    memory-sink table (or, with foreach_batch, run the sink function and
    return nothing-readable — caller reads its own sink).

    Micro-batch boundaries are the engine's commit points, exactly as one
    HTTP request = one delivery batch in the reference (SURVEY.md §3.4):
    AvailableNow drains the landing dir through normal micro-batches with
    checkpointed progress, then stops.
    """
    spark = stream_df.sparkSession
    qname = f"{name}_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(BASE, name, f"ckpt_{qname}")
    writer = stream_df.writeStream.option("checkpointLocation", ckpt).trigger(
        availableNow=True
    )
    if foreach_batch is not None:
        q = start_query(spark, writer.foreachBatch(foreach_batch))
        q.awaitTermination()
        return None
    q = start_query(
        spark, writer.format("memory").queryName(qname).outputMode(output_mode)
    )
    q.awaitTermination()
    return spark.table(qname)
