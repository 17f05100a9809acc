"""File-stream harness: replay the events table as an NDJSON stream.

Mirrors the reference's transport exactly: the bridge receives NDJSON
bodies over HTTP (publisher.go:182-202); the engine's equivalent source
is a landing directory of NDJSON files consumed by `readStream` (SURVEY.md
§1.3). The harness writes deterministic NDJSON from the `events` table
(optionally duplicated for at-least-once tests) and runs queries
to completion with Trigger.AvailableNow — real streaming execution
(micro-batches, state store, watermarks) with a bounded, replayable input,
so every streaming operator has a batch twin on identical rows
(SURVEY.md §5.2; prefix-consistency makes the comparison sound).

Timestamps travel as epoch-micros longs (ts_us) in the JSON — exact,
engine-neutral serialization; the reader reconstructs TimestampType.

Landing contract: `land(input_dir, *parts)` is the one way staged
NDJSON enters a landing dir — one HTTP body = one delivery unit in the
reference, one file here. Each part (a one-column `value` DataFrame)
becomes one file `NN.ndjson`, written under a staging dir beside
`input_dir` and renamed in, so a reader never sees a partial file. Each
file is numbered after, and gets an mtime strictly newer than, every
file already in the dir; the file source reads in modification-time
order, so landing order = read order — across calls too (land one
batch, run a query, land the next; with maxFilesPerTrigger=1 each file
is its own micro-batch).

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


def land(input_dir: str, *parts: DataFrame) -> list[str]:
    """Land each one-column (`value`) part as one NDJSON file in
    `input_dir`, in order; returns the landed paths (contract in the
    module docstring)."""
    os.makedirs(input_dir, exist_ok=True)
    stage_root = os.path.normpath(input_dir) + ".staging"
    names = os.listdir(input_dir)
    stems = [n.split(".")[0] for n in names]
    seq = 1 + max((int(s) for s in stems if s.isdigit()), default=-1)
    mtime = max(
        [time.time()]
        + [os.path.getmtime(os.path.join(input_dir, n)) + 1 for n in names]
    )
    landed = []
    for part in parts:
        stage = os.path.join(stage_root, str(seq))
        part.coalesce(1).write.mode("overwrite").text(stage)
        part_file = next(p for p in os.listdir(stage) if p.startswith("part-"))
        src = os.path.join(stage, part_file)
        dst = os.path.join(input_dir, f"{seq:02d}.ndjson")
        # mtime before the rename: the file appears whole and already
        # in its place in the file source's modification-time order.
        os.utime(src, (mtime, mtime))
        os.rename(src, dst)
        landed.append(dst)
        seq, mtime = seq + 1, mtime + 1
    shutil.rmtree(stage_root, ignore_errors=True)
    return landed


def write_events_ndjson(
    spark: SparkSession, sf_dir: str, name: str, duplicate: bool = False
) -> str:
    """Land the events as NDJSON in a fresh landing dir; returns the dir.

    duplicate=True lands a full second copy as a second file
    (at-least-once delivery simulation): a reader with
    maxFilesPerTrigger=1 sees the copies in two micro-batches, an
    AvailableNow reader without it in one.
    """
    root = os.path.join(BASE, name)
    shutil.rmtree(root, ignore_errors=True)
    input_dir = os.path.join(root, "input")
    lines = _event_lines(spark, sf_dir)
    land(input_dir, *([lines, lines] if duplicate else [lines]))
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
