"""SparkSession factory with scale-oriented defaults.

Single-JVM local mode for tests (local[N]); the same config block is what
we'd ship to a 1000-executor cluster — AQE for runtime re-planning and skew
joins, Arrow for any pandas-UDF exchange, UTC session time so timestamp
semantics are stable across driver/executor timezones (and match the DuckDB
oracle, which is timezone-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "cdc-pubsub-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or ``*``.
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
    else:
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions, broadcast conversion,
        # and skew-join splitting — the key knob for surviving a 100x scale-up
        # without hand-tuning every query.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Static shuffle width for local mode; AQE coalesces below this.
        # On a real cluster this would be ~2-3x total cores. Streaming
        # queries start with min(this, defaultParallelism) instead
        # (streaming.harness.start_query): stateful state is partitioned
        # over this width, AQE cannot coalesce it, and the value is
        # pinned per checkpoint at first start.
        .config("spark.sql.shuffle.partitions", "32")
        # Arrow batches for every pandas UDF / toPandas exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics (parity with tz-naive DuckDB).
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast threshold: dims (region/nation/supplier/part) always fit.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # RocksDB state store: streaming state spills to local disk instead
        # of living on the JVM heap — the only viable backend when session/
        # dedup/join state reaches 100 TB-scale key cardinalities. Changelog
        # checkpointing keeps commit cost proportional to the delta.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long and convert in tables.load (micros truncation
        # matches DuckDB's ns->us cast, keeping oracle parity).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate duplicates the generator expression
        # into a zero-selectivity pre-filter where CollapseProject
        # re-inlines hoisted subexpressions (O(doc²) per row on shingle
        # transforms; 5× on text_contamination) — see
        # tables.ensure_session_confs.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Local mode = driver-only JVM; this is the one memory knob that
        # matters. Size SPARK_DRIVER_MEMORY to the host, leaving room for
        # the Python workers (the 24g default is a heap ceiling; the JVM
        # commits heap only as it grows).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        # Warehouse for bucketed tables (join_bucketed_colocated) — kept
        # out of the repo tree.
        .config("spark.sql.warehouse.dir", f"/tmp/cdc_pubsub_spark_warehouse_{os.getpid()}")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "false")
    )
    return builder.getOrCreate()
