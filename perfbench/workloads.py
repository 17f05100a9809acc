"""Workload definitions and the closed-loop job runner.

A job is one ``REGISTRY[op].fn(spark, sf_dir)`` call plus the
``.collect()`` of its result. Each workload runs a fixed op list in
rounds: every round hands out each op once, in an order drawn from the
run's seed, to a fixed number of client threads that each start their
next job only when the previous one has returned (a closed loop).
"""

from __future__ import annotations

import random
import sys
import threading
import time
import traceback
from collections import deque
from collections.abc import Callable
from dataclasses import dataclass, field

from cdc_pubsub_spark.registry import REGISTRY


@dataclass(frozen=True)
class Workload:
    name: str
    clients: int
    ops: tuple[str, ...]
    tail_pct: float  # percentile reported as job_tail_s
    round_s: float  # nominal seconds per round; sizes the timed window
    # op -> oracle column whose sum is the op's delivered message count
    sink_columns: dict[str, str] = field(default_factory=dict)


BRIDGE_OPS = (
    "pipeline_bridge_e2e",
    "stream_http_ingest",
    "sink_pubsub_emulated",
    "sink_exactly_once_manifest",
    "stream_cdc_upsert",
)

CDC_OPS = (
    "cdc_parse_envelope",
    "cdc_route_path",
    "cdc_scd2_history",
    "cdc_upsert_materialize",
    "cdc_asof_snapshot",
    "cdc_schema_epoch_routing",
    "cdc_incremental_view",
    "cdc_malformed_deadletter",
    "cdc_conflict_lww",
    "cdc_tombstone_compaction",
    "cdc_replication_lag",
    "cdc_resolved_frontier",
    "cdc_out_of_order_stats",
)

ANALYTICS_OPS = (
    "agg_hash_groupby",
    "join_multiway",
    "tpch_q5_local_volume",
    "win_rank",
    "fn_string",
    "graph_pagerank",
    "orders_assoc_rules",
    "basket_brand_pairs",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "text_token_counts",
    "text_tfidf_topk",
    "ml_conformal_interval",
)

WORKLOADS = {
    w.name: w
    for w in (
        # The reference's whole dataflow, one changefeed sender. These ops
        # write fixed per-process scratch paths, so they never run twice
        # at once and stay out of the multi-client workloads.
        Workload(
            "bridge_feed",
            clients=1,
            ops=BRIDGE_OPS,
            tail_pct=80.0,
            round_s=10.0,
            sink_columns={
                "pipeline_bridge_e2e": "n_messages",
                "stream_http_ingest": "n",
                "sink_pubsub_emulated": "n_messages",
                "sink_exactly_once_manifest": "n",
            },
        ),
        # The bridge's downstream: the 13 read-only CDC batch consumers
        # (per-query planning and scheduling overhead; each touches at most
        # 3000 keys) mixed with data-heavy relational, graph, text and ML
        # kernels. Nothing here writes a scratch path.
        Workload(
            "batch_mix",
            clients=4,
            ops=CDC_OPS + ANALYTICS_OPS,
            tail_pct=80.0,
            round_s=12.0,
        ),
    )
}


class RoundQueue:
    """Hands out ``rounds`` seed-permuted rounds of ``ops`` to clients.

    Rounds are queued back to back, so a client moves on to the next
    round while others finish the last jobs of the current one. An op is
    never handed out while another instance of it is in flight: the
    streaming and sink ops clear and rewrite fixed per-process scratch
    directories, so two concurrent copies of one op would delete each
    other's landing and checkpoint files.
    """

    def __init__(self, ops: tuple[str, ...], rng: random.Random, rounds: int):
        self._pending: deque[tuple[str, int]] = deque(
            (op, r) for r in range(rounds) for op in rng.sample(ops, len(ops))
        )
        self._in_flight: set[str] = set()
        self._cv = threading.Condition()

    def take(self) -> tuple[str, int] | None:
        """Next (op, round) to run, or None when all are handed out."""
        with self._cv:
            while self._pending:
                for i, (op, rnd) in enumerate(self._pending):
                    if op not in self._in_flight:
                        del self._pending[i]
                        self._in_flight.add(op)
                        return op, rnd
                self._cv.wait()
            return None

    def done(self, op: str) -> None:
        with self._cv:
            if op not in self._in_flight:
                raise RuntimeError(f"{op} finished but was not in flight")
            self._in_flight.remove(op)
            self._cv.notify_all()


@dataclass
class JobResult:
    op: str
    start: float
    end: float
    columns: list[str]
    rows: list
    error: str | None = None
    round: int = 0

    @property
    def latency(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracer stand-in for untraced runs: records nothing."""

    def job(self, op: str, module: str):
        return _NULL_JOB


class _NullJob:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def planned(self) -> None:
        pass


_NULL_JOB = _NullJob()


def run_job(spark, sf_dir: str, op: str, tracer) -> JobResult:
    fn = REGISTRY[op].fn
    start = time.perf_counter()
    try:
        with tracer.job(op, fn.__module__) as job:
            df = fn(spark, sf_dir)
            job.planned()
            rows = df.collect()
        end = time.perf_counter()
        return JobResult(op, start, end, df.columns, rows)
    except Exception:  # a failed job is counted, the run goes on
        end = time.perf_counter()
        err = traceback.format_exc()
        print(f"job {op} failed:\n{err}", file=sys.stderr)
        return JobResult(op, start, end, [], [], error=err)


def run_rounds(
    workload: Workload,
    run_one: Callable[[str], JobResult],
    rng: random.Random,
    rounds: int,
    clients: int,
) -> tuple[list[JobResult], float]:
    """Run ``rounds`` rounds on ``clients`` threads; returns the results
    and the wall seconds from the first start to the last finish."""
    queue = RoundQueue(workload.ops, rng, rounds)
    results: list[JobResult] = []
    lock = threading.Lock()

    def client() -> None:
        while (item := queue.take()) is not None:
            op, rnd = item
            try:
                res = run_one(op)
            finally:
                queue.done(op)
            res.round = rnd
            with lock:
                results.append(res)

    threads = [
        threading.Thread(target=client, name=f"client-{i}", daemon=True)
        for i in range(clients)
    ]
    start = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - start
    return results, wall
