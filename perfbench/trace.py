"""Per-layer tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's side, around calls into the
engine's modules: each job (the op's ``fn`` plus ``collect``), and the
shared helpers the ops call by name — ``tables.load``,
``tables.finalize_cached``, ``sources.cdc.synth_changes`` and the
``streaming.harness`` landing/drain functions — which are replaced, for
the traced window only, in every engine module that imported them.
Each job runs under its own Spark job group, so the jobs, stages and
tasks it caused can be read back from the status tracker. Streaming
micro-batch progress comes from a ``StreamingQueryListener``.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.readwriter import DataFrameReader
from pyspark.sql.streaming import StreamingQueryListener

# span name -> (module, attribute) of the engine helper it wraps
WRAPPED = {
    "tables.load": ("cdc_pubsub_spark.tables", "load"),
    "tables.finalize_cached": ("cdc_pubsub_spark.tables", "finalize_cached"),
    "sources.cdc.synth_changes": ("cdc_pubsub_spark.sources.cdc", "synth_changes"),
    "streaming.harness.write_events_ndjson": (
        "cdc_pubsub_spark.streaming.harness",
        "write_events_ndjson",
    ),
    "streaming.harness.run_to_completion": (
        "cdc_pubsub_spark.streaming.harness",
        "run_to_completion",
    ),
}
# A parquet read inside a tables.load span is a scan-memo miss.
READ_PARQUET = "tables.read_parquet"

JOB_LAYERS = ("sources.cdc", "streaming.ops", "operators", "functions", "llmops")
SPARK_LAYERS = ("sources.cdc", "operators", "functions", "llmops")
SELF_LAYERS = ("tables", "streaming.harness") + JOB_LAYERS


def layer_of_module(module: str) -> str:
    """``cdc_pubsub_spark.operators.joins`` -> ``operators``;
    ``cdc_pubsub_spark.sources.cdc`` -> ``sources.cdc``."""
    parts = module.split(".")[1:]
    if parts[0] in ("sources", "streaming"):
        return ".".join(parts[:2])
    return parts[0]


def layer_of_span(span: "Span") -> str:
    if span.name == "job":
        return span.attrs["layer"]
    for layer in ("sources.cdc", "streaming.harness", "tables"):
        if span.name.startswith(layer + "."):
            return layer
    raise ValueError(span.name)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    job: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class _ProgressListener(StreamingQueryListener):
    """Keeps one record per streaming micro-batch (trigger)."""

    def __init__(self, sink: list):
        self._sink = sink

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self._sink.append({
            "id": str(p.id),
            "batch": p.batchId,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state": [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators],
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._listener: _ProgressListener | None = None
        self.spans: list[Span] = []
        self.progress: list[dict] = []
        self._jobs = 0

    # -- recording -------------------------------------------------------
    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _open(self, name: str, job: int | None = None, **attrs) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else None
        if job is None and parent is not None:
            job = self.spans[parent].job
        span = Span(name, time.perf_counter(), parent, job, attrs=attrs)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack().pop()

    def wrap(self, name: str, fn, only_under: str | None = None):
        """``fn`` recording a ``name`` span per call; with ``only_under``,
        only calls made directly inside a span of that name."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack()
            if only_under is not None and (
                not stack or self.spans[stack[-1]].name != only_under
            ):
                return fn(*args, **kwargs)
            idx = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(idx)

        return traced

    def job(self, op: str, module: str) -> "_TracedJob":
        with self._lock:
            self._jobs += 1
            job_id = self._jobs
        return _TracedJob(self, job_id, op, layer_of_module(module))

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        """Replace the wrapped helpers in every engine module namespace
        that holds them, and attach the streaming progress listener."""
        for name, (mod_name, attr) in WRAPPED.items():
            original = getattr(sys.modules[mod_name], attr)
            traced = self.wrap(name, original)
            for mod_name2, mod in list(sys.modules.items()):
                if not mod_name2.startswith("cdc_pubsub_spark") or mod is None:
                    continue
                for key, value in list(vars(mod).items()):
                    if value is original:
                        self._patched.append((mod, key, original))
                        setattr(mod, key, traced)
        original = DataFrameReader.parquet
        self._patched.append((DataFrameReader, "parquet", original))
        DataFrameReader.parquet = self.wrap(READ_PARQUET, original, "tables.load")
        self._listener = _ProgressListener(self.progress)
        self._spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        # Deliver every queued listener event (streaming progress, job and
        # stage status) before the progress listener goes away.
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        for owner, key, original in reversed(self._patched):
            setattr(owner, key, original)
        self._patched.clear()
        if self._listener is not None:
            self._spark.streams.removeListener(self._listener)
            self._listener = None

    # -- reporting -------------------------------------------------------
    def _spark_counts(self, group: str) -> tuple[int, int, int, int]:
        """(jobs, stages run, tasks completed, tasks failed) of one group."""
        st = self._sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = st.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = failed = 0
        for sid in stage_ids:
            info = st.getStageInfo(sid)
            if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                continue  # skipped: its shuffle output was reused
            stages += 1
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
        return len(job_ids), stages, tasks, failed

    def layer_metrics(self) -> dict[str, float]:
        m: dict[str, float] = {}
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)

        def total(name: str) -> float:
            return sum(s.duration for s in self.spans if s.name == name)

        def calls(name: str) -> int:
            return sum(1 for s in self.spans if s.name == name)

        loads = calls("tables.load")
        misses = calls(READ_PARQUET)
        m["tables.load.calls"] = loads
        m["tables.load.s"] = total("tables.load")
        m["tables.memo_hit_ratio"] = 1.0 - misses / loads if loads else 0.0
        m["tables.finalize_cached.calls"] = calls("tables.finalize_cached")
        m["tables.finalize_cached.s"] = total("tables.finalize_cached")
        m["sources.cdc.synth_changes.s"] = total("sources.cdc.synth_changes")
        m["streaming.harness.write_events_ndjson.s"] = total(
            "streaming.harness.write_events_ndjson"
        )
        m["streaming.harness.run_to_completion.s"] = total(
            "streaming.harness.run_to_completion"
        )
        m["streaming.harness.run_to_completion.calls"] = calls(
            "streaming.harness.run_to_completion"
        )

        jobs = [s for s in self.spans if s.name == "job"]
        for layer in JOB_LAYERS:
            mine = [s for s in jobs if s.attrs["layer"] == layer]
            m[f"{layer}.calls"] = len(mine)
            m[f"{layer}.plan_s"] = sum(s.attrs["planned"] - s.start for s in mine)
            m[f"{layer}.exec_s"] = sum(s.end - s.attrs["planned"] for s in mine)
            if layer in SPARK_LAYERS:
                counts = [self._spark_counts(s.attrs["group"]) for s in mine]
                m[f"{layer}.spark_jobs"] = sum(c[0] for c in counts)
                m[f"{layer}.spark_stages"] = sum(c[1] for c in counts)
                m[f"{layer}.spark_tasks"] = sum(c[2] for c in counts)
                m[f"{layer}.failed_tasks"] = sum(c[3] for c in counts)

        self_s = dict.fromkeys(SELF_LAYERS, 0.0)
        for i, s in enumerate(self.spans):
            kids = sum(c.duration for c in children.get(i, ()))
            self_s[layer_of_span(s)] += s.duration - kids
        for layer, v in self_s.items():
            m[f"{layer}.self_s"] = v

        prog = self.progress
        dur = [p["duration_ms"] for p in prog]
        m["stream.batches"] = len(prog)
        m["stream.input_rows"] = sum(p["input_rows"] for p in prog)
        m["stream.source_ms"] = sum(
            d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur
        )
        m["stream.plan_ms"] = sum(d.get("queryPlanning", 0) for d in dur)
        m["stream.add_batch_ms"] = sum(d.get("addBatch", 0) for d in dur)
        m["stream.commit_ms"] = sum(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur
        )
        m["stream.trigger_ms"] = sum(d.get("triggerExecution", 0) for d in dur)
        m["stream.state_rows"] = max(
            (sum(r for r, _ in p["state"]) for p in prog), default=0
        )
        m["stream.state_bytes"] = max(
            (sum(b for _, b in p["state"]) for p in prog), default=0
        )
        m["trace.spans"] = len(self.spans)
        return m

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "job": s.job, **s.attrs,
                }) + "\n")
            for p in self.progress:
                f.write(json.dumps({"name": "stream.progress", **p}) + "\n")


class _TracedJob:
    """One job's span and Spark job group, on the client's thread."""

    def __init__(self, tracer: Tracer, job_id: int, op: str, layer: str):
        self._tracer = tracer
        self._id = job_id
        self._op = op
        self._layer = layer
        self._idx = -1

    def __enter__(self) -> "_TracedJob":
        group = f"perfbench-job-{self._id}"
        # Job groups are thread-local (PySpark pins each Python thread to
        # its own JVM thread), so concurrent clients do not mix.
        self._tracer._sc.setJobGroup(group, self._op)
        self._idx = self._tracer._open(
            "job", job=self._id, op=self._op, layer=self._layer, group=group
        )
        return self

    def planned(self) -> None:
        self._tracer.spans[self._idx].attrs["planned"] = time.perf_counter()

    def __exit__(self, *exc) -> bool:
        span = self._tracer.spans[self._idx]
        self._tracer._close(self._idx)
        span.attrs.setdefault("planned", span.end)
        self._tracer._sc.setLocalProperty("spark.jobGroup.id", None)
        return False
