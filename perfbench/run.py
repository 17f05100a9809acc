"""The repo's benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload bridge_feed --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. It builds the input tables once under
``.perfbench/`` (deterministic, see ``gendata.py``), computes every job's
expected output with the registry's DuckDB oracle, starts the engine's
Spark session, runs one untimed warm-up round of the workload, then runs
the number of whole rounds that fits ``--seconds`` at the workload's
nominal round time, and verifies every job's output. ``--seed`` permutes
the job order of every round.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs a traced
window between two untraced ones and reports the per-layer metrics (see
README.md). The last line of stdout is the result object; the line
before it holds the host and run details. The exit code is 0 when every
job verified, 1 when one failed or mismatched, 2 when the engine is not
present.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DATA_SEED = 42  # the input tree is fixed; --seed only permutes job order


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="input scale factor")
    return ap.parse_args()


def engine_present() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "cdc_pubsub_spark", "registry.py")
    ) and os.path.isfile(os.path.join(ROOT, "tests", "parity.py"))


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure_env(run_dir: str, cpus: int, trace: bool) -> None:
    """Host sizing and scratch placement; must run before Spark starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # session.py defaults to a 24g heap; stay well below this host's RAM.
    # The heap starts at its maximum size, so the JVM's resident size does
    # not depend on when its collector chose to grow the heap.
    heap_mb = min(2048, host_ram_mb() // 4)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_mb}m"
    # Engine scratch (paths.work_dir, the streaming harness), Spark block
    # and state-store files and the JVM's temp files all land in run_dir.
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = [
        "--conf", "spark.ui.showConsoleProgress=false",
        # No hsperfdata file: the JVM would write it under /tmp regardless
        # of java.io.tmpdir.
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -Xms{heap_mb}m -XX:-UsePerfData",
    ]
    if trace:
        # Keep every job and stage of the run readable by group.
        conf += [
            "--conf", "spark.ui.retainedJobs=100000",
            "--conf", "spark.ui.retainedStages=100000",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(conf + ["pyspark-shell"])


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "cdc_pubsub_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def scratch_root() -> str:
    """The engine's per-process scratch directory (``paths.work_dir``)."""
    from cdc_pubsub_spark.paths import work_dir

    return os.path.dirname(work_dir("_"))


def percentile(values: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile and the number of samples above it."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * pct // 100))  # ceil(n * pct / 100)
    rank = int(min(rank, len(ordered)))
    return ordered[rank - 1], len(ordered) - rank


class Run:
    """One benchmark invocation: session, oracle, windows, teardown."""

    def __init__(self, args: argparse.Namespace):
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(
                f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}"
            )
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.spark = None
        self.failures: list[str] = []
        self.attempted = 0

    # -- phases ----------------------------------------------------------
    def setup(self) -> dict:
        from perfbench.gendata import ensure_tree

        t = time.perf_counter()
        self.sf_dir = ensure_tree(os.path.join(WORK, "data"), self.args.sf, DATA_SEED)
        build_s = time.perf_counter() - t

        from cdc_pubsub_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t
        import cdc_pubsub_spark.all_queries  # noqa: F401  (fills REGISTRY)

        # The warm-up round runs on every core: it only has to pay the
        # first-use costs (class loading, JIT, codegen) once. Distinct ops
        # never share scratch paths, so this is safe for the bridge ops.
        t = time.perf_counter()
        warm, _ = self.window(1, clients=max(self.workload.clients, host_cpus()))
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_PROCESS - build_s

        from perfbench.oracle import expected_outputs

        t = time.perf_counter()
        self.expected = expected_outputs(
            self.sf_dir, self.workload.ops, self.workload.sink_columns
        )
        self.verify(warm)
        oracle_s = time.perf_counter() - t
        return {"setup_s": setup_s, "session.start_s": start_s,
                "session.warmup_s": warmup_s, "build_s": build_s,
                "oracle_s": oracle_s}

    def window(self, rounds: int, tracer=None, clients: int | None = None):
        from perfbench.workloads import NullTracer, run_job, run_rounds

        tracer = tracer or NullTracer()
        spark, sf_dir = self.spark, self.sf_dir
        return run_rounds(
            self.workload,
            lambda op: run_job(spark, sf_dir, op, tracer),
            self.rng,
            rounds,
            clients or self.workload.clients,
        )

    def verify(self, results) -> list:
        """Check each result against its oracle; returns the verified ones."""
        from perfbench.oracle import matches

        ok = []
        for r in results:
            self.attempted += 1
            if r.error is None and matches(self.expected[r.op], r.columns, r.rows):
                ok.append(r)
            else:
                self.failures.append(r.op if r.error is None else f"{r.op} (error)")
            r.rows = []  # release the collected rows
        return ok

    def rounds_for(self, seconds: float) -> int:
        return max(1, round(seconds / self.workload.round_s))

    def measure(self, rounds: int, tracer=None) -> dict:
        results, wall = self.window(rounds, tracer)
        start = min(r.start for r in results)
        ok = self.verify(results)
        lat = [r.latency for r in results if r.error is None] or [wall]
        tail, beyond = percentile(lat, self.workload.tail_pct)
        return {
            "jobs_per_s": len(ok) / wall,
            "job_p50_s": statistics.median(lat),
            "job_tail_s": tail,
            "msgs_per_s": sum(self.expected[r.op].msgs for r in ok) / wall,
            "verified_ratio": len(ok) / len(results),
            "_wall_s": wall,
            "_rounds": rounds,
            "_jobs": len(results),
            "_tail_samples_beyond": beyond,
            "_round_ends_s": [
                round(max(r.end for r in results if r.round == i) - start, 3)
                for i in range(rounds)
            ],
            "_latencies": {
                op: [round(r.latency, 4) for r in results if r.op == op]
                for op in self.workload.ops
            },
        }

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return vm_hwm_mb("self") + vm_hwm_mb(jvm)

    def single_core_msgs_per_s(self) -> float:
        """One bridge round on a fresh local[1] context in the same JVM."""
        from cdc_pubsub_spark.session import get_spark

        self.spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        self.spark = get_spark("perfbench-1core")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.measure(1)["msgs_per_s"]

    def teardown(self, run_dir: str) -> None:
        """Stop Spark and its JVM, then delete the run's scratch dirs."""
        if self.spark is not None:
            sc = self.spark.sparkContext
            gateway = sc._gateway
            proc = gateway.proc
            self.spark.stop()
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        shutil.rmtree(run_dir, ignore_errors=True)
        # session.py places the SQL warehouse under /tmp by pid; none of
        # the benchmark's ops create it, but remove it if one did.
        shutil.rmtree(
            f"/tmp/cdc_pubsub_spark_warehouse_{os.getpid()}", ignore_errors=True
        )


def run(args: argparse.Namespace, run_dir: str) -> tuple[dict, dict]:
    bench = Run(args)
    try:
        setup = bench.setup()
        detail: dict = {"workload": args.workload, "seed": args.seed,
                        "clients": bench.workload.clients,
                        "tail_pct": bench.workload.tail_pct,
                        **{k: setup[k] for k in ("build_s", "oracle_s",
                                                 "session.start_s",
                                                 "session.warmup_s")}}
        if not args.trace:
            m = bench.measure(bench.rounds_for(args.seconds))
            metrics = {
                "setup_s": (setup["setup_s"], "s"),
                "jobs_per_s": (m["jobs_per_s"], "1/s"),
                "job_p50_s": (m["job_p50_s"], "s"),
                "job_tail_s": (m["job_tail_s"], "s"),
                "msgs_per_s": (m["msgs_per_s"], "msg/s"),
                "verified_ratio": (m["verified_ratio"], "ratio"),
                "peak_rss_mb": (bench.peak_rss_mb(), "MB"),
            }
        else:
            from perfbench.trace import Tracer

            # A traced window between two untraced ones, each half the
            # run's rounds: the untraced rate is taken over both, so a JVM
            # still speeding up after the warm-up does not show as
            # tracing overhead.
            half = max(1, bench.rounds_for(args.seconds) // 2)
            before = bench.measure(half)
            tracer = Tracer(bench.spark)
            tracer.install()
            try:
                m = bench.measure(half, tracer)
            finally:
                tracer.uninstall()
            after = bench.measure(half)
            layer = tracer.layer_metrics()
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            tracer.dump(os.path.join(
                WORK, "spans", f"{args.workload}-seed{args.seed}.jsonl"
            ))
            layer["session.start_s"] = setup["session.start_s"]
            layer["session.warmup_s"] = setup["session.warmup_s"]
            untraced = sum(w["jobs_per_s"] * w["_wall_s"] for w in (before, after)) / (
                before["_wall_s"] + after["_wall_s"]
            )
            layer["trace.untraced_jobs_per_s"] = untraced
            layer["trace.jobs_per_s"] = m["jobs_per_s"]
            layer["trace.overhead_ratio"] = untraced / m["jobs_per_s"] - 1.0
            layer["bridge.single_core_msgs_per_s"] = (
                bench.single_core_msgs_per_s()
                if args.workload == "bridge_feed" else 0.0
            )
            metrics = {k: (v, unit_of(k)) for k, v in layer.items()}
        detail.update({k.lstrip("_"): v for k, v in m.items() if k.startswith("_")})
        if bench.workload.clients > 1 and os.path.exists(scratch_root()):
            # Ops that write per-process scratch paths must not run
            # concurrently, so they belong in single-client workloads only.
            bench.failures.append("scratch path written by a multi-client workload")
        detail["failures"] = bench.failures
        detail.update(host_info(bench.spark))
        result = {
            "correct": not bench.failures,
            "attempted": bench.attempted,
            "failed": len(bench.failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, detail
    finally:
        bench.teardown(run_dir)


def unit_of(metric: str) -> str:
    for suffix, unit in (("msgs_per_s", "msg/s"), ("_per_s", "1/s"),
                         ("_ratio", "ratio"), ("_ms", "ms"), ("_bytes", "bytes"),
                         ("_s", "s"), (".s", "s")):
        if metric.endswith(suffix):
            return unit
    return "count"


def host_info(spark) -> dict:
    return {
        "nproc": host_cpus(),
        "ram_mb": host_ram_mb(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": git_sha(),
        "source_digest": source_digest(),
    }


def main() -> int:
    args = parse_args()
    if not engine_present():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    configure_env(run_dir, host_cpus(), bool(args.trace))
    result, detail = run(args, run_dir)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
