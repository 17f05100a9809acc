"""Self-check for the benchmark.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload briefly at sf0.001 (each starts its own Spark JVM,
so the whole file takes a few minutes), and checks the parts a wrong
result could hide in: the output check, the one-op-in-flight rule, and
the refusal to run without the engine's sources.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time
from argparse import Namespace
from collections import Counter

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.oracle import Expected, digest, matches  # noqa: E402
from perfbench.workloads import WORKLOADS, JobResult, RoundQueue  # noqa: E402

RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def _frame():
    return pd.DataFrame({"k": [2, 1, 3], "v": [0.5, 1.25, None]})


def test_check_accepts_rows_in_any_order():
    pdf = _frame()
    n, dig = digest(pdf)
    rows = list(pdf.iloc[::-1].itertuples(index=False, name=None))
    assert matches(Expected(n, dig, n), ["k", "v"], rows)


def test_wrong_expected_hash_fails_the_check():
    pdf = _frame()
    n, dig = digest(pdf)
    rows = list(pdf.itertuples(index=False, name=None))
    wrong = Expected(n, "0" * len(dig), n)
    assert not matches(wrong, ["k", "v"], rows)
    # ... and a run that meets it reports the job as failed.
    from perfbench.run import Run

    bench = Run(Namespace(workload="batch_mix", seed=0, sf=0.001))
    bench.expected = {"cdc_parse_envelope": wrong}
    ok = bench.verify([JobResult("cdc_parse_envelope", 0.0, 1.0, ["k", "v"], rows)])
    assert ok == [] and bench.failures == ["cdc_parse_envelope"]
    assert bench.attempted == 1


def test_wrong_row_count_fails_the_check():
    pdf = _frame()
    n, dig = digest(pdf)
    rows = list(pdf.itertuples(index=False, name=None))
    assert not matches(Expected(n, dig, n), ["k", "v"], rows[:2])


def test_round_queue_never_hands_out_an_op_twice_at_once():
    ops = ("a", "b", "c", "d", "e")
    queue = RoundQueue(ops, random.Random(7), 40)
    lock = threading.Lock()
    running: Counter = Counter()
    done: Counter = Counter()
    violations = []

    def client():
        while (item := queue.take()) is not None:
            op, _ = item
            with lock:
                running[op] += 1
                if running[op] > 1:
                    violations.append(op)
            time.sleep(0.001)
            with lock:
                running[op] -= 1
                done[op] += 1
            queue.done(op)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert violations == []
    # whole rounds only: every op ran once per round
    assert done == Counter({op: 40 for op in ops})


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    out = subprocess.run(
        RUN + ["--workload", "bridge_feed", "--seed", "1", "--seconds", "1",
               "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def _bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        RUN + ["--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_runs_and_verifies_at_sf0001(workload):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    res = _bench(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_run_reports_every_layer_metric():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    res = _bench("batch_mix", 1)
    assert res["correct"]
    m = res["metrics"]
    assert set(m) == {x["name"] for x in spec["per_layer"]}
    assert m["sources.cdc.calls"]["value"] > 0
    assert m["sources.cdc.spark_jobs"]["value"] > 0
    assert m["tables.load.calls"]["value"] > 0
    for name, v in m.items():
        if name.startswith(("stream.", "streaming.", "bridge.")):
            assert v["value"] == 0, name
