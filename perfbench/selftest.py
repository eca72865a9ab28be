#!/usr/bin/env python3
"""Self-test of the benchmark itself, on tiny inputs (about a minute):

    python3 perfbench/selftest.py

1. every workload runs one plain and one traced cycle and both pass
   their reference check;
2. the traced plan record shows the route each workload is meant to
   take: no Python operator on pip_broadcast, exactly one MapInArrow on
   paths_pairs, Spark jobs inside the knn_join call on knn_rings;
3. a cycle whose output lost one pair is counted as failed;
4. run.py exits non-zero, printing no result, in a directory that holds
   only BENCHMARK.json and perfbench/.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.probes import SparkStatus, Spans, StoragePoller, layer_record  # noqa: E402

TINY = {"pip_broadcast": (200, 20_000), "paths_pairs": (500, 5_000), "knn_rings": (2_000, 5_000)}


def route_problem(name: str, layers: dict) -> str | None:
    shape, m = layers["plan_shape"], layers["metrics"]
    if name == "pip_broadcast" and shape["python_ops"]:
        return f"Python operators {shape['python_ops']}"
    if name == "paths_pairs" and (shape["map_in_arrow"] != 1 or len(shape["python_ops"]) != 1):
        return f"Python operators {shape['python_ops']}, expected one MapInArrow"
    if name == "knn_rings" and m["index.plan_jobs"] < 1:
        return "no Spark job inside the knn_join call"
    return None


def check_workloads() -> list[str]:
    import numpy as np

    from perfbench import workloads as W

    problems = []
    work_dir = os.path.join(run.RUN_DIR, f"selftest-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        run.launch_env(work_dir)
        inputs = {}
        for name, (small, big) in TINY.items():
            d = os.path.join(work_dir, name)
            os.makedirs(d)
            inputs[name] = W.WORKLOADS[name].prepare(
                np.random.default_rng(7), W.Sizes(small, big), run.SLOTS, d)
        spark, _ = run.start_session()
        poller = None
        try:
            status = SparkStatus(spark)
            poller = StoragePoller(status)
            spans = Spans(spark.sparkContext, enabled=False)
            n = 0
            for name, inp in inputs.items():
                wl = W.WORKLOADS[name]
                plain = run.run_cycle(wl, spark, inp, spans, status, poller, n)
                spans.enabled = True
                status.skip_executions()
                traced = run.run_cycle(wl, spark, inp, spans, status, poller, n + 1)
                layers = layer_record(status, spans.of_cycle(n + 1), inp.n_big, traced["rows"])
                spans.enabled = False
                bad = run.run_cycle(wl, spark, inp, spans, status, poller, n + 2,
                                    drop=tuple(inp.reference["pair"]))
                n += 3
                for label, rec in (("plain", plain), ("traced", traced)):
                    if rec["error"]:
                        problems.append(f"{name}: {label} cycle failed: {rec['error']}")
                if (why := route_problem(name, layers)) is not None:
                    problems.append(f"{name}: {why}")
                if not bad["error"]:
                    problems.append(f"{name}: a result missing one pair passed the check")
                print(f"{name}: cycle {plain['cycle_s']:.2f}s, plan {layers['plan_shape']}, "
                      f"corrupted cycle -> {bad['error']!r}")
        finally:
            if poller is not None:
                poller.close()
            run.stop_session(spark)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    return problems


def check_bare_directory() -> list[str]:
    bare = os.path.join(run.RUN_DIR, f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "pip_broadcast",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    lines = p.stdout.strip().splitlines()
    printed = bool(lines) and lines[-1].startswith("{") and "correct" in json.loads(lines[-1])
    if p.returncode == 0 or printed:
        return [f"bare directory: exit {p.returncode}, printed a result: {printed}"]
    return []


def main() -> int:
    problems = check_workloads() + check_bare_directory()
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
