#!/usr/bin/env python3
"""Closed-loop benchmark of the spatialjoin engine.

    python3 perfbench/run.py --workload knn_rings --seed 1 --seconds 8 --trace 0

One client runs one join cycle at a time (build index -> plan -> an
aggregate over every output column) on ``local[SLOTS]`` and starts the
next cycle only when the previous one has finished. Every cycle is
checked against a Spark-free reference computed from the same seeded
inputs. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
alternates plain and traced cycles and prints the per-layer metrics,
and writes the full trace (spans, jobs, plan shapes) as JSON under
``.perfbench_run/``. The last line of stdout is the result object; the
line before it holds run-health fields that are not metrics.

See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# perfbench and spatialjoin are both imported from this checkout
sys.path.insert(0, ROOT)

from perfbench.probes import (  # noqa: E402
    SparkStatus, Spans, StoragePoller, layer_record, median, vm_cpu,
)

RUN_DIR = os.path.join(ROOT, ".perfbench_run")
# two task slots on a 4-vCPU VM leave the driver thread and the JIT
# compiler threads room: on local[4] they competed with the tasks, and
# runs of the same kNN cycle spread 0.146 of their median (ten seeds)
# against 0.035 on local[2] (five seeds; README, "Oversubscription")
SLOTS = min(2, os.cpu_count() or 1)
# the cold cycle and two more: the JIT keeps compiling the driver's
# planning code, and cycle times fall until about the fourth (kNN on
# local[2]: 18-20 s, 6.2-6.6 s, 5.1-5.6 s, then 3.9-5.1 s)
WARMUP_CYCLES = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def driver_heap() -> str:
    """A quarter of physical memory, between 1 and 4 GiB."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{int(max(1, min(4, phys // 4)))}g"


def launch_env(work_dir: str) -> dict:
    """Make the run independent of the caller's shell: executors import
    ``spatialjoin`` from this checkout whatever the cwd, the driver heap
    fits the machine, scratch files stay inside the checkout, and no
    engine tuning variable leaks in."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH", "")
    env = {
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_DRIVER_MEM": driver_heap(),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(SLOTS),
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher included: temp files in the
        # checkout, no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    }
    os.environ.update(env)
    return env


def cpu_ceiling(slots: int) -> dict:
    """bench.py's pre-Spark CPU probe, one round instead of its best of
    two: iterations of ``bench._burn`` on one core and on every slot.
    The pool forks before Spark starts; its workers run a pure-Python
    loop only."""
    import multiprocessing

    from bench import _burn

    single = _burn(0)
    with multiprocessing.get_context("fork").Pool(slots) as pool:
        all_core = sum(pool.map(_burn, range(slots)))
        pool.close()
        pool.join()
    return {"cpu_single": single, "cpu_all": all_core,
            "cpu_parallel_ratio": round(all_core / single, 3)}


# -- session ---------------------------------------------------------------------


def start_session():
    from spatialjoin.sparkutil import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cpus=SLOTS, app="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def stop_session(spark) -> None:
    """Stop Spark, end the JVM it launched and wait for the JVM and the
    Python workers it forked to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def clear_cache(spark, idx) -> None:
    """Return storage to the state every cycle starts from: nothing
    persisted (the index, kNN round caches and checkpoints included)."""
    if idx is not None:
        idx.unpersist()
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


# -- one cycle ---------------------------------------------------------------------


def run_cycle(wl, spark, inputs, spans, status, poller, n: int, drop=None) -> dict:
    """Run and check one cycle; timings are taken from outside the
    engine, Spark's counters are read after the cycle ended."""
    spans.begin_cycle(n)
    poller.reset()
    idx = None
    error = None
    row = None
    cpu0 = vm_cpu()
    t0 = time.perf_counter()
    try:
        with spans.span("cycle"):
            idx, action = wl.cycle(spark, inputs, spans, drop=drop)
            with spans.span("action"):
                row = action.collect()[0].asDict()
    except Exception as e:  # a failed cycle is counted, the run goes on
        traceback.print_exc()
        error = f"{type(e).__name__}: {e}"
    t1 = time.perf_counter()
    cpu1 = vm_cpu()
    cache = poller.held_bytes()
    try:
        clear_cache(spark, idx)
    except Exception as e:
        error = error or f"cleanup: {type(e).__name__}: {e}"
    if error is None:
        error = wl.check(row, inputs)
    status.settle()
    stages = [status.stage(sid) for j in status.jobs(f"c{n}/") for sid in j["stageIds"]]
    return {
        "n": n,
        "cycle_s": t1 - t0,
        "cpu_s": cpu1["busy"] - cpu0["busy"],
        "shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
        "cache_mb": cache / 1e6,
        "rows": int(row["rows"]) if row else 0,
        "error": error,
    }


def microbench(inputs, reps: int = 5) -> dict:
    """Spark-free per-pair kernel cost on the workload's own candidate
    pairs, and per-row cost of decoding probe geometry from Arrow."""
    from spatialjoin import kernels
    from spatialjoin.geom import GeomBatch

    name, A, ai, B, bi = inputs.kernel_sample
    fn = getattr(kernels, name)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(A, ai, B, bi)
        times.append(time.perf_counter() - t0)
    kinds, coords, rings = inputs.arrow_sample
    decode = []
    for _ in range(reps):
        t0 = time.perf_counter()
        GeomBatch.from_arrow(kinds, coords, rings)
        decode.append(time.perf_counter() - t0)
    return {
        "kernels.ns_per_pair": median(times) / max(len(ai), 1) * 1e9,
        "geom.from_arrow_ns_per_row": median(decode) / max(len(kinds), 1) * 1e9,
    }


# -- main --------------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds like an error, so Spark and the scratch files are
    # still cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "spatialjoin", "__init__.py")) \
            or not os.path.isfile(os.path.join(ROOT, "bench.py")):
        print(f"perfbench: no spatialjoin engine beside {HERE}", file=sys.stderr)
        return 2
    import numpy as np

    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload]
    work_dir = os.path.join(RUN_DIR, f"{wl.name}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        env = launch_env(work_dir)
        steal0 = vm_cpu()["steal"]
        ceiling = cpu_ceiling(SLOTS)
        t0 = time.perf_counter()
        inputs = wl.prepare(np.random.default_rng(args.seed), wl.sizes, SLOTS, work_dir)
        prepare_s = time.perf_counter() - t0
        result, health = measure(args, wl, inputs)
        health.update({
            "slots": SLOTS, "driver_heap": env["SPARK_DRIVER_MEM"],
            "prepare_s": round(prepare_s, 3), "steal_s": round(vm_cpu()["steal"] - steal0, 3),
            "ceiling": ceiling, "reference": inputs.reference,
        })
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps({"health": health}))
    print(json.dumps(result))
    return 0


def timed_cycles(wl, seconds: float) -> int:
    """Cycles that fill ``seconds`` on a quiet 4-vCPU VM, at least three."""
    return max(3, math.ceil(seconds / wl.quiet_cycle_s))


def measure(args, wl, inputs):
    """Set up, warm up and run the timed cycles; returns the result
    object and the run-health fields."""
    spark, session_s = start_session()
    poller = None
    try:
        status = SparkStatus(spark)
        poller = StoragePoller(status)
        spans = Spans(spark.sparkContext, enabled=False)
        cycles, traced = [], []
        t0 = time.perf_counter()
        for n in range(WARMUP_CYCLES):
            cycles.append(run_cycle(wl, spark, inputs, spans, status, poller, n))
        setup_s = session_s + time.perf_counter() - t0
        warm = len(cycles)
        # the window lasts at least --seconds and at least the cycle count
        # that fills it on a quiet host, so a slow host times the same
        # cycles (the same point on the JIT's warm-up curve), only later
        want = timed_cycles(wl, args.seconds)
        t0 = time.perf_counter()
        n = warm
        while (len(cycles) - warm + len(traced) < want
               or time.perf_counter() - t0
               + median([c["cycle_s"] for c in cycles[warm:] + traced]) <= args.seconds
               or (args.trace and not traced)):
            tracing = bool(args.trace) and (n - warm) % 2 == 1
            spans.enabled = tracing
            if tracing:
                status.skip_executions()
            rec = run_cycle(wl, spark, inputs, spans, status, poller, n)
            if tracing:
                rec["layers"] = layer_record(status, spans.of_cycle(n), inputs.n_big, rec["rows"])
                traced.append(rec)
            else:
                cycles.append(rec)
            n += 1
        if traced and traced[-1]["n"] == n - 1:
            # every traced cycle gets a plain neighbour on both sides
            spans.enabled = False
            cycles.append(run_cycle(wl, spark, inputs, spans, status, poller, n))
    finally:
        if poller is not None:
            poller.close()
        stop_session(spark)

    timed = cycles[warm:]
    every = cycles + traced
    failed = sum(1 for c in every if c["error"])
    health = {
        "session_s": round(session_s, 3),
        "warmup_cycle_s": [round(c["cycle_s"], 3) for c in cycles[:warm]],
        "cycle_s": [round(c["cycle_s"], 3) for c in timed],
        "failed_frac": failed / len(every),
        "errors": sorted({c["error"] for c in every if c["error"]})[:5],
    }
    if not args.trace:
        metrics = {
            "cycle_s": (median([c["cycle_s"] for c in timed]), "s"),
            "cpu_s": (median([c["cpu_s"] for c in timed]), "s"),
            "shuffle_mb": (median([c["shuffle_mb"] for c in timed]), "MB"),
            "cache_mb": (median([c["cache_mb"] for c in timed]), "MB"),
            "setup_s": (setup_s, "s"),
        }
    else:
        metrics = trace_metrics(args, wl, inputs, timed, traced, session_s, health)
    result = {
        "correct": failed == 0,
        "attempted": len(every),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, health


LAYER_UNITS = {
    "index.build_s": "s", "index.build_jobs": "count", "index.plan_s": "s",
    "index.plan_jobs": "count", "index.candidates": "count", "index.refine_hit_ratio": "ratio",
    "grid.covering_rows": "count", "grid.fanout": "ratio",
    "kernels.arrow_sent_mb": "MB", "kernels.arrow_received_mb": "MB",
    "kernels.python_s": "s", "kernels.python_init_s": "s",
    "spark.exec_s": "s", "spark.tasks": "count", "spark.task_s": "s", "spark.jvm_cpu_s": "s",
    "spark.gc_s": "s", "spark.task_skew": "ratio", "spark.broadcast_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "plan.python_ops": "count", "plan.exchanges": "count",
}


def trace_metrics(args, wl, inputs, timed, traced, session_s, health):
    layers = [c["layers"] for c in traced]
    out = {k: (median([l["metrics"][k] for l in layers]), u) for k, u in LAYER_UNITS.items()}
    # the knn layer is the plan call of a kNN workload, zero elsewhere
    knn = 1.0 if wl.plan_call == "knn_join" else 0.0
    out["knn.call_s"] = (knn * out["index.plan_s"][0], "s")
    out["knn.call_jobs"] = (knn * out["index.plan_jobs"][0], "count")
    out["knn.driver_gap_s"] = (knn * median([l["plan_gap_s"] for l in layers]), "s")
    out["sparkutil.session_s"] = (session_s, "s")
    out.update({k: (v, "ns") for k, v in microbench(inputs).items()})
    # each traced cycle against the mean of the plain cycles just before
    # and after it, which cancels a steady warm-up trend
    plain = {c["n"]: c["cycle_s"] for c in timed}
    out["trace.overhead_s"] = (median([
        c["cycle_s"] - (plain[c["n"] - 1] + plain[c["n"] + 1]) / 2 for c in traced]), "s")
    shapes = [l["plan_shape"] for l in layers]
    out["plan.flips"] = (sum(1 for s in shapes if s != shapes[0]), "count")

    os.makedirs(RUN_DIR, exist_ok=True)
    path = os.path.join(RUN_DIR, f"trace-{wl.name}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": wl.name, "seed": args.seed, "slots": SLOTS,
                   "untraced_cycle_s": [c["cycle_s"] for c in timed],
                   "traced_cycles": traced,
                   "metrics": {k: v for k, (v, _) in out.items()}}, f, indent=1)
    health["trace_file"] = os.path.relpath(path, ROOT)
    return out


if __name__ == "__main__":
    sys.exit(main())
