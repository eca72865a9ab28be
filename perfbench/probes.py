"""Measurement plumbing: VM counters, spans, and Spark's own status.

Nothing here changes what the engine does. Spark's numbers come from
the two status stores the Spark driver keeps even with the UI off:

  * the core store (``SparkContext.statusStore``): jobs, stages, tasks;
  * the SQL store (``SharedState.statusStore``): the final (post-AQE)
    plan graph of every SQL execution and its operator metrics.

Both are read as JSON through the Jackson mapper Spark's REST API uses,
one py4j round trip per object instead of one per field.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

USER_HZ = os.sysconf("SC_CLK_TCK")


def vm_cpu() -> dict:
    """Whole-VM CPU seconds so far: busy (user + nice + system) and steal."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"busy": (v[0] + v[1] + v[2]) / USER_HZ, "steal": v[7] / USER_HZ}


def median(xs):
    return statistics.median(xs) if xs else 0.0


# -- spans ---------------------------------------------------------------------


class Spans:
    """Spans (name, start, end, parent) kept in memory. Each span also
    names the Spark job group of the work it starts, so jobs and stages
    are attributed to it afterwards. Disabled, a span only sets the
    cycle's job group once."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []
        self.cycle = 0

    def group(self, name: str) -> str:
        return f"c{self.cycle}/{name}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "cycle": self.cycle, "parent": parent,
               "group": self.group(name), "start": time.time(), "end": None}
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            outer = self.records[self._stack[-1]]["group"] if self._stack else self.group("cycle")
            self.sc.setJobGroup(outer, "cycle")

    def begin_cycle(self, n: int) -> None:
        self.cycle = n
        self.sc.setJobGroup(self.group("cycle"), "cycle")

    def of_cycle(self, n: int) -> list[dict]:
        return [r for r in self.records if r["cycle"] == n]


# -- Spark status --------------------------------------------------------------

_PY_OPS = ("MapInArrow", "MapInPandas", "FlatMapCoGroupsIn", "FlatMapGroupsIn",
           "ArrowEvalPython", "BatchEvalPython")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_value(text: str) -> float:
    """Parse a SQL metric as the SQL store renders it: a plain count
    ("1,234"), or a size/time, alone or as the first value of the
    "total (min, med, max ...)" form. Sizes come back in bytes, times
    in seconds."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class SparkStatus:
    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._core = sc._jsc.sc()
        self._store = self._core.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = -1

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def settle(self) -> None:
        """Wait until the listeners have applied every event so far."""
        self._core.listenerBus().waitUntilEmpty(60_000)

    def jobs(self, prefix: str) -> list[dict]:
        return [j for j in self._json(self._store.jobsList(None))
                if (j.get("jobGroup") or "").startswith(prefix)]

    def stage(self, stage_id: int) -> dict:
        return self._json(self._store.lastStageAttempt(stage_id))

    def task_durations(self, stage: dict) -> list[float]:
        tasks = self._json(self._store.taskList(stage["stageId"], stage["attemptId"], 100_000))
        return [t["duration"] / 1000.0 for t in tasks if t.get("duration") is not None]

    def stored_rdds(self) -> dict[int, int]:
        """Bytes held by each persisted RDD/DataFrame, memory + disk."""
        return {r["id"]: r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                for r in self._json(self._store.rddList(True))}

    def _unseen_executions(self) -> list[dict]:
        count = int(self._sql.executionsCount())
        listed = self._json(self._sql.executionsList(max(count - 400, 0), 400))
        fresh = [e for e in listed if e["executionId"] > self._sql_seen]
        if fresh:
            self._sql_seen = max(e["executionId"] for e in fresh)
        return fresh

    def new_executions(self) -> list[dict]:
        """SQL executions finished since the last call, each with its
        final plan nodes and rendered metric values."""
        out = []
        for e in self._unseen_executions():
            eid = e["executionId"]
            nodes = self._json(self._sql.planGraph(eid).allNodes())
            values = self._json(self._sql.executionMetrics(eid))
            out.append({"id": eid, "jobs": [int(j) for j in e.get("jobs", {})],
                        "nodes": [{"name": n["name"], "desc": n.get("desc", ""),
                                   "metrics": {m["name"]: metric_value(values[str(m["accumulatorId"])])
                                               for m in n.get("metrics", [])
                                               if str(m["accumulatorId"]) in values}}
                                  for n in nodes]})
        return out

    def skip_executions(self) -> None:
        """Mark every SQL execution so far as read."""
        self._unseen_executions()


class StoragePoller:
    """Samples the persisted RDDs every ``interval`` seconds on a daemon
    thread and keeps each one's largest size since ``reset``.
    ``held_bytes`` is their sum: the storage the cycle's caching needed.
    It is the peak when nothing is released before the last cache is
    filled, and unlike a sampled peak it does not depend on when an
    asynchronous unpersist lands."""

    def __init__(self, status: SparkStatus, interval: float = 0.05):
        self._status = status
        self._interval = interval
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._sizes: dict[int, int] = {}
        self._thread = threading.Thread(target=self._run, name="storage-poller", daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        sizes = self._status.stored_rdds()
        with self._lock:
            for rdd, b in sizes.items():
                self._sizes[rdd] = max(self._sizes.get(rdd, 0), b)

    def _run(self):
        while not self._stop.wait(self._interval):
            self._sample()

    def reset(self) -> None:
        with self._lock:
            self._sizes = {}

    def held_bytes(self) -> int:
        self._sample()
        with self._lock:
            return sum(self._sizes.values())

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=30)
        if self._thread.is_alive():
            raise RuntimeError("storage poller did not stop")


# -- per-cycle layer record ------------------------------------------------------


def _union_s(intervals) -> float:
    """Seconds covered by the union of (start, end) intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _job_window(j):
    return j["submissionTime"] / 1000.0, (j.get("completionTime") or j["submissionTime"]) / 1000.0


def plan_shape(executions) -> dict:
    """Operators of the cycle's executed plans that decide its cost:
    joins, Python operators, exchanges and broadcasts."""
    names = [n["name"] for e in executions for n in e["nodes"]]
    joins = sorted(n for n in names if n.endswith("Join"))
    py = sorted(n for n in names if any(p in n for p in _PY_OPS))
    bcast = [n["metrics"].get("data size", 0.0) for e in executions for n in e["nodes"]
             if n["name"] == "BroadcastExchange"]
    return {
        "joins": joins,
        "python_ops": py,
        "map_in_arrow": sum(1 for n in py if "MapInArrow" in n),
        "exchanges": sum(1 for n in names if n == "Exchange"),
        "broadcast_exchanges": len(bcast),
        "broadcast_bytes": sum(bcast),
    }


def layer_record(status: SparkStatus, spans: list[dict], n_probe: int, result_rows: int) -> dict:
    """Per-layer numbers of one traced cycle, read after it ended."""
    by_name = {s["name"]: s for s in spans}
    cycle = by_name["cycle"]
    jobs = status.jobs(cycle["group"].rsplit("/", 1)[0] + "/")
    jobs_of = {name: [j for j in jobs if j.get("jobGroup") == s["group"]]
               for name, s in by_name.items()}
    stages = [status.stage(sid) for j in jobs for sid in j["stageIds"]]
    stages = [s for s in stages if s["status"] != "SKIPPED"]
    executions = status.new_executions()
    shape = plan_shape(executions)
    job_ids = {name: {j["jobId"] for j in js} for name, js in jobs_of.items()}

    def execs(*names):
        ids = set().union(*(job_ids[n] for n in names if n in job_ids))
        return [e for e in executions if ids & set(e["jobs"])]

    def nodes(es, pred):
        return [n for e in es for n in e["nodes"] if pred(n)]

    probe_side = execs("index.plan", "action")
    candidates = sum(n["metrics"].get("number of output rows", 0.0) for n in nodes(
        probe_side, lambda n: n["name"].endswith("Join") and ", Inner," in n["desc"]))
    covering = sum(n["metrics"].get("number of output rows", 0.0) for n in nodes(
        probe_side, lambda n: n["name"] == "Generate" and "(b_ymin" in n["desc"]))
    py_nodes = nodes(executions, lambda n: any(p in n["name"] for p in _PY_OPS))

    def py_sum(key):
        return sum(n["metrics"].get(key, 0.0) for n in py_nodes)

    costliest = max(stages, key=lambda s: s["executorRunTime"], default=None)
    skew = 0.0
    if costliest is not None:
        d = status.task_durations(costliest)
        if d and median(d) > 0:
            skew = max(d) / median(d)
    plan = by_name.get("index.plan")
    plan_s = plan["end"] - plan["start"] if plan else 0.0
    plan_busy = _union_s(
        (max(a, plan["start"]), min(b, plan["end"]))
        for a, b in map(_job_window, jobs_of.get("index.plan", []))) if plan else 0.0
    build = by_name.get("index.build")
    mb = 1e-6
    return {
        "spans": {k: round(v["end"] - v["start"], 6) for k, v in by_name.items()},
        "plan_shape": shape,
        # time inside the plan call with none of its jobs running
        "plan_gap_s": max(plan_s - plan_busy, 0.0),
        "metrics": {
            "index.build_s": build["end"] - build["start"] if build else 0.0,
            "index.build_jobs": len(jobs_of.get("index.build", [])),
            "index.plan_s": plan_s,
            "index.plan_jobs": len(jobs_of.get("index.plan", [])),
            "index.candidates": candidates,
            "index.refine_hit_ratio": result_rows / candidates if candidates else 0.0,
            "grid.covering_rows": covering,
            "grid.fanout": covering / n_probe if n_probe else 0.0,
            "kernels.arrow_sent_mb": py_sum("data sent to Python workers") * mb,
            "kernels.arrow_received_mb": py_sum("data returned from Python workers") * mb,
            "kernels.python_s": py_sum("time to run Python workers"),
            "kernels.python_init_s": py_sum("time to start Python workers")
            + py_sum("time to initialize Python workers"),
            "spark.exec_s": _union_s(map(_job_window, jobs)),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.task_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
            "spark.jvm_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
            "spark.task_skew": skew,
            "spark.broadcast_mb": shape["broadcast_bytes"] * mb,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) * mb,
            "spark.spill_mb": sum(s["diskBytesSpilled"] for s in stages) * mb,
            "plan.python_ops": len(py_nodes),
            "plan.exchanges": shape["exchanges"],
        },
    }
