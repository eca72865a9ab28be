#!/usr/bin/env python
"""Benchmark harness: runs the headline engine queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Also usable for the two-parallelism scaling evidence:
    SPARK_GRAFT_CPUS=8 python bench.py
    SPARK_GRAFT_CPUS=32 python bench.py
(see bench/scaling.py which automates it and writes BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spatialjoin import queries as Q  # noqa: E402
from spatialjoin.sparkutil import get_spark  # noqa: E402


def _burn(_):
    t0 = time.perf_counter()
    x = n = 0
    while time.perf_counter() - t0 < 1.6:
        for i in range(100000):
            x += i * i
        n += 1
    return n


def cpu_ceiling(cpus: int) -> dict:
    """~10-second pure-CPU probe run BEFORE Spark starts: single-core
    and all-core iteration throughput. Recorded so per-round BENCH
    numbers are drift-adjustable — this VM's delivered compute swings
    20-35% between sessions (noisy neighbors), which round 3 misread as
    a code regression until two checkouts were A/B'd by hand. A future
    reader divides suite times by (cpu_all ratio) before comparing
    rounds."""
    import multiprocessing

    single = max(_burn(0) for _ in range(2))
    with multiprocessing.Pool(cpus) as p:
        all_core = max(sum(p.map(_burn, range(cpus))) for _ in range(2))
    return {
        "cpu_single": single,
        "cpu_all": all_core,
        "cpu_parallel_ratio": round(all_core / single, 3),
    }

# headline suite: PIP (quad + rect), big rect-rect join (broadcast AND
# the non-broadcast cogroup production path), proximity, kNN,
# tile-assign — the north rule's operator set.
# NOTE: rects_intersect_cogroup joined the suite in round 3 and
# pip_quad_cogroup (the slim point-probe cogroup exchange) in round 4,
# so suite_wall is not comparable across those rounds; per-query times
# are, drift-adjusted by the ceiling field.
BENCH_QUERIES = [
    "pip_quad_contains",
    "pip_quad_cogroup",
    "pip_quad_pairs",
    "pip_rect_contains",
    "rects_intersect",
    "rects_intersect_cogroup",
    "prox_points",
    "knn_points",
    "tile_assign",
]
# pip_quad_pairs joined in round 5 (the shuffle-pairs auto route that
# replaced cogroup for non-broadcast slim probes) — exclude it from
# suite_wall comparisons against rounds <= 4.


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    warmup = int(os.environ.get("SPARK_GRAFT_WARMUP", "1"))
    # repeat >= 3 by default: single-shot numbers on this VM read as
    # 25-50% swings that are machine drift, not code (round-3 lesson)
    repeat = int(os.environ.get("SPARK_GRAFT_REPEAT", "3"))
    ceiling = cpu_ceiling(cpus)  # before Spark: unloaded-machine probe
    spark = get_spark(cpus=cpus, app="spatialjoin-bench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if warmup:
            # warm JVM JIT + python workers (full suite at tiny scale)
            warm_dir = sf_dir.replace("sf0.1", "sf0.001") if "sf0.1" in sf_dir else sf_dir
            for name in BENCH_QUERIES:
                Q.QUERIES[name](spark, warm_dir).count()
        per_query: dict[str, float] = {}
        rows: dict[str, int] = {}
        total = 0.0
        total_rows = 0
        cold: dict[str, float] = {}
        for name in BENCH_QUERIES:
            fn = Q.QUERIES[name]
            best = None
            for i in range(max(repeat, 1)):
                t0 = time.perf_counter()
                n = fn(spark, sf_dir).count()
                dt = time.perf_counter() - t0
                if i == 0:
                    cold[name] = dt
                best = dt if best is None else min(best, dt)
            per_query[name] = round(best, 4)
            rows[name] = n
            total += best
            total_rows += n
        # kNN cold-vs-warm (round-4 ask): the first sf0.1 run after the
        # tiny-scale warmup against warm = best-of-N. The ratio is the
        # number a multi-tenant deployment feels on its FIRST knn call
        # of a session.
        knn_cold_warm = {
            "knn_cold_sec": round(cold.get("knn_points", 0.0), 4),
            "knn_warm_sec": per_query.get("knn_points"),
            "knn_cold_warm_ratio": (
                round(cold["knn_points"] / per_query["knn_points"], 3)
                if per_query.get("knn_points") else None
            ),
            # The cold-run surcharge is once-per-session cost: JIT of
            # the query's shape-specific generated code (the sf0.001
            # warmup's output does not transfer), Python worker spawn,
            # and the first parquet read of the probe table into page
            # cache. Every long-lived deployment amortizes it.
            "knn_cold_note": "first-run JIT + page-cache warmup; see comment",
        }
        # recall@10 of the sublinear ANN paths vs brute force — the
        # correctness-at-scale signal for the approximate variants
        from spatialjoin.ann import q_ann_ivf, q_ann_lsh, q_ann_topk

        recalls = {}
        # clustered=True is the meaningful number (planted near-dup
        # clusters); clustered=False is kept for continuity but is
        # information-theoretically capped by the near-isotropic corpus
        # (ann.py module docstring)
        for clustered in (False, True):
            truth: dict[int, set] = {}
            for r in q_ann_topk(spark, sf_dir, clustered=clustered).collect():
                truth.setdefault(r.query_id, set()).add(r.neighbor_id)
            den = sum(len(t) for t in truth.values())
            suffix = "_clustered" if clustered else ""
            for nm, fn in (("ann_ivf", q_ann_ivf), ("ann_lsh", q_ann_lsh)):
                got: dict[int, set] = {}
                for r in fn(spark, sf_dir, clustered=clustered).collect():
                    got.setdefault(r.query_id, set()).add(r.neighbor_id)
                hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
                recalls[f"{nm}_recall_at_10{suffix}"] = round(hits / den, 4) if den else None

        # fold in the sf10-shaped rehearsal results if a run exists
        # (bench/rehearsal.py — 60M-row generate->join->rollup->write
        # under a 6g heap; too heavy to re-run per round, so the latest
        # run's numbers + timestamp ride along)
        rehearsal = {}
        rp = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "BENCH", "REHEARSAL.json")
        if os.path.exists(rp):
            with open(rp) as fh:
                rehearsal = {"rehearsal": json.loads(fh.read())}

        sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        print(
            json.dumps(
                {
                    "metric": "spatialjoin_suite_wall",
                    "value": round(total, 4),
                    "unit": "sec",
                    "queries": per_query,
                    "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                    "rows": rows,
                    "rows_per_sec": round(total_rows / total, 1) if total else None,
                    "cpus": cpus,
                    "repeat": repeat,
                    "ceiling": ceiling,
                    **knn_cold_warm,
                    **recalls,
                    **rehearsal,
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
