#!/usr/bin/env python
"""Decompose pip_quad scaling: JVM candidate join vs Arrow boundary vs
kernel compute, each at a pinned core budget. Usage:
    python bench/profile_pip.py            # runs 8 and 32, prints table
    python bench/profile_pip.py --worker N # one pinned level
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REP = int(os.environ.get("PROFILE_REP", "128"))


def worker(cpus: int) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from spatialjoin.index import SpatialIndex, _arrow_refine, _refine_input_cols
    from spatialjoin import kernels
    from spatialjoin.queries import _points_df, _quads_df
    from spatialjoin.sparkutil import get_spark

    spark = get_spark(cpus=cpus, app=f"profile-pip-{cpus}")
    spark.sparkContext.setLogLevel("ERROR")

    reps = spark.range(REP).select(F.col("id").alias("__rep"))
    cust = _points_df(spark, SF_DIR, "customer", "c_custkey")
    probe = (
        cust.crossJoin(F.broadcast(reps))
        .withColumn("id", F.col("id") * REP + F.col("__rep"))
        .drop("__rep")
        .repartition(256)
        .persist()
    )
    probe.count()
    quads = _quads_df(spark, SF_DIR, "supplier", "s_suppkey")
    idx = SpatialIndex.build(spark, quads, validate=False)

    cand = idx._candidates(idx._probe(probe, validate=False, probe_kind="point"))
    bc = idx.small_geo_bc
    sel = cand.select(*_refine_input_cols(bc, [], slim="point"))

    pass_schema = T.StructType(
        [
            T.StructField("big_id", T.LongType(), False),
            T.StructField("small_id", T.LongType(), False),
        ]
    )

    def passthrough(it):
        for pdf in it:
            yield pdf.loc[:, ["big_id", "small_id"]]

    import pyarrow as pa

    def pass_arrow(it):
        for b in it:
            yield b.select(["big_id", "small_id"])

    def in_only(it):
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame({"big_id": pdf["big_id"].iloc[:1], "small_id": pdf["small_id"].iloc[:1]})

    probe_sel = probe.select(
        F.col("id").alias("big_id"),
        F.element_at("coords", 1).alias("bx"),
        F.element_at("coords", 2).alias("by"),
    )

    # broadcast-probe prototype: cell join + refine inside Python over
    # PROBE rows only (the Arrow boundary shrinks candidates -> probes)
    grid, res = idx.grid, idx.resolution
    n_side = 1 << res
    cw, ch = grid.cell_size(res)
    x0, y0 = grid.x0, grid.y0
    cell_rows = idx.small_cells.select("cell", "small_id").collect()
    import numpy as np2

    cells_np = np2.array([r.cell for r in cell_rows], dtype=np2.int64)
    sid_np = np2.array([r.small_id for r in cell_rows], dtype=np2.int64)
    order = np2.argsort(cells_np, kind="stable")
    cells_np, sid_np = cells_np[order], sid_np[order]
    cell_bc = spark.sparkContext.broadcast((cells_np, sid_np))

    def pyjoin(it):
        ids_geo, A = bc.value
        cells_sorted, sids = cell_bc.value
        for b in it:
            bid = b.column("big_id").to_numpy(zero_copy_only=False)
            bx = b.column("bx").to_numpy(zero_copy_only=False)
            by = b.column("by").to_numpy(zero_copy_only=False)
            cx = np2.clip(np2.floor((bx - x0) / cw).astype(np2.int64), 0, n_side - 1)
            cy = np2.clip(np2.floor((by - y0) / ch).astype(np2.int64), 0, n_side - 1)
            cell = (res << 58) | (cx << 29) | cy
            lo = np2.searchsorted(cells_sorted, cell, side="left")
            hi = np2.searchsorted(cells_sorted, cell, side="right")
            cnt = hi - lo
            pi = np2.repeat(np2.arange(len(bid)), cnt)
            if len(pi) == 0:
                continue
            si = (lo.repeat(cnt) + (np2.arange(len(pi)) - np2.repeat(np2.cumsum(cnt) - cnt, cnt)))
            small_ids = sids[si]
            from spatialjoin.index import _point_batch

            B = _point_batch(bx[pi], by[pi])
            ai = np2.searchsorted(ids_geo, small_ids)
            mask = kernels.contains(A, ai, B, np2.arange(len(pi), dtype=np2.int64))
            yield pa.RecordBatch.from_arrays(
                [pa.array(bid[pi][mask]), pa.array(small_ids[mask])],
                names=["big_id", "small_id"],
            )

    jobs = [
        ("cand_jvm", lambda: cand.select("big_id")),
        ("arrow_passthrough", lambda: sel.mapInPandas(passthrough, pass_schema)),
        ("arrow_pass_mapinarrow", lambda: sel.mapInArrow(pass_arrow, pass_schema)),
        ("arrow_in_only", lambda: sel.mapInPandas(in_only, pass_schema)),
        ("full_refine", lambda: sel.mapInArrow(
            _arrow_refine("join", how="contains", slim="point", bc=bc), pass_schema)),
        ("pyjoin_bcast_probe", lambda: probe_sel.mapInArrow(pyjoin, pass_schema)),
    ]
    for _, fn in jobs:
        fn().count()
    out = {}
    for name, fn in jobs:
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            n = fn().count()
            best = min(best or 1e9, time.perf_counter() - t0)
        out[name] = round(best, 3)
    print(json.dumps({"cpus": cpus, "times": out}))
    spark.stop()


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]))
        return
    res = {}
    for cpus in (8, 32):
        cmd = ["taskset", "-c", f"0-{cpus - 1}", sys.executable,
               os.path.abspath(__file__), "--worker", str(cpus)]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=3000)
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        res[cpus] = json.loads(line)["times"]
    for k in res[8]:
        a, b = res[8][k], res[32][k]
        print(f"{k:20s} 8c={a:8.3f} 32c={b:8.3f} speedup={a / b:5.2f} eff={(a / b) / 4:5.3f}")


if __name__ == "__main__":
    main()
