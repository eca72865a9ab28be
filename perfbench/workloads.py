"""The benchmark's three workloads: seeded inputs, the engine cycle, and
a Spark-free reference for each.

Every workload writes its inputs to Parquet once per run; each cycle
then reads them through the engine exactly as a user would:

    build   SpatialIndex.build(spark, small)
    plan    idx.spatial_join(big, ...) / idx.knn_join(big, k)
    action  one aggregate over every output column (count + checksum)

The checksum is a sum of per-row integers below 2**31, so it cannot
overflow a Spark long under ANSI mode, does not depend on row order, and
reads every output column, so Catalyst cannot prune the refine away.
The same arithmetic in numpy gives the reference value.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from spatialjoin import kernels
from spatialjoin.geom import LINESTRING, POINT, POLYGON, RECT, GeomBatch

EXTENT = 1000.0
# per-row checksum: (big_id * C_BIG + small_id * C_SMALL + rank * C_RANK) % P.
# ids stay below 2**23 here, so every product fits a long and the sum of
# a few million rows stays far below 2**63
C_BIG, C_SMALL, C_RANK, P = 1_000_003, 998_244_353, 7_919, 2_147_483_647


@dataclass
class Sizes:
    small: int
    big: int


@dataclass
class Inputs:
    """What setup hands the cycles: file paths, the Spark-free reference
    and the geometry the microbenchmarks reuse."""
    small_path: str
    big_path: str
    reference: dict
    n_big: int
    # (kernel name, A, ai, B, bi): a sample of the workload's own
    # candidate pairs; (kinds, coords, rings): probe geometry as Arrow
    kernel_sample: tuple
    arrow_sample: tuple


# -- Parquet writing ----------------------------------------------------------


def _coords_table(ids, coords: np.ndarray) -> pa.Table:
    """id + one list<double> column; coords is (n, m) fixed width."""
    n, m = coords.shape
    offsets = pa.array(np.arange(0, n * m + 1, m, dtype=np.int32))
    values = pa.array(coords.reshape(-1))
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "coords": pa.ListArray.from_arrays(offsets, values),
    })


def _points_table(ids, x, y) -> pa.Table:
    return pa.table({"id": pa.array(ids, pa.int64()),
                     "x": pa.array(x), "y": pa.array(y)})


def _write(table: pa.Table, path: str, row_groups: list[int]) -> None:
    """Write ``table`` with exactly the given row-group sizes."""
    if sum(row_groups) != table.num_rows:
        raise ValueError("row groups must add up to the row count")
    with pq.ParquetWriter(path, table.schema) as w:
        start = 0
        for n in row_groups:
            w.write_table(table.slice(start, n), row_group_size=n)
            start += n


def equal_groups(n: int, count: int) -> list[int]:
    base, extra = divmod(n, count)
    return [base + (1 if i < extra else 0) for i in range(count)]


# -- Spark-free candidate generation ------------------------------------------


def _cover(x0, y0, x1, y1, cell, ncell):
    """Covering (row, cell) pairs of bboxes on a uniform grid."""
    cx0 = np.clip((x0 // cell).astype(np.int64), 0, ncell - 1)
    cy0 = np.clip((y0 // cell).astype(np.int64), 0, ncell - 1)
    cx1 = np.clip((x1 // cell).astype(np.int64), 0, ncell - 1)
    cy1 = np.clip((y1 // cell).astype(np.int64), 0, ncell - 1)
    w, h = cx1 - cx0 + 1, cy1 - cy0 + 1
    cnt = w * h
    row = np.repeat(np.arange(len(x0)), cnt)
    k = _ragged_arange(cnt)
    cx = cx0[row] + k % w[row]
    cy = cy0[row] + k // w[row]
    return row, cx * ncell + cy


def candidate_pairs(sb, bb, cell: float):
    """(small_idx, big_idx) pairs whose closed bboxes intersect, each
    emitted once: a pair is kept only in the grid cell that holds the
    lower-left corner of the two bboxes' intersection."""
    ncell = int(np.ceil(2 * EXTENT / cell)) + 2
    shift = EXTENT / 2  # inputs may overhang [0, EXTENT] slightly
    sb = [a + shift for a in sb]
    bb = [a + shift for a in bb]
    srow, scell = _cover(*sb, cell, ncell)
    brow, bcell = _cover(*bb, cell, ncell)
    order = np.argsort(scell, kind="stable")
    srow, scell = srow[order], scell[order]
    lo = np.searchsorted(scell, bcell, "left")
    hi = np.searchsorted(scell, bcell, "right")
    cnt = hi - lo
    bi = np.repeat(brow, cnt)
    pos = np.repeat(lo, cnt) + _ragged_arange(cnt)
    ai = srow[pos]
    cellid = np.repeat(bcell, cnt)
    rx = np.maximum(sb[0][ai], bb[0][bi])
    ry = np.maximum(sb[1][ai], bb[1][bi])
    ok = (rx <= np.minimum(sb[2][ai], bb[2][bi])) & (ry <= np.minimum(sb[3][ai], bb[3][bi]))
    ref = (np.clip((rx // cell).astype(np.int64), 0, ncell - 1) * ncell
           + np.clip((ry // cell).astype(np.int64), 0, ncell - 1))
    keep = ok & (ref == cellid)
    return ai[keep], bi[keep]


def row_checksum(big_id, small_id, rank=None) -> np.ndarray:
    h = np.asarray(big_id, np.int64) * C_BIG + np.asarray(small_id, np.int64) * C_SMALL
    if rank is not None:
        h = h + np.asarray(rank, np.int64) * C_RANK
    return h % P


def _join_reference(ai, bi, hit) -> dict:
    """Count and checksum of the refined pairs, plus one of them."""
    pair = [int(bi[hit][0]), int(ai[hit][0])] if hit.any() else None
    return {"rows": int(hit.sum()), "checksum": int(row_checksum(bi[hit], ai[hit]).sum()),
            "candidates": int(len(ai)), "pair": pair}


def _sample(rng, n: int, m: int) -> np.ndarray:
    return np.sort(rng.choice(n, size=min(m, n), replace=False)) if n else np.zeros(0, np.int64)


# -- workloads -----------------------------------------------------------------


class Workload:
    name = ""
    # the SpatialIndex method the plan step calls
    plan_call = "spatial_join"
    # default input sizes (small = indexed side, big = probe side)
    sizes = Sizes(0, 0)
    # a warm cycle's wall time on local[2] on a quiet 4-vCPU VM, a
    # little below the typical one: it sets how many cycles a run times
    quiet_cycle_s = 1.0

    def prepare(self, rng, sizes: Sizes, slots: int, out_dir: str) -> Inputs:
        raise NotImplementedError

    def cycle(self, spark, inputs: Inputs, trace, drop=None):
        """One closed-loop join: returns (index, action_df); the caller
        collects action_df and releases the index. ``drop`` removes one
        (big_id, small_id) pair from the join output, to show that the
        check catches a wrong result."""
        raise NotImplementedError

    def check(self, row, inputs: Inputs) -> str | None:
        """None when the action row matches the reference, else why not."""
        ref = inputs.reference
        got = {"rows": int(row["rows"]), "checksum": int(row["checksum"] or 0)}
        want = {"rows": ref["rows"], "checksum": ref["checksum"]}
        return None if got == want else f"got {got}, expected {want}"


def _dropped(F, out, drop):
    if drop is None:
        return out
    return out.where((F.col("big_id") != drop[0]) | (F.col("small_id") != drop[1]))


def _join_action(F, joined, drop):
    joined = _dropped(F, joined, drop)
    h = ((F.col("big_id") * C_BIG + F.col("small_id") * C_SMALL) % P).cast("long")
    return joined.agg(F.count(F.lit(1)).alias("rows"), F.sum(h).alias("checksum"))


class PipBroadcast(Workload):
    """Uniform 5-vertex rhombi CONTAIN uniform points: the flagship
    broadcast route, refined by the unrolled JVM ray cast."""
    name = "pip_broadcast"
    sizes = Sizes(2_000, 250_000)
    quiet_cycle_s = 3.6

    def prepare(self, rng, sizes, slots, out_dir):
        n, m = sizes.small, sizes.big
        cx, cy = rng.uniform(0, EXTENT, n), rng.uniform(0, EXTENT, n)
        # mean rhombus area 2ab covers ~1.2x the extent in total
        half = np.sqrt(1.2 * EXTENT * EXTENT / (2.0 * max(n, 1)))
        a = half * rng.uniform(0.6, 1.4, n)
        b = half * rng.uniform(0.6, 1.4, n)
        ring = np.stack([cx + a, cy, cx, cy + b, cx - a, cy, cx, cy - b, cx + a, cy], 1)
        px, py = rng.uniform(0, EXTENT, m), rng.uniform(0, EXTENT, m)
        small = os.path.join(out_dir, "rhombi.parquet")
        big = os.path.join(out_dir, "points.parquet")
        _write(_coords_table(np.arange(n), ring), small, [n])
        _write(_points_table(np.arange(m), px, py), big, equal_groups(m, 2 * slots))

        A = _fixed_geoms(POLYGON, ring)
        B = _fixed_geoms(POINT, np.stack([px, py], 1))
        ai, bi = candidate_pairs((cx - a, cy - b, cx + a, cy + b), (px, py, px, py), 2 * half)
        hit = kernels.contains(A, ai, B, bi)
        ks = _sample(rng, len(ai), 200_000)
        return Inputs(
            small, big,
            _join_reference(ai, bi, hit),
            m,
            kernel_sample=("contains", A, ai[ks], B, bi[ks]),
            arrow_sample=_arrow_points(px, py, rng),
        )

    def cycle(self, spark, inputs, trace, drop=None):
        from pyspark.sql import functions as F

        from spatialjoin import SpatialIndex

        small = spark.read.parquet(inputs.small_path).selectExpr(
            "id", "3 AS kind", "coords", "array(0) AS rings")
        big = spark.read.parquet(inputs.big_path).selectExpr(
            "id", "0 AS kind", "array(x, y) AS coords", "CAST(NULL AS array<int>) AS rings")
        with trace.span("index.build"):
            idx = SpatialIndex.build(spark, small, validate=False)
        with trace.span("index.plan"):
            joined = idx.spatial_join(big, how="contains", validate=False, big_kinds={POINT})
        return idx, _join_action(F, joined, drop)


class PathsPairs(Workload):
    """3-point linestrings INTERSECT rects on a non-broadcast index: the
    shuffle-pairs route, refined by the kernels behind one mapInArrow."""
    name = "paths_pairs"
    sizes = Sizes(8_000, 100_000)
    quiet_cycle_s = 2.8

    def prepare(self, rng, sizes, slots, out_dir):
        n, m = sizes.small, sizes.big
        cx, cy = rng.uniform(0, EXTENT, n), rng.uniform(0, EXTENT, n)
        hw = rng.uniform(2.0, 8.0, n)
        hh = rng.uniform(2.0, 8.0, n)
        rects = np.stack([cx - hw, cy - hh, cx + hw, cy + hh], 1)
        x0, y0 = rng.uniform(0, EXTENT, m), rng.uniform(0, EXTENT, m)
        t1, t2 = rng.uniform(0, 2 * np.pi, m), rng.uniform(0, 2 * np.pi, m)
        l1, l2 = rng.uniform(5.0, 20.0, m), rng.uniform(5.0, 20.0, m)
        x1, y1 = x0 + l1 * np.cos(t1), y0 + l1 * np.sin(t1)
        x2, y2 = x1 + l2 * np.cos(t2), y1 + l2 * np.sin(t2)
        paths = np.stack([x0, y0, x1, y1, x2, y2], 1)
        small = os.path.join(out_dir, "rects.parquet")
        big = os.path.join(out_dir, "paths.parquet")
        _write(_coords_table(np.arange(n), rects), small, [n])
        # one row group, what a single writer leaves at this size: fewer
        # row groups than task slots, so the byte splits of the file are
        # not the units of work
        _write(_coords_table(np.arange(m), paths), big, [m])

        A = _fixed_geoms(RECT, rects)
        B = _fixed_geoms(LINESTRING, paths)
        bx0 = np.minimum(np.minimum(x0, x1), x2)
        by0 = np.minimum(np.minimum(y0, y1), y2)
        bx1 = np.maximum(np.maximum(x0, x1), x2)
        by1 = np.maximum(np.maximum(y0, y1), y2)
        ai, bi = candidate_pairs(tuple(rects.T), (bx0, by0, bx1, by1), 32.0)
        hit = kernels.intersects(A, ai, B, bi)
        ks = _sample(rng, len(ai), 200_000)
        sel = _sample(rng, m, 50_000)
        return Inputs(
            small, big,
            _join_reference(ai, bi, hit),
            m,
            kernel_sample=("intersects", A, ai[ks], B, bi[ks]),
            arrow_sample=(np.full(len(sel), LINESTRING, np.int8),
                          _coords_table(sel, paths[sel]).column("coords"), None),
        )

    def cycle(self, spark, inputs, trace, drop=None):
        from pyspark.sql import functions as F

        from spatialjoin import SpatialIndex

        small = spark.read.parquet(inputs.small_path).selectExpr(
            "id", "4 AS kind", "coords", "CAST(NULL AS array<int>) AS rings")
        big = spark.read.parquet(inputs.big_path).selectExpr(
            "id", "2 AS kind", "coords", "CAST(NULL AS array<int>) AS rings")
        with trace.span("index.build"):
            idx = SpatialIndex.build(spark, small, validate=False, broadcast=False)
        with trace.span("index.plan"):
            joined = idx.spatial_join(big, how="intersects", validate=False,
                                      big_kinds={LINESTRING})
        return idx, _join_action(F, joined, drop)


class KnnRings(Workload):
    """k=3 nearest indexed points for every probe point: the ring-search
    loop over the kNN-density index."""
    name = "knn_rings"
    plan_call = "knn_join"
    # 20 k probes leave about 5.3 k pending after the first ring round,
    # above knn_join's 4096-row brute-force sweep, so the search runs a
    # second ring round and stays in the JVM; at 10 k the stragglers go
    # to a mapInPandas sweep instead
    sizes = Sizes(20_000, 20_000)
    quiet_cycle_s = 4.6
    k = 3

    def prepare(self, rng, sizes, slots, out_dir):
        n, m = sizes.small, sizes.big
        sx, sy = rng.uniform(0, EXTENT, n), rng.uniform(0, EXTENT, n)
        px, py = rng.uniform(0, EXTENT, m), rng.uniform(0, EXTENT, m)
        small = os.path.join(out_dir, "sites.parquet")
        big = os.path.join(out_dir, "probes.parquet")
        _write(_points_table(np.arange(n), sx, sy), small, [n])
        _write(_points_table(np.arange(m), px, py), big, equal_groups(m, 2 * slots))

        big_id, small_id, dist, rank = knn_reference(sx, sy, px, py, self.k)
        A = _fixed_geoms(POINT, np.stack([sx, sy], 1))
        B = _fixed_geoms(POINT, np.stack([px, py], 1))
        ai = rng.integers(0, n, 200_000) if n else np.zeros(0, np.int64)
        bi = rng.integers(0, m, len(ai)) if m else np.zeros(0, np.int64)
        return Inputs(
            small, big,
            {"rows": int(len(big_id)),
             "checksum": int(row_checksum(big_id, small_id, rank).sum()),
             "distance": float(dist.sum()),
             "pair": [int(big_id[0]), int(small_id[0])] if len(big_id) else None},
            m,
            kernel_sample=("distance", A, ai, B, bi),
            arrow_sample=_arrow_points(px, py, rng),
        )

    def cycle(self, spark, inputs, trace, drop=None):
        from pyspark.sql import functions as F

        from spatialjoin import SpatialIndex

        def points(path):
            return spark.read.parquet(path).selectExpr(
                "id", "0 AS kind", "array(x, y) AS coords", "CAST(NULL AS array<int>) AS rings")

        with trace.span("index.build"):
            # the density target knn.knn_join itself builds with
            idx = SpatialIndex.build(spark, points(inputs.small_path), validate=False,
                                     cell_target_rows=self.k / 2.0)
        with trace.span("index.plan"):
            out = idx.knn_join(points(inputs.big_path), self.k, validate=False,
                               big_kinds={POINT})
        out = _dropped(F, out, drop)
        h = ((F.col("big_id") * C_BIG + F.col("small_id") * C_SMALL
              + F.col("rank") * C_RANK) % P).cast("long")
        action = out.agg(F.count(F.lit(1)).alias("rows"), F.sum(h).alias("checksum"),
                         F.sum("distance").alias("distance"))
        return idx, action

    def check(self, row, inputs):
        problem = super().check(row, inputs)
        if problem is not None:
            return problem
        d, want = float(row["distance"] or 0.0), inputs.reference["distance"]
        if abs(d - want) > 1e-9 * max(1.0, abs(want)):
            return f"distance sum {d!r}, expected {want!r}"
        return None


def knn_reference(sx, sy, px, py, k: int, reach: int = 2):
    """Exact k nearest sites of every probe, ties broken by site id, as
    (probe, site, distance, rank) arrays. Candidates are the sites in
    the (2*reach+1)^2 grid cells around the probe's cell; a probe whose
    k-th distance is not below the block's reach is redone against every
    site."""
    n, m = len(sx), len(px)
    kk = min(k, n)
    ncell = max(1, int(np.sqrt(n / 2)))  # about two sites per cell
    cell = EXTENT / ncell

    def cell_xy(x, y):
        return (np.clip((x // cell).astype(np.int64), 0, ncell - 1),
                np.clip((y // cell).astype(np.int64), 0, ncell - 1))

    scx, scy = cell_xy(sx, sy)
    order = np.argsort(scx * ncell + scy, kind="stable")
    start = np.searchsorted((scx * ncell + scy)[order], np.arange(ncell * ncell + 1))
    pcx, pcy = cell_xy(px, py)
    probes, sites = [], []
    for dx in range(-reach, reach + 1):
        for dy in range(-reach, reach + 1):
            qx, qy = pcx + dx, pcy + dy
            ok = (qx >= 0) & (qx < ncell) & (qy >= 0) & (qy < ncell)
            q = qx[ok] * ncell + qy[ok]
            cnt = start[q + 1] - start[q]
            probes.append(np.repeat(np.flatnonzero(ok), cnt))
            sites.append(order[np.repeat(start[q], cnt) + _ragged_arange(cnt)])
    p, s, d, r = _top_k(np.concatenate(probes), np.concatenate(sites), sx, sy, px, py, m, kk)
    found = np.bincount(p, minlength=m)
    kth = np.zeros(m)
    kth[p[r == kk]] = d[r == kk]
    redo = np.flatnonzero((found < kk) | (kth >= reach * cell))
    if len(redo):
        keep = ~np.isin(p, redo)
        bp = np.repeat(redo, n)
        bs = np.tile(np.arange(n), len(redo))
        extra = _top_k(bp, bs, sx, sy, px, py, m, kk)
        p, s, d, r = (np.concatenate([a[keep], b]) for a, b in zip((p, s, d, r), extra))
    return p, s, d, r


def _top_k(p, s, sx, sy, px, py, m: int, kk: int):
    """The kk nearest (probe, site) pairs per probe, ranked from 1, with
    the engine's distance arithmetic and (distance, site id) order."""
    dx = sx[s] - px[p]
    dy = sy[s] - py[p]
    d = np.sqrt(dx * dx + dy * dy)
    o = np.lexsort((s, d, p))
    p, s, d = p[o], s[o], d[o]
    rank = np.arange(len(p)) - np.searchsorted(p, np.arange(m))[p] + 1
    keep = rank <= kk
    return p[keep], s[keep], d[keep], rank[keep]


def _ragged_arange(cnt):
    """0..c-1 for every count c, concatenated."""
    return np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)


def _fixed_geoms(kind: int, coords: np.ndarray) -> GeomBatch:
    """GeomBatch of n geometries of one kind with m/2 vertices each;
    a polygon is one closed ring."""
    n, m = coords.shape
    offs = np.arange(0, n * (m // 2) + 1, m // 2, dtype=np.int64)
    poly = kind == POLYGON
    return GeomBatch(np.full(n, kind, np.int8), offs,
                     coords[:, 0::2].reshape(-1), coords[:, 1::2].reshape(-1),
                     np.full(n, 1 if poly else 0, np.int32),
                     offs[:-1] if poly else np.zeros(0, np.int64))


def _arrow_points(px, py, rng):
    sel = _sample(rng, len(px), 50_000)
    coords = np.stack([px[sel], py[sel]], 1)
    return (np.full(len(sel), POINT, np.int8), _coords_table(sel, coords).column("coords"), None)


WORKLOADS = {w.name: w for w in (PipBroadcast(), PathsPairs(), KnnRings())}
