"""Distributed kNN join via expanding k-ring cell search.

North-rule addition (BASELINE.json): the reference crate only supports
distance-THRESHOLD joins (proximity_map, src/index.rs:422-447); kNN is
built on the same cell grid + kernels, along one of two routes.

ring r:   a probe's candidates are the small geometries with a covered
          cell inside its covering grown by Chebyshev ring r (clipped
          to the grid), ranked by exact distance with the
          deterministic tie-break (distance, small_id).
done:     a probe is finished when its k-th distance is STRICTLY
          < r * min(cell_w, cell_h). Any geometry not yet a candidate
          has every covered cell at Chebyshev cell-distance > r from
          the probe's covering, hence Euclidean distance >=
          r * min(cell_w, cell_h); strict < keeps a tie at exactly that
          bound (an unseen geometry with a smaller id) from being
          decided early. Once the ring spans the grid every top-k is
          final.

broadcast-local (the index is broadcast): the whole search runs inside
          ONE mapInArrow over the probe side. Each task reads the
          geometry broadcast, keys the small side by cell once, and
          per Arrow batch gathers ring candidates, ranks them with
          kernels.distance (bit-identical to the SQL sqrt for points)
          and escalates still-pending probes with ring *= 2 — local
          rounds cost no Spark job. One step holds at most about
          _PAIR_BUDGET candidate pairs; a ring block only enumerates
          the index's non-empty cell columns, so a probe far outside
          the extent costs O(non-empty cells), never O(4^res). No
          shuffle, no persist, no checkpoint.
rounds    (the index is not broadcast): each round is Spark jobs —
          the pending probes exploded to their ring cells (one pure-JVM
          sequence/explode per probe), equi-joined to the small cell
          index (every populated level of a multilevel index), refined
          to exact distances and windowed to the top-k per probe; the
          done-check is a filter on the round's cached top-k (row_number
          ranks run 1..cnt with rising distance, so a rank-k row exists
          iff cnt >= k and holds the k-th distance). Unfinished probes
          escalate with ring *= 4 (fewer rounds, each a handful of
          jobs) until the ring spans the grid; the union of the rounds
          is materialized by a checkpoint. Each round logs round, ring,
          pending count and wall seconds at DEBUG.

Every call logs one DEBUG record on the ``spatialjoin.knn`` logger
naming its route and the reason (no extra Spark jobs).

Output: DF[big_id, small_id, distance, rank] with rank 1..k
(exactly k rows per probe when the small side has >= k rows, fewer
otherwise). Deterministic regardless of parallelism and route.
"""

from __future__ import annotations

import logging
import time
import warnings
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import kernels
from .geom import POINT, group_arange
from .grid import Grid
from .index import (
    SpatialIndex,
    _arrow_refine,
    _check_finite,
    _prefixed,
    _refine_input_cols,
    _slim_probe_batch,
    ensure_parallelism,
    validate_geoms,
    with_bbox,
)

_WARNED_CKPT_CLEANUP: list = []  # once-per-process reliable-ckpt warning
_log = logging.getLogger(__name__)

_OUT_SCHEMA = T.StructType([
    T.StructField("big_id", T.LongType(), False),
    T.StructField("small_id", T.LongType(), False),
    T.StructField("distance", T.DoubleType(), False),
])
_TOPK_SCHEMA = T.StructType(_OUT_SCHEMA.fields + [
    T.StructField("rank", T.IntegerType(), False),
])

# broadcast-local route: candidate pairs (and block rows) one local step
# holds at most — a pair costs a few dozen bytes across the gather,
# kernel and sort arrays
_PAIR_BUDGET = 4_000_000
# a small geometry whose covering is wider than this many cells on an
# axis is keyed at the finest coarser level where it is not (cell
# coordinates >> shift), so one giant polygon never explodes into
# 4^res keys
_KEY_SPAN = 8


def _cell_coord_sql(col: str, origin: float, size: float, n: int) -> str:
    """index._clamped_cell_coord as SQL text: the same double ops
    (floor((col - origin) / size) clamped to [0, n-1]). The ring loop
    builds its per-round plans from SQL text because every PySpark
    Column call costs a handful of py4j round trips (measured about
    1 ms each on the driver, versus one parse for a whole expression)."""
    return (f"greatest(0L, least({n - 1}L, "
            f"CAST(floor(({col} - ({origin!r}D)) / {size!r}D) AS BIGINT)))")


def _cell_id_sql(res: int, cx: str, cy: str) -> str:
    """The covering's cell id (level << 58 | cx << 29 | cy) as SQL text."""
    return f"{res << 58}L | shiftleft({cx}, 29) | ({cy})"


def _ring_cells(df: DataFrame, grid: Grid, res: int, r: int,
                level: int | None = None) -> DataFrame:
    """Probe rows exploded to every cell within Chebyshev ring r of their
    covering, as (cx, cy, cell) columns — pure JVM, one generator and
    two projections. The cells within ring r of a rectangle of cells
    are that rectangle grown by r on every side and clipped to the
    grid, so each (probe, cell) pair comes out exactly once; a point
    probe covers one cell, so its ring is a (2r+1)^2 block.

    ``level`` (a coarser level of a multilevel index) maps the block to
    its parent cells there — each end shifted right by res - level, so
    the parents stay one contiguous block, still one row per cell."""
    n = 1 << res
    cw, ch = grid.cell_size(res)
    level = res if level is None else level
    s = res - level

    def par(e: str) -> str:
        return f"shiftright({e}, {s})" if s else e

    x0 = par(f"greatest({_cell_coord_sql('b_xmin', grid.x0, cw, n)} - {r}L, 0L)")
    x1 = par(f"least({_cell_coord_sql('b_xmax', grid.x0, cw, n)} + {r}L, {n - 1}L)")
    y0 = par(f"greatest({_cell_coord_sql('b_ymin', grid.y0, ch, n)} - {r}L, 0L)")
    y1 = par(f"least({_cell_coord_sql('b_ymax', grid.y0, ch, n)} + {r}L, {n - 1}L)")
    cols = [f"`{c}`" for c in df.columns]
    df = df.selectExpr(
        "*", f"{x0} AS _x0", f"{y0} AS _y0", f"{y1} - {y0} + 1L AS _h",
        f"explode(sequence(0L, ({x1} - {x0} + 1L) * ({y1} - {y0} + 1L) - 1L)) AS _t",
    )
    return df.selectExpr(
        *cols, "_x0 + _t div _h AS cx", "_y0 + _t % _h AS cy",
        f"{_cell_id_sql(level, '_x0 + _t div _h', '_y0 + _t % _h')} AS cell",
    )


def _fine_cells(df: DataFrame, res: int, fine_res: int) -> DataFrame:
    """Rows carrying a (cx, cy) cell at ``res`` exploded to ALL its
    subcells at ``fine_res``; ``cell`` becomes the fine cell id."""
    ks = fine_res - res
    cols = [f"`{c}`" for c in df.columns if c not in ("cx", "cy", "cell")]
    df = df.selectExpr("*", f"explode(sequence(0L, {(1 << 2 * ks) - 1}L)) AS _t")
    fcx = f"shiftleft(cx, {ks}) | shiftright(_t, {ks})"
    fcy = f"shiftleft(cy, {ks}) | (_t & {(1 << ks) - 1}L)"
    return df.selectExpr(*cols, f"{_cell_id_sql(fine_res, fcx, fcy)} AS cell")


def knn_join(
    spark: SparkSession,
    small_df: DataFrame,
    big_df: DataFrame,
    k: int,
    extent=None,
    resolution: int | None = None,
    broadcast: bool | str = "auto",
    validate: bool = True,
    initial_ring: int | None = None,
    max_rounds: int = 12,
    hot_threshold: int | None = None,
    split_steps: int = 2,
    big_kinds=None,
) -> DataFrame:
    """k nearest small geometries for every big geometry.

    ``hot_threshold`` enables the same hot-cell splitting spatial_join
    uses: the ring search probes cold cells at the base resolution and
    expands hot parents to ALL their fine subcells, so kNN composes
    with skew handling (results are invariant to the split).

    On a broadcast index (the default for small sides that fit the
    broadcast budget) the result is a LAZY frame: one mapInArrow over
    the probe scan reading the geometry broadcast, recomputed from
    those two on every action and after executor loss — nothing is
    cached or checkpointed. ``max_rounds`` bounds only the Spark round
    loop; the local search always ends once its ring spans the grid.

    Fault tolerance of the round route (index not broadcast): the
    result is materialized via an eager checkpoint. With
    ``spark.sparkContext.setCheckpointDir(...)`` configured
    (recommended on multi-executor clusters) this is a RELIABLE
    checkpoint that survives executor loss; without one it falls back
    to ``localCheckpoint``, whose unreplicated blocks make the result
    irrecoverable if an executor dies after the call."""
    if k < 1:
        raise ValueError("k must be >= 1")
    # kNN wants DENSITY ~k/2 per cell (the join default picks a much
    # finer grid sized to geometry extents): ring 1 then holds ~4-5k
    # candidates, probes finish in one round, and the ring explode
    # stays at 9 cells/probe instead of (2r+1)^2 with r ~ 10
    idx = SpatialIndex.build(
        spark, small_df, max_distance=0.0, extent=extent, resolution=resolution,
        broadcast=broadcast, validate=validate,
        hot_threshold=hot_threshold, split_steps=split_steps,
        cell_target_rows=max(k, 1) / 2.0,
    )
    return _knn_with_index(spark, idx, big_df, k, validate, initial_ring,
                           max_rounds, big_kinds=big_kinds)


def _auto_initial_ring(idx: SpatialIndex, k: int) -> int:
    # size ring 0 so the expected candidate count per probe is ~2k:
    # ring r scans (2r+1)^2 cells at density n_small / 4^res. The row
    # count comes from the build stats job (no extra driver actions on
    # the query path).
    # INTENTIONAL (r4): density uses the GEOMETRY-row count, not the
    # per-cell covering-row count used before the build-stats change —
    # for small sides whose geometries span multiple cells this
    # underestimates density and sizes ring 0 slightly larger (extra
    # round-0 candidates, one fewer expansion round); results are
    # identical either way since ring expansion converges.
    n_cells = float(4 ** idx.resolution)
    density = max(idx.n_small_rows / n_cells, 1e-12)
    return int(np.clip(np.ceil((np.sqrt(2.0 * k / density) - 1.0) / 2.0),
                       1, 1 << idx.resolution))


def _knn_with_index(spark, idx: SpatialIndex, big_df, k, validate, initial_ring,
                    max_rounds, big_kinds=None):
    if k < 1:
        raise ValueError("k must be >= 1")
    if initial_ring is None:
        initial_ring = _auto_initial_ring(idx, k)
    point_probe = big_kinds is not None and set(big_kinds) == {POINT}
    if validate:
        validate_geoms(big_df)
    b = ensure_parallelism(_prefixed(big_df, "b", "big_id"))
    if idx.broadcast_small:
        _log.debug("knn route=broadcast-local small_rows=%d res=%d ring0=%d",
                   idx.n_small_rows, idx.resolution, initial_ring)
        if point_probe:
            probe = b.selectExpr("big_id", "element_at(b_coords, 1) AS bx",
                                 "element_at(b_coords, 2) AS by")
        else:
            probe = b.select("big_id", "b_kind", "b_coords", "b_rings")
        return probe.mapInArrow(
            _local_knn(idx.small_geo_bc, idx.grid, idx.resolution, k,
                       initial_ring, point_probe),
            _TOPK_SCHEMA)
    _log.debug("knn route=rounds reason=index not broadcast res=%d ring0=%d",
               idx.resolution, initial_ring)
    return _knn_rounds(spark, idx, b, k, initial_ring, max_rounds, point_probe)


# -- broadcast-local route -------------------------------------------------


def _spans(weights, budget: int):
    """[lo, hi) ranges over consecutive items whose weights sum to at
    most ``budget`` (a heavier single item gets a range of its own)."""
    cum = np.cumsum(weights)
    lo = 0
    while lo < len(cum):
        base = cum[lo - 1] if lo else 0
        hi = max(int(np.searchsorted(cum, base + budget, "right")), lo + 1)
        yield lo, hi
        lo = hi


def _small_cell_keys(A, grid: Grid, res: int):
    """The small side keyed by cell, once per task: a list of per-shift
    tables (shift, sorted non-empty columns, sorted keys, geometry row
    of each key), plus whether any geometry has several keys. A
    geometry gets one key per covered cell at ``res`` (Grid.grid_coords:
    the covering's clamped cell arithmetic), or at the finest
    level where its covering spans at most _KEY_SPAN cells per axis
    (coordinates >> shift). Keys are cx << 29 | cy, so the cells of one
    column form one contiguous key range."""
    xmin, ymin, xmax, ymax = A.bbox()
    gx0, gy0 = grid.grid_coords(xmin, ymin, res)
    gx1, gy1 = grid.grid_coords(xmax, ymax, res)
    shift = np.zeros(len(A), dtype=np.int64)
    while True:
        wide = (((gx1 >> shift) - (gx0 >> shift) >= _KEY_SPAN)
                | ((gy1 >> shift) - (gy0 >> shift) >= _KEY_SPAN))
        if not wide.any():
            break
        shift[wide] += 1
    tables = []
    for s in np.unique(shift):
        g = np.flatnonzero(shift == s)
        x0, y0 = gx0[g] >> s, gy0[g] >> s
        h = (gy1[g] >> s) - y0 + 1
        cnt = ((gx1[g] >> s) - x0 + 1) * h
        t = group_arange(cnt)
        hh = np.repeat(h, cnt)
        cx = np.repeat(x0, cnt) + t // hh
        keys = (cx << 29) | (np.repeat(y0, cnt) + t % hh)
        order = np.argsort(keys, kind="stable")
        tables.append((int(s), np.unique(cx), keys[order], np.repeat(g, cnt)[order]))
    return tables, sum(len(t[2]) for t in tables) > len(A)


def _ring_candidates(tables, multi: bool, n_small: int, bx0, by0, bx1, by1):
    """Candidate (probe, geometry row) pairs of each probe's ring block
    [bx0, bx1] x [by0, by1] (cells at ``res``), in chunks of at most
    about _PAIR_BUDGET pairs, each yielded as (first probe, probe count,
    probe index relative to the first, geometry row). Per probe and
    non-empty column inside the block, one key range — so a block wider
    than the index enumerates the index's columns, never the block."""
    cols = [(np.searchsorted(c, bx0 >> s), np.searchsorted(c, bx1 >> s, "right"))
            for s, c, _, _ in tables]
    for lo, hi in _spans(sum(c1 - c0 for c0, c1 in cols), _PAIR_BUDGET):
        rows = []
        pairs = np.zeros(hi - lo, dtype=np.int64)
        for (s, c, keys, geo), (c0, c1) in zip(tables, cols):
            ncol = c1[lo:hi] - c0[lo:hi]
            p = np.repeat(np.arange(hi - lo), ncol)
            cx = c[np.repeat(c0[lo:hi], ncol) + group_arange(ncol)] << 29
            k0 = np.searchsorted(keys, cx | (by0[lo:hi] >> s)[p])
            cnt = np.searchsorted(keys, cx | (by1[lo:hi] >> s)[p], "right") - k0
            pairs += np.bincount(p, weights=cnt, minlength=hi - lo).astype(np.int64)
            rows.append((p, k0, cnt, geo))
        for plo, phi in _spans(pairs, _PAIR_BUDGET):
            pis, gis = [], []
            for p, k0, cnt, geo in rows:
                a, z = np.searchsorted(p, plo), np.searchsorted(p, phi)
                c = cnt[a:z]
                pis.append(np.repeat(p[a:z] - plo, c))
                gis.append(geo[np.repeat(k0[a:z], c) + group_arange(c)])
            pi, gi = np.concatenate(pis), np.concatenate(gis)
            if multi:  # a geometry keyed on several cells of the block
                u = np.unique(pi * n_small + gi)
                pi, gi = u // n_small, u % n_small
            yield lo + plo, phi - plo, pi, gi


def _local_knn(bc, grid: Grid, res: int, k: int, ring0: int, point_probe: bool):
    """mapInArrow function of the broadcast-local route: the exact ring
    search of every probe in the batch against the broadcast small
    side, emitting (big_id, small_id, distance, rank) rows."""
    n = 1 << res
    min_dim = min(grid.cell_size(res))

    def fn(it):
        import pyarrow as pa

        schema = pa.schema([pa.field("big_id", pa.int64(), False),
                            pa.field("small_id", pa.int64(), False),
                            pa.field("distance", pa.float64(), False),
                            pa.field("rank", pa.int32(), False)])
        ids, A = bc.value
        tables, multi = _small_cell_keys(A, grid, res)
        for batch in it:
            if batch.num_rows == 0 or len(ids) == 0:
                continue
            col = {nm: batch.column(i) for i, nm in enumerate(batch.schema.names)}
            bid = col["big_id"].to_numpy(zero_copy_only=False)
            B = _slim_probe_batch(col, "point" if point_probe else None)
            xmin, ymin, xmax, ymax = B.bbox()
            _check_finite(np.concatenate([xmin, ymin, xmax, ymax]))
            pcx0, pcy0 = grid.grid_coords(xmin, ymin, res)
            pcx1, pcy1 = grid.grid_coords(xmax, ymax, res)
            pend = np.arange(len(B))
            r = ring0
            while len(pend):
                bx0 = np.maximum(pcx0[pend] - r, 0)
                by0 = np.maximum(pcy0[pend] - r, 0)
                bx1 = np.minimum(pcx1[pend] + r, n - 1)
                by1 = np.minimum(pcy1[pend] + r, n - 1)
                # a block spanning the grid holds every small geometry
                final = (r >= n) | ((bx0 == 0) & (by0 == 0) & (bx1 == n - 1) & (by1 == n - 1))
                done = np.zeros(len(pend), dtype=bool)
                covered = float(r) * min_dim
                for first, m, pi, gi in _ring_candidates(tables, multi, len(ids),
                                                         bx0, by0, bx1, by1):
                    probe = pend[first:first + m]
                    d = kernels.distance(A, gi, B, probe[pi])
                    _check_finite(d)
                    order = np.lexsort((gi, d, pi))
                    pi, gi, d = pi[order], gi[order], d[order]
                    cnt = np.bincount(pi, minlength=m)
                    start = np.cumsum(cnt) - cnt
                    rank = np.arange(len(pi)) - start[pi]
                    kth = np.full(m, np.inf)
                    have = cnt >= k
                    kth[have] = d[start[have] + k - 1]
                    # strict <: an unseen geometry at exactly `covered`
                    # with a smaller id could still take the k-th place
                    ok = (kth < covered) | final[first:first + m]
                    done[first:first + m] = ok
                    keep = (rank < k) & ok[pi]
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(bid[probe[pi[keep]]]), pa.array(ids[gi[keep]]),
                         pa.array(d[keep]), pa.array((rank[keep] + 1).astype(np.int32))],
                        schema=schema)
                pend = pend[~done]
                r *= 2

    return fn


# -- round route -----------------------------------------------------------


def _knn_rounds(spark, idx: SpatialIndex, b: DataFrame, k: int, r: int,
                max_rounds: int, point_probe: bool) -> DataFrame:
    grid, res = idx.grid, idx.resolution
    n = 1 << res
    min_dim = min(grid.cell_size(res))
    b_base = with_bbox(b, "b", buffer=0.0, points=point_probe).persist()
    small, small_fine = idx.small_cells, idx.small_fine
    # every populated level of a multilevel index is probed at the ring
    # block's parent cells there; each small row lives on one level
    levels = idx.levels if idx.levels is not None else [res]

    # point-vs-point: the ring-candidate distances stay entirely in the
    # JVM (same float ops as the numpy kernel: sqrt(dx*dx + dy*dy) on
    # the unbuffered scalar columns) — no Arrow boundary in the loop
    all_points = point_probe and idx.small_kinds == {POINT}
    if all_points:
        def pairs(cand):
            return cand.selectExpr(
                "big_id", "small_id",
                "sqrt((s_px - b_xmin) * (s_px - b_xmin) + (s_py - b_ymin) * (s_py - b_ymin))"
                " AS distance",
            )
    else:
        slim = "point" if point_probe else None
        refine_cols = _refine_input_cols(None, [], slim=slim)
        refine = _arrow_refine("prox", max_d=np.inf, slim=slim)

        def pairs(cand):
            return cand.select(*refine_cols)

    results = []
    cached = [b_base]
    pending = b_base
    rounds = 0
    while True:
        rounds += 1
        t0 = time.perf_counter()
        probe = _ring_cells(pending, grid, res, r)
        cand = reduce(DataFrame.unionByName, [
            pairs((probe if lvl == res else _ring_cells(pending, grid, res, r, lvl))
                  .join(small, "cell"))
            for lvl in levels])
        if small_fine is not None:
            # hot parents in the ring probe ALL their fine subcells, so
            # every hot-cell small row within Chebyshev ring r is still a
            # candidate and the done-criterion bound is unchanged
            ph = _fine_cells(probe.join(F.broadcast(idx.hot_cells), "cell", "left_semi"),
                             res, idx.fine_resolution)
            cand = cand.unionByName(pairs(ph.join(small_fine, "cell")))
        # a pair may appear via several ring cells (a small geometry
        # covering several cells) and via both index levels; dedupe on
        # ids before the (idempotent) refine to cut UDF work.
        # Point-vs-point needs no dedup shuffle: each side covers exactly
        # ONE cell, ring cells are distinct per probe, and a small point
        # lives in either the cold or the fine level — every pair arises
        # exactly once.
        if all_points:
            dists = cand
        else:
            dists = cand.dropDuplicates(["big_id", "small_id"]).mapInArrow(
                refine, _OUT_SCHEMA)
        topk = dists.selectExpr(
            "*", "row_number() OVER (PARTITION BY big_id ORDER BY distance, small_id) AS rank"
        ).where(f"rank <= {k}").persist()  # read by the done-check AND the final union
        cached.append(topk)
        covered = float(r) * min_dim
        if r >= n:  # the ring spans the grid: every top-k is final
            results.append(topk)
            _log.debug("knn round=%d ring=%d pending=0 wall_s=%.3f (ring spans grid)",
                       rounds, r, time.perf_counter() - t0)
            break
        # a probe is done when its k-th distance is below `covered`.
        # row_number ranks run 1..cnt with distances rising, so "a rank-k
        # row exists" means cnt >= k and that row's distance IS the k-th:
        # a filter on the cached topk, no aggregation shuffle. Strict <:
        # an unseen geometry at distance exactly `covered` with a smaller
        # id could otherwise displace the current k-th on tie-break
        done_ids = topk.where(f"rank = {k} AND distance < {covered!r}D").select("big_id")
        pending_next = pending.join(done_ids, on="big_id", how="left_anti").persist()
        cached.append(pending_next)
        n_pending = pending_next.count()
        pending = pending_next
        _log.debug("knn round=%d ring=%d pending=%d wall_s=%.3f",
                   rounds, r, n_pending, time.perf_counter() - t0)
        if n_pending == 0:
            # every probe finished this round: the done-filter semi join
            # would be the identity — ship the cached topk as-is
            results.append(topk)
            break
        results.append(topk.join(done_ids, on="big_id", how="left_semi"))
        if rounds >= max_rounds:
            # probes remain pending and the ring does NOT span the grid:
            # their top-k would be incomplete — never return
            # silently-wrong rows (unreachable with the default budget:
            # ring x4 spans any grid in <= log4(2^res) + 1 rounds)
            for df in cached:
                df.unpersist()
            raise RuntimeError(
                f"knn_join exhausted max_rounds={max_rounds} with "
                f"{n_pending} probes pending at ring {r} (< grid span "
                f"{n}); raise max_rounds or initial_ring"
            )
        r *= 4
    t0 = time.perf_counter()
    out = reduce(DataFrame.unionByName, results)
    # the union inherits every round's shuffle partitioning (measured:
    # 128 near-empty tasks checkpointing 45k rows, and the checkpoint
    # stage dominates the query's fixed cost) — narrow to the session
    # parallelism before materializing; coalesce is a narrow dependency
    # so no extra shuffle is introduced
    out = out.coalesce(spark.sparkContext.defaultParallelism)
    # materialize the union via an eager checkpoint, then free every
    # per-round cache (the round topk/pending frames otherwise accumulate
    # in executor storage for the session lifetime on multi-round
    # workloads). Checkpoint rather than persist: it truncates lineage
    # (so unpersisting the round caches can't trigger recompute), and a
    # LOCAL checkpoint's blocks are released by the ContextCleaner when
    # the returned frame is garbage-collected — a plain DataFrame
    # persist would pin storage until an explicit unpersist the caller
    # never sees.
    #
    # FAULT TOLERANCE: localCheckpoint blocks are executor-LOCAL and
    # unreplicated — on a multi-executor cluster, losing any executor
    # after the checkpoint makes the result irrecoverable (job failure;
    # lineage was truncated so Spark cannot recompute). When the session
    # has a RELIABLE checkpoint dir configured
    # (spark.sparkContext.setCheckpointDir on HDFS/S3 — standard on
    # long-lived clusters), use a reliable checkpoint instead: same
    # lineage truncation, but blocks survive executor loss.
    #
    # CLEANUP CAVEAT: unlike localCheckpoint, RELIABLE checkpoint files
    # are NOT removed when the frame is garbage-collected unless
    # spark.cleaner.referenceTracking.cleanCheckpoints=true (default
    # false) — repeated knn_join calls on a long-lived session would
    # otherwise accumulate full result copies under the checkpoint dir.
    # Warn once so operators either enable that conf or clean the dir.
    if spark.sparkContext.getCheckpointDir() is not None:
        clean = spark.conf.get(
            "spark.cleaner.referenceTracking.cleanCheckpoints", "false"
        )
        if str(clean).lower() != "true" and not _WARNED_CKPT_CLEANUP:
            _WARNED_CKPT_CLEANUP.append(True)
            warnings.warn(
                "knn_join: a reliable checkpoint dir is configured but "
                "spark.cleaner.referenceTracking.cleanCheckpoints is "
                "false — checkpointed results accumulate there until "
                "the dir is cleaned externally. Set the conf to true "
                "to have Spark delete them on GC.",
                RuntimeWarning,
            )
        out = out.checkpoint(eager=True)
    else:
        out = out.localCheckpoint(eager=True)
    _log.debug("knn checkpoint wall_s=%.3f", time.perf_counter() - t0)
    for df in cached:
        df.unpersist()
    return out
