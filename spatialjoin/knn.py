"""Distributed kNN join via expanding k-ring cell search.

North-rule addition (BASELINE.json): the reference crate only supports
distance-THRESHOLD joins (proximity_map, src/index.rs:422-447); kNN is
built on the same cell grid + kernels:

round r:  candidates = big covering grown by Chebyshev ring r (one
          pure-JVM sequence/explode per probe over the clipped cell
          block) equi-joined to the small cell index, refined to exact
          distances, then windowed top-k per probe with deterministic
          tie-break (distance, small_id).
done:     a probe is finished when its rank-k row has distance
          STRICTLY < r * min(cell_w, cell_h) — a filter on the round's
          cached top-k (row_number ranks run 1..cnt with rising
          distance, so a rank-k row exists iff cnt >= k and holds the
          k-th distance). Any geometry not yet a candidate has every
          covered cell at Chebyshev cell-distance > r from the probe's
          covering, hence Euclidean distance >= r * min(cell_w, cell_h);
          strict < keeps a tie at exactly that bound (an unseen
          geometry with a smaller id) from being decided early.
loop:     unfinished probes escalate with ring *= 4 (driver-side loop,
          anti-joining finished probes); terminates when the ring spans
          the grid, or — on a broadcast index — with an exact
          brute-force sweep once at most 4096 probes are pending.
          Each round logs round, ring, pending count and wall seconds
          at DEBUG on the ``spatialjoin.knn`` logger (no extra jobs).

Output: DF[big_id, small_id, distance, rank] with rank 1..k
(row_number — exactly k rows per probe when the small side has >= k
rows, fewer otherwise). Deterministic regardless of parallelism.
"""

from __future__ import annotations

import logging
import time
import warnings

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import kernels
from .geom import GeomBatch
from .grid import Grid
from .index import (
    SpatialIndex,
    _point_batch,
    _prefixed,
    _refine_sides,
    validate_geoms,
    with_bbox,
)

_WARNED_CKPT_CLEANUP: list = []  # once-per-process reliable-ckpt warning
_log = logging.getLogger(__name__)


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


def _ring_cells(df: DataFrame, grid: Grid, res: int, r: int) -> DataFrame:
    """Probe rows exploded to every cell within Chebyshev ring r of their
    covering, as (cx, cy, cell) columns — pure JVM, one generator and
    two projections. The cells within ring r of a rectangle of cells
    are that rectangle grown by r on every side and clipped to the
    grid, so each (probe, cell) pair comes out exactly once; a point
    probe covers one cell, so its ring is a (2r+1)^2 block."""
    n = 1 << res
    cw, ch = grid.cell_size(res)
    x0 = f"greatest({_cell_coord_sql('b_xmin', grid.x0, cw, n)} - {r}L, 0L)"
    x1 = f"least({_cell_coord_sql('b_xmax', grid.x0, cw, n)} + {r}L, {n - 1}L)"
    y0 = f"greatest({_cell_coord_sql('b_ymin', grid.y0, ch, n)} - {r}L, 0L)"
    y1 = f"least({_cell_coord_sql('b_ymax', grid.y0, ch, n)} + {r}L, {n - 1}L)"
    cols = [f"`{c}`" for c in df.columns]
    df = df.selectExpr(
        "*", f"{x0} AS _x0", f"{y0} AS _y0", f"{y1} - {y0} + 1L AS _h",
        f"explode(sequence(0L, ({x1} - {x0} + 1L) * ({y1} - {y0} + 1L) - 1L)) AS _t",
    )
    return df.selectExpr(
        *cols, "_x0 + _t div _h AS cx", "_y0 + _t % _h AS cy",
        f"{_cell_id_sql(res, '_x0 + _t div _h', '_y0 + _t % _h')} AS cell",
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

    Fault tolerance: the result is materialized via an eager
    checkpoint. With ``spark.sparkContext.setCheckpointDir(...)``
    configured (recommended on multi-executor clusters) this is a
    RELIABLE checkpoint that survives executor loss; without one it
    falls back to ``localCheckpoint``, whose unreplicated blocks make
    the result irrecoverable if an executor dies after the call."""
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
    from .geom import POINT as KP

    if k < 1:
        raise ValueError("k must be >= 1")
    if initial_ring is None:
        initial_ring = _auto_initial_ring(idx, k)

    point_probe = big_kinds is not None and set(big_kinds) == {KP}
    grid, res = idx.grid, idx.resolution
    n = 1 << res
    cw, ch = grid.cell_size(res)
    min_dim = min(cw, ch)
    if validate:
        validate_geoms(big_df)
    b = _prefixed(big_df, "b", "big_id")
    from .index import ensure_parallelism

    b = ensure_parallelism(b)
    b = with_bbox(b, "b", buffer=0.0, points=point_probe)
    b_base = b.persist()

    # point-vs-point: the ring-candidate distances stay entirely in the
    # JVM (same float ops as the numpy kernel: sqrt(dx*dx + dy*dy) on
    # the unbuffered scalar columns) — no Arrow boundary in the loop at
    # all; only the bounded straggler sweep touches Python
    all_points = point_probe and idx._small_kinds() == {KP}
    small = idx.small_cells
    small_fine = idx.small_fine
    if idx.broadcast_small:
        # a broadcast index never carries its geometry through the cell
        # join: the Python refine and the straggler sweep read it from
        # the geometry broadcast, the all-point route from s_px/s_py
        small = F.broadcast(small.drop("s_kind", "s_coords", "s_rings"))
        if small_fine is not None:
            small_fine = F.broadcast(small_fine.drop("s_kind", "s_coords", "s_rings"))
    # the geometry broadcast is collected lazily, on first read: only
    # the Python refine reads it here, and the sweep below — the
    # all-point route never pays for its collect job
    bc = idx.small_geo_bc if idx.broadcast_small and not all_points else None
    out_schema = T.StructType(
        [
            T.StructField("big_id", T.LongType(), False),
            T.StructField("small_id", T.LongType(), False),
            T.StructField("distance", T.DoubleType(), False),
        ]
    )
    topk_schema = T.StructType(out_schema.fields + [
        T.StructField("rank", T.IntegerType(), False),
    ])

    def brute_force_topk(iterator):
        """Straggler sweep: exact kNN of each pending probe against the
        ENTIRE broadcast small side — replaces up to log4(grid) ring
        escalations when only a handful of probes remain. One batched
        kernels.distance call per probe-chunk (chunks bound the pair
        matrix at ~4M entries); row-wise lexsort keeps the exact
        (distance, small_id) tie-break of the windowed path."""
        import pandas as pd

        ids_all, A = bc.value
        n_small = len(ids_all)
        kk = min(k, n_small)
        chunk = max(1, 4_000_000 // max(n_small, 1))
        ai_chunk = np.tile(np.arange(n_small, dtype=np.int64), chunk)
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            B = _point_batch(pdf["bx"].to_numpy(), pdf["by"].to_numpy()) \
                if "bx" in pdf.columns else GeomBatch.from_columns(
                    pdf["b_kind"].to_numpy(), pdf["b_coords"].to_list(),
                    pdf["b_rings"].to_list())
            big_ids = pdf["big_id"].to_numpy()
            for lo in range(0, len(pdf), chunk):
                p = min(chunk, len(pdf) - lo)
                ai = ai_chunk[: p * n_small]
                bi = np.repeat(np.arange(lo, lo + p, dtype=np.int64), n_small)
                d = kernels.distance(A, ai, B, bi).reshape(p, n_small)
                order = np.lexsort(
                    (np.broadcast_to(ids_all, d.shape), d)
                )[:, :kk]
                yield pd.DataFrame({
                    "big_id": np.repeat(big_ids[lo:lo + p], kk),
                    "small_id": ids_all[order].ravel(),
                    "distance": np.take_along_axis(d, order, axis=1).ravel(),
                    "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), p),
                })

    def refine(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            A, ai, B = _refine_sides(pdf, bc)
            bi = np.arange(len(pdf), dtype=np.int64)
            d = kernels.distance(A, ai, B, bi)
            out = pdf.loc[:, ["big_id", "small_id"]].copy()
            out["distance"] = d
            yield out

    from .index import _refine_input_cols

    if all_points:
        # the distance is computed in the pair projection itself
        def pairs(cand):
            return cand.selectExpr(
                "big_id", "small_id",
                "sqrt((s_px - b_xmin) * (s_px - b_xmin) + (s_py - b_ymin) * (s_py - b_ymin))"
                " AS distance",
            )
    else:
        refine_cols = _refine_input_cols(bc, [], point_probe=point_probe)

        def pairs(cand):
            return cand.select(*refine_cols)

    results = []
    cached = [b_base]
    pending = b_base
    r = initial_ring
    rounds = 0
    while True:
        rounds += 1
        t0 = time.perf_counter()
        probe = _ring_cells(pending, grid, res, r)
        cand = pairs(probe.join(small, "cell"))
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
        elif point_probe and bc is not None:
            from .index import _arrow_point_refine

            dists = cand.dropDuplicates(["big_id", "small_id"]).mapInArrow(
                _arrow_point_refine(bc, "prox", max_d=np.inf), out_schema
            )
        else:
            dists = cand.dropDuplicates(["big_id", "small_id"]).mapInPandas(
                refine, out_schema)
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
        if idx.broadcast_small and n_pending <= 4096:
            # straggler sweep: exact brute force against the broadcast
            # index beats up to log4(grid) more ring-escalation rounds
            bc = idx.small_geo_bc
            if point_probe:
                rsel = pending.selectExpr("big_id", "b_xmin AS bx", "b_ymin AS by")
            else:
                rsel = pending.select("big_id", "b_kind", "b_coords", "b_rings")
            results.append(rsel.mapInPandas(brute_force_topk, topk_schema))
            _log.debug("knn sweep pending=%d", n_pending)
            break
        if rounds >= max_rounds:
            # probes remain pending, the ring does NOT span the grid, and
            # no brute-force sweep applies: their top-k would be
            # incomplete — never return silently-wrong rows (unreachable
            # with the default budget: ring x4 spans any grid in
            # <= log4(2^res) + 1 rounds)
            for df in cached:
                df.unpersist()
            raise RuntimeError(
                f"knn_join exhausted max_rounds={max_rounds} with "
                f"{n_pending} probes pending at ring {r} (< grid span "
                f"{n}); raise max_rounds or initial_ring"
            )
        r *= 4
    t0 = time.perf_counter()
    out = results[0]
    for extra in results[1:]:
        out = out.unionByName(extra)
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
