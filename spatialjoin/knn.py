"""Distributed kNN join: an exact ring search over the cell grid.

North-rule addition (BASELINE.json): the reference crate only supports
distance-THRESHOLD joins (proximity_map, src/index.rs:422-447); kNN is
built on the same cell grid + kernels, along one of two routes. Both
return a LAZY frame: no persist, no checkpoint, and a number of Spark
jobs per call that does not depend on the data.

ring search (_local_knn): one mapInArrow over the probe side against a
          broadcast (sorted_ids, GeomBatch) of small geometries. Each
          task keys them by cell once; per Arrow batch a probe's
          candidates are the geometries with a key inside its covering
          grown by Chebyshev ring r (clipped to the grid), ranked by
          exact distance (kernels.distance) with the deterministic
          tie-break (distance, small_id). A probe is done when its k-th
          distance is STRICTLY < r * min(cell_w, cell_h): any geometry
          not yet a candidate lies at least that far, and strict <
          keeps a tie at exactly that bound (an unseen geometry with a
          smaller id) from being decided early. Pending probes go on
          with r *= 2; once the ring spans the grid every top-k is
          final. One step holds at most about _PAIR_BUDGET candidate
          pairs; a ring block only enumerates the non-empty cell
          columns, so a probe far outside the extent costs O(non-empty
          cells), never O(4^res).

broadcast-local (the index is broadcast): the ring search over the
          index's geometry broadcast IS the answer.
sample-bound (the index is not broadcast): the ring search over a
          broadcast sample S0 of the small side (the rows whose
          xxhash64(small_id) falls below a threshold) gives each probe
          u, its k-th distance within S0. Any subset's k-th distance
          bounds the true one, so every true top-k row, ties with the
          k-th included, lies within u. The probe bbox, buffered by u
          plus a rounding slack, goes through the join's own candidate
          step (SpatialIndex._candidates: cell equi-join, hot-split and
          multilevel levels, reference-point dedup), exact distances
          come from the JVM (all points) or _arrow_refine, and one
          window keeps the top-k of the rows with distance <= u. S0 is
          broadcast, so it holds at most the broadcast caps, and a bound
          from a fraction f of the side leaves about k/f rows and 2/f
          index cells within it. So past the caps the bound is first
          narrowed through nested samples, each _SAMPLE_DIVISOR times
          the one before (a larger threshold of the same hash): a
          candidate join of the probes against the sample's own
          covering, one resolution level (4x the cell area) coarser
          per 4x fewer rows, keeps each probe's k-th row. Every join then
          meets about _SAMPLE_DIVISOR * k rows and a few dozen cells per
          probe, and the number of joins, log(n / cap) to the base
          _SAMPLE_DIVISOR, is fixed by the build stats. When S0 is the
          whole small side its ring search is returned as it stands.

Every call logs one DEBUG record on the ``spatialjoin.knn`` logger
naming its route and the reason (no extra Spark jobs).

Output: DF[big_id, small_id, distance, rank] with rank 1..k
(exactly k rows per probe when the small side has >= k rows, fewer
otherwise). Deterministic regardless of parallelism and route.
"""

from __future__ import annotations

import logging
import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import kernels
from .geom import POINT, group_arange
from .grid import Grid
from .index import (
    BROADCAST_BYTE_BUDGET,
    BROADCAST_MAX_CELLS,
    SpatialIndex,
    _arrow_refine,
    _broadcast_geoms,
    _check_finite,
    _point_distance,
    _prefixed,
    _probe_kind,
    _slim_probe_batch,
    ensure_parallelism,
    validate_geoms,
    with_bbox,
    with_cells,
)

_log = logging.getLogger(__name__)

_OUT_SCHEMA = T.StructType([
    T.StructField("big_id", T.LongType(), False),
    T.StructField("small_id", T.LongType(), False),
    T.StructField("distance", T.DoubleType(), False),
])
_TOPK_SCHEMA = T.StructType(_OUT_SCHEMA.fields + [
    T.StructField("rank", T.IntegerType(), False),
])

# ring search: candidate pairs (and block rows) one local step holds
# at most — a pair costs a few dozen bytes across the gather,
# kernel and sort arrays
_PAIR_BUDGET = 4_000_000
# a small geometry whose covering is wider than this many cells on an
# axis is keyed at the finest coarser level where it is not (cell
# coordinates >> shift), so one giant polygon never explodes into
# 4^res keys
_KEY_SPAN = 8
# sample-bound route: each sample holds 1/_SAMPLE_DIVISOR of the next
# (the first at least k rows and within the broadcast caps, the last
# the whole small side)
_SAMPLE_DIVISOR = 4
# relative rounding slack of the buffered probe bbox, on u and on the
# grid's coordinate magnitude: a geometry whose computed distance is
# exactly u must still overlap the box
_SLACK = 1e-12


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
    hot_threshold: int | None = None,
    split_steps: int = 2,
    big_kinds=None,
) -> DataFrame:
    """k nearest small geometries for every big geometry.

    ``hot_threshold`` enables the same hot-cell splitting spatial_join
    uses; results are invariant to the split.

    The result is a LAZY frame on both routes, recomputed from its
    inputs on every action and after executor loss; nothing is cached
    or checkpointed. On a broadcast index (the default for small sides
    that fit the broadcast budget) it is one mapInArrow over the probe
    scan reading the geometry broadcast. Otherwise it is one query: a
    ring search over a broadcast sample of the small side bounds each
    probe's k-th distance, candidate joins over larger nested samples
    narrow the bound, and one candidate join within it gives the exact
    top-k. The private index is not persisted, so the call leaves no
    cache behind."""
    if k < 1:
        raise ValueError("k must be >= 1")
    # kNN wants DENSITY ~k/2 per cell (the join default picks a much
    # finer grid sized to geometry extents): ring 1 then holds ~4-5k
    # candidates and most probes finish on their first ring
    idx = SpatialIndex.build(
        spark, small_df, max_distance=0.0, extent=extent, resolution=resolution,
        broadcast=broadcast, validate=validate, persist=False,
        hot_threshold=hot_threshold, split_steps=split_steps,
        cell_target_rows=max(k, 1) / 2.0,
    )
    return _knn_with_index(idx, big_df, k, validate, initial_ring, big_kinds=big_kinds)


def _auto_initial_ring(n_rows: int, res: int, k: int) -> int:
    # size ring 0 so the expected candidate count per probe is ~2k:
    # ring r scans (2r+1)^2 cells at density n_rows / 4^res, where
    # n_rows counts the geometries searched (from the build stats job;
    # geometries spanning several cells make this an underestimate,
    # which only sizes ring 0 larger)
    density = max(n_rows / float(4 ** res), 1e-12)
    return int(np.clip(np.ceil((np.sqrt(2.0 * k / density) - 1.0) / 2.0), 1, 1 << res))


def _sample_fractions(idx: SpatialIndex, k: int) -> list:
    """Fractions of the small side in the sample-bound route's nested
    samples. The first is broadcast: 1/_SAMPLE_DIVISOR of the side,
    capped like a broadcast index (BROADCAST_MAX_CELLS rows, and its
    share of BROADCAST_BYTE_BUDGET from the stats job's coordinate
    count), and at least k rows. Each later one holds _SAMPLE_DIVISOR
    times the one before; the whole side comes last and is not listed.
    Empty when the first sample would be the whole side."""
    n = idx.n_small_rows
    cap = BROADCAST_MAX_CELLS
    if idx.n_small_vals:
        cap = min(cap, BROADCAST_BYTE_BUDGET * n // (8 * idx.n_small_vals))
    f = max(k, min(math.ceil(n / _SAMPLE_DIVISOR), cap)) / max(n, 1)
    fracs = []
    while f < 1.0:
        fracs.append(f)
        f *= _SAMPLE_DIVISOR
    return fracs


def _in_sample(f: float):
    """Membership of the deterministic sample holding about the fraction
    ``f`` of the small side: the top 53 bits of xxhash64(small_id) below
    f * 2^53, so a larger fraction's sample holds every smaller one's."""
    return F.shiftrightunsigned(F.xxhash64("small_id"), 11) < F.lit(int(f * 2.0 ** 53))


def _knn_with_index(idx: SpatialIndex, big_df, k, validate, initial_ring, big_kinds=None):
    if k < 1:
        raise ValueError("k must be >= 1")
    point_probe = big_kinds is not None and set(big_kinds) == {POINT}
    if validate:
        validate_geoms(big_df)
    b = ensure_parallelism(_prefixed(big_df, "b", "big_id"))
    if point_probe:
        probe = b.selectExpr("big_id", "element_at(b_coords, 1) AS bx",
                             "element_at(b_coords, 2) AS by")
    else:
        probe = b.select("big_id", "b_kind", "b_coords", "b_rings")
    if idx.broadcast_small:
        ring0 = initial_ring or _auto_initial_ring(idx.n_small_rows, idx.resolution, k)
        _log.debug("knn route=broadcast-local small_rows=%d res=%d ring0=%d",
                   idx.n_small_rows, idx.resolution, ring0)
        return probe.mapInArrow(
            _local_knn(idx.small_geo_bc, idx.grid, idx.resolution, k, ring0, point_probe),
            _TOPK_SCHEMA)
    fracs = _sample_fractions(idx, k)
    src = idx._small_src
    if fracs:
        src = src.where(_in_sample(fracs[0]))
    bc = _broadcast_geoms(idx.spark, src)
    n_sample = len(bc.value[0])
    # with fewer than k sampled rows every bound is inf: a later sample
    # could then hold fewer than k rows within it, so only the whole
    # side follows
    later = fracs[1:] if n_sample >= k else []
    ring0 = initial_ring or _auto_initial_ring(n_sample, idx.resolution, k)
    _log.debug("knn route=sample-bound reason=index not broadcast small_rows=%d "
               "sample_rows=%d joins=%d res=%d ring0=%d", idx.n_small_rows, n_sample,
               len(later) + 1 if fracs else 0, idx.resolution, ring0)
    if not fracs:  # the sample is the whole side
        return probe.mapInArrow(
            _local_knn(bc, idx.grid, idx.resolution, k, ring0, point_probe), _TOPK_SCHEMA)
    near = probe.mapInArrow(
        _local_knn(bc, idx.grid, idx.resolution, k, ring0, point_probe, bound=True),
        T.StructType(probe.schema.fields + [T.StructField("_u", T.DoubleType(), False)]))
    for f in later:
        near = (_ranked_within(idx, near, point_probe, big_kinds, f)
                .where(f"rank = {k}").select(*probe.columns, F.col("distance").alias("_u")))
    return _ranked_within(idx, near, point_probe, big_kinds).where(f"rank <= {k}").select(
        "big_id", "small_id", "distance", "rank")


def _ranked_within(idx: SpatialIndex, near: DataFrame, point_probe: bool, big_kinds,
                   frac: float | None = None) -> DataFrame:
    """The small rows (of the sample ``frac``, else all) within each
    probe's bound ``_u``, ranked by (distance, small_id) per probe. The
    probe bbox, buffered by u plus a rounding slack, goes through the
    join's candidate step; a sample's candidates come from its own
    covering, at the resolution where its cells hold about as many
    sampled rows as the index's cells hold rows, so a bound from a
    sample 1/_SAMPLE_DIVISOR the size covers about as many cells as the
    last join does. Exact distances come from the JVM (all points) or
    the Arrow refine over the UNBUFFERED probe geometry. Rows of a
    sample carry the probe columns on, for the next bound."""
    g = idx.grid
    slack = _SLACK * max(abs(g.x0), abs(g.y0), abs(g.x1), abs(g.y1))
    buf = F.expr(f"_u * {1.0 + _SLACK!r}D + {slack!r}D")
    if point_probe:
        box = near.withColumns({"b_xmin": F.col("bx") - buf, "b_xmax": F.col("bx") + buf,
                                "b_ymin": F.col("by") - buf, "b_ymax": F.col("by") + buf})
        geo = ["bx", "by"]
    else:
        box = with_bbox(near, "b", buffer=buf, rects=_probe_kind(big_kinds) == "rect")
        geo = ["b_kind", "b_coords", "b_rings"]
    if frac is None:
        cand = idx._candidates(box)
        carry = []
    else:
        res = max(0, idx.resolution - round(math.log(1.0 / frac, 4)))
        small = with_cells(idx._small_src.where(_in_sample(frac)), "s", g, res, keep_cxy=False)
        cells = with_cells(box, "b", g, res, keep_cxy=True)
        cand = idx._ref_filter(cells.join(small, "cell"), res)
        carry = geo
    if point_probe and idx.small_kinds == {POINT}:
        dists = cand.select("big_id", "small_id", _point_distance("bx", "by").alias("distance"),
                            "_u", *carry)
    else:
        dists = cand.select("big_id", "small_id", *geo, "s_kind", "s_coords", "s_rings",
                            "_u").mapInArrow(
            _arrow_refine("prox", max_d=np.inf, slim="point" if point_probe else None,
                          carry=("_u", *carry)),
            T.StructType(_OUT_SCHEMA.fields + [cand.schema[c] for c in ("_u", *carry)]))
    return dists.where("distance <= _u").withColumn(
        "rank", F.expr("row_number() OVER (PARTITION BY big_id ORDER BY distance, small_id)"))


# -- ring search -------------------------------------------------------------


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


def _local_knn(bc, grid: Grid, res: int, k: int, ring0: int, point_probe: bool,
               bound: bool = False):
    """mapInArrow function of the ring search: the exact top-k of every
    probe in the batch against the broadcast (sorted_ids, GeomBatch)
    ``bc``, emitted as (big_id, small_id, distance, rank) rows. With
    ``bound``, every input row is emitted instead, plus ``_u``: its k-th
    distance (inf when ``bc`` holds fewer than k geometries)."""
    n = 1 << res
    min_dim = min(grid.cell_size(res))

    def fn(it):
        import pyarrow as pa

        schema = pa.schema([pa.field("big_id", pa.int64(), False),
                            pa.field("small_id", pa.int64(), False),
                            pa.field("distance", pa.float64(), False),
                            pa.field("rank", pa.int32(), False)])
        ids, A = bc.value
        tables, multi = _small_cell_keys(A, grid, res) if len(ids) else ([], False)
        for batch in it:
            if batch.num_rows == 0 or (len(ids) == 0 and not bound):
                continue
            col = {nm: batch.column(i) for i, nm in enumerate(batch.schema.names)}
            bid = col["big_id"].to_numpy(zero_copy_only=False)
            B = _slim_probe_batch(col, "point" if point_probe else None)
            xmin, ymin, xmax, ymax = B.bbox()
            _check_finite(np.concatenate([xmin, ymin, xmax, ymax]))
            pcx0, pcy0 = grid.grid_coords(xmin, ymin, res)
            pcx1, pcy1 = grid.grid_coords(xmax, ymax, res)
            pend = np.arange(len(B) if len(ids) else 0)
            u = np.full(len(B), np.inf)
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
                    if bound:
                        u[probe[ok]] = kth[ok]
                        continue
                    keep = (rank < k) & ok[pi]
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(bid[probe[pi[keep]]]), pa.array(ids[gi[keep]]),
                         pa.array(d[keep]), pa.array((rank[keep] + 1).astype(np.int32))],
                        schema=schema)
                pend = pend[~done]
                r *= 2
            if bound:
                yield pa.RecordBatch.from_arrays(
                    batch.columns + [pa.array(u)],
                    schema=batch.schema.append(pa.field("_u", pa.float64(), False)))

    return fn
