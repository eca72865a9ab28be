"""Hot-cell splitting: identical results with skew handling on/off,
on a deliberately skewed corpus (one dense cluster + uniform rest)."""

from __future__ import annotations

import random

from spatialjoin.geom import POINT, RECT
from spatialjoin.index import SpatialIndex
from spatialjoin.sparkutil import geoms_to_df


def _skewed_rows(rng, n, cluster_frac=0.7):
    rows = []
    for _ in range(n):
        if rng.random() < cluster_frac:
            cx, cy = rng.uniform(-0.05, 0.05), rng.uniform(-0.05, 0.05)
        else:
            cx, cy = rng.uniform(-8, 8), rng.uniform(-8, 8)
        if rng.random() < 0.5:
            rows.append((POINT, [cx, cy]))
        else:
            h = rng.uniform(0.01, 0.2)
            rows.append((RECT, [cx - h, cy - h, cx + h, cy + h]))
    return rows


def _run(spark, small_rows, big_rows, how, **kw):
    small = geoms_to_df(spark, small_rows)
    big = geoms_to_df(spark, big_rows)
    idx = SpatialIndex.build(spark, small, validate=False, **kw)
    out = sorted((r.big_id, r.small_id) for r in idx.spatial_join(big, how=how, validate=False).collect())
    used_split = idx.hot_cells is not None
    idx.unpersist()
    return out, used_split


def test_hot_cell_split_invariance(spark):
    rng = random.Random(77)
    small_rows = _skewed_rows(rng, 300)
    big_rows = _skewed_rows(rng, 300)
    base, _ = _run(spark, small_rows, big_rows, "intersects")
    split, used = _run(spark, small_rows, big_rows, "intersects",
                       hot_threshold=20, split_steps=2)
    assert used, "expected hot cells on this skewed corpus"
    assert split == base
    # shuffle (non-broadcast) path too
    split2, used2 = _run(spark, small_rows, big_rows, "intersects",
                         hot_threshold=20, split_steps=3, broadcast=False)
    assert used2 and split2 == base


def test_hot_cell_split_proximity(spark):
    rng = random.Random(78)
    small_rows = _skewed_rows(rng, 200)
    big_rows = _skewed_rows(rng, 200)
    small = geoms_to_df(spark, small_rows)
    big = geoms_to_df(spark, big_rows)
    a = SpatialIndex.build(spark, small, max_distance=0.5, validate=False)
    base = sorted((r.big_id, r.small_id, r.distance) for r in a.proximity_map(big, validate=False).collect())
    a.unpersist()
    b = SpatialIndex.build(spark, small, max_distance=0.5, validate=False, hot_threshold=15)
    assert b.hot_cells is not None
    got = sorted((r.big_id, r.small_id, r.distance) for r in b.proximity_map(big, validate=False).collect())
    b.unpersist()
    assert got == base


def test_knn_hot_split_invariance(spark):
    """kNN composes with hot-cell splitting: identical (big, small,
    rank) sets with and without the split, on a skewed corpus."""
    from spatialjoin.knn import knn_join

    rng = random.Random(79)
    small_rows = [(POINT, [rng.uniform(-0.05, 0.05), rng.uniform(-0.05, 0.05)])
                  if rng.random() < 0.8 else
                  (POINT, [rng.uniform(-8, 8), rng.uniform(-8, 8)])
                  for _ in range(400)]
    big_rows = [(POINT, [rng.uniform(-8, 8), rng.uniform(-8, 8)]) for _ in range(120)]
    small = geoms_to_df(spark, small_rows)
    big = geoms_to_df(spark, big_rows)
    base = sorted(
        (r.big_id, r.small_id, r.distance, r.rank)
        for r in knn_join(spark, small, big, k=3, validate=False).collect()
    )
    idx_probe = SpatialIndex.build(spark, small, validate=False, hot_threshold=30)
    assert idx_probe.hot_cells is not None, "expected hot cells on this corpus"
    idx_probe.unpersist()
    # the sample-bound route's candidate join covers the hot split's
    # fine level; the broadcast
    # route reads the geometry broadcast and must agree too
    for broadcast in (False, True):
        got = sorted(
            (r.big_id, r.small_id, r.distance, r.rank)
            for r in knn_join(spark, small, big, k=3, validate=False, broadcast=broadcast,
                              hot_threshold=30, big_kinds={POINT}).collect()
        )
        assert got == base, broadcast
        assert len({b for b, *_ in got}) == len(big_rows) and len(got) == 3 * len(big_rows)


def test_cogroup_strategy_matches_pairs(spark):
    """The cogroup+STRtree path must produce identical results to the
    candidate-pair path for joins and proximity maps, with and without
    hot-cell splitting."""
    rng = random.Random(91)
    small_rows = _skewed_rows(rng, 150)
    big_rows = _skewed_rows(rng, 150)
    small = geoms_to_df(spark, small_rows)
    big = geoms_to_df(spark, big_rows)
    for kw in ({}, {"hot_threshold": 15}):
        idx = SpatialIndex.build(spark, small, validate=False, **kw)
        for how in ("intersects", "contains", "within"):
            a = sorted((r.big_id, r.small_id) for r in
                       idx.spatial_join(big, how=how, validate=False, strategy="pairs").collect())
            b = sorted((r.big_id, r.small_id) for r in
                       idx.spatial_join(big, how=how, validate=False, strategy="cogroup").collect())
            assert a == b, (how, kw)
        idx.unpersist()
    idxp = SpatialIndex.build(spark, small, max_distance=0.4, validate=False, hot_threshold=15)
    a = sorted((r.big_id, r.small_id, r.distance) for r in
               idxp.proximity_map(big, validate=False, strategy="pairs").collect())
    b = sorted((r.big_id, r.small_id, r.distance) for r in
               idxp.proximity_map(big, validate=False, strategy="cogroup").collect())
    idxp.unpersist()
    assert a == b


def test_cogroup_with_geos_matches_pairs(spark):
    """with_geos through the cogroup strategy: same rows AND same
    geometry payloads as the pairs path (no pair-explosion fallback)."""
    rng = random.Random(92)
    small = geoms_to_df(spark, _skewed_rows(rng, 120))
    big = geoms_to_df(spark, _skewed_rows(rng, 120))

    def key(r):
        return (r.big_id, r.small_id, r.b_kind, tuple(r.b_coords),
                tuple(r.b_rings or []), r.s_kind, tuple(r.s_coords),
                tuple(r.s_rings or []))

    idx = SpatialIndex.build(spark, small, validate=False)
    a = sorted(key(r) for r in idx.spatial_join(
        big, how="intersects", with_geos=True, validate=False, strategy="pairs").collect())
    b = sorted(key(r) for r in idx.spatial_join(
        big, how="intersects", with_geos=True, validate=False, strategy="cogroup").collect())
    assert a == b and len(a) > 0
    idx.unpersist()

    idxp = SpatialIndex.build(spark, small, max_distance=0.4, validate=False)
    pa = sorted((key(r), r.distance) for r in idxp.proximity_map(
        big, with_geos=True, validate=False, strategy="pairs").collect())
    pb = sorted((key(r), r.distance) for r in idxp.proximity_map(
        big, with_geos=True, validate=False, strategy="cogroup").collect())
    assert pa == pb and len(pa) > 0
    idxp.unpersist()

    # a NON-broadcast index must route with_geos through cogroup now
    idxn = SpatialIndex.build(spark, small, validate=False, broadcast=False)
    plan = idxn.spatial_join(
        big, how="intersects", with_geos=True, validate=False
    )._jdf.queryExecution().toString()
    assert "FlatMapCoGroupsInArrow" in plan
    idxn.unpersist()


def test_cogroup_salting_coarse_grid_invariant(spark):
    """A coarse grid (resolution 2 -> <= 16 populated cells) triggers
    group salting in the cogroup strategy; results must be identical to
    the unsalted pairs path for joins AND proximity maps."""
    rng = random.Random(94)
    small = geoms_to_df(spark, _skewed_rows(rng, 100))
    big = geoms_to_df(spark, _skewed_rows(rng, 100))
    idx = SpatialIndex.build(spark, small, validate=False, resolution=2)
    assert idx._n_cells() <= 16
    a = sorted((r.big_id, r.small_id) for r in idx.spatial_join(
        big, how="intersects", validate=False, strategy="pairs").collect())
    b = sorted((r.big_id, r.small_id) for r in idx.spatial_join(
        big, how="intersects", validate=False, strategy="cogroup").collect())
    assert a == b and len(a) > 0
    idx.unpersist()
    idxp = SpatialIndex.build(spark, small, max_distance=0.3, validate=False,
                              resolution=2)
    pa = sorted((r.big_id, r.small_id, r.distance) for r in idxp.proximity_map(
        big, validate=False, strategy="pairs").collect())
    pb = sorted((r.big_id, r.small_id, r.distance) for r in idxp.proximity_map(
        big, validate=False, strategy="cogroup").collect())
    assert pa == pb and len(pa) > 0
    idxp.unpersist()


def test_nonbroadcast_rect_point_uses_jvm_shuffle_join(spark):
    """auto strategy + non-broadcast + rect/point-only workload must
    pick the pure-JVM shuffle equi-join (no Python operator at all),
    and its results must equal the forced cogroup path."""
    from spatialjoin.geom import RECT
    import random

    rng = random.Random(93)
    rows = []
    for _ in range(120):
        x1, x2 = sorted((rng.uniform(-4, 4), rng.uniform(-4, 4)))
        y1, y2 = sorted((rng.uniform(-4, 4), rng.uniform(-4, 4)))
        rows.append((RECT, [x1, y1, x2, y2]))
    small = geoms_to_df(spark, rows[:60])
    big = geoms_to_df(spark, rows[60:])
    idx = SpatialIndex.build(spark, small, validate=False, broadcast=False)
    auto = idx.spatial_join(big, how="intersects", validate=False, big_kinds={RECT})
    plan = auto._jdf.queryExecution().toString()
    for op in ("FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow", "MapInPandas", "MapInArrow"):
        assert op not in plan
    a = sorted((r.big_id, r.small_id) for r in auto.collect())
    b = sorted((r.big_id, r.small_id) for r in idx.spatial_join(
        big, how="intersects", validate=False, big_kinds={RECT},
        strategy="cogroup").collect())
    assert a == b and len(a) > 0
    idx.unpersist()


def _quad_rows(rng, n):
    from spatialjoin.geom import POLYGON

    rows = []
    for _ in range(n):
        cx, cy = rng.uniform(-6, 6), rng.uniform(-6, 6)
        h = rng.uniform(0.05, 0.8)
        rows.append((POLYGON,
                     [cx - h, cy - h, cx + h, cy - h, cx + h, cy + h,
                      cx - h, cy + h, cx - h, cy - h], [0]))
    return rows


def test_nonbroadcast_slim_probe_uses_shuffle_pairs(spark):
    """r5: auto strategy + non-broadcast + slim (point/rect) probes
    against a kernel-needing small side must pick the shuffle-pairs
    plan — NO cogroup — and match the forced cogroup path exactly
    (joins AND prox). r6: uniform hole-free polygon smalls CONTAIN
    point probes now refine via the UNROLLED JVM ray-cast, so that
    plan has NO Python operator at all; rect probes (no SQL
    expression for segment-vs-rect) still ride one MapInArrow."""
    from spatialjoin.geom import POLYGON

    rng = random.Random(95)
    quads = geoms_to_df(spark, _quad_rows(rng, 80))
    pts = geoms_to_df(spark, [(POINT, [rng.uniform(-7, 7), rng.uniform(-7, 7)])
                              for _ in range(200)])
    rects = geoms_to_df(spark, [
        (RECT, sorted_rect(rng)) for _ in range(150)
    ])

    idx = SpatialIndex.build(spark, quads, validate=False, broadcast=False)
    auto = idx.spatial_join(pts, how="contains", validate=False, big_kinds={POINT})
    plan = auto._jdf.queryExecution().toString()
    for op in ("FlatMapCoGroupsInArrow", "FlatMapCoGroupsInPandas",
               "MapInArrow", "MapInPandas", "BatchEvalPython"):
        assert op not in plan, op
    a = sorted((r.big_id, r.small_id) for r in auto.collect())
    b = sorted((r.big_id, r.small_id) for r in idx.spatial_join(
        pts, how="contains", validate=False, big_kinds={POINT},
        strategy="cogroup").collect())
    assert a == b and len(a) > 0

    # slim RECT probes against the polygon small side: same route
    auto_r = idx.spatial_join(rects, how="intersects", validate=False,
                              big_kinds={RECT})
    plan_r = auto_r._jdf.queryExecution().toString()
    assert "FlatMapCoGroupsInArrow" not in plan_r
    assert "MapInArrow" in plan_r and "MapInPandas" not in plan_r
    ar = sorted((r.big_id, r.small_id) for r in auto_r.collect())
    br = sorted((r.big_id, r.small_id) for r in idx.spatial_join(
        rects, how="intersects", validate=False, big_kinds={RECT},
        strategy="cogroup").collect())
    assert ar == br and len(ar) > 0
    idx.unpersist()

    # prox through the same route (buffered bboxes prefilter distance)
    idxp = SpatialIndex.build(spark, quads, max_distance=0.5,
                              validate=False, broadcast=False)
    auto_p = idxp.proximity_map(pts, validate=False, big_kinds={POINT})
    plan_p = auto_p._jdf.queryExecution().toString()
    assert "FlatMapCoGroupsInArrow" not in plan_p
    assert "MapInArrow" in plan_p
    pa = sorted((r.big_id, r.small_id, round(r.distance, 12))
                for r in auto_p.collect())
    pb = sorted((r.big_id, r.small_id, round(r.distance, 12))
                for r in idxp.proximity_map(
                    pts, validate=False, big_kinds={POINT},
                    strategy="cogroup").collect())
    assert pa == pb and len(pa) > 0
    idxp.unpersist()

    # BROADCAST slim rect probes vs polygon small side now refine
    # through the same Arrow stream (no pandas): equivalence vs cogroup
    idxb = SpatialIndex.build(spark, quads, validate=False)
    auto_b = idxb.spatial_join(rects, how="intersects", validate=False,
                               big_kinds={RECT})
    plan_b = auto_b._jdf.queryExecution().toString()
    assert "MapInArrow" in plan_b and "MapInPandas" not in plan_b
    ab = sorted((r.big_id, r.small_id) for r in auto_b.collect())
    bb = sorted((r.big_id, r.small_id) for r in idxb.spatial_join(
        rects, how="intersects", validate=False, big_kinds={RECT},
        strategy="cogroup").collect())
    assert ab == bb and len(ab) > 0
    idxb.unpersist()


def test_nonbroadcast_general_probe_uses_pairs(spark):
    """r6 (VERDICT r05 ask #2): auto strategy + non-broadcast +
    GENERAL-geometry probes (linestrings / polygons) must pick the
    shuffle-pairs plan — one MapInArrow over the JVM cell equi-join
    carrying BOTH geometries, NO cogroup — and match the forced
    cogroup path exactly, for joins AND proximity maps."""
    from spatialjoin.geom import LINESTRING, POLYGON

    rng = random.Random(96)
    quads = geoms_to_df(spark, _quad_rows(rng, 70))
    paths = []
    for _ in range(120):
        x, y = rng.uniform(-7, 7), rng.uniform(-7, 7)
        pts = [x, y]
        for _ in range(2):
            x += rng.uniform(-0.8, 0.8)
            y += rng.uniform(-0.8, 0.8)
            pts += [x, y]
        paths.append((LINESTRING, pts))
    lines = geoms_to_df(spark, paths)

    idx = SpatialIndex.build(spark, quads, validate=False, broadcast=False)
    auto = idx.spatial_join(lines, how="intersects", validate=False,
                            big_kinds={LINESTRING})
    plan = auto._jdf.queryExecution().toString()
    assert "FlatMapCoGroupsInArrow" not in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "MapInArrow" in plan and "MapInPandas" not in plan
    a = sorted((r.big_id, r.small_id) for r in auto.collect())
    b = sorted((r.big_id, r.small_id) for r in idx.spatial_join(
        lines, how="intersects", validate=False, big_kinds={LINESTRING},
        strategy="cogroup").collect())
    assert a == b and len(a) > 0
    # polygon probes too (no big_kinds hint at all: the general route)
    auto2 = idx.spatial_join(geoms_to_df(spark, _quad_rows(rng, 60)),
                             how="intersects", validate=False)
    plan2 = auto2._jdf.queryExecution().toString()
    assert "FlatMapCoGroupsInArrow" not in plan2
    assert "MapInArrow" in plan2 and "MapInPandas" not in plan2
    idx.unpersist()

    # proximity with general probes through the same route
    idxp = SpatialIndex.build(spark, quads, max_distance=0.4,
                              validate=False, broadcast=False)
    auto_p = idxp.proximity_map(lines, validate=False,
                                big_kinds={LINESTRING})
    plan_p = auto_p._jdf.queryExecution().toString()
    assert "FlatMapCoGroupsInArrow" not in plan_p
    assert "MapInArrow" in plan_p and "MapInPandas" not in plan_p
    pa = sorted((r.big_id, r.small_id, r.distance) for r in auto_p.collect())
    pb = sorted((r.big_id, r.small_id, r.distance) for r in idxp.proximity_map(
        lines, validate=False, big_kinds={LINESTRING},
        strategy="cogroup").collect())
    assert pa == pb and len(pa) > 0
    idxp.unpersist()


def test_cogroup_bbox_only_matches_pairs(spark):
    """r6: the cogroup bbox-only fast path (rect/point small side x
    slim probe, max_distance 0, join op — no geometry shipped, no
    kernel calls) must equal the pairs path for all three predicates
    and both slim probe kinds."""
    rng = random.Random(97)
    small = geoms_to_df(spark, _skewed_rows(rng, 150))
    pts = geoms_to_df(spark, [(POINT, [rng.uniform(-8, 8), rng.uniform(-8, 8)])
                              for _ in range(150)])
    rects = geoms_to_df(spark, [(RECT, sorted_rect(rng)) for _ in range(150)])
    idx = SpatialIndex.build(spark, small, validate=False, broadcast=False)
    for big, bk in ((pts, POINT), (rects, RECT)):
        for how in ("intersects", "contains", "within"):
            a = sorted((r.big_id, r.small_id) for r in idx.spatial_join(
                big, how=how, validate=False, big_kinds={bk},
                strategy="cogroup").collect())
            b = sorted((r.big_id, r.small_id) for r in idx.spatial_join(
                big, how=how, validate=False,
                strategy="pairs").collect())
            assert a == b, (how, bk)
    idx.unpersist()


def sorted_rect(rng):
    x1, x2 = sorted((rng.uniform(-7, 7), rng.uniform(-7, 7)))
    y1, y2 = sorted((rng.uniform(-7, 7), rng.uniform(-7, 7)))
    return [x1, y1, x2, y2]
