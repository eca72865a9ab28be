"""End-to-end engine tests: SpatialIndex through a real local SparkSession,
differentially checked against the nested-loop oracle (the reference's
test strategy, /root/reference/src/proptests.rs:109-144)."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from spatialjoin.geom import LINE, LINESTRING, POINT, POLYGON, RECT, TRIANGLE, GeomBatch
from spatialjoin.index import SpatialIndex
from spatialjoin.oracle import slow_prox_map, slow_spatial_join
from spatialjoin.sparkutil import geoms_to_df


def gb(rows):
    kinds = [r[0] for r in rows]
    coords = [r[1] for r in rows]
    rings = [r[2] if len(r) > 2 else None for r in rows]
    return GeomBatch.from_lists(kinds, coords, rings)


def run_join(spark, small_rows, big_rows, how, **kw):
    small = geoms_to_df(spark, small_rows)
    big = geoms_to_df(spark, big_rows)
    idx = SpatialIndex.build(spark, small, **kw)
    out = idx.spatial_join(big, how=how).collect()
    idx.unpersist()
    return sorted((r.big_id, r.small_id) for r in out)


def run_prox(spark, small_rows, big_rows, max_distance, **kw):
    small = geoms_to_df(spark, small_rows)
    big = geoms_to_df(spark, big_rows)
    idx = SpatialIndex.build(spark, small, max_distance=max_distance, **kw)
    out = idx.proximity_map(big).collect()
    idx.unpersist()
    return sorted((r.big_id, r.small_id, r.distance) for r in out)


# -- pinned unit cases through the full engine (src/lib.rs:464-526) ----------


def test_simple_index_self(spark):
    rows = [(POINT, [1.0, 1.0])]
    assert run_prox(spark, rows, rows, 4.0) == [(0, 0, 0.0)]


def test_self_spatial_join_pair(spark):
    pts = [(POINT, [1.0, 1.0]), (POINT, [22.0, 22.0])]
    assert run_join(spark, pts, pts, "intersects") == [(0, 0), (1, 1)]


def test_simple_index_some_other(spark):
    assert run_prox(spark, [(POINT, [1.0, 1.0])], [(POINT, [2.0, 1.0])], 4.0) == [(0, 0, 1.0)]


def test_simple_index_none(spark):
    assert run_prox(spark, [(POINT, [1.0, 1.0])], [(POINT, [2.0, 1.0])], 0.5) == []


def test_contains_and_within(spark):
    small = [(RECT, [-1.0, -1.0, 1.0, 1.0])]
    big = [(RECT, [-0.5, -0.5, 0.5, 0.5])]
    assert run_join(spark, small, big, "contains") == [(0, 0)]
    assert run_join(spark, small, big, "within") == []
    assert run_join(spark, big, small, "within") == [(0, 0)]


def test_with_geos_roundtrip(spark):
    small = geoms_to_df(spark, [(RECT, [-1.0, -1.0, 1.0, 1.0])])
    big = geoms_to_df(spark, [(POINT, [0.25, 0.5])])
    idx = SpatialIndex.build(spark, small)
    # 'contains' = small contains big (src/index.rs:505-533)
    rows = idx.spatial_join(big, how="contains", with_geos=True).collect()
    idx.unpersist()
    assert len(rows) == 1
    r = rows[0]
    assert r.b_kind == POINT and list(r.b_coords) == [0.25, 0.5]
    assert r.s_kind == RECT and list(r.s_coords) == [-1.0, -1.0, 1.0, 1.0]


# -- validation surfaces through Spark ----------------------------------------


def test_validation_raises_through_spark(spark):
    bad = geoms_to_df(spark, [(POINT, [float("nan"), 0.0])])
    small = geoms_to_df(spark, [(POINT, [0.0, 0.0])])
    idx = SpatialIndex.build(spark, small)
    with pytest.raises(Exception, match="non-finite"):
        idx.spatial_join(bad).collect()
    idx.unpersist()


@pytest.mark.parametrize("route", ["broadcast", "pairs", "with_geos", "cogroup"])
def test_nonfinite_distance_raises_value_error(spark, route):
    """validate=False lets a NaN coordinate reach the worker refine; the
    finite-distance contract (index.rs:436) must then fail the query
    with a ValueError, also under python -O (where an assert would
    vanish and the pair silently drop). On the cogroup route the NaN
    bbox would fail the group's overlap mask first, so the group's
    bboxes are checked too."""
    small = geoms_to_df(spark, [(RECT, [float("nan"), -1.0, 1.0, 1.0]),
                                (RECT, [2.0, 2.0, 3.0, 3.0])])
    big = geoms_to_df(spark, [(POINT, [0.7, 0.0]), (POINT, [2.5, 2.5])])
    idx = SpatialIndex.build(spark, small, max_distance=0.5, extent=(-4.0, -4.0, 4.0, 4.0),
                             resolution=3, validate=False,
                             broadcast=route not in ("pairs", "cogroup"))
    kw = {"with_geos": True} if route == "with_geos" else {"big_kinds": {POINT}}
    if route == "cogroup":
        kw["strategy"] = "cogroup"
    with pytest.raises(Exception, match="ValueError: non-finite distance"):
        idx.proximity_map(big, validate=False, **kw).collect()
    idx.unpersist()


def test_bad_max_distance_rejected(spark):
    small = geoms_to_df(spark, [(POINT, [0.0, 0.0])])
    from spatialjoin.geom import BadMaxDistance

    with pytest.raises(BadMaxDistance):
        SpatialIndex.build(spark, small, max_distance=-2.0)


# -- differential: engine == oracle on random mixed corpora ------------------


def _random_rows(rng, n):
    rows = []
    for _ in range(n):
        k = rng.choice([POINT, LINE, LINESTRING, POLYGON, RECT, TRIANGLE])
        c = lambda: rng.uniform(-1.0, 1.0)
        if k == POINT:
            rows.append((POINT, [c(), c()]))
        elif k == LINE:
            rows.append((LINE, [c(), c(), c(), c()]))
        elif k == LINESTRING:
            m = rng.randint(2, 8)
            rows.append((LINESTRING, [c() for _ in range(2 * m)]))
        elif k == RECT:
            x1, y1, x2, y2 = c(), c(), c(), c()
            rows.append((RECT, [min(x1, x2), min(y1, y2), max(x1, x2), max(y1, y2)]))
        elif k == TRIANGLE:
            rows.append((TRIANGLE, [c() for _ in range(6)]))
        else:
            nv = rng.randint(3, 9)
            r = rng.uniform(0.05, 0.5)
            cx, cy = c(), c()
            pts = []
            for i in range(nv):
                a = 2 * math.pi * i / nv
                pts += [cx + r * math.cos(a), cy + r * math.sin(a)]
            rows.append((POLYGON, pts, [0]))
    return rows


@pytest.mark.parametrize("seed,how", [(1, "intersects"), (2, "contains"), (3, "within"), (4, "intersects")])
def test_join_matches_oracle(spark, seed, how):
    rng = random.Random(seed)
    small_rows = _random_rows(rng, 40)
    big_rows = _random_rows(rng, 60)
    want = slow_spatial_join(gb(small_rows), gb(big_rows), how)
    got = run_join(spark, small_rows, big_rows, how)
    assert got == want


@pytest.mark.parametrize("seed,max_d", [(5, 0.0), (6, 0.3), (7, 1.5)])
def test_prox_matches_oracle(spark, seed, max_d):
    rng = random.Random(seed)
    small_rows = _random_rows(rng, 30)
    big_rows = _random_rows(rng, 40)
    want = slow_prox_map(gb(small_rows), gb(big_rows), max_d)
    got = run_prox(spark, small_rows, big_rows, max_d)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:2] == w[:2]
        assert math.isclose(g[2], w[2], rel_tol=1e-12, abs_tol=1e-15)


def test_resolution_invariance(spark):
    """The same join at different grid resolutions must give identical
    results (covering is a filter, refine decides)."""
    rng = random.Random(11)
    small_rows = _random_rows(rng, 25)
    big_rows = _random_rows(rng, 25)
    base = run_join(spark, small_rows, big_rows, "intersects", resolution=2,
                    extent=(-2.0, -2.0, 2.0, 2.0))
    for res in (4, 6):
        got = run_join(spark, small_rows, big_rows, "intersects", resolution=res,
                       extent=(-2.0, -2.0, 2.0, 2.0))
        assert got == base


def test_broadcast_and_shuffle_agree(spark):
    rng = random.Random(12)
    small_rows = _random_rows(rng, 20)
    big_rows = _random_rows(rng, 30)
    a = run_join(spark, small_rows, big_rows, "intersects", broadcast=True)
    b = run_join(spark, small_rows, big_rows, "intersects", broadcast=False)
    assert a == b


def test_fat_geometries_skip_broadcast(spark, monkeypatch):
    """auto-broadcast is byte-budgeted: a small side of few-but-fat
    polygons must take the cogroup path, not collect into the driver."""
    import math

    from spatialjoin import index as index_mod
    from spatialjoin.geom import POLYGON

    rng = random.Random(13)
    fat = []
    for i in range(12):
        cx, cy = rng.uniform(-4, 4), rng.uniform(-4, 4)
        pts = []
        for a in range(101):  # 100-vertex closed ring
            ang = 2 * math.pi * (a % 100) / 100
            pts += [cx + 0.5 * math.cos(ang), cy + 0.5 * math.sin(ang)]
        fat.append((POLYGON, pts, [0]))
    big_rows = _random_rows(rng, 40)
    monkeypatch.setattr(index_mod, "BROADCAST_BYTE_BUDGET", 4096)
    small = geoms_to_df(spark, fat)
    big = geoms_to_df(spark, big_rows)
    idx = SpatialIndex.build(spark, small, validate=False)
    assert not idx.broadcast_small, "byte budget should disable broadcast"
    got = sorted((r.big_id, r.small_id) for r in
                 idx.spatial_join(big, how="intersects", validate=False).collect())
    idx.unpersist()
    monkeypatch.setattr(index_mod, "BROADCAST_BYTE_BUDGET", 128 * 1024 * 1024)
    idx2 = SpatialIndex.build(spark, small, validate=False)
    assert idx2.broadcast_small
    want = sorted((r.big_id, r.small_id) for r in
                  idx2.spatial_join(big, how="intersects", validate=False).collect())
    idx2.unpersist()
    assert got == want


def _mixed_size_rows(rng, n):
    """Bimodal corpus: many tiny shapes + a few huge ones (the covering
    blowup case a single-resolution grid handles badly)."""
    rows = []
    for i in range(n):
        cx, cy = rng.uniform(-8, 8), rng.uniform(-8, 8)
        if i % 17 == 0:
            h = rng.uniform(3.0, 7.0)  # huge
        else:
            h = rng.uniform(0.01, 0.1)  # tiny
        if rng.random() < 0.5:
            rows.append((RECT, [cx - h, cy - h, cx + h, cy + h]))
        else:
            rows.append((POLYGON, [cx + h, cy, cx, cy + h, cx - h, cy, cx, cy - h,
                                   cx + h, cy], [0]))
    return rows


def test_multilevel_index_invariance(spark):
    """Size-stratified multilevel covering returns IDENTICAL results to
    the single-resolution index, for joins and proximity maps, on a
    corpus mixing huge and tiny geometries."""
    rng = random.Random(23)
    small_rows = _mixed_size_rows(rng, 200)
    big_rows = _mixed_size_rows(rng, 200)
    small = geoms_to_df(spark, small_rows)
    big = geoms_to_df(spark, big_rows)
    for how in ("intersects", "contains", "within"):
        base = run_join(spark, small_rows, big_rows, how)
        idx = SpatialIndex.build(spark, small, validate=False, multilevel=True)
        assert idx.levels is not None and len(idx.levels) >= 2, idx.levels
        got = sorted((r.big_id, r.small_id) for r in
                     idx.spatial_join(big, how=how, validate=False).collect())
        idx.unpersist()
        assert got == base, how
    a = SpatialIndex.build(spark, small, max_distance=0.5, validate=False)
    want = sorted((r.big_id, r.small_id, r.distance) for r in
                  a.proximity_map(big, validate=False).collect())
    a.unpersist()
    b = SpatialIndex.build(spark, small, max_distance=0.5, validate=False,
                           multilevel=True)
    got = sorted((r.big_id, r.small_id, r.distance) for r in
                 b.proximity_map(big, validate=False).collect())
    b.unpersist()
    assert got == want


def test_multilevel_bounds_covering(spark):
    """The point of the multilevel index: per-geometry covering stays
    O(1) cells no matter the geometry size (a huge shape at the fine
    resolution would cover thousands)."""
    rng = random.Random(29)
    small_rows = _mixed_size_rows(rng, 150)
    small = geoms_to_df(spark, small_rows)
    from pyspark.sql import functions as F

    idx = SpatialIndex.build(spark, small, validate=False, multilevel=True)
    per_geom = idx.small_cells.groupBy("small_id").count().agg(F.max("count")).first()[0]
    idx.unpersist()
    assert per_geom <= 9, f"multilevel covering should be <= 9 cells, got {per_geom}"
    idx1 = SpatialIndex.build(spark, small, validate=False)
    per_geom1 = idx1.small_cells.groupBy("small_id").count().agg(F.max("count")).first()[0]
    idx1.unpersist()
    assert per_geom1 > per_geom, "single-res covering should blow up on huge shapes"


def test_multilevel_cogroup_strategy(spark):
    rng = random.Random(31)
    small_rows = _mixed_size_rows(rng, 120)
    big_rows = _mixed_size_rows(rng, 120)
    small = geoms_to_df(spark, small_rows)
    big = geoms_to_df(spark, big_rows)
    idx = SpatialIndex.build(spark, small, validate=False, multilevel=True)
    a = sorted((r.big_id, r.small_id) for r in
               idx.spatial_join(big, validate=False, strategy="pairs").collect())
    b = sorted((r.big_id, r.small_id) for r in
               idx.spatial_join(big, validate=False, strategy="cogroup").collect())
    idx.unpersist()
    assert a == b


def test_probe_outside_extent_is_safe(spark):
    """Probe-side geometry outside the index extent must not match
    spuriously nor crash (it clamps into edge cells; refine rejects)."""
    small = [(RECT, [0.0, 0.0, 1.0, 1.0])]
    big = [(POINT, [50.0, 50.0]), (POINT, [0.5, 0.5])]
    assert run_join(spark, small, big, "contains") == [(1, 0)]


def test_sql_fast_path_matches_kernel_path(spark):
    """rect/point joins with a big_kinds hint (pure-SQL refine) must
    equal the kernel path on every `how`, incl. degenerate shapes."""
    rng = random.Random(42)
    rows = []
    for _ in range(60):
        if rng.random() < 0.5:
            rows.append((POINT, [rng.uniform(-2, 2), rng.uniform(-2, 2)]))
        else:
            x1, x2 = sorted((rng.uniform(-2, 2), rng.uniform(-2, 2)))
            y1, y2 = sorted((rng.uniform(-2, 2), rng.uniform(-2, 2)))
            rows.append((RECT, [x1, y1, x2, y2]))
    rows += [(RECT, [0.0, 0.0, 0.0, 0.0]), (POINT, [0.0, 0.0])]  # degenerate
    small = geoms_to_df(spark, rows)
    big = geoms_to_df(spark, rows)
    from spatialjoin.geom import POINT as P, RECT as R

    for how in ("intersects", "contains", "within"):
        idx = SpatialIndex.build(spark, small, validate=False)
        fast = sorted(
            (r.big_id, r.small_id)
            for r in idx.spatial_join(big, how=how, validate=False, big_kinds={P, R}).collect()
        )
        slow = sorted(
            (r.big_id, r.small_id)
            for r in idx.spatial_join(big, how=how, validate=False).collect()
        )
        idx.unpersist()
        assert fast == slow, how
        assert fast == slow_spatial_join(gb(rows), gb(rows), how)


def test_sql_pip_and_prox_fast_paths(spark):
    """The JVM point-distance fast path must equal the kernel path
    bit-for-bit (incl. points on/near polygon boundaries)."""
    rng = random.Random(57)
    polys = []
    for _ in range(30):
        nv = rng.randint(3, 9)
        r = rng.uniform(0.1, 1.5)
        cx, cy = rng.uniform(-5, 5), rng.uniform(-5, 5)
        pts = []
        for i in range(nv):
            a = 2 * math.pi * i / nv
            pts += [cx + r * math.cos(a), cy + r * math.sin(a)]
        polys.append((POLYGON, pts, [0]))
    points = [(POINT, [rng.uniform(-5, 5), rng.uniform(-5, 5)]) for _ in range(200)]
    # exact-boundary probes: vertices and edge midpoints of the first poly
    pp = polys[0][1]
    points += [(POINT, [pp[0], pp[1]]), (POINT, [(pp[0] + pp[2]) / 2, (pp[1] + pp[3]) / 2])]
    big = geoms_to_df(spark, points)
    # prox fast path with exact distance equality (the JVM PIP is
    # checked by test_sql_pip_unrolled_matches_kernels)
    sup = geoms_to_df(spark, points[:40])
    idx3 = SpatialIndex.build(spark, sup, max_distance=1.5, validate=False)
    fast_p = sorted(tuple(r) for r in idx3.proximity_map(big, validate=False, big_kinds={POINT}).collect())
    slow_p = sorted(tuple(r) for r in idx3.proximity_map(big, validate=False, strategy="pairs").collect())
    assert fast_p == slow_p
    idx3.unpersist()


def test_sql_pip_unrolled_matches_kernels(spark):
    """r6: uniform-vertex-count hole-free polygon smalls CONTAIN point
    probes refine via the UNROLLED pure-JVM ray-cast by default. It
    must (a) actually engage (no Python operator in the plan, broadcast
    AND non-broadcast), (b) agree with the kernel path bit-for-bit,
    including probes exactly on vertices and edge midpoints."""
    rng = random.Random(58)
    polys = []
    for _ in range(40):
        # all 6-vertex (7 closed ring points -> uniform coords size 14)
        nv = 6
        r = rng.uniform(0.1, 1.5)
        cx, cy = rng.uniform(-5, 5), rng.uniform(-5, 5)
        pts = []
        for i in range(nv):
            a = 2 * math.pi * i / nv
            pts += [cx + r * math.cos(a), cy + r * math.sin(a)]
        polys.append((POLYGON, pts, [0]))
    points = [(POINT, [rng.uniform(-5, 5), rng.uniform(-5, 5)]) for _ in range(300)]
    # exact-boundary probes: vertices and edge midpoints of every poly
    for pp in (polys[0][1], polys[7][1], polys[19][1]):
        points += [(POINT, [pp[0], pp[1]]),
                   (POINT, [(pp[0] + pp[2]) / 2, (pp[1] + pp[3]) / 2])]
    small = geoms_to_df(spark, polys)
    big = geoms_to_df(spark, points)
    for bkw in (dict(), dict(broadcast=False)):
        idx = SpatialIndex.build(spark, small, validate=False, **bkw)
        assert idx._pip_unroll_npts("contains", {POINT}) == 7
        auto = idx.spatial_join(big, how="contains", validate=False,
                                big_kinds={POINT})
        plan = auto._jdf.queryExecution().toString()
        for op in ("MapInArrow", "MapInPandas", "FlatMapCoGroupsInArrow",
                   "FlatMapCoGroupsInPandas", "BatchEvalPython"):
            assert op not in plan, (op, bkw)
        fast = sorted((r.big_id, r.small_id) for r in auto.collect())
        # kernel path: omit big_kinds so no SQL fast path can engage
        slow = sorted((r.big_id, r.small_id) for r in
                      idx.spatial_join(big, how="contains",
                                       validate=False).collect())
        assert fast == slow and len(fast) > 0, bkw
        idx.unpersist()
    # NON-uniform corpora must refuse the unroll (stats say so)
    mixed = polys + [(POLYGON, polys[0][1][:8], [0])]
    idxm = SpatialIndex.build(spark, geoms_to_df(spark, mixed), validate=False)
    assert idxm._pip_unroll_npts("contains", {POINT}) is None
    idxm.unpersist()


def _plan_route(caplog, op):
    """The route named by the call's one ``<op> route=`` DEBUG record."""
    import re

    routes = [re.match(rf"{op} route=(\S+) reason=", m).group(1)
              for m in caplog.messages if m.startswith(f"{op} route=")]
    assert len(routes) == 1, caplog.messages
    return routes[0]


def _route_rows(kind, n, rng):
    rows = []
    for _ in range(n):
        x, y = rng.uniform(-3, 3), rng.uniform(-3, 3)
        if kind == POINT:
            rows.append((POINT, [x, y]))
        elif kind == RECT:
            rows.append((RECT, [x, y, x + rng.uniform(0, 1), y + rng.uniform(0, 1)]))
        elif kind == TRIANGLE:
            rows.append((TRIANGLE, [x, y, x + rng.uniform(0.2, 1.2), y,
                                    x, y + rng.uniform(0.2, 1.2)]))
        else:
            rows.append((LINESTRING, [x, y, x + rng.uniform(-1, 1), y + rng.uniform(-1, 1),
                                      x + rng.uniform(-1, 1), y + rng.uniform(-1, 1)]))
    return rows


# (small kind, probe kind, build kwargs, op, call kwargs, expected route)
_ROUTES = {
    "broadcast-jvm": (RECT, RECT, {}, "join", {"big_kinds": {RECT}}, "jvm"),
    "broadcast-arrow": (TRIANGLE, LINESTRING, {}, "join", {"big_kinds": {LINESTRING}}, "arrow"),
    "shuffle-jvm": (RECT, RECT, {"broadcast": False}, "join", {"big_kinds": {RECT}}, "jvm"),
    "shuffle-arrow": (TRIANGLE, LINESTRING, {"broadcast": False}, "join", {}, "arrow"),
    "prox-point-point": (POINT, POINT, {"max_distance": 0.4}, "prox", {"big_kinds": {POINT}},
                         "jvm"),
    "forced-cogroup": (TRIANGLE, RECT, {}, "join",
                       {"big_kinds": {RECT}, "strategy": "cogroup"}, "cogroup"),
    "shuffle-with-geos": (TRIANGLE, POINT, {"broadcast": False}, "join", {"with_geos": True},
                          "cogroup"),
    "shuffle-with-geos-jvm": (RECT, POINT, {"broadcast": False}, "join",
                              {"with_geos": True, "big_kinds": {POINT}}, "jvm"),
    "broadcast-with-geos": (TRIANGLE, POINT, {"max_distance": 0.3}, "prox",
                            {"with_geos": True}, "arrow"),
    "broadcast-with-geos-jvm": (POINT, POINT, {"max_distance": 0.4}, "prox",
                                {"with_geos": True, "big_kinds": {POINT}}, "jvm"),
    "buffered-slim-join": (TRIANGLE, POINT, {"max_distance": 0.5, "broadcast": False}, "join",
                           {"big_kinds": {POINT}}, "arrow"),
}


@pytest.mark.parametrize("case", list(_ROUTES))
def test_route_table(spark, caplog, case):
    """SpatialIndex._plan's routing table, read from the one DEBUG
    record each call logs: exact rows on every route against the
    nested-loop oracle, no geometry broadcast collected on a JVM route,
    no pandas operator anywhere, and no Spark job for the decision."""
    import logging

    skind, bkind, build_kw, op, kw, route = _ROUTES[case]
    rng = random.Random(case)
    small_rows, big_rows = _route_rows(skind, 60, rng), _route_rows(bkind, 80, rng)
    idx = SpatialIndex.build(spark, geoms_to_df(spark, small_rows), validate=False,
                             **build_kw)
    big = geoms_to_df(spark, big_rows)
    caplog.set_level(logging.DEBUG, logger="spatialjoin.index")
    if op == "join":
        out = idx.spatial_join(big, how="intersects", validate=False, **kw)
        want = slow_spatial_join(gb(small_rows), gb(big_rows), "intersects",
                                 idx.max_distance)
    else:
        out = idx.proximity_map(big, validate=False, **kw)
        want = slow_prox_map(gb(small_rows), gb(big_rows), idx.max_distance)
    assert _plan_route(caplog, op) == route
    assert "MapInPandas" not in out._jdf.queryExecution().toString()
    rows = out.collect()
    got = sorted(tuple(r)[:3 if op == "prox" else 2] for r in rows)
    assert got == want and len(want) > 0
    if kw.get("with_geos"):
        for r in rows:
            assert list(r.b_coords) == big_rows[r.big_id][1]
            assert list(r.s_coords) == small_rows[r.small_id][1]
    if route == "jvm":
        assert idx._small_geo_bc_val is None
    if case == "buffered-slim-join":
        forced = idx.spatial_join(big, how="intersects", validate=False,
                                  big_kinds={POINT}, strategy="cogroup").collect()
        assert sorted(tuple(r) for r in forced) == got
    sc = spark.sparkContext
    sc.setJobGroup("route-plan", "route decision")
    try:
        idx._plan(op, "intersects" if op == "join" else None,
                  kw.get("with_geos", False), kw.get("strategy", "auto"),
                  kw.get("big_kinds"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("route-plan") == []
    idx.unpersist()


def _random_rows_with_holes(rng, n):
    rows = _random_rows(rng, n)
    out = []
    for r in rows:
        if r[0] == POLYGON and rng.random() < 0.5:
            # punch a concentric half-scale hole (closed ring handling
            # through Arrow/from_columns is what this exercises)
            pts = r[1]
            nv = len(pts) // 2
            cx = sum(pts[0::2]) / nv
            cy = sum(pts[1::2]) / nv
            hole = []
            for i in range(nv):
                hole += [cx + (pts[2 * i] - cx) * 0.5, cy + (pts[2 * i + 1] - cy) * 0.5]
            out.append((POLYGON, pts + hole, [0, nv]))
        else:
            out.append(r)
    return out


@pytest.mark.parametrize("seed,how", [(61, "intersects"), (62, "contains"), (63, "within")])
def test_join_matches_oracle_with_holes(spark, seed, how):
    rng = random.Random(seed)
    small_rows = _random_rows_with_holes(rng, 35)
    big_rows = _random_rows_with_holes(rng, 50)
    want = slow_spatial_join(gb(small_rows), gb(big_rows), how)
    got = run_join(spark, small_rows, big_rows, how)
    assert got == want


def test_prox_matches_oracle_with_holes(spark):
    rng = random.Random(64)
    small_rows = _random_rows_with_holes(rng, 30)
    big_rows = _random_rows_with_holes(rng, 30)
    want = slow_prox_map(gb(small_rows), gb(big_rows), 0.8)
    got = run_prox(spark, small_rows, big_rows, 0.8)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:2] == w[:2] and math.isclose(g[2], w[2], rel_tol=1e-12, abs_tol=1e-15)


def test_join_matches_oracle_large(spark):
    """Heavier randomized differential (300x400 mixed kinds)."""
    rng = random.Random(65)
    small_rows = _random_rows_with_holes(rng, 300)
    big_rows = _random_rows_with_holes(rng, 400)
    want = slow_spatial_join(gb(small_rows), gb(big_rows), "intersects")
    got = run_join(spark, small_rows, big_rows, "intersects")
    assert got == want


def test_pair_filter_pushdown_and_equivalence(spark):
    """pair_filter: (a) the predicate sits BELOW the Python refine in
    the physical plan (dropped candidates never cross the Arrow
    boundary); (b) results equal join-then-filter on every strategy,
    including the cogroup fallback where it is applied post-refine."""
    import random

    from spatialjoin.geom import POINT, POLYGON
    from spatialjoin.index import SpatialIndex
    from spatialjoin.sparkutil import geoms_to_df
    from pyspark.sql import functions as F

    rng = random.Random(17)
    quads = []
    for i in range(60):
        cx, cy = rng.uniform(-6, 6), rng.uniform(-6, 6)
        h = rng.uniform(0.1, 0.9)
        ring = [cx - h, cy - h, cx + h, cy - h, cx + h, cy + h,
                cx - h, cy + h, cx - h, cy - h]
        if i % 10 == 0:
            # mixed vertex counts: keeps the r6 unrolled-JVM PIP OFF so
            # this test still exercises the Python refine it is about
            ring = ring[:6] + [cx, cy + 1.3 * h] + ring[6:]
        quads.append((POLYGON, ring, [0]))
    pts = [(POINT, [rng.uniform(-7, 7), rng.uniform(-7, 7)]) for _ in range(500)]
    qdf, pdf = geoms_to_df(spark, quads), geoms_to_df(spark, pts)
    pred = ((F.col("big_id") % 101) * 7 + (F.col("small_id") % 101) * 3) % 4 == 0

    idx = SpatialIndex.build(spark, qdf, validate=False)
    sampled = idx.spatial_join(pdf, how="contains", validate=False,
                               big_kinds={POINT}, pair_filter=pred)
    plan = sampled._jdf.queryExecution().executedPlan().toString()
    # the Filter on the pair hash must appear BELOW (after, in print
    # order) the Python operator line — i.e. in its child subtree
    lines = plan.splitlines()
    py_at = [i for i, l in enumerate(lines)
             if "MapInArrow" in l or "MapInPandas" in l]
    # Catalyst may keep the predicate as a Filter node or fuse it into
    # the cell join's condition — either way it must sit BELOW the
    # Python operator (toString prints children below their parent)
    flt_at = [i for i, l in enumerate(lines) if "% 101" in l]
    assert py_at and flt_at, plan
    assert min(flt_at) > min(py_at), plan
    full = idx.spatial_join(pdf, how="contains", validate=False,
                            big_kinds={POINT})
    want = sorted((r.big_id, r.small_id) for r in full.where(pred).collect())
    got = sorted((r.big_id, r.small_id) for r in sampled.collect())
    assert got == want and 0 < len(got) < full.count()

    # cogroup strategy: post-refine application, same rows
    cg = idx.spatial_join(pdf, how="contains", validate=False,
                          big_kinds={POINT}, strategy="cogroup",
                          pair_filter=pred)
    assert sorted((r.big_id, r.small_id) for r in cg.collect()) == want
    idx.unpersist()

    # non-broadcast shuffle-pairs route honours the filter too
    idx2 = SpatialIndex.build(spark, qdf, validate=False, broadcast=False)
    sp = idx2.spatial_join(pdf, how="contains", validate=False,
                           big_kinds={POINT}, pair_filter=pred)
    assert sorted((r.big_id, r.small_id) for r in sp.collect()) == want
    idx2.unpersist()


def test_pair_filter_proximity_equivalence(spark):
    """proximity_map(pair_filter=...) == proximity_map then filter, on
    the JVM point-point fast path, the general kernel path, and the
    forced cogroup strategy."""
    import random

    from spatialjoin.geom import LINESTRING, POINT
    from spatialjoin.index import SpatialIndex
    from spatialjoin.sparkutil import geoms_to_df
    from pyspark.sql import functions as F

    rng = random.Random(23)
    pts_s = [(POINT, [rng.uniform(-6, 6), rng.uniform(-6, 6)]) for _ in range(120)]
    pts_b = [(POINT, [rng.uniform(-6, 6), rng.uniform(-6, 6)]) for _ in range(400)]
    lines = [(LINESTRING, [rng.uniform(-6, 6), rng.uniform(-6, 6),
                           rng.uniform(-6, 6), rng.uniform(-6, 6)])
             for _ in range(120)]
    pred = ((F.col("big_id") % 53) + (F.col("small_id") % 53)) % 3 == 0

    for small_rows in (pts_s, lines):
        sdf = geoms_to_df(spark, small_rows)
        bdf = geoms_to_df(spark, pts_b)
        idx = SpatialIndex.build(spark, sdf, max_distance=0.8, validate=False)
        full = idx.proximity_map(bdf, validate=False, big_kinds={POINT})
        want = sorted((r.big_id, r.small_id, r.distance)
                      for r in full.where(pred).collect())
        got = sorted((r.big_id, r.small_id, r.distance)
                     for r in idx.proximity_map(
                         bdf, validate=False, big_kinds={POINT},
                         pair_filter=pred).collect())
        assert got == want and len(got) > 0
        cg = sorted((r.big_id, r.small_id, r.distance)
                    for r in idx.proximity_map(
                        bdf, validate=False, big_kinds={POINT},
                        strategy="cogroup", pair_filter=pred).collect())
        assert cg == want
        idx.unpersist()
