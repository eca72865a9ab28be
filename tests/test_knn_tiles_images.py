"""kNN join, tile assignment, and the synthetic image table."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from spatialjoin.geom import LINESTRING, POINT, POLYGON, RECT, TRIANGLE, GeomBatch
from spatialjoin import kernels
from spatialjoin.images import decode, footprints, caption_points, phash64, psnr, synth_images, _pixels_for, quantize_q8
from spatialjoin.knn import knn_join
from spatialjoin.sparkutil import geoms_to_df
from spatialjoin.tiles import assign_tiles, cut_tiles


def _brute_knn(small_rows, big_rows, k):
    """Independent oracle: exact distances + (distance, small_id) sort."""
    A = GeomBatch.from_lists([r[0] for r in small_rows], [r[1] for r in small_rows],
                             [r[2] if len(r) > 2 else None for r in small_rows])
    B = GeomBatch.from_lists([r[0] for r in big_rows], [r[1] for r in big_rows],
                             [r[2] if len(r) > 2 else None for r in big_rows])
    out = []
    ns, nb = len(A), len(B)
    ai = np.repeat(np.arange(ns), nb)
    bi = np.tile(np.arange(nb), ns)
    d = kernels.distance(A, ai, B, bi)
    for b in range(nb):
        cand = sorted((d[s * nb + b], s) for s in range(ns))[:k]
        out += [(b, s, dist, r + 1) for r, (dist, s) in enumerate(cand)]
    return sorted(out)


def _knn_route(caplog):
    """The route named by the call's one ``knn route=`` DEBUG record."""
    import re

    routes = [re.match(r"knn route=(\S+)", m).group(1)
              for m in caplog.messages if m.startswith("knn route=")]
    assert len(routes) == 1, caplog.messages
    return routes[0]


@pytest.mark.parametrize("seed,k,broadcast", [
    pytest.param(seed, k, bc, id=f"{seed}-{k}" + ("" if bc else "-rounds"))
    for bc in (True, False) for seed, k in [(21, 1), (22, 3), (23, 7)]])
def test_knn_matches_brute_force(spark, caplog, seed, k, broadcast):
    import logging

    rng = random.Random(seed)
    small_rows = [(POINT, [rng.uniform(-5, 5), rng.uniform(-5, 5)]) for _ in range(50)]
    big_rows = [(POINT, [rng.uniform(-5, 5), rng.uniform(-5, 5)]) for _ in range(30)]
    caplog.set_level(logging.DEBUG, logger="spatialjoin.knn")
    got = knn_join(spark, geoms_to_df(spark, small_rows), geoms_to_df(spark, big_rows), k=k,
                   broadcast=broadcast)
    assert _knn_route(caplog) == ("broadcast-local" if broadcast else "sample-bound")
    got = sorted((r.big_id, r.small_id, r.distance, r.rank) for r in got.collect())
    want = _brute_knn(small_rows, big_rows, k)
    assert [(g[0], g[1], g[3]) for g in got] == [(w[0], w[1], w[3]) for w in want]
    for g, w in zip(got, want):
        assert math.isclose(g[2], w[2], rel_tol=1e-12, abs_tol=1e-15)


def _persisted_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_knn_sample_bound_writes_no_checkpoint(spark):
    """The non-broadcast route is one lazy query: repeated calls under a
    reliable checkpoint dir agree, write nothing there, and leave no
    persisted RDD behind."""
    import atexit
    import os
    import shutil
    import tempfile

    rng = random.Random(77)
    small = geoms_to_df(spark, [(POINT, [rng.uniform(-3, 3), rng.uniform(-3, 3)])
                                for _ in range(30)])
    big = geoms_to_df(spark, [(POINT, [rng.uniform(-3, 3), rng.uniform(-3, 3)])
                              for _ in range(20)])
    # pyspark exposes no way to unset the checkpoint dir, so it stays set
    # (to a session-lifetime tmp dir) for the rest of the session
    ckpt = tempfile.mkdtemp(prefix="knn_ckpt_")
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    spark.sparkContext.setCheckpointDir(ckpt)
    before = _persisted_rdds(spark)
    a, b = (sorted(tuple(r) for r in knn_join(
        spark, small, big, k=2, validate=False, broadcast=False).collect()) for _ in range(2))
    assert a == b and len(a) == 40
    assert [f for _, _, files in os.walk(ckpt) for f in files] == []
    assert _persisted_rdds(spark) <= before


@pytest.mark.parametrize("broadcast", ["auto", False])
def test_knn_join_leaves_no_persisted_rdd(spark, broadcast):
    """knn.knn_join's private index never leaves the call, so the call
    must not persist its covering, nor count it to decide the broadcast
    (rect smalls cover several cells): on both routes the call runs only
    the stats job and one geometry collect."""
    rng = random.Random(83)
    rects = []
    for _ in range(200):
        x, y = rng.uniform(0, 50), rng.uniform(0, 50)
        rects.append((RECT, [x, y, x + rng.uniform(0, 2), y + rng.uniform(0, 2)]))
    small = geoms_to_df(spark, rects)
    big = geoms_to_df(spark, [(POINT, [rng.uniform(0, 50), rng.uniform(0, 50)])
                              for _ in range(50)])
    before = _persisted_rdds(spark)
    sc = spark.sparkContext
    for i in range(2):
        group = f"knn-no-cache-{broadcast}-{i}"
        sc.setJobGroup(group, "knn_join call")
        try:
            got = knn_join(spark, small, big, k=3, validate=False, broadcast=broadcast)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        jobs = sorted(" ".join({st.getStageInfo(sid).name.split()[0]
                                for sid in st.getJobInfo(j).stageIds})
                      for j in st.getJobIdsForGroup(group))
        assert jobs == ["first", "first", "toArrow"], jobs
        assert got.count() == 150
    assert _persisted_rdds(spark) <= before


def test_knn_mixed_kinds(spark):
    rng = random.Random(31)
    small_rows = [(RECT, sorted([rng.uniform(-5, 5), rng.uniform(-5, 5)]) +
                   [0, 0]) for _ in range(10)]
    # build valid rects
    small_rows = []
    for _ in range(10):
        x1, x2 = sorted((rng.uniform(-5, 5), rng.uniform(-5, 5)))
        y1, y2 = sorted((rng.uniform(-5, 5), rng.uniform(-5, 5)))
        small_rows.append((RECT, [x1, y1, x2, y2]))
    big_rows = [(POINT, [rng.uniform(-5, 5), rng.uniform(-5, 5)]) for _ in range(12)]
    want = _brute_knn(small_rows, big_rows, 2)
    for broadcast in (True, False):  # both routes against the oracle
        got = knn_join(spark, geoms_to_df(spark, small_rows), geoms_to_df(spark, big_rows),
                       k=2, broadcast=broadcast)
        got = sorted((r.big_id, r.small_id, r.rank) for r in got.collect())
        assert got == [(w[0], w[1], w[3]) for w in want], broadcast


def test_index_method_knn_matches_module_fn(spark):
    """idx.knn_join (reusing a join-tuned index) must equal the
    module-level knn_join result exactly."""
    from spatialjoin.index import SpatialIndex

    rng = random.Random(47)
    small_rows = [(POINT, [rng.uniform(-5, 5), rng.uniform(-5, 5)]) for _ in range(80)]
    big_rows = [(POINT, [rng.uniform(-5, 5), rng.uniform(-5, 5)]) for _ in range(40)]
    small, big = geoms_to_df(spark, small_rows), geoms_to_df(spark, big_rows)
    want = sorted((r.big_id, r.small_id, r.rank)
                  for r in knn_join(spark, small, big, k=3).collect())
    idx = SpatialIndex.build(spark, small, validate=False)
    got = sorted((r.big_id, r.small_id, r.rank)
                 for r in idx.knn_join(big, k=3, validate=False).collect())
    idx.unpersist()
    assert got == want


def test_knn_k_larger_than_small_side(spark):
    small_rows = [(POINT, [0.0, 0.0]), (POINT, [1.0, 0.0])]
    big_rows = [(POINT, [0.2, 0.0])]
    got = knn_join(spark, geoms_to_df(spark, small_rows), geoms_to_df(spark, big_rows), k=5)
    rows = sorted((r.small_id, r.rank) for r in got.collect())
    assert rows == [(0, 1), (1, 2)]


def _assert_knn_exact(got, want):
    got = sorted((r.big_id, r.small_id, r.distance, r.rank) for r in got.collect())
    assert [(g[0], g[1], g[3]) for g in got] == [(w[0], w[1], w[3]) for w in want]
    for g, w in zip(got, want):
        assert math.isclose(g[2], w[2], rel_tol=1e-12, abs_tol=1e-15)


@pytest.mark.parametrize("big_kinds", [None, {POINT}])
def test_knn_multi_round_escalation_exact(spark, caplog, big_kinds):
    """The sample-bound route on integer-grid points (cell size exactly
    1): the sample's k-th distances are exact bounds that the candidate
    join must reach. Probe (3, 4) has its two nearest sites tied at
    distance 1.0, probe (4, 4) four sites tied at sqrt(2), broken by id.
    The probes far outside the sites' extent get a bound that spans
    the grid."""
    import logging

    small_rows = [(POINT, [float(x), float(y)]) for x in range(1, 14, 2) for y in range(1, 14, 2)]
    big_rows = [(POINT, [3.0, 4.0]), (POINT, [4.0, 4.0]), (POINT, [7.0, 7.0]),
                (POINT, [0.0, 13.0]), (POINT, [100.0, 100.0]), (POINT, [-40.0, 6.0])]
    caplog.set_level(logging.DEBUG, logger="spatialjoin.knn")
    got = knn_join(spark, geoms_to_df(spark, small_rows), geoms_to_df(spark, big_rows), k=2,
                   extent=(0.0, 0.0, 16.0, 16.0), resolution=4, broadcast=False,
                   initial_ring=1, big_kinds=big_kinds)
    assert _knn_route(caplog) == "sample-bound"
    assert "small_rows=49 sample_rows=10 joins=1 " in caplog.text, caplog.text
    _assert_knn_exact(got, _brute_knn(small_rows, big_rows, 2))


def test_knn_broadcast_route_is_one_local_pass(spark, caplog):
    """On a broadcast index the whole ring search is one mapInArrow over
    the probe side: the call runs at most one Spark job (the Arrow
    collect of the geometry broadcast) and a second call on the same
    index none; results stay exact for probes far outside the extent,
    ties exactly on a ring bound (integer grid, cell size 1), k larger
    than the small side, rect smalls and an empty probe side; a far
    probe on a res-14 grid finishes promptly."""
    import logging
    import time

    from spatialjoin.index import SpatialIndex

    caplog.set_level(logging.DEBUG, logger="spatialjoin.knn")
    sc = spark.sparkContext
    small_rows = [(POINT, [float(x), float(y)]) for x in range(1, 14, 2) for y in range(1, 14, 2)]
    probes = [(POINT, [3.0, 4.0]), (POINT, [4.0, 4.0]), (POINT, [7.0, 7.0]),
              (POINT, [0.0, 13.0]), (POINT, [100.0, 100.0]), (POINT, [-40.0, 6.0]),
              (POINT, [1e9, -1e9])]
    small, big = geoms_to_df(spark, small_rows), geoms_to_df(spark, probes)
    idx = SpatialIndex.build(spark, small, extent=(0.0, 0.0, 16.0, 16.0), resolution=4,
                             validate=False)
    assert idx.broadcast_small
    jobs = []
    for _ in range(2):
        caplog.clear()
        sc.setJobGroup("knn-local-pass", "knn_join call")
        try:
            got = idx.knn_join(big, 2, validate=False, initial_ring=1, big_kinds={POINT})
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup("knn-local-pass")))
        assert _knn_route(caplog) == "broadcast-local"
    assert jobs[0] <= 1 and jobs[1] == jobs[0], jobs
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    _assert_knn_exact(got, _brute_knn(small_rows, probes, 2))
    # general (non-point) probe path, same index
    _assert_knn_exact(idx.knn_join(big, 3, validate=False),
                      _brute_knn(small_rows, probes, 3))
    assert idx.knn_join(big.limit(0), 2, validate=False).collect() == []
    idx.unpersist()

    two = [(POINT, [0.0, 0.0]), (POINT, [1.0, 0.0])]
    got = knn_join(spark, geoms_to_df(spark, two), big, k=5, broadcast=True)
    _assert_knn_exact(got, _brute_knn(two, probes, 5))

    rects = [(RECT, [float(x), float(y), x + 1.5, y + 0.5]) for x in range(0, 12, 3)
             for y in range(0, 12, 4)]
    got = knn_join(spark, geoms_to_df(spark, rects), big, k=3, broadcast=True)
    _assert_knn_exact(got, _brute_knn(rects, probes, 3))

    far = [(POINT, [5e6, 5e6])]
    idx = SpatialIndex.build(spark, small, extent=(0.0, 0.0, 16.0, 16.0), resolution=14,
                             validate=False)
    t0 = time.perf_counter()
    got = idx.knn_join(geoms_to_df(spark, far), 3, validate=False, initial_ring=1,
                       big_kinds={POINT})
    _assert_knn_exact(got, _brute_knn(small_rows, far, 3))
    assert time.perf_counter() - t0 < 60.0
    idx.unpersist()


def _knn_cases():
    rng = random.Random(67)

    def pts(n, lo=0.0, hi=16.0):
        return [(POINT, [rng.uniform(lo, hi), rng.uniform(lo, hi)]) for _ in range(n)]

    sites = pts(60)
    far = [(POINT, [5e3, -7e3]), (POINT, [-1e6, 3.0]), (POINT, [8.0, 1e7])]
    rects = [(RECT, [x, y, x + rng.uniform(0, 3), y + rng.uniform(0, 1)])
             for x, y in (p[1] for p in pts(8))]
    general = [(TRIANGLE, [x, y, x + 2, y, x + 1, y + 3]) for x, y in (p[1] for p in pts(4))]
    general += [(POLYGON, [x, y, x + 4, y, x + 2, y + 5, x, y], [0])
                for x, y in (p[1] for p in pts(3))]
    general += [(LINESTRING, p[1] + q[1] + r[1]) for p, q, r in zip(pts(3), pts(3), pts(3))]
    return {
        # (small rows, probe rows, k, resolution or None)
        "empty-probes": (sites, [], 3, None),
        "empty-small": ([], pts(5), 3, None),
        "fewer-than-k": (pts(2), pts(6), 3, None),
        "identical-points": ([(POINT, [2.5, 2.5])] * 9, [(POINT, [2.5, 2.5])] * 4 + pts(3), 3,
                             None),
        "far-probes-res6": (sites, far + pts(4), 3, 6),
        "far-probes-res8": (sites, far + pts(4), 2, 8),
        "rect-probes": (sites + rects, rects + pts(5), 3, None),
        "general-probes": (sites + general, general + pts(5), 3, None),
    }


_KNN_CASES = _knn_cases()


@pytest.mark.parametrize("case", list(_KNN_CASES))
def test_knn_sample_bound_route_is_one_query(spark, caplog, case):
    """On a non-broadcast index the call runs only the build's stats job
    and the sample collect, however many rings its probes need: no
    job per ring, no Python-pandas operator, no checkpoint, no cache;
    results are exact on degenerate inputs."""
    import logging

    small_rows, big_rows, k, res = _KNN_CASES[case]
    caplog.set_level(logging.DEBUG, logger="spatialjoin.knn")
    sc = spark.sparkContext
    small, big = geoms_to_df(spark, small_rows), geoms_to_df(spark, big_rows)
    sc.setJobGroup(f"knn-sample-bound-{case}", "knn_join call")
    try:
        got = knn_join(spark, small, big, k=k, resolution=res, broadcast=False,
                       validate=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # each job by the action that ran it: the build's stats `first`
    # (two jobs under AQE) and the sample's `toArrow`
    st = sc.statusTracker()
    jobs = sorted(" ".join({st.getStageInfo(sid).name.split()[0]
                            for sid in st.getJobInfo(j).stageIds})
                  for j in st.getJobIdsForGroup(f"knn-sample-bound-{case}"))
    assert _knn_route(caplog) == "sample-bound"
    assert jobs == ["first", "first", "toArrow"], jobs
    # a checkpoint would cut the lineage above the ring search
    plan = got._jdf.queryExecution().toString()
    assert "MapInArrow" in plan and "MapInPandas" not in plan, plan
    assert "InMemoryRelation" not in plan, plan
    want = _brute_knn(small_rows, big_rows, k) if small_rows and big_rows else []
    _assert_knn_exact(got, want)


@pytest.mark.parametrize("probes", ["points", "general"])
def test_knn_nested_samples_exact(spark, caplog, monkeypatch, probes):
    """A small side far above the broadcast cap takes nested samples,
    each 4x the one before, and one candidate join per later sample and
    for the whole side: every bound stays exact, and the call still runs
    only the stats job and the first sample's collect. All-point sides
    take the JVM distance, the rest the Arrow refine."""
    import logging

    from spatialjoin import knn

    monkeypatch.setattr(knn, "BROADCAST_MAX_CELLS", 20)
    rng = random.Random(59)
    small_rows = [(POINT, [rng.uniform(0, 30), rng.uniform(0, 30)]) for _ in range(360)]
    big_rows = [(POINT, [rng.uniform(-5, 35), rng.uniform(-5, 35)]) for _ in range(40)]
    big_rows += [(POINT, [400.0, -300.0])]
    if probes == "general":
        small_rows += [(RECT, [x, y, x + rng.uniform(0, 2), y + rng.uniform(0, 2)])
                       for x, y in ((rng.uniform(0, 30), rng.uniform(0, 30)) for _ in range(40))]
        big_rows += [(TRIANGLE, [x, y, x + 2, y, x + 1, y + 3])
                     for x, y in ((rng.uniform(0, 30), rng.uniform(0, 30)) for _ in range(8))]
    caplog.set_level(logging.DEBUG, logger="spatialjoin.knn")
    sc = spark.sparkContext
    sc.setJobGroup(f"knn-nested-{probes}", "knn_join call")
    try:
        got = knn_join(spark, geoms_to_df(spark, small_rows), geoms_to_df(spark, big_rows), k=3,
                       broadcast=False, validate=False,
                       big_kinds={POINT} if probes == "points" else None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = sorted(" ".join({st.getStageInfo(sid).name.split()[0]
                            for sid in st.getJobInfo(j).stageIds})
                  for j in st.getJobIdsForGroup(f"knn-nested-{probes}"))
    assert _knn_route(caplog) == "sample-bound"
    assert " joins=3 " in caplog.text, caplog.text
    assert jobs == ["first", "first", "toArrow"], jobs
    _assert_knn_exact(got, _brute_knn(small_rows, big_rows, 3))


@pytest.mark.parametrize("broadcast", [True, False])
def test_knn_multilevel_index_exact(spark, caplog, broadcast):
    """kNN on a multilevel index finds small geometries stored on every
    level: the sample-bound route's candidate join covers every
    populated level, the broadcast route keys the geometry itself."""
    import logging

    from spatialjoin.index import SpatialIndex

    rng = random.Random(53)
    small_rows = []
    for _ in range(40):
        x, y = rng.uniform(0, 99), rng.uniform(0, 99)
        small_rows.append((RECT, [x, y, x + 0.5, y + 0.5]))
    for _ in range(6):
        x, y = rng.uniform(0, 60), rng.uniform(0, 60)
        small_rows.append((RECT, [x, y, x + 40.0, y + 40.0]))
    big_rows = [(POINT, [rng.uniform(0, 100), rng.uniform(0, 100)]) for _ in range(30)]
    idx = SpatialIndex.build(spark, geoms_to_df(spark, small_rows), extent=(0.0, 0.0, 100.0, 100.0),
                             resolution=5, broadcast=broadcast, multilevel=True)
    assert idx.levels == [2, 5] and idx.broadcast_small == broadcast
    caplog.set_level(logging.DEBUG, logger="spatialjoin.knn")
    got = idx.knn_join(geoms_to_df(spark, big_rows), 3)
    assert _knn_route(caplog) == ("broadcast-local" if broadcast else "sample-bound")
    _assert_knn_exact(got, _brute_knn(small_rows, big_rows, 3))
    idx.unpersist()


@pytest.mark.parametrize("budget,span", [(4_000_000, 8), (5, 1)])
def test_local_knn_task_matches_brute_force(monkeypatch, budget, span):
    """The broadcast route's task function, called directly (no Spark):
    with tiny pair budgets and key spans the gathers run in many chunks,
    wide geometries are keyed at coarser levels and multi-key
    candidates are deduped — all exact for mixed kinds on both sides
    and a probe far outside the extent."""
    import pyarrow as pa

    from spatialjoin import knn as knnmod
    from spatialjoin.grid import Grid

    monkeypatch.setattr(knnmod, "_PAIR_BUDGET", budget)
    monkeypatch.setattr(knnmod, "_KEY_SPAN", span)
    rng = random.Random(61)

    def pt():
        return [rng.uniform(0, 60), rng.uniform(0, 60)]

    small_rows = [(POINT, pt()) for _ in range(30)]
    small_rows += [(RECT, [x, y, x + rng.uniform(0, 30), y + rng.uniform(0, 3)])
                   for x, y in (pt() for _ in range(10))]
    small_rows += [(LINESTRING, pt() + pt() + pt()) for _ in range(5)]
    small_rows += [(POLYGON, [x, y, x + 4, y, x + 2, y + 5, x, y], [0])
                   for x, y in (pt() for _ in range(5))]
    points = [(POINT, pt()) for _ in range(20)] + [(POINT, [500.0, -300.0])]
    probes = points + [(TRIANGLE, pt() + pt() + pt()) for _ in range(4)]
    probes += [(POLYGON, [x, y, x + 1, y, x + 1, y + 1, x, y], [0])
               for x, y in (pt() for _ in range(3))]

    class Broadcast:
        value = (np.arange(len(small_rows), dtype=np.int64),
                 GeomBatch.from_lists([r[0] for r in small_rows], [r[1] for r in small_rows],
                                      [r[2] if len(r) > 2 else None for r in small_rows]))

    def run(batch, k, point_probe):
        fn = knnmod._local_knn(Broadcast, Grid((0.0, 0.0, 100.0, 100.0)), 4, k, 1, point_probe)
        return sorted(row for b in fn(iter([batch]))
                      for row in zip(*(b.column(i).to_pylist() for i in (0, 1, 3, 2))))

    for k in (1, 4):
        general = pa.RecordBatch.from_arrays([
            pa.array(range(len(probes)), pa.int64()),
            pa.array([r[0] for r in probes], pa.int32()),
            pa.array([r[1] for r in probes], pa.list_(pa.float64())),
            pa.array([r[2] if len(r) > 2 else [] for r in probes], pa.list_(pa.int32())),
        ], names=["big_id", "b_kind", "b_coords", "b_rings"])
        slim = pa.RecordBatch.from_arrays([
            pa.array(range(len(points)), pa.int64()),
            pa.array([r[1][0] for r in points]), pa.array([r[1][1] for r in points]),
        ], names=["big_id", "bx", "by"])
        for batch, rows, point_probe in ((general, probes, False), (slim, points, True)):
            want = [(b, s, r, d) for b, s, d, r in _brute_knn(small_rows, rows, k)]
            assert run(batch, k, point_probe) == want, (k, point_probe)


def test_udf_workers_import_package_outside_repo(tmp_path):
    """A driver started outside the repo root, with only ``sys.path``
    patched, still runs Python UDFs: get_spark puts the package on the
    workers' PYTHONPATH for every master."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "knn_outside.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {repo!r})
        from spatialjoin.knn import knn_join
        from spatialjoin.sparkutil import geoms_to_df, get_spark

        spark = get_spark(cpus=1)
        small = geoms_to_df(spark, [(0, [0.0, 0.0]), (0, [1.0, 0.0]), (0, [5.0, 5.0])])
        big = geoms_to_df(spark, [(0, [0.9, 0.1])])
        out = knn_join(spark, small, big, k=2, broadcast=True, big_kinds={{0}})
        print("ROWS", sorted((r.small_id, r.rank) for r in out.collect()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "ROWS [(0, 2), (1, 1)]" in proc.stdout, proc.stdout


# -- tiles --------------------------------------------------------------------


def test_assign_tiles_rect_exact(spark):
    # extent 16x16, zoom 2 -> 4x4 tiles of size 4x4
    ext = (0.0, 0.0, 16.0, 16.0)
    rows = [(RECT, [1.0, 1.0, 5.0, 5.0]), (POINT, [10.0, 10.0])]
    df = geoms_to_df(spark, rows)
    out = assign_tiles(df, zoom=2, extent=ext).collect()
    got = sorted((r.id, r.tx, r.ty) for r in out)
    # rect spans tiles (0,0),(0,1),(1,0),(1,1); point sits in tile (2,2)
    assert got == [(0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1), (1, 2, 2)]


def test_assign_tiles_polygon_refines(spark):
    # thin diagonal triangle inside a 2x2-tile bbox: bbox covers 4 tiles
    # but the shape misses none (it crosses all 4) vs a tiny one (1 tile)
    ext = (0.0, 0.0, 8.0, 8.0)
    # sliver hugging the bottom edge: bbox spans tiles (0,0)+(1,0) in x,
    # stays below y=1 so it never reaches the upper tile row
    rows = [(POLYGON, [0.5, 0.5, 7.5, 0.5, 7.5, 0.6], [0]),
            (POLYGON, [0.5, 0.5, 1.0, 0.5, 1.0, 1.0], [0])]
    df = geoms_to_df(spark, rows)
    tiles = assign_tiles(df, zoom=1, extent=ext)
    assert "MapInPandas" not in tiles._jdf.queryExecution().toString()
    out = tiles.collect()
    got = sorted((r.id, r.tx, r.ty) for r in out)
    assert [g for g in got if g[0] == 0] == [(0, 0, 0), (0, 1, 0)]
    assert [g for g in got if g[0] == 1] == [(1, 0, 0)]


# -- images -------------------------------------------------------------------


def test_synth_images_deterministic_and_schema(spark):
    df = synth_images(spark, 64)
    rows = {r.image_id: r for r in df.collect()}
    assert len(rows) == 64
    df2 = synth_images(spark, 64, partitions=7)
    rows2 = {r.image_id: r for r in df2.collect()}
    for k in rows:
        a, b = rows[k], rows2[k]
        assert a.bytes == b.bytes and a.caption == b.caption and a.phash == b.phash


def test_q8_psnr_above_40db(spark):
    df = synth_images(spark, 120)
    q8 = [r for r in df.collect() if r.fmt == "q8"]
    assert q8, "expected some q8 rows"
    for r in q8:
        i = int(r.image_id[3:])
        src = _pixels_for(i, r.w, r.h).astype(np.float64)
        dec = decode(r.bytes, "q8", r.w, r.h)
        assert psnr(src, dec) >= 40.0


def test_q8_psnr_driver_row_bounds_psnr(spark):
    """The q8_psnr driver row's integer columns bound PSNR >= 40dB for
    every stored q8 image: PSNR = 10*log10(255^2 / (sse4/4/n_px))."""
    import math

    from spatialjoin.queries import q_q8_psnr

    rows = q_q8_psnr(spark, "/root/testdata/sf0.001").collect()
    assert rows, "expected some q8 rows"
    for r in rows:
        mse = r.sse4 / 4.0 / r.n_px
        assert 10.0 * math.log10(255.0 * 255.0 / mse) >= 40.0, r


def test_slab_pixel_sums_match_direct_decode(spark):
    """slab_pixel_sums doubles-and-sums exactly: cross-check one image's
    slabs against a direct numpy decode of the same slab extents."""
    from spatialjoin.images import decode, synth_images
    from spatialjoin.tiles import cut_tiles, slab_pixel_sums

    ext = (-10.0, -10.0, 10.0, 10.0)
    imgs = synth_images(spark, 24, extent=ext)
    slabs = cut_tiles(imgs, zoom=3, extent=ext).persist()
    sums = {
        (r.image_id, r.tx, r.ty): r.sum2
        for r in slab_pixel_sums(slabs).collect()
    }
    raw = {r.image_id: r for r in imgs.collect()}
    checked = 0
    for s in slabs.collect():
        px = decode(raw[s.image_id].bytes, raw[s.image_id].fmt,
                    raw[s.image_id].w, raw[s.image_id].h)
        cut = px[s.px_off_y:s.px_off_y + s.tile_h,
                 s.px_off_x:s.px_off_x + s.tile_w, :]
        want = int(round(float((cut * 2.0).sum())))
        assert sums[(s.image_id, s.tx, s.ty)] == want
        checked += 1
    slabs.unpersist()
    assert checked >= 24


def test_caption_roundtrip_and_phash(spark):
    df = synth_images(spark, 32)
    for r in df.collect():
        i = int(r.image_id[3:])
        src = _pixels_for(i, r.w, r.h)
        assert r.phash == phash64(src)
        assert r.caption.startswith(f"caption of {r.image_id} at ")


def test_footprint_point_join_images(spark):
    """Flagship shape: caption points within their own footprint quads."""
    from spatialjoin.index import SpatialIndex

    imgs = synth_images(spark, 200).persist()
    fp = footprints(imgs)
    pts = caption_points(imgs)
    idx = SpatialIndex.build(spark, fp)
    out = idx.spatial_join(pts, how="contains").collect()
    pairs = set((r.big_id, r.small_id) for r in out)
    # every caption point lies at (or within 1e-6 of) its footprint center
    for i in range(200):
        assert (i, i) in pairs
    idx.unpersist()
    imgs.unpersist()


def test_cut_tiles_pixels_match_source(spark):
    imgs = synth_images(spark, 24).persist()
    ext = (-10.0, -10.0, 10.0, 10.0)
    out = cut_tiles(imgs, zoom=3, extent=ext).collect()
    assert out, "expected tile cuts"
    by_img = {}
    for r in out:
        by_img.setdefault(r.image_id, []).append(r)
    src_rows = {r.image_id: r for r in imgs.collect()}
    for image_id, cuts in by_img.items():
        s = src_rows[image_id]
        px = decode(s.bytes, s.fmt, s.w, s.h)
        for c in cuts:
            slab = np.frombuffer(c.tile_bytes, dtype=np.float32).reshape(c.tile_h, c.tile_w, 3)
            want = px[c.px_off_y : c.px_off_y + c.tile_h, c.px_off_x : c.px_off_x + c.tile_w, :]
            assert np.allclose(slab, want.astype(np.float32))
    imgs.unpersist()


def test_cut_tiles_decodes_once_per_image(spark):
    """Decode amplification guard: an image spanning T tiles must be
    decoded once, not T times (counted with an accumulator through the
    injectable decode_fn)."""
    from spatialjoin.images import decode as real_decode

    n = 24
    imgs = synth_images(spark, n).persist()
    acc = spark.sparkContext.accumulator(0)

    def counting_decode(b, fmt, w, h):
        acc.add(1)
        return real_decode(b, fmt, w, h)

    ext = (-10.0, -10.0, 10.0, 10.0)
    out = cut_tiles(imgs, zoom=3, extent=ext, decode_fn=counting_decode).collect()
    n_tiles = len(out)
    n_imgs = len({r.image_id for r in out})
    assert n_tiles > n_imgs, "corpus should have multi-tile images"
    assert acc.value == n_imgs, f"decoded {acc.value}x for {n_imgs} images ({n_tiles} tiles)"
    imgs.unpersist()
