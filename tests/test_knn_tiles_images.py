"""kNN join, tile assignment, and the synthetic image table."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from spatialjoin.geom import POINT, POLYGON, RECT, GeomBatch
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


@pytest.mark.parametrize("seed,k", [(21, 1), (22, 3), (23, 7)])
def test_knn_matches_brute_force(spark, seed, k):
    rng = random.Random(seed)
    small_rows = [(POINT, [rng.uniform(-5, 5), rng.uniform(-5, 5)]) for _ in range(50)]
    big_rows = [(POINT, [rng.uniform(-5, 5), rng.uniform(-5, 5)]) for _ in range(30)]
    got = knn_join(spark, geoms_to_df(spark, small_rows), geoms_to_df(spark, big_rows), k=k)
    got = sorted((r.big_id, r.small_id, r.distance, r.rank) for r in got.collect())
    want = _brute_knn(small_rows, big_rows, k)
    assert [(g[0], g[1], g[3]) for g in got] == [(w[0], w[1], w[3]) for w in want]
    for g, w in zip(got, want):
        assert math.isclose(g[2], w[2], rel_tol=1e-12, abs_tol=1e-15)


def test_knn_reliable_checkpoint_cleanup_conf(spark):
    """r6 (VERDICT r05 ask #4): sessions built by get_spark carry
    spark.cleaner.referenceTracking.cleanCheckpoints=true, so reliable
    knn checkpoints are deleted when the result frame is GC'd instead
    of accumulating forever; with the conf set, repeated knn_join calls
    under a checkpoint dir must not warn and must agree."""
    import warnings

    from spatialjoin import knn as knnmod

    assert spark.conf.get(
        "spark.cleaner.referenceTracking.cleanCheckpoints") == "true"
    rng = random.Random(77)
    small = geoms_to_df(spark, [(POINT, [rng.uniform(-3, 3), rng.uniform(-3, 3)])
                                for _ in range(30)])
    big = geoms_to_df(spark, [(POINT, [rng.uniform(-3, 3), rng.uniform(-3, 3)])
                              for _ in range(20)])
    # NOTE: pyspark exposes no way to unset the checkpoint dir, so it
    # stays set (to a session-lifetime tmp dir, not pytest's per-test
    # tmp) for the rest of the session — later knn tests then exercise
    # the RELIABLE checkpoint path too, which is the deployment shape.
    import atexit
    import shutil
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="knn_ckpt_")
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    spark.sparkContext.setCheckpointDir(ckpt)
    knnmod._WARNED_CKPT_CLEANUP.clear()
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        a = sorted(tuple(r) for r in
                   knn_join(spark, small, big, k=2, validate=False).collect())
        b = sorted(tuple(r) for r in
                   knn_join(spark, small, big, k=2, validate=False).collect())
    assert a == b and len(a) == 40


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
    got = knn_join(spark, geoms_to_df(spark, small_rows), geoms_to_df(spark, big_rows), k=2)
    got = sorted((r.big_id, r.small_id, r.rank) for r in got.collect())
    want = _brute_knn(small_rows, big_rows, 2)
    assert got == [(w[0], w[1], w[3]) for w in want]


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


def test_knn_max_rounds_exhaustion_raises(spark):
    """Exhausting max_rounds with probes still pending (and no broadcast
    sweep available) must raise, not return incomplete top-k quietly."""
    rng = random.Random(41)
    small_rows = [(POINT, [rng.uniform(-5, 5), rng.uniform(-5, 5)]) for _ in range(40)]
    big_rows = [(POINT, [rng.uniform(-5, 5), rng.uniform(-5, 5)]) for _ in range(8)]
    with pytest.raises(RuntimeError, match="max_rounds"):
        knn_join(
            spark, geoms_to_df(spark, small_rows), geoms_to_df(spark, big_rows),
            k=10, resolution=6, broadcast=False, initial_ring=1, max_rounds=1,
        ).collect()


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
    """Ring escalation without the broadcast sweep, on integer-grid
    points (cell size exactly 1, so round 1's bound is exactly 1.0).
    Probe (3, 4) has its two nearest sites tied at distance 1.0, ON the
    bound: the strict done-test keeps it pending after round 1. Probe
    (4, 4) has four sites tied at sqrt(2), broken by id. The probes far
    outside the sites' extent find nothing in round 1 and finish only
    once the ring spans the grid."""
    import logging
    import re

    small_rows = [(POINT, [float(x), float(y)]) for x in range(1, 14, 2) for y in range(1, 14, 2)]
    big_rows = [(POINT, [3.0, 4.0]), (POINT, [4.0, 4.0]), (POINT, [7.0, 7.0]),
                (POINT, [0.0, 13.0]), (POINT, [100.0, 100.0]), (POINT, [-40.0, 6.0])]
    caplog.set_level(logging.DEBUG, logger="spatialjoin.knn")
    got = knn_join(spark, geoms_to_df(spark, small_rows), geoms_to_df(spark, big_rows), k=2,
                   extent=(0.0, 0.0, 16.0, 16.0), resolution=4, broadcast=False,
                   initial_ring=1, big_kinds=big_kinds)
    rounds = [m for m in caplog.messages if m.startswith("knn round=")]
    pending = [int(re.search(r"pending=(\d+)", m).group(1)) for m in rounds]
    assert pending == [len(big_rows), 2, 0], rounds
    assert not any(m.startswith("knn sweep") for m in caplog.messages)
    _assert_knn_exact(got, _brute_knn(small_rows, big_rows, 2))


def test_knn_geometry_broadcast_collected_only_for_sweep(spark):
    """The all-point ring route computes distances in SQL: a call that
    ends without the straggler sweep must leave the index's geometry
    broadcast uncollected; one that sweeps collects it and stays exact."""
    from spatialjoin.index import SpatialIndex

    small_rows = [(POINT, [float(x), float(y)]) for x in range(16) for y in range(16)]
    small = geoms_to_df(spark, small_rows)
    inside = [(POINT, [x + 0.5, y + 0.25]) for x, y in ((1, 2), (7, 7), (14, 3), (9, 12))]
    idx = SpatialIndex.build(spark, small, extent=(0.0, 0.0, 16.0, 16.0), resolution=4,
                             validate=False)
    assert idx.broadcast_small
    got = idx.knn_join(geoms_to_df(spark, inside), 3, validate=False,
                       initial_ring=2, big_kinds={POINT})
    _assert_knn_exact(got, _brute_knn(small_rows, inside, 3))
    assert idx._small_geo_bc_val is None
    far = inside + [(POINT, [60.0, -20.0])]  # pending after round 1: swept
    got = idx.knn_join(geoms_to_df(spark, far), 3, validate=False,
                       initial_ring=1, big_kinds={POINT})
    _assert_knn_exact(got, _brute_knn(small_rows, far, 3))
    assert idx._small_geo_bc_val is not None
    idx.unpersist()


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
    out = assign_tiles(df, zoom=1, extent=ext).collect()
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
