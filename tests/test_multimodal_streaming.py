"""Multimodal ops (real numpy codecs for image/audio/video) and
Structured Streaming windowed cell counts."""

from __future__ import annotations

import time

import numpy as np
import pytest

from spatialjoin.grid import Grid
from spatialjoin.images import decode, synth_images, _pixels_for
from spatialjoin.multimodal import (
    audio_features,
    decode_audio,
    decode_ulaw8,
    decode_video_frames,
    encode_rled,
    encode_ulaw8,
    image_features,
    resize_images,
    sample_frames,
)


def test_resize_images_nearest(spark):
    imgs = synth_images(spark, 12).persist()
    out = {r.image_id: r for r in resize_images(imgs, 8, 8).collect()}
    for r0 in imgs.collect():
        r = out[r0.image_id]
        got = np.frombuffer(r.bytes, dtype=np.uint8).reshape(8, 8, 3)
        px = decode(r0.bytes, r0.fmt, r0.w, r0.h)
        ri = (np.arange(8) * r0.h // 8)
        ci = (np.arange(8) * r0.w // 8)
        want = np.clip(px[ri][:, ci, :], 0, 255).astype(np.uint8)
        assert (got == want).all()
    imgs.unpersist()


def test_image_features_phash_integrity(spark):
    imgs = synth_images(spark, 20).persist()
    feats = {r.image_id: r for r in image_features(imgs).collect()}
    for r in imgs.collect():
        f = feats[r.image_id]
        assert 0 <= f.mean_r <= 255 and f.std_gray >= 0
        if r.fmt == "raw":
            assert f.phash_check == r.phash  # lossless payload: exact match
    imgs.unpersist()


def test_variant_phash_matches_scalar(spark):
    """variant_phash (batched, both formats) == scalar phash64 over the
    32-level codes; and phash is affine-invariant, so hashing the
    decoded q8 floats gives the identical bits as hashing the codes."""
    from spatialjoin.images import _pixels_for, phash64, quantize_q8
    from spatialjoin.multimodal import variant_phash

    imgs = synth_images(spark, 64)
    got = {r.id: r.vhash for r in variant_phash(imgs).collect()}
    assert len(got) == 64
    for r in imgs.collect():
        i = int(r.image_id[3:])
        px = _pixels_for(i, r.w, r.h)
        assert got[i] == phash64(px >> 3)
        dec = decode(quantize_q8(px), "q8", r.w, r.h)
        assert phash64(dec) == phash64(px >> 3)


def test_audio_features_pcm16(spark):
    sig = (np.sin(np.linspace(0, 20, 4000)) * 20000).astype("<i2")
    rows = [("clip0", sig.tobytes(), "pcm16"), ("clip1", b"", "pcm16")]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string")
    out = {r.clip_id: r for r in audio_features(df).collect()}
    assert out["clip0"].n_samples == 4000
    want = float(np.sqrt(np.mean((sig.astype(np.float64) / 32768.0) ** 2)))
    assert abs(out["clip0"].rms - want) < 1e-12
    assert out["clip1"].n_samples == 0
    # unknown codec must raise (codec boundary is explicit)
    bad = spark.createDataFrame([("c", b"x", "mp3")], "clip_id string, bytes binary, codec string")
    with pytest.raises(Exception, match="unknown audio codec"):
        audio_features(bad).collect()


def test_ulaw8_codec_exactness():
    """G.711 mu-law: byte-level decode->encode is the identity on every
    canonical code (bijection; 0x7F is the one non-canonical negative-
    zero alias), and encode->decode error is within the segment step."""
    codes = np.arange(256, dtype=np.uint8)
    dec = decode_ulaw8(codes.tobytes())
    re = np.frombuffer(encode_ulaw8(dec), dtype=np.uint8)
    keep = codes != 0x7F  # -0 re-encodes as +0 (0xFF)
    assert (re[keep] == codes[keep]).all()
    assert re[codes == 0x7F][0] == 0xFF
    # quantization error bound: half the segment step at every amplitude
    sig = (np.sin(np.linspace(0, 50, 8000)) * 30000).astype(np.int16)
    rt = decode_ulaw8(encode_ulaw8(sig)).astype(np.int64)
    step = 8 << np.clip(
        np.floor(np.log2(np.minimum(np.abs(sig.astype(np.int64)), 32635) + 132)).astype(np.int64) - 7,
        0, 7)
    assert (np.abs(rt - sig) <= step).all()


def test_ulaw8_through_audio_features(spark):
    sig = (np.sin(np.linspace(0, 20, 4000)) * 20000).astype(np.int16)
    df = spark.createDataFrame(
        [("c0", encode_ulaw8(sig), "ulaw8")], "clip_id string, bytes binary, codec string"
    )
    out = audio_features(df).collect()[0]
    assert out.n_samples == 4000
    want = float(np.sqrt(np.mean(decode_audio(encode_ulaw8(sig), "ulaw8") ** 2)))
    assert abs(out.rms - want) < 1e-12


def test_rled_video_roundtrip_exact():
    """rled (delta + RLE) decode must reproduce every frame byte-exactly,
    including runs > 255 and frame-to-frame deltas that wrap mod 256."""
    rng = np.random.default_rng(7)
    w, h, n = 16, 12, 5
    frames = [rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)]
    for _ in range(n - 1):
        nxt = frames[-1].copy()
        # sparse edits + a long constant run keep the stream compressible
        nxt[rng.integers(0, h), rng.integers(0, w)] = rng.integers(0, 256, 3)
        frames.append(nxt)
    frames.append(np.zeros((h, w, 3), dtype=np.uint8))  # 768-byte run > 255
    blob = encode_rled(frames)
    assert len(blob) < sum(f.nbytes for f in frames)  # actually compresses
    got = list(decode_video_frames(blob, "rled", w, h, len(frames)))
    for i, (idx, fb) in enumerate(got):
        assert idx == i
        assert fb == frames[i].tobytes()


def test_video_frame_sampling_raw(spark):
    w = h = 4
    frames = [np.full((h, w, 3), i, dtype=np.uint8) for i in range(6)]
    blob = b"".join(f.tobytes() for f in frames)
    df = spark.createDataFrame(
        [("v0", blob, "rawv", w, h, 6)],
        "video_id string, bytes binary, codec string, w int, h int, n_frames int",
    )
    out = sorted((r.frame_idx, r.bytes) for r in sample_frames(df, every=2).collect())
    assert [i for i, _ in out] == [0, 2, 4]
    for i, b in out:
        assert np.frombuffer(b, dtype=np.uint8).reshape(h, w, 3).max() == i


def test_video_frame_sampling_rled(spark):
    """Same sampling contract through the delta-coded stream: sampled
    frames decode byte-exactly even though their deltas chain through
    unsampled frames."""
    w = h = 4
    frames = [np.full((h, w, 3), i * 40, dtype=np.uint8) for i in range(6)]
    df = spark.createDataFrame(
        [("v0", bytearray(encode_rled(frames)), "rled", w, h, 6)],
        "video_id string, bytes binary, codec string, w int, h int, n_frames int",
    )
    out = sorted((r.frame_idx, bytes(r.bytes)) for r in sample_frames(df, every=2).collect())
    assert [i for i, _ in out] == [0, 2, 4]
    for i, b in out:
        assert b == frames[i].tobytes()
    bad = spark.createDataFrame(
        [("v1", b"x", "h264", 2, 2, 1)],
        "video_id string, bytes binary, codec string, w int, h int, n_frames int",
    )
    with pytest.raises(Exception, match="unknown video codec"):
        sample_frames(bad).collect()


def test_streaming_windowed_cell_counts(spark, tmp_path):
    from spatialjoin.streaming import windowed_cell_counts

    src = str(tmp_path / "stream_in")
    out_tbl = "stream_cells_out"
    grid = Grid((-10.0, -10.0, 10.0, 10.0))
    rows1 = [(i, f"2026-01-01 00:00:{i % 50:02d}", -5.0 + i, 3.0, float(i)) for i in range(5)]
    df1 = spark.createDataFrame(rows1, "event_id long, ts string, x double, y double, value double") \
        .selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "x", "y", "value")
    df1.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df1.schema).parquet(src)
    agg = windowed_cell_counts(stream, grid, res=4, window="10 seconds")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory").queryName(out_tbl)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits closed windows; push the watermark forward
    rows2 = [(100, "2026-01-01 00:05:00", 0.0, 0.0, 1.0)]
    df2 = spark.createDataFrame(rows2, "event_id long, ts string, x double, y double, value double") \
        .selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "x", "y", "value")
    df2.write.mode("append").parquet(src)
    q2 = (
        agg.writeStream.outputMode("append")
        .format("memory").queryName(out_tbl + "2")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    got = spark.sql(f"SELECT * FROM {out_tbl}2").collect()
    assert got, "expected closed windows after watermark advance"
    total = sum(r.n_events for r in got)
    assert total == 5  # the first five events; the watermark-pusher window stays open
    assert all(r.n_events >= 1 and r.sum_value is not None for r in got)


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Late-data correctness (r6, VERDICT r05 ask #7): an event whose
    timestamp falls in an already-closed window and arrives AFTER the
    watermark has passed it must be dropped — the closed window is
    never re-emitted and the late row is counted nowhere."""
    from spatialjoin.streaming import windowed_cell_counts

    src = str(tmp_path / "late_in")
    ckpt = str(tmp_path / "late_ckpt")
    dst = str(tmp_path / "late_out")
    grid = Grid((-10.0, -10.0, 10.0, 10.0))
    schema_str = "event_id long, ts string, x double, y double, value double"

    def write(rows, mode):
        df = spark.createDataFrame(rows, schema_str).selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP) ts", "x", "y", "value")
        df.write.mode(mode).parquet(src)
        return df

    def run():
        # file sink: supports checkpoint recovery (memory sink does
        # not), so each call processes only the NEW source increment
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema).parquet(src)
        agg = windowed_cell_counts(stream, grid, res=4, window="10 seconds")
        q = (agg.writeStream.outputMode("append").format("parquet")
             .option("path", dst).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        return spark.read.parquet(dst).collect()

    # batch 1: five on-time events in the 00:00:00 window + a pusher at
    # 00:05 that advances the watermark far past that window's end
    write([(i, f"2026-01-01 00:00:0{i}", -5.0 + i, 3.0, 1.0)
           for i in range(5)]
          + [(50, "2026-01-01 00:05:00", 4.0, 4.0, 1.0)], "overwrite")
    got1 = run()
    w0 = [r for r in got1 if r.window_start.second == 0 and
          r.window_start.minute == 0]
    assert sum(r.n_events for r in w0) == 5, got1

    # batch 2: ONE LATE event inside the closed 00:00:00 window (far
    # older than the watermark) + a pusher at 00:10 closing the 00:05
    # window
    write([(99, "2026-01-01 00:00:01", -5.0, 3.0, 100.0),
           (60, "2026-01-01 00:10:00", 4.0, 4.0, 1.0)], "append")
    got2 = run()
    new = len(got2) - len(got1)
    # the late row must be dropped: the 00:00:00 window keeps exactly
    # its original rows (never re-emitted/updated), the only newly
    # closed window is 00:05's pusher, and value 100 appears nowhere
    w0_after = [r for r in got2 if r.window_start.second == 0 and
                r.window_start.minute == 0]
    assert sum(r.n_events for r in w0_after) == 5, got2
    assert len(w0_after) == len(w0)
    assert new >= 1 and sum(r.n_events for r in got2) == 6, got2
    assert all(r.sum_value != 100.0 for r in got2), got2


def test_stateful_cell_sketch_matches_batch(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): the per-cell
    bottom-k sketch after streaming in two chunks must equal the batch
    computation over all events — the KMV construction is order- and
    batching-independent by design."""
    import numpy as np

    from spatialjoin.streaming import stateful_cell_sketch

    src = str(tmp_path / "sketch_in")
    grid = Grid((-10.0, -10.0, 10.0, 10.0))
    schema = "event_id long, ts string, x double, y double, value double"

    def mk(rows):
        return spark.createDataFrame(rows, schema).selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP) ts", "x", "y", "value"
        )

    rows = [
        (i, "2026-01-01 00:00:00", -9.0 + (i % 40) * 0.45, -9.0 + (i % 7) * 2.5,
         float((i * 37) % 101))
        for i in range(400)
    ]
    mk(rows[:250]).write.mode("overwrite").parquet(src)
    mk(rows[250:]).write.mode("append").parquet(src)

    stream = spark.readStream.schema(mk(rows[:1]).schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    out = stateful_cell_sketch(stream, grid, res=3, k=16)
    q = (
        out.writeStream.outputMode("update")
        .format("memory").queryName("sketch_out")
        .option("checkpointLocation", str(tmp_path / "sketch_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    emitted = spark.sql("SELECT * FROM sketch_out").collect()
    assert emitted
    # final emission per cell = the row with the largest running total
    final = {}
    for r in emitted:
        if r.cell not in final or r.n_total > final[r.cell].n_total:
            final[r.cell] = r

    # batch twin: same cells, same hash rule, same bottom-k + quantiles
    from pyspark.sql import functions as F
    from spatialjoin.streaming import with_event_cells

    batch = with_event_cells(mk(rows), grid, 3).withColumn(
        "__h", F.xxhash64("event_id")
    ).select("cell", "__h", "value").collect()
    per_cell = {}
    for r in batch:
        per_cell.setdefault(r.cell, []).append((r["__h"], r.value))
    assert set(final) == set(per_cell)
    for cell, pairs in per_cell.items():
        pairs.sort()
        vals = np.sort(np.array([v for _, v in pairs[:16]]))
        got = final[cell]
        assert got.n_total == len(pairs)
        assert got.sample_size == len(vals)
        assert got.q50 == float(vals[int(0.5 * (len(vals) - 1))])
        assert got.q90 == float(vals[int(0.9 * (len(vals) - 1))])


def test_image_features_batched_matches_per_image(spark):
    """r5 batched decode: the stacked-group path must be BIT-identical
    to a per-image recompute with the original formulas (mixed shapes
    and fmts force multiple stacks per batch)."""
    from spatialjoin.images import phash64

    imgs = synth_images(spark, 40).persist()
    feats = {r.image_id: r for r in image_features(imgs).collect()}
    for r in imgs.collect():
        px = decode(r.bytes, r.fmt, r.w, r.h)
        f = feats[r.image_id]
        m = px.mean(axis=(0, 1))
        assert (f.mean_r, f.mean_g, f.mean_b) == (m[0], m[1], m[2])
        assert f.std_gray == px.mean(axis=2).std()
        want_ph = phash64(np.clip(px, 0, 255).astype(np.uint8)) if r.fmt == "raw" \
            else phash64(np.clip(np.round(px), 0, 255).astype(np.uint8))
        assert f.phash_check == want_ph
    imgs.unpersist()


def test_audio_int_stats_exact(spark):
    """Integer stats over decoded int16 samples, pcm16 and ulaw8,
    including an empty clip and mixed lengths within one batch."""
    from spatialjoin.multimodal import audio_int_stats

    sig1 = (np.sin(np.linspace(0, 9, 700)) * 12000).astype(np.int16)
    sig2 = np.array([5, -300, 32, 0], dtype=np.int16)
    rows = [
        (0, sig1.astype("<i2").tobytes(), "pcm16"),
        (1, encode_ulaw8(sig2), "ulaw8"),
        (2, b"", "pcm16"),
        (3, sig2.astype("<i2").tobytes(), "pcm16"),
    ]
    df = spark.createDataFrame(rows, "clip_id long, bytes binary, codec string")
    out = {r.clip_id: r for r in audio_int_stats(df).collect()}
    s1 = sig1.astype(np.int64)
    assert (out[0].n_samples, out[0].peak, out[0].energy) == (
        700, int(np.abs(s1).max()), int((s1 * s1).sum()))
    rt = decode_ulaw8(encode_ulaw8(sig2)).astype(np.int64)
    assert (out[1].n_samples, out[1].peak, out[1].energy) == (
        4, int(np.abs(rt).max()), int((rt * rt).sum()))
    assert (out[2].n_samples, out[2].peak, out[2].energy) == (0, 0, 0)
    s2 = sig2.astype(np.int64)
    assert (out[3].peak, out[3].energy) == (int(np.abs(s2).max()), int((s2 * s2).sum()))


def test_synth_av_clips_roundtrip(spark):
    """The av_pipeline generator: decoded audio peaks match the G.711
    roundtrip formula and sampled frames decode to the solid fill
    value, for all four codec combinations (i mod 4)."""
    from spatialjoin.multimodal import (
        audio_int_stats, frame_pixel_sums, sample_frames, synth_av_clips,
    )

    av = synth_av_clips(spark, 8).persist()
    stats = {r.clip_id: r for r in audio_int_stats(
        av.selectExpr("clip_id", "audio AS bytes", "codec")).collect()}
    for i in range(8):
        amp = (i * 37) % 16384
        ns = 800 + (i % 5) * 160
        if i % 2 == 0:
            peak = amp
        else:
            peak = int(decode_ulaw8(encode_ulaw8(
                np.array([amp], dtype=np.int16)))[0])
        assert (stats[i].n_samples, stats[i].peak) == (ns, peak)
        assert stats[i].energy == ns * peak * peak
    frames = sample_frames(
        av.selectExpr("CAST(clip_id AS STRING) AS video_id",
                      "video AS bytes", "vcodec AS codec", "w", "h", "n_frames"),
        every=2)
    sums = frame_pixel_sums(frames).collect()
    for r in sums:
        i, j = int(r.video_id), r.frame_idx
        assert j % 2 == 0
        assert r.pix_sum == ((i * 11 + j * 29) % 256) * 8 * 6 * 3
    # sampled-frame counts per clip: ceil(nf / 2)
    from collections import Counter
    cnt = Counter(int(r.video_id) for r in sums)
    for i in range(8):
        assert cnt[i] == (2 + (i % 3) + 1) // 2
    av.unpersist()


def _stream_smalls(kind, rng, n=90):
    """Small sides of the streaming join tests: closed rects, uniform
    5-point quads (the unrolled PIP's shape) or triangles."""
    from spatialjoin.geom import POLYGON, RECT, TRIANGLE

    rows = []
    for _ in range(n):
        x, y = rng.uniform(-8, 8), rng.uniform(-8, 8)
        a, b = rng.uniform(0.1, 0.9), rng.uniform(0.1, 0.9)
        if kind == "rect":
            rows.append((RECT, [x - a, y - b, x + a, y + b]))
        elif kind == "quad":
            rows.append((POLYGON, [x + a, y, x, y + b, x - a, y, x, y - b, x + a, y], [0]))
        else:
            rows.append((TRIANGLE, [x, y, x + 2 * a, y, x, y + 2 * b]))
    return rows


_STREAM_INDEXES = {
    "plain": {},
    "buffered": {"max_distance": 0.3},
    "nobc": {"broadcast": False},
    "hot": {"hot_threshold": 2},
    "multilevel": {"multilevel": True},
}
_PY_OPS = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
           "FlatMapCoGroupsInArrow")


@pytest.mark.parametrize("index", list(_STREAM_INDEXES))
@pytest.mark.parametrize("small", ["rect", "quad", "tri"])
def test_stream_join_equals_spatial_join(spark, tmp_path, caplog, small, index):
    """stream_points_in_geoms is a probe adapter over the engine's own
    pipeline, so it serves every index kind (buffered, non-broadcast,
    hot-split, multilevel) and equals spatial_join's rows plus the
    carried payload for all three predicates. Rect smalls, and quads
    under contains, take the JVM predicate with no Python operator
    when the index is unbuffered. The hot-split quad case runs the
    join on a real availableNow file stream."""
    import logging
    import random
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from spatialjoin.geom import POINT
    from spatialjoin.index import SpatialIndex
    from spatialjoin.sparkutil import geoms_to_df
    from spatialjoin.streaming import stream_points_in_geoms

    rng = random.Random(f"{small}-{index}")
    smalls = geoms_to_df(spark, _stream_smalls(small, rng))
    pdf = geoms_to_df(spark, [(POINT, [rng.uniform(-9, 9), rng.uniform(-9, 9)])
                              for _ in range(500)])
    ev = pdf.selectExpr("id AS event_id", "coords[0] AS x", "coords[1] AS y",
                        "id * 7 AS payload")
    idx = SpatialIndex.build(spark, smalls, validate=False, **_STREAM_INDEXES[index])
    caplog.set_level(logging.DEBUG, logger="spatialjoin.index")
    want = {}
    for how in ("intersects", "contains", "within"):
        want[how] = {(r.big_id, r.small_id, r.big_id * 7)
                     for r in idx.spatial_join(pdf, how=how, validate=False).collect()}
        caplog.clear()
        out = stream_points_in_geoms(ev, idx, how=how, carry=("payload",))
        jvm = idx.max_distance == 0.0 and (
            small == "rect" or (small == "quad" and how == "contains"))
        assert [m.split(" reason=")[0] for m in caplog.messages] == [
            f"join route={'jvm' if jvm else 'arrow'}"]
        if jvm:
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert not any(op in plan for op in _PY_OPS), plan
        got = {(r.big_id, r.small_id, r.payload) for r in out.collect()}
        assert got == want[how], (how, len(got), len(want[how]))
    assert want["intersects"]
    if (small, index) == ("quad", "hot"):
        src = str(tmp_path / "points")
        ev.write.parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        joined = reduce(DataFrame.unionByName, [
            stream_points_in_geoms(stream, idx, how=h, carry=("payload",))
            .withColumn("how", F.lit(h)) for h in want])
        q = (joined.writeStream.format("memory").queryName("stream_join_hot")
             .trigger(availableNow=True).start())
        assert q.awaitTermination(300)
        rows = spark.table("stream_join_hot").collect()
        for how, rows_want in want.items():
            assert {(r.big_id, r.small_id, r.payload)
                    for r in rows if r.how == how} == rows_want, how
    idx.unpersist()


def test_stream_points_in_geoms_guards_carry_and_batch_equivalence(spark):
    """stream_points_in_geoms: (a) refuses an unknown ``how``; (b) on a
    BATCH frame with a polygon small side its rows equal the
    nested-loop oracle's contains pairs; (c) carried payload columns
    survive the refine unchanged on exactly the matching rows."""
    import random

    from spatialjoin.geom import POINT, GeomBatch
    from spatialjoin.index import SpatialIndex
    from spatialjoin.oracle import slow_spatial_join
    from spatialjoin.sparkutil import geoms_to_df
    from spatialjoin.streaming import stream_points_in_geoms

    rng = random.Random(11)
    quads = _stream_smalls("quad", rng, 120)
    pts = [(POINT, [rng.uniform(-9, 9), rng.uniform(-9, 9)]) for _ in range(700)]
    ev = geoms_to_df(spark, pts).selectExpr(
        "id AS event_id", "coords[0] AS x", "coords[1] AS y", "id * 7 AS payload")
    idx = SpatialIndex.build(spark, geoms_to_df(spark, quads), validate=False)
    with pytest.raises(ValueError, match="how must be"):
        stream_points_in_geoms(ev, idx, how="touches")
    got = {(r.big_id, r.small_id, r.payload)
           for r in stream_points_in_geoms(ev, idx, carry=("payload",)).collect()}
    def batch(rows):
        return GeomBatch.from_lists([r[0] for r in rows], [r[1] for r in rows],
                                    [r[2] if len(r) > 2 else None for r in rows])

    want = {(b, s, b * 7) for b, s in slow_spatial_join(batch(quads), batch(pts), "contains")}
    idx.unpersist()
    assert got == want and len(got) > 0
