"""Structured Streaming over the cell grid.

The reference crate's "streaming" is pull-based bounded-memory
iterators (README.md:206-213), not event-time streaming — SURVEY.md §2.2
records that. This module adds the Spark-native streaming counterpart
anyway: a watermarked, windowed per-cell aggregation over a stream of
located events, plus a stream-static spatial enrichment join against a
built SpatialIndex's cell table. Tested end-to-end with a file stream
(tests write parquet increments) — the same code runs on Kafka/rate
sources unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .grid import Grid
from .index import SpatialIndex, _clamped_cell_coord


def with_event_cells(events: DataFrame, grid: Grid, res: int,
                     x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Assign each (possibly streaming) event row its grid cell —
    stateless column math, fully streamable."""
    n = 1 << res
    cw, ch = grid.cell_size(res)
    cx = _clamped_cell_coord(F.col(x_col), grid.x0, cw, n)
    cy = _clamped_cell_coord(F.col(y_col), grid.y0, ch, n)
    return events.withColumn(
        "cell",
        F.lit(res << 58).cast("long").bitwiseOR(F.shiftleft(cx, 29)).bitwiseOR(cy),
    )


def windowed_cell_counts(events: DataFrame, grid: Grid, res: int,
                         ts_col: str = "ts", window: str = "10 seconds",
                         watermark: str = "30 seconds") -> DataFrame:
    """Watermarked tumbling-window per-cell event counts + value sums —
    late rows beyond the watermark are dropped by the engine."""
    cells = with_event_cells(events, grid, res)
    return (
        cells.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("cell"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "cell", "n_events", "sum_value",
        )
    )


CELL_SKETCH_OUTPUT = "cell long, n_total long, sample_size int, q50 double, q90 double"
CELL_SKETCH_STATE = "n long, hashes array<long>, vals array<double>"


def stateful_cell_sketch(events: DataFrame, grid: Grid, res: int, k: int = 64,
                         id_col: str = "event_id", value_col: str = "value",
                         x_col: str = "x", y_col: str = "y") -> DataFrame:
    """CUSTOM STATEFUL OPERATOR (applyInPandasWithState): a per-cell
    bottom-k (k-minimum-values) sketch of the event value distribution,
    maintained across triggers.

    The sample is the k events with the SMALLEST xxhash64(id) — a
    deterministic, order- and batch-boundary-independent uniform sample
    (the classic KMV construction), so the final state equals the batch
    computation over all events regardless of how the stream was
    chunked. Per trigger each updated cell emits its current total
    count and p50/p90 estimates over the sampled values. Not
    expressible with built-in windowed aggregates (the state is an
    evolving sample, not an algebraic aggregate).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    cells = with_event_cells(events, grid, res, x_col, y_col)
    cells = cells.withColumn("__h", F.xxhash64(F.col(id_col)))
    src = cells.select("cell", "__h", F.col(value_col).alias("__v"))

    def update(key, pdfs, state):
        if state.exists:
            n, hashes, vals = state.get
            hashes = np.asarray(hashes, dtype=np.int64)
            vals = np.asarray(vals, dtype=np.float64)
        else:
            n = 0
            hashes = np.zeros(0, dtype=np.int64)
            vals = np.zeros(0, dtype=np.float64)
        for pdf in pdfs:
            n += len(pdf)
            hashes = np.concatenate([hashes, pdf["__h"].to_numpy(np.int64)])
            vals = np.concatenate([vals, pdf["__v"].to_numpy(np.float64)])
            if len(hashes) > k:
                keep = np.argsort(hashes, kind="stable")[:k]
                hashes, vals = hashes[keep], vals[keep]
        state.update((int(n), [int(h) for h in hashes], [float(v) for v in vals]))
        if len(vals):
            sv = np.sort(vals)
            q50 = float(sv[int(0.5 * (len(sv) - 1))])
            q90 = float(sv[int(0.9 * (len(sv) - 1))])
        else:
            q50 = q90 = float("nan")
        yield pd.DataFrame(
            {"cell": [key[0]], "n_total": [int(n)], "sample_size": [len(vals)],
             "q50": [q50], "q90": [q90]}
        )

    return src.groupBy("cell").applyInPandasWithState(
        update, CELL_SKETCH_OUTPUT, CELL_SKETCH_STATE, "update",
        GroupStateTimeout.NoTimeout,
    )


def enrich_stream_with_index(events: DataFrame, index: SpatialIndex,
                             x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Stream-static join: tag each streaming event with the indexed
    (small-side) geometries whose cell it lands in — the streaming
    filter phase of a spatial join; exact refine can follow downstream
    in foreachBatch where batch semantics apply."""
    cells = with_event_cells(events, index.grid, index.resolution, x_col, y_col)
    small = index.small_cells.select("cell", "small_id")
    return cells.join(small, on="cell", how="inner")


def stream_points_in_rects(events: DataFrame, index: SpatialIndex,
                           x_col: str = "x", y_col: str = "y") -> DataFrame:
    """EXACT streaming spatial join of a point stream against a RECT
    small side — the full filter+refine pipeline, valid on a streaming
    DataFrame: the cell equi-join is the filter phase and the
    closed-rect containment test on the index's stored bbox columns is
    the exact refine (for RECTs the bbox IS the geometry; inclusive
    boundaries match kernels.py's Rect semantics). Pure JVM end-to-end
    — no Python operator, no state, so it composes with any downstream
    watermark/window. Each point covers exactly ONE cell, so no pair
    dedup is needed (a rect spans many cells; the pair still arises
    only via the point's single cell).

    Requires a plain single-level index built with max_distance=0 (the
    stored bbox would otherwise be the buffered rect, breaking
    exactness) whose small side is all RECTs."""
    from .geom import RECT

    if index.max_distance:
        raise ValueError("stream_points_in_rects needs max_distance=0 "
                         "(buffered bboxes are not the exact rects)")
    if index.small_fine is not None or index.levels is not None:
        raise ValueError("stream_points_in_rects needs a plain "
                         "single-level index (no hot-split/multilevel)")
    if index.small_kinds != {RECT}:
        raise ValueError("stream_points_in_rects: small side must be "
                         "all RECTs")
    cells = with_event_cells(events, index.grid, index.resolution, x_col, y_col)
    small = index.small_cells.select(
        "cell", "small_id", "s_xmin", "s_ymin", "s_xmax", "s_ymax")
    x, y = F.col(x_col), F.col(y_col)
    return (
        cells.join(small, on="cell", how="inner")
        .where((x >= F.col("s_xmin")) & (x <= F.col("s_xmax"))
               & (y >= F.col("s_ymin")) & (y <= F.col("s_ymax")))
        .drop("cell", "s_xmin", "s_ymin", "s_xmax", "s_ymax")
    )


def stream_points_in_geoms(events: DataFrame, index: SpatialIndex,
                           x_col: str = "x", y_col: str = "y",
                           id_col: str = "event_id",
                           how: str = "contains",
                           carry: tuple = ()) -> DataFrame:
    """EXACT streaming spatial join of a point stream against ANY
    static small side — polygons with holes, triangles, linestrings —
    via the engine's full filter+refine pipeline on a streaming
    DataFrame: cell equi-join (filter) + JVM bbox prune + ONE stateless
    mapInArrow kernel refine over the broadcast small geometries
    (the same _arrow_refine stage as the batch arrow route). No
    state, no watermark requirement — composes with any
    downstream windowed aggregation. Output: DF[big_id, small_id,
    *carry] with big_id = the stream's id column; ``carry`` names
    extra stream columns passed through the refine to matching rows
    (a post-refine stream-stream re-join would be unsupported in
    complete output mode).

    Each point covers exactly ONE cell, so candidate pairs are unique
    by construction (no reference-point dedup stage is needed — same
    argument as stream_points_in_rects). Stream rows are not validated
    (validation needs an action); NaN coordinates never match.

    Requires a plain single-level BROADCAST index (small geometries
    gathered at build) with max_distance=0."""
    from pyspark.sql import types as T

    from .index import _arrow_refine

    if index.max_distance:
        raise ValueError("stream_points_in_geoms needs max_distance=0 "
                         "(buffered bboxes would skip the exact refine)")
    if index.small_fine is not None or index.levels is not None:
        raise ValueError("stream_points_in_geoms needs a plain "
                         "single-level index (no hot-split/multilevel)")
    if index.small_geo_bc is None:
        raise ValueError("stream_points_in_geoms needs a broadcast "
                         "index (small geometries gathered at build)")
    if how not in ("intersects", "contains", "within"):
        raise ValueError("how must be intersects|contains|within")
    cells = with_event_cells(events, index.grid, index.resolution, x_col, y_col)
    small = index.small_cells.select(
        "cell", "small_id", "s_xmin", "s_ymin", "s_xmax", "s_ymax")
    x, y = F.col(x_col), F.col(y_col)
    cand = (
        cells.join(small, on="cell", how="inner")
        .where((x >= F.col("s_xmin")) & (x <= F.col("s_xmax"))
               & (y >= F.col("s_ymin")) & (y <= F.col("s_ymax")))
        .select(
            F.col(id_col).cast("long").alias("big_id"), "small_id",
            x.cast("double").alias("bx"), y.cast("double").alias("by"),
            *[F.col(c) for c in carry],
        )
    )
    fields = [
        T.StructField("big_id", T.LongType(), False),
        T.StructField("small_id", T.LongType(), False),
    ] + [cand.schema[c] for c in carry]
    return cand.mapInArrow(
        _arrow_refine("join", how=how, slim="point", bc=index.small_geo_bc,
                      carry=tuple(carry)),
        T.StructType(fields),
    )
