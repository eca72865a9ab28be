"""Structured Streaming over the cell grid.

The reference crate's "streaming" is pull-based bounded-memory
iterators (README.md:206-213), not event-time streaming — SURVEY.md §2.2
records that. This module adds the Spark-native streaming counterpart
anyway: a watermarked, windowed per-cell aggregation over a stream of
located events, a stateful per-cell sketch, and one stream-static
spatial join (``stream_points_in_geoms``) that feeds the stream to a
built SpatialIndex as point probes, so it takes the same planner
routes as the batch join. Tested end-to-end with a file stream (tests
write parquet increments) — the same code runs on Kafka/rate sources
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .geom import POINT
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


def stream_points_in_geoms(events: DataFrame, index: SpatialIndex,
                           x_col: str = "x", y_col: str = "y",
                           id_col: str = "event_id",
                           how: str = "contains",
                           carry: tuple = ()) -> DataFrame:
    """EXACT streaming spatial join of a point stream against a static
    SpatialIndex of any kind (buffered, non-broadcast, hot-split or
    multilevel; any small geometry). A probe adapter: the stream's rows
    become POINT probes (``id_col`` -> id, coords = [x, y]) and run
    through the engine's own filter -> dedup -> refine, along the route
    SpatialIndex._plan picks — a JVM predicate (closed-rect bbox
    logic, the unrolled point-in-polygon) or one stateless mapInArrow
    kernel refine. No state, no watermark requirement, so it composes
    with any downstream windowed aggregation. Output: DF[big_id,
    small_id, *carry] with big_id = the stream's id column; ``carry``
    names extra stream columns passed through the refine to matching
    rows (a post-refine stream-stream re-join would be unsupported in
    complete output mode).

    Stream rows are not validated (validation needs an action); NaN
    coordinates never match."""
    if how not in ("intersects", "contains", "within"):
        raise ValueError("how must be intersects|contains|within")
    probe = events.select(
        F.col(id_col).cast("long").alias("id"),
        F.lit(POINT).alias("kind"),
        F.array(F.col(x_col).cast("double"), F.col(y_col).cast("double")).alias("coords"),
        F.array().cast("array<int>").alias("rings"),
        *carry,
    )
    return index._run("join", probe, how, False, False, {POINT}, "auto", None,
                      carry=tuple(carry))
