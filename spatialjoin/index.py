"""SpatialIndex: the engine's spatial join / proximity map operators.

Spark-first re-expression of the reference crate's two operators
(``/root/reference/src/index.rs:422-599``):

    filter  — the reference probes six per-type R-trees with a bbox
              (src/index.rs:143-221). Here the filter is a CELL
              EQUI-JOIN: both sides get int64 grid-cell coverings of
              their (buffered) bboxes — computed entirely JVM-side with
              array functions + sequence/explode so Catalyst sees a
              plain equi-join it can broadcast/AQE-optimize.
    dedup   — a covering can emit the same candidate pair in several
              cells (the reference's single-tree probe cannot); the
              standard reference-point rule keeps a pair only in the
              cell containing the top-left corner of the two bboxes'
              intersection — a pure-SQL filter, no shuffle.
    refine  — the exact predicate (src/index.rs:505-533 semantics)
              along one of three routes, chosen per call by
              ``SpatialIndex._plan`` from the build stats alone:
              ``jvm`` — a JVM predicate on the deduped pairs (rect/point
              bbox logic, the unrolled point-in-polygon ray cast, or the
              point-point distance), no Python operator; ``arrow`` —
              one ``mapInArrow`` pass of the vectorized numpy kernels
              over the deduped pairs (``_arrow_refine``; the small
              geometry comes from a broadcast or rides with each pair);
              ``cogroup`` — both sides grouped by cell and filtered,
              deduped and refined per group in one ``applyInArrow``
              (forced, or with_geos on a non-broadcast index when no JVM
              predicate applies). with_geos and a stream's payload
              columns pass through whichever route runs. Each call,
              streaming joins included, logs its route and the reason
              at DEBUG on the ``spatialjoin.index`` logger.

``max_distance`` buffering of the indexed side's bboxes replicates
cheap_buffer (src/rtrees.rs:159-166): the epsilon of the distance join
is pushed into the covering.

Join semantics (MUST match the reference, src/index.rs:505-533):
  how='intersects' : small.Intersects(big)
  how='contains'   : small contains big
  how='within'     : small within big  (= big contains small)
Proximity predicate is inclusive: distance <= max_distance
(src/index.rs:438); distances checked finite (src/index.rs:436).
"""

from __future__ import annotations

import logging
from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import kernels
from .geom import GeomBatch, validate_max_distance
from .grid import Grid

_HOW = ("intersects", "contains", "within")

# auto-broadcast caps: cell-row count AND geometry byte volume (a small
# side of few-but-fat polygons must not collect GBs into the driver)
BROADCAST_MAX_CELLS = 2_000_000
BROADCAST_BYTE_BUDGET = 128 * 1024 * 1024

_GEO_COLS = ("kind", "coords", "rings")
# what with_geos adds to a join's output: both sides' geometry columns
_GEO_CARRY = tuple(f"{p}_{c}" for p in ("b", "s") for c in _GEO_COLS)

_log = logging.getLogger(__name__)


def _prefixed(df: DataFrame, prefix: str, id_out: str, keep=()) -> DataFrame:
    """The id and geometry columns renamed under ``prefix``, plus the
    ``keep`` columns unchanged (a stream's payload)."""
    # NULL array values are pathologically slow through Spark 4.1's
    # row->Arrow writer (~80us/row measured); ship empty arrays instead
    rings = F.coalesce(F.col("rings"), F.array().cast("array<int>"))
    return df.select(
        F.col("id").alias(id_out),
        F.col("kind").alias(f"{prefix}_kind"),
        F.col("coords").alias(f"{prefix}_coords"),
        rings.alias(f"{prefix}_rings"),
        *keep,
    )


def with_bbox(df: DataFrame, prefix: str, buffer: float = 0.0,
              points: bool = False, rects: bool = False) -> DataFrame:
    """JVM-side bbox (+optional cheap_buffer expansion) from the flat
    coords array. ``points=True`` (caller KNOWS every row is a point)
    reads the two scalars directly instead of building two filtered
    array copies per row — same doubles (min of a singleton), ~half the
    per-row allocation on the hot probe scan. ``rects=True`` reads the
    four scalars with least/greatest (rect coords are not normalized by
    contract — kernels.rect_minmax min/maxes them too, so these are the
    same doubles). Both scalar forms stay inside whole-stage codegen;
    the generic path's filter/array_min lambdas are INTERPRETED
    higher-order expressions (measured on the 600k-probe bench scan as
    a top per-row cost). ``buffer`` may also be a Column, a per-row
    buffer (kNN's sampled bound)."""
    b = buffer if isinstance(buffer, Column) else F.lit(float(buffer))
    if points:
        x = F.element_at(f"{prefix}_coords", 1)
        y = F.element_at(f"{prefix}_coords", 2)
        return (
            df.withColumn(f"{prefix}_xmin", x - b)
            .withColumn(f"{prefix}_xmax", x + b)
            .withColumn(f"{prefix}_ymin", y - b)
            .withColumn(f"{prefix}_ymax", y + b)
        )
    if rects:
        x1 = F.element_at(f"{prefix}_coords", 1)
        y1 = F.element_at(f"{prefix}_coords", 2)
        x2 = F.element_at(f"{prefix}_coords", 3)
        y2 = F.element_at(f"{prefix}_coords", 4)
        return (
            df.withColumn(f"{prefix}_xmin", F.least(x1, x2) - b)
            .withColumn(f"{prefix}_xmax", F.greatest(x1, x2) + b)
            .withColumn(f"{prefix}_ymin", F.least(y1, y2) - b)
            .withColumn(f"{prefix}_ymax", F.greatest(y1, y2) + b)
        )
    xs = F.filter(f"{prefix}_coords", lambda _, i: i % 2 == 0)
    ys = F.filter(f"{prefix}_coords", lambda _, i: i % 2 == 1)
    return (
        df.withColumn(f"{prefix}_xmin", F.array_min(xs) - b)
        .withColumn(f"{prefix}_xmax", F.array_max(xs) + b)
        .withColumn(f"{prefix}_ymin", F.array_min(ys) - b)
        .withColumn(f"{prefix}_ymax", F.array_max(ys) + b)
    )


def _clamped_cell_coord(col, origin: float, size: float, n: int):
    raw = F.floor((col - F.lit(origin)) / F.lit(size)).cast("long")
    return F.greatest(F.lit(0).cast("long"), F.least(F.lit(n - 1).cast("long"), raw))


def with_cells(df: DataFrame, prefix: str, grid: Grid, res: int, keep_cxy: bool) -> DataFrame:
    """Explode each row into its covering cells at ``res`` — pure JVM
    (sequence + explode), no Python."""
    n = 1 << res
    cw, ch = grid.cell_size(res)
    cx0 = _clamped_cell_coord(F.col(f"{prefix}_xmin"), grid.x0, cw, n)
    cx1 = _clamped_cell_coord(F.col(f"{prefix}_xmax"), grid.x0, cw, n)
    cy0 = _clamped_cell_coord(F.col(f"{prefix}_ymin"), grid.y0, ch, n)
    cy1 = _clamped_cell_coord(F.col(f"{prefix}_ymax"), grid.y0, ch, n)
    df = df.withColumn("cx", F.explode(F.sequence(cx0, cx1)))
    df = df.withColumn("cy", F.explode(F.sequence(cy0, cy1)))
    df = df.withColumn(
        "cell",
        F.lit(res << 58).cast("long")
        .bitwiseOR(F.shiftleft(F.col("cx"), 29))
        .bitwiseOR(F.col("cy")),
    )
    return df if keep_cxy else df.drop("cx", "cy")


def _clamped_cell_coord_col(col, origin: float, size_col, n_col):
    """Per-row cell coordinate: like _clamped_cell_coord but cell size
    and count are COLUMNS (multi-level covering)."""
    raw = F.floor((col - F.lit(origin)) / size_col).cast("long")
    return F.greatest(F.lit(0).cast("long"), F.least(n_col - 1, raw))


def geometry_level(prefix: str, grid: Grid, max_res: int, min_res: int = 0):
    """Size-stratified level for a row: the resolution where the
    geometry spans about one cell (<= 2 cells/axis), clamped to
    [min_res, max_res]. Points and tiny shapes land on max_res."""
    span = float(max(grid.x1 - grid.x0, grid.y1 - grid.y0))
    w = F.col(f"{prefix}_xmax") - F.col(f"{prefix}_xmin")
    h = F.col(f"{prefix}_ymax") - F.col(f"{prefix}_ymin")
    maxwh = F.greatest(w, h)
    lvl = F.when(maxwh <= 0.0, F.lit(max_res)).otherwise(
        F.floor(F.log2(F.lit(2.0 * span) / maxwh))
    )
    return F.greatest(
        F.lit(min_res).cast("long"),
        F.least(F.lit(max_res).cast("long"), lvl.cast("long")),
    )


def with_cells_at_level(df: DataFrame, prefix: str, grid: Grid, level_col,
                        keep_cxy: bool) -> DataFrame:
    """Covering cells at a PER-ROW level column — pure JVM column math
    (the fixed-resolution with_cells is the special case level=lit(r))."""
    df = df.withColumn("lvl", level_col)
    n = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(lvl AS INT))")
    cw = F.lit(float(grid.x1 - grid.x0)) / n
    ch = F.lit(float(grid.y1 - grid.y0)) / n
    cx0 = _clamped_cell_coord_col(F.col(f"{prefix}_xmin"), grid.x0, cw, n)
    cx1 = _clamped_cell_coord_col(F.col(f"{prefix}_xmax"), grid.x0, cw, n)
    cy0 = _clamped_cell_coord_col(F.col(f"{prefix}_ymin"), grid.y0, ch, n)
    cy1 = _clamped_cell_coord_col(F.col(f"{prefix}_ymax"), grid.y0, ch, n)
    df = df.withColumn("cx", F.explode(F.sequence(cx0, cx1)))
    df = df.withColumn("cy", F.explode(F.sequence(cy0, cy1)))
    df = df.withColumn(
        "cell",
        F.shiftleft(F.col("lvl"), 58)
        .bitwiseOR(F.shiftleft(F.col("cx"), 29))
        .bitwiseOR(F.col("cy")),
    )
    df = df.drop("lvl")
    return df if keep_cxy else df.drop("cx", "cy")


def with_fine_cells(df: DataFrame, prefix: str, grid: Grid, res: int, fine_res: int) -> DataFrame:
    """Re-cover rows at ``fine_res`` RESTRICTED to their (hot) parent
    cell: the fine coordinate range of the row's bbox is intersected
    with the parent's fine-coordinate block in pure integer math (no
    float parent rectangles), so parent/child coverings stay consistent
    at cell boundaries. Input must carry cx/cy (parent coords at
    ``res``); output replaces cell/cx/cy with fine-resolution ones."""
    k = fine_res - res
    nf = 1 << fine_res
    cwf, chf = grid.cell_size(fine_res)
    fx0 = _clamped_cell_coord(F.col(f"{prefix}_xmin"), grid.x0, cwf, nf)
    fx1 = _clamped_cell_coord(F.col(f"{prefix}_xmax"), grid.x0, cwf, nf)
    fy0 = _clamped_cell_coord(F.col(f"{prefix}_ymin"), grid.y0, chf, nf)
    fy1 = _clamped_cell_coord(F.col(f"{prefix}_ymax"), grid.y0, chf, nf)
    px0 = F.shiftleft(F.col("cx"), k)
    px1 = F.shiftleft(F.col("cx") + 1, k) - 1
    py0 = F.shiftleft(F.col("cy"), k)
    py1 = F.shiftleft(F.col("cy") + 1, k) - 1
    def _seq(lo, hi):
        # Spark's sequence(a, b) auto-reverses when a > b; empty ranges
        # (ulp-level boundary wobble) must drop the row instead
        return F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
            F.array().cast("array<bigint>")
        )

    df = df.drop("cell")
    df = df.withColumn("fcx", F.explode(_seq(F.greatest(fx0, px0), F.least(fx1, px1))))
    df = df.withColumn("fcy", F.explode(_seq(F.greatest(fy0, py0), F.least(fy1, py1))))
    df = df.drop("cx", "cy").withColumnRenamed("fcx", "cx").withColumnRenamed("fcy", "cy")
    return df.withColumn(
        "cell",
        F.lit(fine_res << 58).cast("long")
        .bitwiseOR(F.shiftleft(F.col("cx"), 29))
        .bitwiseOR(F.col("cy")),
    )


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the scan yields fewer
    partitions than the cluster has slots (small local files). Real
    table scans at scale already have thousands of partitions and skip
    the shuffle entirely. A stream is returned unchanged: ``df.rdd``
    cannot run on it."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(target // 2, 1):
        return df.repartition(target)
    return df


def _refine_input_cols(bc, extra, slim: str | None = None):
    """Only the columns the refine kernel reads cross the (expensive)
    row->Arrow boundary: ids + probe geometry (+ carried small geometry
    when there is no broadcast; + with_geos passthroughs). All-point
    probes decompose to two scalar doubles — cheaper through the Arrow
    writer than a 2-element array; all-rect probes to the four bbox
    doubles (the bbox IS the rect bit-exactly at buffer zero)."""
    if slim == "point":
        # probe bbox is unbuffered, so b_xmin/b_ymin ARE the point
        # coordinates bit-exactly (x - 0.0 == x) — using them lets
        # Catalyst prune the b_coords array from the probe scan
        cols = [
            "big_id", "small_id",
            F.col("b_xmin").alias("bx"),
            F.col("b_ymin").alias("by"),
        ]
    elif slim == "rect":
        cols = ["big_id", "small_id", "b_xmin", "b_ymin", "b_xmax", "b_ymax"]
    else:
        cols = ["big_id", "small_id", "b_kind", "b_coords", "b_rings"]
    if bc is None:
        cols += ["s_kind", "s_coords", "s_rings"]
    seen = set()
    out = []
    for c in cols + list(extra):
        key = c if isinstance(c, str) else str(c)
        if key not in seen:
            seen.add(key)
            out.append(c)
    return out


def _check_finite(d):
    """Worker-side guard for the reference's finite-distance contract
    (index.rs:436). An explicit raise, not an ``assert``: ``python -O``
    strips asserts, and a NaN distance fails every ``<=`` test, so the
    pair would vanish without a word."""
    if not np.isfinite(d).all():
        raise ValueError(
            "non-finite distance: every coordinate must be finite "
            "(index.rs:436 contract; validate=True rejects such rows "
            "up front)")


def _point_distance(px: str, py: str):
    """Point-point distance in the JVM, from the stored unbuffered small
    scalars s_px/s_py to the probe point (px, py), both SQL text: the
    same float ops as kernels.distance (sqrt(dx*dx + dy*dy)), so the
    two agree bit for bit."""
    return F.expr(f"sqrt((s_px - {px}) * (s_px - {px}) + (s_py - {py}) * (s_py - {py}))")


def _broadcast_geoms(spark, src: DataFrame):
    """(sorted_ids, GeomBatch) broadcast of the small_id, s_kind,
    s_coords and s_rings columns of ``src``: one Arrow collect, decoded
    as flat buffers (no Row objects), sorted by small_id."""
    tbl = src.select("small_id", "s_kind", "s_coords", "s_rings").toArrow()
    tbl = tbl.take(np.argsort(tbl.column("small_id").to_numpy(), kind="stable"))
    ids = tbl.column("small_id").to_numpy().astype(np.int64)
    batch = GeomBatch.from_arrow(tbl.column("s_kind").to_numpy(),
                                 tbl.column("s_coords"), tbl.column("s_rings"))
    return spark.sparkContext.broadcast((ids, batch))


def _rect_batch(x0, y0, x1, y1):
    """GeomBatch of N rects straight from four bbox arrays (no coords
    arrays ever materialized)."""
    from .geom import RECT

    n = len(x0)
    xs = np.empty(2 * n)
    xs[0::2] = x0
    xs[1::2] = x1
    ys = np.empty(2 * n)
    ys[0::2] = y0
    ys[1::2] = y1
    return GeomBatch(
        np.full(n, RECT, dtype=np.int8),
        np.arange(0, 2 * n + 1, 2, dtype=np.int64),
        xs, ys,
        np.zeros(n, dtype=np.int32), np.zeros(0, dtype=np.int64),
    )


def _point_batch(px, py):
    n = len(px)
    xs = np.asarray(px, dtype=np.float64)
    ys = np.asarray(py, dtype=np.float64)
    from .geom import POINT

    return GeomBatch(
        np.full(n, POINT, dtype=np.int8),
        np.arange(n + 1, dtype=np.int64),
        xs, ys,
        np.zeros(n, dtype=np.int32), np.zeros(0, dtype=np.int64),
    )


def _probe_kind(big_kinds) -> str | None:
    """"point" or "rect" when the probe side holds only that kind (its
    bbox is then read as scalars, and its geometry can cross the Arrow
    boundary as them), else None."""
    from .geom import POINT, RECT

    kinds = set(big_kinds or ())
    if kinds == {POINT}:
        return "point"
    if kinds == {RECT}:
        return "rect"
    return None


def _slim_probe_batch(col, slim):
    """Rebuild the probe GeomBatch from slim scalar columns: two doubles
    for points, the four bbox doubles for rects (bit-exact at buffer
    zero — no coords array ever crosses the boundary). ``slim=None``
    (general-geometry probes, r6) decodes the carried kind/coords/rings
    columns as one flat Arrow buffer per batch (GeomBatch.from_arrow —
    no per-row boxing)."""
    if slim is None:
        return GeomBatch.from_arrow(
            col["b_kind"].to_numpy(zero_copy_only=False),
            col["b_coords"], col["b_rings"],
        )
    if slim == "point":
        return _point_batch(
            col["bx"].to_numpy(zero_copy_only=False),
            col["by"].to_numpy(zero_copy_only=False),
        )
    return _rect_batch(
        col["b_xmin"].to_numpy(zero_copy_only=False),
        col["b_ymin"].to_numpy(zero_copy_only=False),
        col["b_xmax"].to_numpy(zero_copy_only=False),
        col["b_ymax"].to_numpy(zero_copy_only=False),
    )


def _refine_mask(op, how, max_d, A, ai, B, bi):
    """The exact predicate over pairs (A[ai], B[bi]) — A the small
    side, B the probe: (mask, distance), distance None on a join."""
    if op == "prox":
        d = kernels.distance(A, ai, B, bi)
        _check_finite(d)
        return d <= max_d, d
    if how == "intersects":
        return kernels.intersects(A, ai, B, bi), None
    if how == "contains":
        return kernels.contains(A, ai, B, bi), None
    # within: big contains small (src/index.rs:528-533)
    return kernels.contains(B, bi, A, ai), None


def _arrow_refine(op, how=None, max_d=None, slim=None, bc=None, carry=()):
    """The engine's one pair refine, a ``mapInArrow`` function: Arrow
    batches of candidate pairs in, the surviving (big_id, small_id
    [, distance]) rows out, with no pandas on either side.

    The probe geometry comes from the slim scalars or the carried
    b_kind/b_coords/b_rings (``_slim_probe_batch``). The small geometry
    comes from ``bc``, the (sorted_ids, GeomBatch) broadcast looked up
    by small_id, or, without one, from the carried s_kind/s_coords/
    s_rings decoded as flat buffers. ``carry`` names input columns
    passed through to the surviving rows unchanged (a type-preserving
    Arrow filter): the with_geos geometry columns, or a streaming
    caller's payload."""

    def fn(it):
        import pyarrow as pa

        if carry:
            import pyarrow.compute as pc
        if bc is not None:
            ids_geo, A = bc.value
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            col = {nm: batch.column(i) for i, nm in enumerate(batch.schema.names)}
            bid = col["big_id"].to_numpy(zero_copy_only=False)
            sid = col["small_id"].to_numpy(zero_copy_only=False)
            B = _slim_probe_batch(col, slim)
            bi = np.arange(n, dtype=np.int64)
            if bc is None:
                A = GeomBatch.from_arrow(
                    col["s_kind"].to_numpy(zero_copy_only=False),
                    col["s_coords"], col["s_rings"],
                )
                ai = bi
            else:
                ai = np.searchsorted(ids_geo, sid)
            mask, d = _refine_mask(op, how, max_d, A, ai, B, bi)
            arrays = [pa.array(bid[mask]), pa.array(sid[mask])]
            names = ["big_id", "small_id"]
            if d is not None:
                arrays.append(pa.array(d[mask]))
                names.append("distance")
            if carry:
                pamask = pa.array(mask)
                for nm in carry:
                    arrays.append(pc.filter(col[nm], pamask))
                    names.append(nm)
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return fn


class SpatialIndex:
    """Prepared (small/indexed) side of a spatial join.

    Mirrors the reference API surface (src/structs.rs:36-78,
    src/index.rs:422-599): Config{max_distance} + serial/parallel
    collapse into ``build`` (Spark is always parallel; the reference's
    serial-vs-parallel equivalence becomes our parallelism-invariance
    test).
    """

    def __init__(self, spark, small_cells: DataFrame, grid: Grid, res: int,
                 max_distance: float, broadcast_small: bool,
                 hot_cells: DataFrame | None = None,
                 small_fine: DataFrame | None = None,
                 fine_resolution: int | None = None,
                 levels: list | None = None):
        self.spark = spark
        self.small_cells = small_cells  # cold cells (all cells when no split)
        self.grid = grid
        self.resolution = res
        self.max_distance = max_distance
        self.broadcast_small = broadcast_small
        self.hot_cells = hot_cells
        self.small_fine = small_fine
        self.fine_resolution = fine_resolution
        # (sorted_ids, GeomBatch) broadcast: when the small side is
        # broadcastable, its geometry ships to each worker ONCE instead
        # of once per candidate row through the (expensive) row->Arrow
        # writer; candidates then carry only ids + probe geometry.
        # r6: materialized LAZILY (see the small_geo_bc property) —
        # build records the source frame and the collect job + driver
        # broadcast happen on first ACCESS, so pure-SQL refine paths
        # (rect/point predicates, unrolled PIP) never pay for it. The
        # source frame (the small side with its bbox, before the
        # covering) is kept for non-broadcast indexes too: kNN draws
        # its samples from it.
        self._small_geo_bc_val = None
        self._small_src = None
        # multilevel (size-stratified) index: populated LEVELS the probe
        # side must cover (None = single-resolution index)
        self.levels = levels
        # from the build stats job (set by build, the only constructor
        # of an index): geometry-row count, kind set, max ring count and
        # the per-geometry coordinate count when it is uniform (else None)
        self.n_small_rows = None
        self.n_small_vals = None  # summed coords-array length
        self.small_kinds = None
        self.small_max_rings = None
        self.small_uniform_size = None

    @property
    def small_geo_bc(self):
        """(sorted_ids, GeomBatch) broadcast of the small geometry,
        collected lazily on first access (r6) by one Arrow collect:
        refine paths that stay entirely in the JVM — rect/point SQL
        predicates, the unrolled PIP — never access it, so their
        queries skip the collect job and the driver->executor
        broadcast. kNN on a broadcast index reads it in every task.
        None when the index is not broadcast."""
        if self._small_geo_bc_val is None and self.broadcast_small:
            self._small_geo_bc_val = _broadcast_geoms(self.spark, self._small_src)
        return self._small_geo_bc_val

    # -- construction -------------------------------------------------------

    @staticmethod
    def build(
        spark: SparkSession,
        small_df: DataFrame,
        max_distance: float = 0.0,
        extent=None,
        resolution: int | None = None,
        broadcast: bool | str = "auto",
        validate: bool = True,
        persist: bool = True,
        hot_threshold: int | None = None,
        split_steps: int = 2,
        cell_target_rows: float | None = None,
        multilevel: bool = False,
    ) -> "SpatialIndex":
        """small_df schema: (id:long, kind:int, coords:array<double>,
        rings:array<int>?) — see sparkutil.geometry_schema. Polygon
        rings must be closed.

        ``hot_threshold``: enable hot-cell SPLITTING (the north rule's
        explicit skew handling) — cells indexing more than this many
        small rows are re-covered at ``resolution + split_steps``; probe
        rows touching a hot cell probe the fine level within it. The
        reference-point dedup rule keeps the two levels disjoint: a
        candidate pair is emitted only in the level owning the cell of
        its bbox-intersection corner, so results are identical with
        splitting on or off.

        ``multilevel``: SIZE-stratified covering for mixed-scale
        corpora — each small geometry indexes at the level where it
        spans ~one cell (<= ~9 covering cells per geometry regardless of
        size; a continent-sized polygon no longer explodes into
        thousands of fine cells), and probes cover every populated
        level. Each small row lives on exactly one level, so the
        per-level reference-point rule keeps results identical to the
        single-resolution index (invariance-tested). Mutually exclusive
        with ``hot_threshold`` (size skew vs density skew).
        """
        max_distance = validate_max_distance(max_distance)
        if validate:
            validate_geoms(small_df)
        s = _prefixed(small_df, "s", "small_id")
        s = with_bbox(s, "s", buffer=max_distance)
        # unbuffered point coordinates as scalars: all-point workloads
        # then never touch the coords ARRAY after the covering, so
        # Catalyst prunes it from the index scan/broadcast — a large
        # memory-traffic cut on the bandwidth-bound distance paths
        s = s.withColumn("s_px", F.element_at("s_coords", 1)).withColumn(
            "s_py", F.element_at("s_coords", 2)
        )
        # ONE stats job collects everything later stages would otherwise
        # re-derive with their own actions: extent/median-size (grid
        # choice), row count (kNN ring sizing), coordinate volume
        # (broadcast byte budget), kind set + max ring count (SQL
        # fast-path dispatch) — each removed count()/first() was a
        # driver round-trip on the query path
        stats = s.select(
            F.min("s_xmin"), F.min("s_ymin"), F.max("s_xmax"), F.max("s_ymax"),
            F.percentile_approx(F.col("s_xmax") - F.col("s_xmin"), 0.5),
            F.percentile_approx(F.col("s_ymax") - F.col("s_ymin"), 0.5),
            F.count(F.lit(1)),
            F.sum(F.size("s_coords")),
            F.collect_set("s_kind"),
            F.max(F.size("s_rings")),
            F.min(F.size("s_coords")),
            F.max(F.size("s_coords")),
        ).first()
        n_small = int(stats[6] or 0)
        n_vals = int(stats[7] or 0)
        small_kinds = set(stats[8] or [])
        small_max_rings = int(stats[9] or 0)
        # uniform per-geometry coordinate count (or None): unlocks the
        # UNROLLED pure-JVM PIP refine (fixed segment count per row)
        small_uniform_size = int(stats[10]) if (
            stats[10] is not None and stats[10] == stats[11]
        ) else None
        if extent is None or resolution is None:
            xmin, ymin, xmax, ymax, med_w, med_h = stats[:6]
            if xmin is None:
                xmin = ymin = -1.0
                xmax = ymax = 1.0
                med_w = med_h = 1.0
            if extent is None:
                # tiny margin so max coords stay strictly inside.
                # Correctness requires only that the SMALL side's
                # buffered bboxes fit the extent; probe-side geometry is
                # clamped into edge cells, which the refine rejects.
                mx = max((xmax - xmin), 1e-9) * 1e-6
                my = max((ymax - ymin), 1e-9) * 1e-6
                extent = (xmin - mx, ymin - my, xmax + mx, ymax + my)
            grid = Grid(extent)
            if resolution is None and cell_target_rows:
                # density-targeted grid (kNN ring search): ~target rows
                # per cell so ring 1 already holds ~k candidates
                resolution = int(np.clip(
                    round(np.log2(max((n_small or 0) / cell_target_rows, 4.0)) / 2.0),
                    2, 14,
                ))
            elif resolution is None:
                resolution = grid.choose_resolution(
                    np.array([med_w or 0.0]), np.array([med_h or 0.0])
                )
                # don't go finer than the small side's cardinality can
                # fill (~1 geometry per cell): bounds covering blowup
                cap_res = max(2, int(np.ceil(np.log2(max(n_small, 4)) / 2)) + 2)
                if n_small:
                    resolution = int(min(resolution, cap_res))
                # r6 PROBE-FANOUT guard: with few-but-large geometries
                # the size-matched cell is huge and every probe meets
                # every same-cell geometry (supplier quads at res 2:
                # ~125 candidates/probe, 19x the true-match rate — 7.5G
                # joined rows at the 60M rehearsal). Estimated per-cell
                # candidate density ~ n*(med+cell)^2/span^2; go finer
                # while it stays egregious (>32) AND finer cells still
                # help (cell > med/2 — below that the density plateaus
                # at its n*med^2/span^2 floor while the small covering
                # keeps growing). Resolution changes plan shape only;
                # the reference-point dedup keeps results identical.
                med = max(float(med_w or 0.0), float(med_h or 0.0))
                span = float(max(grid.x1 - grid.x0, grid.y1 - grid.y0))
                if n_small and med > 0.0:
                    def _density(r: int) -> float:
                        cell = span / (1 << r)
                        return n_small * (med + cell) ** 2 / (span * span)

                    while (resolution < cap_res
                           and _density(resolution) > 32.0
                           and span / (1 << resolution) > med / 2.0):
                        resolution += 1
        else:
            grid = Grid(extent)
        if multilevel and hot_threshold is not None:
            raise ValueError("multilevel and hot_threshold are mutually exclusive")
        levels = None
        if multilevel:
            lvl = geometry_level("s", grid, resolution)
            small_all = with_cells_at_level(s, "s", grid, lvl, keep_cxy=True)
        else:
            small_all = with_cells(s, "s", grid, resolution, keep_cxy=True)
        hot = None
        small_fine = None
        fine_res = None
        if hot_threshold is not None:
            hist = small_all.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
            hot = hist.where(F.col("n") > int(hot_threshold)).select("cell")
            if persist:
                hot = hot.persist()
            if hot.count() == 0:
                hot.unpersist()
                hot = None
            else:
                fine_res = min(resolution + split_steps, 28)
                cold = small_all.join(F.broadcast(hot), "cell", "left_anti").drop("cx", "cy")
                hotrows = small_all.join(F.broadcast(hot), "cell", "left_semi")
                small_fine = with_fine_cells(hotrows, "s", grid, resolution, fine_res).drop("cx", "cy")
                small_all = cold
        small_cells = small_all.drop("cx", "cy") if hot is None else small_all
        if persist:
            small_cells = small_cells.persist()
            if small_fine is not None:
                small_fine = small_fine.persist()
        if multilevel:
            levels = sorted(
                r[0] for r in
                small_cells.select(F.shiftright("cell", 58).alias("l")).distinct().collect()
            )
        bc = broadcast
        if bc == "auto":
            from .geom import POINT as _P

            if (small_kinds <= {_P} and max_distance == 0.0 and hot is None
                    and not multilevel) or not persist:
                # unbuffered points cover exactly ONE cell each, so the
                # covering row count IS the geometry row count from the
                # stats job — the auto decision needs no extra driver
                # action (one job per kNN/point-index build saved); the
                # persisted covering materializes on first use instead.
                # An unpersisted index (kNN's private one) is decided on
                # its geometry rows too: its broadcast route reads only
                # the geometry broadcast, and counting a covering that
                # is not kept would compute it for nothing
                n_cells = n_small
            else:
                n_cells = small_cells.count()  # materializes the cache too
                if small_fine is not None:
                    n_cells += small_fine.count()
            # byte-based budget over the GEOMETRY rows (what actually
            # gets collected — n_vals from the build stats job), not the
            # per-cell covering rows
            bc = n_cells <= BROADCAST_MAX_CELLS and n_vals * 8 <= BROADCAST_BYTE_BUDGET
        idx = SpatialIndex(
            spark, small_cells, grid, resolution, max_distance, bool(bc),
            hot_cells=hot, small_fine=small_fine, fine_resolution=fine_res,
            levels=levels,
        )
        # the geometry collect + broadcast is deferred to first use
        idx._small_src = s
        # cache build-time stats on the index: later calls (kNN ring
        # and sample sizing, route planning) would otherwise re-derive
        # each with its own driver action
        idx.n_small_rows = n_small
        idx.n_small_vals = n_vals
        idx.small_kinds = small_kinds
        idx.small_max_rings = small_max_rings
        idx.small_uniform_size = small_uniform_size
        return idx

    # -- operators -----------------------------------------------------------

    def _ref_filter(self, cand: DataFrame, res: int | None) -> DataFrame:
        """Reference-point dedup + bbox-intersection prune (pure SQL):
        keep a candidate pair only in the cell containing the top-left
        corner of the two bboxes' intersection. ``res=None`` (multilevel
        index) decodes the resolution per row from the cell id."""
        rx = F.greatest("s_xmin", "b_xmin")
        ry = F.greatest("s_ymin", "b_ymin")
        bbox_ok = (rx <= F.least("s_xmax", "b_xmax")) & (ry <= F.least("s_ymax", "b_ymax"))
        if res is None:
            n = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(shiftright(cell, 58) AS INT))")
            cw = F.lit(float(self.grid.x1 - self.grid.x0)) / n
            ch = F.lit(float(self.grid.y1 - self.grid.y0)) / n
            ref_cx = _clamped_cell_coord_col(rx, self.grid.x0, cw, n)
            ref_cy = _clamped_cell_coord_col(ry, self.grid.y0, ch, n)
        else:
            n = 1 << res
            cw, ch = self.grid.cell_size(res)
            ref_cx = _clamped_cell_coord(rx, self.grid.x0, cw, n)
            ref_cy = _clamped_cell_coord(ry, self.grid.y0, ch, n)
        return cand.where(bbox_ok & (F.col("cx") == ref_cx) & (F.col("cy") == ref_cy))

    @staticmethod
    def _probe(big_df: DataFrame, validate: bool, probe_kind: str | None,
               keep=()) -> DataFrame:
        """The probe side every route starts from: validate, prefix
        (keeping the ``keep`` columns), spread over the cluster, then
        the unbuffered bbox (scalar reads for all-point or all-rect
        probes)."""
        if validate:
            validate_geoms(big_df)
        b = ensure_parallelism(_prefixed(big_df, "b", "big_id", keep))
        return with_bbox(b, "b", buffer=0.0, points=probe_kind == "point",
                         rects=probe_kind == "rect")

    def _probe_levels(self, b: DataFrame) -> list:
        """The covering of a bboxed probe (``_probe``, or kNN's probe
        buffered by its sampled bound) at each index level, as (probe
        cells, small cells, resolution) triples. A multilevel index is
        one triple over every populated level (resolution None: cell ids
        carry their level); a hot split is two, cold cells at the base
        resolution and hot cells at the fine one (within the hot parent
        only). A pair's reference point picks exactly one level, so the
        levels' candidates never overlap."""
        if self.levels is not None:
            b = b.withColumn(
                "__lvl",
                F.explode(F.array(*[F.lit(int(l)).cast("long") for l in self.levels])),
            )
            b = with_cells_at_level(b, "b", self.grid, F.col("__lvl"), keep_cxy=True)
            return [(b.drop("__lvl"), self.small_cells, None)]
        b = with_cells(b, "b", self.grid, self.resolution, keep_cxy=True)
        if self.hot_cells is None:
            return [(b, self.small_cells, self.resolution)]
        b_cold = b.join(F.broadcast(self.hot_cells), "cell", "left_anti")
        b_hot = b.join(F.broadcast(self.hot_cells), "cell", "left_semi")
        b_fine = with_fine_cells(b_hot, "b", self.grid, self.resolution, self.fine_resolution)
        return [(b_cold, self.small_cells, self.resolution),
                (b_fine, self.small_fine, self.fine_resolution)]

    def _cogroup_refine(self, b: DataFrame, op: str, how: str | None,
                        with_geos: bool, probe_kind: str | None,
                        carry: list) -> DataFrame:
        """Shuffle-side execution for non-broadcastable indexes: cogroup
        both sides by cell and, per cell group, bulk-load a packed
        STRtree over the small side's (buffered) bboxes, probe with the
        big side's bboxes, dedup with the reference-point rule, and
        refine with the vectorized kernels — all inside one
        applyInArrow. Each input row crosses the Arrow boundary once
        per covering cell instead of once per CANDIDATE PAIR, which is
        the difference that matters when cells are dense. ``b`` is the
        bboxed probe (``_probe``). The ``carry`` columns (with_geos:
        both geometries) leave per RESULT row, taken from the side that
        holds them, without the per-candidate-pair explosion of the
        pairs path.

        PARALLELISM = number of (salted) groups, NOT number of rows: a
        coarse grid (e.g. resolution 2 -> <= 16 populated cells) would
        cap the whole stage at 16 tasks and make 4N cores SLOWER than N
        (measured). When populated cells < ~4x the cluster's cores, the
        probe side is SALTED into (cell, salt) subgroups (small rows
        replicated per salt) so every core gets work; each big row still
        meets each same-cell small row exactly once, so results are
        unchanged.

        The per-group function runs via applyInArrow: geometry arrives
        as ONE flat float64 buffer + offsets per side
        (GeomBatch.from_arrow) and results leave as Arrow arrays — no
        pandas block construction, no per-row list boxing, on either
        side of the boundary (measured ~2x the per-group throughput of
        the former applyInPandas body; it is the shared-allocator
        pandas work that scaled worst with executor count).

        BYTES are the cogroup's scaling currency (event-log profiling:
        the cogroup stage's per-task time inflates ~3x when every core
        is busy — bandwidth contention, not compute). Point/rect-only
        probe sides therefore ship SLIM rows: two (point) or four
        (rect) scalar doubles instead of kind + coords array + rings
        array + four bbox doubles; the group fn reconstructs the
        GeomBatch from the scalars. The small side always prunes to the
        columns the fn reads (the stored s_px/s_py scalars in
        particular never cross)."""
        from .geom import POINT as KP, RECT as KR
        from .strtree import STRtree

        slim = None if with_geos else probe_kind
        # r6: rect/point-vs-rect/point predicates are pure bbox logic
        # (same equivalence argument as _sql_predicate: candidates
        # already bbox-overlap, so Intersects degenerates to TRUE and
        # Contains/Within to bbox containment + the point-dim guard).
        # The grouped refine then skips the geometry columns in the
        # shuffle (s_coords/s_rings never ship — for rects that is the
        # entire geometry payload) and the kernel calls per group.
        bbox_only = (
            op == "join" and not with_geos and slim is not None
            and self.max_distance == 0.0
            and self.small_kinds <= {KP, KR}
        )
        parts = self._probe_levels(b)
        b = reduce(DataFrame.unionByName, [p[0] for p in parts])
        small = reduce(DataFrame.unionByName, [p[1] for p in parts])
        if slim == "point":
            # probe bbox is unbuffered: b_xmin/b_ymin ARE the point
            # coordinates bit-exactly, and Catalyst prunes b_coords
            # from the probe scan entirely
            bcols = [F.col("b_xmin").alias("bx"), F.col("b_ymin").alias("by")]
        elif slim == "rect":
            bcols = ["b_xmin", "b_ymin", "b_xmax", "b_ymax"]
        else:
            bcols = ["b_kind", "b_coords", "b_rings", "b_xmin", "b_ymin", "b_xmax", "b_ymax"]
        # with_geos sets slim None, so the probe geometry is in bcols
        b = b.select("cell", "big_id", *bcols, *[c for c in carry if c not in _GEO_CARRY])
        # bbox_only: s_kind (one byte) stays for the point-dim guard;
        # the coords/rings arrays — the shuffle's heavy columns — do not
        small = small.select("cell", "small_id", "s_kind",
                             *([] if bbox_only else ["s_coords", "s_rings"]),
                             "s_xmin", "s_ymin", "s_xmax", "s_ymax")
        spark = small.sparkSession
        n_groups = self._n_cells()
        par = spark.sparkContext.defaultParallelism
        # salt to reach max(4 x cores, 256) groups. The 256 floor makes
        # the policy SCALE-INVARIANT across nearby cluster sizes (an
        # N-core and a 4N-core cluster run the identical plan — measured:
        # a coarse 16-cell grid salted to 4x cores gave the small level
        # a better-balanced config than the large one and misread as a
        # scaling loss), and finer salting is near-free: the replicated
        # small side is cells x salt rows of bboxes+geometry, while the
        # balance win applies to the whole probe side. Huge clusters
        # (4*par > 256) still salt up to their core count.
        target_groups = max(4 * par, 256)
        # NEAREST salt to the target, not ceiling: when the cell count
        # already sits within ~50% of the target (e.g. 230 cells at the
        # r6 res-4 quad index), ceiling division doubled the group
        # count for no balance gain while per-group fn overhead is real
        # (measured: pip_quad_cogroup 2.27s at salt 2 vs 1.92s at salt
        # 1). Still scale-invariant: target is the 256 constant until
        # clusters exceed 64 cores.
        salt = int(min(64, max(1, round(target_groups / max(n_groups, 1)))))
        import os as _os

        _salt_ov = _os.environ.get("SPARK_GRAFT_COGROUP_SALT")
        if _salt_ov:
            try:
                # same [1, 64] clamp as the auto value: an unclamped
                # override would replicate the small side 'salt' times
                salt = min(64, max(1, int(_salt_ov)))
            except ValueError:
                raise ValueError(
                    "SPARK_GRAFT_COGROUP_SALT must be an integer, got "
                    f"{_salt_ov!r}"
                ) from None
        if salt > 1:
            b = b.withColumn(
                "__salt", F.pmod(F.xxhash64("big_id"), F.lit(salt)).cast("int")
            )
            small = small.withColumn(
                "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
            )
            group_keys = ["cell", "__salt"]
        else:
            group_keys = ["cell"]
        fields = [
            T.StructField("big_id", T.LongType(), False),
            T.StructField("small_id", T.LongType(), False),
        ]
        if op == "prox":
            fields.append(T.StructField("distance", T.DoubleType(), False))
        fields += [(b if c in b.columns else small).schema[c] for c in carry]
        schema = T.StructType(fields)
        grid = self.grid
        max_d = self.max_distance

        def fn(key, btab, stab):
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            empty = to_arrow_schema(schema).empty_table()
            if btab.num_rows == 0 or stab.num_rows == 0:
                return empty
            cell = key[0].as_py()
            res = cell >> 58
            ccx = (cell >> 29) & ((1 << 29) - 1)
            ccy = cell & ((1 << 29) - 1)
            n = 1 << res
            cw = (grid.x1 - grid.x0) / n
            ch = (grid.y1 - grid.y0) / n
            sx0 = stab.column("s_xmin").to_numpy()
            sy0 = stab.column("s_ymin").to_numpy()
            sx1 = stab.column("s_xmax").to_numpy()
            sy1 = stab.column("s_ymax").to_numpy()
            if slim == "point":
                bx0 = btab.column("bx").to_numpy()
                by0 = btab.column("by").to_numpy()
                bx1, by1 = bx0, by0
            else:
                bx0 = btab.column("b_xmin").to_numpy()
                by0 = btab.column("b_ymin").to_numpy()
                bx1 = btab.column("b_xmax").to_numpy()
                by1 = btab.column("b_ymax").to_numpy()
            if op == "prox":
                # a NaN bbox fails every overlap test below, so its
                # pairs would vanish before the distance check sees them
                _check_finite(np.concatenate([sx0, sy0, sx1, sy1, bx0, by0, bx1, by1]))
            # candidate bbox pairs: small groups skip the STRtree — a
            # dense vectorized overlap mask is faster than tree descent
            # below ~8M cells (profiled: query_pairs was ~36% of group
            # time at typical 130-box groups) and allocates less
            if len(sx0) * len(bx0) <= 8_000_000:
                m0 = (
                    (bx1[:, None] >= sx0) & (bx0[:, None] <= sx1)
                    & (by1[:, None] >= sy0) & (by0[:, None] <= sy1)
                )
                qi, ti = np.nonzero(m0)
                qi = qi.astype(np.int64, copy=False)
                ti = ti.astype(np.int64, copy=False)
            else:
                tree = STRtree(sx0, sy0, sx1, sy1)
                qi, ti = tree.query_pairs(bx0, by0, bx1, by1)
            if len(qi) == 0:
                return empty
            # reference-point dedup at this cell's resolution
            rx = np.maximum(sx0[ti], bx0[qi])
            ry = np.maximum(sy0[ti], by0[qi])
            rcx = np.clip(np.floor((rx - grid.x0) / cw).astype(np.int64), 0, n - 1)
            rcy = np.clip(np.floor((ry - grid.y0) / ch).astype(np.int64), 0, n - 1)
            keep = (rcx == ccx) & (rcy == ccy)
            qi, ti = qi[keep], ti[keep]
            if len(qi) == 0:
                return empty
            if bbox_only:
                # candidates already bbox-overlap: Intersects is TRUE;
                # Contains/Within reduce to bbox containment + the
                # point-dim guard (point never contains a higher-dim
                # geometry). Identical to the kernel verdicts for
                # rect/point kinds — no geometry ever shipped.
                if how == "intersects":
                    m = np.ones(len(qi), dtype=bool)
                else:
                    skind = stab.column("s_kind").to_numpy()
                    if how == "contains":
                        m = ((sx0[ti] <= bx0[qi]) & (sy0[ti] <= by0[qi])
                             & (sx1[ti] >= bx1[qi]) & (sy1[ti] >= by1[qi]))
                        if slim == "rect":
                            m &= skind[ti] != KP
                    else:  # within: big contains small
                        m = ((bx0[qi] <= sx0[ti]) & (by0[qi] <= sy0[ti])
                             & (bx1[qi] >= sx1[ti]) & (by1[qi] >= sy1[ti]))
                        if slim == "point":
                            m &= skind[ti] == KP
                d = None
            else:
                A = GeomBatch.from_arrow(stab["s_kind"].to_numpy(),
                                         stab["s_coords"], stab["s_rings"])
                m, d = _refine_mask(op, how, max_d, A, ti,
                                    _slim_probe_batch(btab, slim), qi)
            mq, mt = qi[m], ti[m]
            cols = [pa.array(btab["big_id"].to_numpy()[mq]),
                    pa.array(stab["small_id"].to_numpy()[mt])]
            if d is not None:
                cols.append(pa.array(d[m]))
            # Arrow-native gather of the carried columns per RESULT row
            # (take on list arrays runs in C++)
            tq, tt = pa.array(mq), pa.array(mt)
            for c in carry:
                cols.append(btab[c].take(tq) if c in btab.column_names else stab[c].take(tt))
            return pa.Table.from_arrays(cols, names=schema.fieldNames())

        return (
            b.groupby(*group_keys)
            .cogroup(small.groupby(*group_keys))
            .applyInArrow(fn, schema)
        )

    def _candidates(self, b: DataFrame) -> DataFrame:
        """Candidate pairs of a bboxed probe: the cell equi-join of each
        index level (broadcast when the small side is), deduped by the
        reference-point rule."""
        def bcast(df):
            return F.broadcast(df) if self.broadcast_small else df

        return reduce(DataFrame.unionByName, [
            self._ref_filter(cells.join(bcast(small), on="cell", how="inner"), res)
            for cells, small, res in self._probe_levels(b)
        ])

    def _n_cells(self) -> int:
        """Cached count of populated index cells — the cogroup
        strategy's maximum parallelism before salting."""
        if not hasattr(self, "_n_cells_cache"):
            cells = self.small_cells.select("cell")
            if self.small_fine is not None:
                cells = cells.unionByName(self.small_fine.select("cell"))
            self._n_cells_cache = int(cells.distinct().count())
        return self._n_cells_cache

    # unroll cap: polygons up to this many ring points (closed) get the
    # pure-JVM literal-index PIP; beyond it the expression tree stops
    # paying for itself and the vectorized kernels take over
    PIP_UNROLL_MAX_PTS = 17

    @staticmethod
    def _sql_pip_unrolled(poly_prefix: str, npts: int, px: str, py: str):
        """Strict point-in-(hole-less)-polygon with the segment loop
        UNROLLED into literal-index expressions — usable when every
        indexed polygon has the same (small) vertex count, known from
        the build stats job. Arithmetic is the SAME per-segment ray-cast
        + on-boundary test as kernels.point_in_poly_strict, term for
        term (the crossing count is a sum of 0/1 longs, whose addition
        order cannot change parity), so results stay bit-identical to
        the kernel path — with no higher-order functions (an
        aggregate/exists lambda form measured ~19 us/candidate, slower
        than the kernels' ~11). NOTE the generated
        code for 4+ segments exceeds HotSpot's 8000-bytecode JIT limit;
        with spark.sql.codegen.hugeMethodLimit=8000 (get_spark) the
        stage falls back to Spark's JIT-compiled expression interpreter,
        which measured 12x faster than letting the JVM bytecode-
        interpret the huge generated method and ~3x faster than the
        aggregate/exists form.

        ``px``/``py`` are SQL expression strings for the probe point —
        callers pass the b_xmin/b_ymin bbox scalars for point probes
        (bit-exact at buffer zero) so Catalyst prunes the probe coords
        array from the scan. The division in the crossing test is
        guarded by the nested CASE (ANSI mode; guard implies y1 != y2).
        """
        c = f"{poly_prefix}_coords"
        cross_terms, onb_terms = [], []
        for i in range(npts - 1):
            x1 = f"element_at({c}, {2 * i + 1})"
            y1 = f"element_at({c}, {2 * i + 2})"
            x2 = f"element_at({c}, {2 * i + 3})"
            y2 = f"element_at({c}, {2 * i + 4})"
            cross_terms.append(
                f"(CASE WHEN (({y1} > {py}) != ({y2} > {py})) THEN "
                f"(CASE WHEN {px} < ({x2} - {x1}) * ({py} - {y1}) / ({y2} - {y1}) + {x1} "
                f"THEN 1L ELSE 0L END) ELSE 0L END)"
            )
            onb_terms.append(
                f"((({x2} - {x1}) * ({py} - {y1}) - ({y2} - {y1}) * ({px} - {x1})) = 0e0"
                f" AND {px} >= least({x1}, {x2}) AND {px} <= greatest({x1}, {x2})"
                f" AND {py} >= least({y1}, {y2}) AND {py} <= greatest({y1}, {y2}))"
            )
        crossing = " + ".join(cross_terms)
        onb = " OR ".join(onb_terms)
        return F.expr(f"((({crossing}) % 2) = 1) AND NOT ({onb})")

    def _pip_unroll_npts(self, how: str, big_kinds) -> int | None:
        """Ring point count for the unrolled JVM PIP when it applies to
        this workload (polygon smalls CONTAIN point probes; hole-free;
        uniform small vertex count within the unroll cap), else None."""
        from .geom import POINT as KP, POLYGON as KG

        if how != "contains" or big_kinds is None or set(big_kinds) != {KP}:
            return None
        if self.small_kinds != {KG} or self.small_max_rings > 1:
            return None
        size = self.small_uniform_size
        if size is None or size % 2 != 0:
            return None
        npts = size // 2
        if 4 <= npts <= self.PIP_UNROLL_MAX_PTS:
            return npts
        return None

    @staticmethod
    def _sql_predicate(how: str, small_kinds, big_kinds):
        """JVM-only refine for rect/point workloads: their predicates
        are pure bbox logic, and the reference-point filter already
        proves bbox intersection — so Intersects degenerates to TRUE and
        Contains/Within to bbox containment (closed rects; exact
        equality for points falls out of degenerate-interval overlap).
        The one non-bbox rule — Point never Contains a higher-dim
        geometry even when degenerate-equal (gen.py:76-80) — is encoded
        as a kind guard. Returns None when any side has other kinds."""
        from .geom import POINT as P, RECT as R

        if small_kinds is None or big_kinds is None:
            return None
        if not (set(small_kinds) <= {P, R} and set(big_kinds) <= {P, R}):
            return None
        if how == "intersects":
            return F.lit(True)

        def contains(sp, bp):
            cond = (
                (F.col(f"{sp}_xmin") <= F.col(f"{bp}_xmin"))
                & (F.col(f"{sp}_ymin") <= F.col(f"{bp}_ymin"))
                & (F.col(f"{sp}_xmax") >= F.col(f"{bp}_xmax"))
                & (F.col(f"{sp}_ymax") >= F.col(f"{bp}_ymax"))
            )
            dim_ok = ~((F.col(f"{sp}_kind") == P) & (F.col(f"{bp}_kind") != P))
            return cond & dim_ok

        return contains("s", "b") if how == "contains" else contains("b", "s")

    def _plan(self, op: str, how: str | None, with_geos: bool, strategy: str,
              big_kinds) -> tuple:
        """The one place every join chooses its route — spatial_join,
        proximity_map and the streaming join alike; the first rule that
        matches wins:

        cogroup  ``strategy="cogroup"``: each row crosses the Arrow
                 boundary once per covering cell and the output leaves
                 per RESULT row (_cogroup_refine).
        jvm      an exact JVM predicate applies to the candidate pairs:
                 the rect/point bbox predicate or the unrolled PIP (both
                 need unbuffered bboxes, so max_distance == 0), or the
                 point-point distance. No Python operator. with_geos
                 only keeps the geometry columns on the survivors.
        cogroup  with_geos on a non-broadcast index under ``"auto"``.
        arrow    otherwise: one mapInArrow refine (_arrow_refine) over
                 the candidate pairs, reading the small geometry from
                 the broadcast, or carried per pair when the index is
                 not broadcast or with_geos needs it in the output.

        Returns (route, reason, pred); pred is the JVM Column on the jvm
        route (the join predicate, or the distance), else None. Reads
        only the build stats, so it runs no Spark job and never touches
        the geometry broadcast. Logs one DEBUG record per call."""
        from .geom import POINT as KP

        if strategy not in ("auto", "pairs", "cogroup"):
            raise ValueError("strategy must be auto|pairs|cogroup")
        route, pred = "arrow", None
        probe_kind = _probe_kind(big_kinds)
        reason = f"{probe_kind or 'general'} probes"
        if strategy == "cogroup":
            route, reason = "cogroup", "strategy=cogroup"
        elif op == "prox":
            if probe_kind == "point" and self.small_kinds == {KP}:
                # the probe bbox is unbuffered: b_xmin == bx exactly
                route, reason = "jvm", "point-point distance"
                pred = _point_distance("b_xmin", "b_ymin")
        elif self.max_distance == 0.0:
            pred = self._sql_predicate(how, self.small_kinds, big_kinds)
            if pred is not None:
                route, reason = "jvm", "rect/point bbox predicate"
            else:
                npts = self._pip_unroll_npts(how, big_kinds)
                if npts is not None:
                    # point probes are unbuffered, so the bbox scalars
                    # ARE the point coords bit-exactly and b_coords gets
                    # pruned from the probe scan
                    route, reason = "jvm", "unrolled PIP"
                    pred = self._sql_pip_unrolled("s", npts, "b_xmin", "b_ymin")
        if route == "arrow" and with_geos and strategy == "auto" and not self.broadcast_small:
            route, reason = "cogroup", "with_geos on a non-broadcast index"
        elif route == "arrow":
            reason += (", small geometry from the broadcast"
                       if self.broadcast_small and not with_geos
                       else ", small geometry carried per pair")
        _log.debug("%s route=%s reason=%s", op, route, reason)
        return route, reason, pred

    def _run(self, op: str, big_df: DataFrame, how: str | None, with_geos: bool,
             validate: bool, big_kinds, strategy: str, pair_filter,
             carry=()) -> DataFrame:
        """Filter -> dedup -> refine along the route _plan picks. The
        ``carry`` probe columns (a stream's payload) and, with
        with_geos, both sides' geometry columns pass through every
        route to the output rows."""
        route, _, pred = self._plan(op, how, with_geos, strategy, big_kinds)
        probe_kind = _probe_kind(big_kinds)
        b = self._probe(big_df, validate, probe_kind, keep=carry)
        carry = list(carry) + (list(_GEO_CARRY) if with_geos else [])
        if route == "cogroup":
            out = self._cogroup_refine(b, op, how, with_geos, probe_kind, carry)
            return out.where(pair_filter) if pair_filter is not None else out
        cand = self._candidates(b)
        if pair_filter is not None:
            # pair-identity predicate: refine is deterministic, so
            # filtering candidates == filtering results, minus the
            # refine work for dropped pairs
            cand = cand.where(pair_filter)
        if route == "jvm" and op == "join":
            return cand.where(pred).select("big_id", "small_id", *carry)
        if route == "jvm":
            return (
                cand.withColumn("distance", pred)
                .where(F.col("distance") <= F.lit(self.max_distance))
                .select("big_id", "small_id", "distance", *carry)
            )
        fields = [
            T.StructField("big_id", T.LongType(), False),
            T.StructField("small_id", T.LongType(), False),
        ]
        if op == "prox":
            fields.append(T.StructField("distance", T.DoubleType(), False))
        fields += [cand.schema[c] for c in carry]
        slim = None if with_geos else probe_kind
        # with_geos carries the small geometry to its output anyway, so
        # only a plain refine reads the broadcast
        bc = None if with_geos else self.small_geo_bc
        cand = cand.select(*_refine_input_cols(bc, carry, slim=slim))
        return cand.mapInArrow(
            _arrow_refine(op, how=how, max_d=self.max_distance, slim=slim,
                          bc=bc, carry=tuple(carry)),
            T.StructType(fields))

    def spatial_join(
        self, big_df: DataFrame, how: str = "intersects",
        with_geos: bool = False, validate: bool = True,
        big_kinds=None, strategy: str = "auto", pair_filter=None,
    ) -> DataFrame:
        """DF[big_id, small_id] (+ geometry columns when with_geos),
        matching SJoinRow/SJoinGeoRow (src/structs.rs:369-401).
        Output order is unspecified, like the reference's iterators.

        ``big_kinds``: optional set of kind codes present on the probe
        side; when both sides are rect/point-only the exact refine is
        pure SQL and the plan never leaves the JVM.

        ``with_geos`` changes the output, not the route choice beyond
        one rule: the geometry columns ride along whichever route _plan
        picks, and only a with_geos call that no JVM predicate serves
        goes to cogroup on a non-broadcast index.

        ``strategy``: "auto" lets _plan choose; "pairs" differs from it
        only by keeping that last with_geos case on the candidate pairs;
        "cogroup" forces the grouped refine.

        ``pair_filter``: optional Column predicate over ONLY
        (big_id, small_id), semantically identical to filtering the
        join OUTPUT — but pushed onto the CANDIDATE pairs, before the
        exact-refine stage, so skipped pairs never cross the Arrow
        boundary or run kernels (deterministic join sampling, id-range
        restriction, incremental re-processing all cost
        ~fraction x refine instead of full-join-then-filter). On the
        cogroup strategy the predicate is applied after the grouped
        refine instead (same rows, no pre-refine saving)."""
        if how not in _HOW:
            raise ValueError(f"how must be one of {_HOW}")
        return self._run("join", big_df, how, with_geos, validate, big_kinds,
                         strategy, pair_filter)

    def proximity_map(
        self, big_df: DataFrame, with_geos: bool = False, validate: bool = True,
        big_kinds=None, strategy: str = "auto", pair_filter=None,
    ) -> DataFrame:
        """DF[big_id, small_id, distance] with distance <= max_distance
        (inclusive), matching ProxMapRow (src/structs.rs:313-338). The
        stored small bboxes are buffered by max_distance at build, so
        the cell join's bbox overlap IS the distance prefilter.

        ``strategy`` and ``pair_filter``: same contract as
        spatial_join."""
        return self._run("prox", big_df, None, with_geos, validate, big_kinds,
                         strategy, pair_filter)

    def knn_join(self, big_df: DataFrame, k: int, validate: bool = True,
                 initial_ring: int | None = None, big_kinds=None) -> DataFrame:
        """k nearest indexed geometries for every probe — the SAME
        built index serves joins, proximity maps, and kNN (the
        module-level ``knn.knn_join`` builds a kNN-density-tuned index
        instead; reusing a join-tuned index trades a coarser/finer ring
        schedule for zero extra build cost)."""
        from .knn import _knn_with_index

        return _knn_with_index(self, big_df, k, validate, initial_ring,
                               big_kinds=big_kinds)

    def unpersist(self):
        self.small_cells.unpersist()
        if self.hot_cells is not None:
            self.hot_cells.unpersist()
        if self.small_fine is not None:
            self.small_fine.unpersist()


class Config:
    """API-parity shim mirroring the reference's builder
    (src/structs.rs:36-78): ``Config().max_distance(d).serial(spark, small)``.
    ``serial`` and ``parallel`` are the same thing here — Spark is
    always parallel; the reference's serial-vs-parallel split maps to
    our parallelism-invariance tests."""

    def __init__(self):
        self._max_distance = 0.0

    def max_distance(self, d: float) -> "Config":
        validate_max_distance(d)
        self._max_distance = float(d)
        return self

    def serial(self, spark: SparkSession, small_df: DataFrame, **kw) -> "SpatialIndex":
        return SpatialIndex.build(spark, small_df, max_distance=self._max_distance, **kw)

    parallel = serial


# -- validation op -----------------------------------------------------------

def validate_geoms(df: DataFrame) -> None:
    """Eager validation with the reference's error taxonomy
    (src/validation.rs, src/structs.rs:9-22) — pure JVM expressions +
    ONE lightweight action (no Python pass; whole-stage codegen'd;
    column-pruned to kind/coords/rings). Raises on the first invalid
    geometry, reporting its ``id`` (the reference reports the original
    sequence position; our rows carry ids).

    At 100 TB you validate once at ingest, not per query — pass
    ``validate=False`` to the operators for pre-validated data.
    """
    from .geom import BadCoordinateValue, LineStringTooSmall, PolygonExteriorTooSmall
    from .geom import LINESTRING as K_LS, POLYGON as K_POLY

    inf = float("inf")
    nonfinite = F.exists("coords", lambda x: F.isnan(x) | (F.abs(x) == F.lit(inf)))
    ls_small = (F.col("kind") == K_LS) & (F.size("coords") < 4)
    # rings hold CLOSED ring start offsets (engine contract); exterior
    # length = (next ring start or total points) - rings[0]
    npts = (F.size("coords") / 2).cast("long")
    ext_start = F.coalesce(F.try_element_at("rings", F.lit(1)).cast("long"), F.lit(0).cast("long"))
    ext_end = F.coalesce(F.try_element_at("rings", F.lit(2)).cast("long"), npts)
    poly_small = (F.col("kind") == K_POLY) & ((ext_end - ext_start) < 3)
    bad = (
        df.where(nonfinite | ls_small | poly_small)
        .select(
            "id",
            ls_small.alias("is_ls"),
            poly_small.alias("is_poly"),
            nonfinite.alias("is_nan"),
        )
        .orderBy("id")  # the reference reports the FIRST bad position;
        .first()        # the sort is over matches only (usually none)
    )
    if bad is None:
        return
    # structural checks outrank coordinate checks at the same position,
    # mirroring the reference's check order (validation.rs:39-54, 90-105)
    if bad.is_ls:
        raise LineStringTooSmall(bad.id)
    if bad.is_poly:
        raise PolygonExteriorTooSmall(bad.id)
    raise BadCoordinateValue(bad.id)
