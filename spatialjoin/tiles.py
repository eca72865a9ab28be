"""Raster tiling: tile<->vector assignment and tile pixel cutting.

North-rule addition. A zoom-z tiling of an extent is exactly the cell
grid at resolution z (grid.py), so tile<->geometry assignment is a
spatial join of tile RECTs against geometries and reuses the Rect-kind
kernels (the reference's Rect semantics, relates_impl.rs:147-234):
cover the geometry bbox with tiles (JVM sequence/explode), then refine
each (tile, geometry) candidate with the exact rect-intersects kernel.

``cut_tiles`` goes one step further for the image table: it decodes the
image payload (real numpy codecs from images.py), maps the pixel grid
onto the footprint bbox, and emits the pixel slab overlapping each
tile — the raster side of raster<->vector assignment.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import kernels
from .geom import RECT, GeomBatch
from .grid import Grid
from .index import _prefixed, _rect_batch, with_bbox, with_cells, validate_geoms


def assign_tiles(geoms_df: DataFrame, zoom: int, extent, validate: bool = True,
                 kinds=None) -> DataFrame:
    """DF[id, tile, tx, ty] — tiles whose closed rect intersects the
    geometry (Intersects semantics, matching the engine's spatial join
    with a Rect small side).

    ``kinds``: optional set of kind codes present in ``geoms_df``. When
    every row is a POINT/RECT the refine is tile-bbox overlap — the
    same doubles the kernel compares (_int_pt_rect/_int_rect_rect are
    closed bbox logic; tile corners recomputed with the identical
    x0 + t*tw (+tw) float expressions) — and the plan never leaves the
    JVM. Other kinds refine in one mapInArrow: tile rects from the same
    arithmetic, geometry decoded as flat Arrow buffers."""
    from .geom import POINT

    grid = Grid(extent)
    if validate:
        validate_geoms(geoms_df)
    from .index import ensure_parallelism

    g = _prefixed(geoms_df, "b", "id")
    g = ensure_parallelism(g)
    slim = kinds is not None and set(kinds) <= {POINT, RECT}
    g = with_bbox(g, "b", buffer=0.0,
                  points=slim and set(kinds) == {POINT},
                  rects=slim and set(kinds) == {RECT})
    g = with_cells(g, "b", grid, zoom, keep_cxy=True)
    tw, th = grid.cell_size(zoom)
    x0, y0 = grid.x0, grid.y0
    if slim:
        txmin = F.lit(x0) + F.col("cx") * F.lit(tw)
        tymin = F.lit(y0) + F.col("cy") * F.lit(th)
        keep = (
            (F.col("b_xmin") <= txmin + F.lit(tw)) & (F.col("b_xmax") >= txmin)
            & (F.col("b_ymin") <= tymin + F.lit(th)) & (F.col("b_ymax") >= tymin)
        )
        return g.where(keep).select(
            F.col("id"), F.col("cell").alias("tile"),
            F.col("cx").alias("tx"), F.col("cy").alias("ty"),
        )

    def refine(it):
        import pyarrow as pa

        for batch in it:
            if batch.num_rows == 0:
                continue
            col = {nm: batch.column(i) for i, nm in enumerate(batch.schema.names)}
            txmin = x0 + col["tx"].to_numpy(zero_copy_only=False) * tw
            tymin = y0 + col["ty"].to_numpy(zero_copy_only=False) * th
            A = _rect_batch(txmin, tymin, txmin + tw, tymin + th)
            B = GeomBatch.from_arrow(col["b_kind"].to_numpy(zero_copy_only=False),
                                     col["b_coords"], col["b_rings"])
            i = np.arange(batch.num_rows, dtype=np.int64)
            yield batch.select(["id", "tile", "tx", "ty"]).filter(
                pa.array(kernels.intersects(A, i, B, i)))

    g = g.select("id", F.col("cell").alias("tile"), F.col("cx").alias("tx"),
                 F.col("cy").alias("ty"), "b_kind", "b_coords", "b_rings")
    return g.mapInArrow(refine, "id long, tile long, tx long, ty long")


TILE_PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("tile", T.LongType(), False),
        T.StructField("tx", T.LongType(), False),
        T.StructField("ty", T.LongType(), False),
        T.StructField("px_off_x", T.IntegerType(), False),
        T.StructField("px_off_y", T.IntegerType(), False),
        T.StructField("tile_w", T.IntegerType(), False),
        T.StructField("tile_h", T.IntegerType(), False),
        T.StructField("tile_bytes", T.BinaryType(), False),
    ]
)


def cut_tiles(images_df: DataFrame, zoom: int, extent, footprint_fn=None,
              decode_fn=None) -> DataFrame:
    """Slice each image's decoded pixels into zoom-z tile slabs.

    The image's pixel grid is mapped onto its footprint bbox (row 0 at
    the top / max-y edge, like raster conventions). Output rows carry
    the pixel slab (as raw float32 RGB bytes) overlapping each tile.

    Decode amplification: candidates are grouped by image WITHIN each
    Arrow batch, so an image spanning T tiles is decoded once per
    batch it appears in (== once per image in practice: a row's tile
    explosion is contiguous), not once per tile. ``decode_fn`` is
    injectable for tests that count decodes.
    """
    from .images import decode, footprints

    decode_fn = decode_fn or decode

    grid = Grid(extent)
    tw, th = grid.cell_size(zoom)
    x0g, y0g = grid.x0, grid.y0
    fps = (footprint_fn or footprints)(images_df, extent)
    f = _prefixed(fps, "b", "fid")
    f = with_bbox(f, "b", buffer=0.0)
    joined = images_df.withColumn(
        "fid", F.substring("image_id", 4, 12).cast("long")
    ).join(f.select("fid", "b_xmin", "b_ymin", "b_xmax", "b_ymax"), on="fid")
    j = with_cells(
        joined.withColumnRenamed("b_xmin", "b_xmin").select(
            "image_id", "bytes", "w", "h", "fmt",
            "b_xmin", "b_ymin", "b_xmax", "b_ymax",
        ),
        "b", grid, zoom, keep_cxy=True,
    )

    def slab(iterator):
        for pdf in iterator:
            rows = []
            for _, g in pdf.groupby("image_id", sort=False):
                t0 = g.iloc[0]
                gx0, gy0, gx1, gy1 = t0.b_xmin, t0.b_ymin, t0.b_xmax, t0.b_ymax
                if gx1 <= gx0 or gy1 <= gy0:
                    continue
                px = decode_fn(t0.bytes, t0.fmt, t0.w, t0.h)  # ONCE per image
                for t in g.itertuples(index=False):
                    txmin = x0g + t.cx * tw
                    tymin = y0g + t.cy * th
                    # geographic overlap of tile and footprint bbox
                    ox0, ox1 = max(gx0, txmin), min(gx1, txmin + tw)
                    oy0, oy1 = max(gy0, tymin), min(gy1, tymin + th)
                    if ox1 <= ox0 or oy1 <= oy0:
                        continue
                    # map to pixel coords (row 0 = top = max y)
                    c0 = int(np.floor((ox0 - gx0) / (gx1 - gx0) * t.w))
                    c1 = int(np.ceil((ox1 - gx0) / (gx1 - gx0) * t.w))
                    r0 = int(np.floor((gy1 - oy1) / (gy1 - gy0) * t.h))
                    r1 = int(np.ceil((gy1 - oy0) / (gy1 - gy0) * t.h))
                    c0, c1 = max(0, c0), min(t.w, c1)
                    r0, r1 = max(0, r0), min(t.h, r1)
                    if c1 <= c0 or r1 <= r0:
                        continue
                    cut = np.ascontiguousarray(px[r0:r1, c0:c1, :], dtype=np.float32)
                    rows.append(
                        (
                            t.image_id, int(t.cell), int(t.cx), int(t.cy),
                            c0, r0, c1 - c0, r1 - r0, cut.tobytes(),
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in TILE_PIXEL_SCHEMA.fields])

    return j.mapInPandas(slab, TILE_PIXEL_SCHEMA)


SLAB_SUM_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("tx", T.LongType(), False),
        T.StructField("ty", T.LongType(), False),
        T.StructField("px_off_x", T.IntegerType(), False),
        T.StructField("px_off_y", T.IntegerType(), False),
        T.StructField("tile_w", T.IntegerType(), False),
        T.StructField("tile_h", T.IntegerType(), False),
        T.StructField("sum2", T.LongType(), False),
    ]
)


def slab_pixel_sums(slabs_df: DataFrame) -> DataFrame:
    """DF[image_id, tx, ty, px_off_x, px_off_y, tile_w, tile_h, sum2]
    where sum2 = sum of 2x every float32 pixel value in the slab,
    exact as an int64: raw-decoded values are integers <= 255 and
    q8-decoded values are half-integers (k*8 + 3.5), so doubling makes
    every addend an integer; accumulation runs in float64 where sums
    this size (< 2^53) are exact. This is what lets a pure-SQL oracle
    re-derive the decoded slab content of a LOSSY codec bit-exactly."""

    def agg(iterator):
        for pdf in iterator:
            sums = [
                int(round(float((np.frombuffer(b, dtype=np.float32).astype(np.float64) * 2.0).sum())))
                for b in pdf["tile_bytes"]
            ]
            out = pdf[["image_id", "tx", "ty", "px_off_x", "px_off_y",
                       "tile_w", "tile_h"]].copy()
            out["sum2"] = np.asarray(sums, dtype=np.int64)
            yield out

    return slabs_df.select(
        "image_id", "tx", "ty", "px_off_x", "px_off_y",
        "tile_w", "tile_h", "tile_bytes",
    ).mapInPandas(agg, SLAB_SUM_SCHEMA)
