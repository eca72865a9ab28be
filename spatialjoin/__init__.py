"""spatialjoin — a PySpark-native spatial-join + tiling engine.

Brand-new implementation (Spark DataFrames + vectorized Arrow/pandas
UDFs) with the query capabilities of the reference Rust crate
msalib/spatial-join (read-only at /root/reference): spatial joins on
Intersects/Contains/Within, proximity maps (inclusive epsilon-distance
joins), plus the scale-out additions the north rule mandates — cell
grid indexing, kNN joins, raster-tile<->vector assignment, skew
handling, and per-partition checkpoints.
"""

from .geom import (
    LINE,
    LINESTRING,
    POINT,
    POLYGON,
    RECT,
    TRIANGLE,
    BadCoordinateValue,
    BadMaxDistance,
    GeomBatch,
    LineStringTooSmall,
    PolygonExteriorTooSmall,
    ValidationError,
    validate_max_distance,
)

def __getattr__(name):
    # lazy re-exports that need pyspark (keep bare `import spatialjoin`
    # usable for the numpy-only kernel/oracle modules)
    if name in ("SpatialIndex", "Config", "validate_geoms"):
        from . import index

        return getattr(index, name)
    if name == "knn_join":
        from .knn import knn_join

        return knn_join
    if name == "assign_tiles":
        from .tiles import assign_tiles

        return assign_tiles
    if name in ("cut_tiles", "slab_pixel_sums"):
        from . import tiles

        return getattr(tiles, name)
    if name in ("from_wkt", "to_wkt"):
        from . import wkt

        return getattr(wkt, name)
    if name in ("from_wkb", "to_wkb"):
        from . import wkb

        return getattr(wkb, name)
    if name in ("with_hilbert_key", "with_zorder_key", "hilbert_ranges",
                "write_geo_table", "write_geo_table_clustered",
                "read_geo_table", "read_geo_extent", "read_geo_extent_hilbert"):
        from . import catalog

        return getattr(catalog, name)
    if name in ("dup_clusters",):
        from .textops import dup_clusters

        return dup_clusters
    if name in ("image_features", "variant_phash"):
        from . import multimodal

        return getattr(multimodal, name)
    if name in ("stream_points_in_geoms", "windowed_cell_counts"):
        from . import streaming

        return getattr(streaming, name)
    if name == "ResumableRun":
        from .checkpoint import ResumableRun

        return ResumableRun
    raise AttributeError(name)


__all__ = [
    "SpatialIndex",
    "Config",
    "knn_join",
    "assign_tiles",
    "cut_tiles",
    "slab_pixel_sums",
    "from_wkt",
    "to_wkt",
    "from_wkb",
    "to_wkb",
    "with_hilbert_key",
    "with_zorder_key",
    "hilbert_ranges",
    "write_geo_table",
    "write_geo_table_clustered",
    "read_geo_table",
    "read_geo_extent",
    "read_geo_extent_hilbert",
    "dup_clusters",
    "image_features",
    "variant_phash",
    "stream_points_in_geoms",
    "windowed_cell_counts",
    "ResumableRun",
    "validate_geoms",
    "POINT",
    "LINE",
    "LINESTRING",
    "POLYGON",
    "RECT",
    "TRIANGLE",
    "GeomBatch",
    "ValidationError",
    "BadCoordinateValue",
    "BadMaxDistance",
    "LineStringTooSmall",
    "PolygonExteriorTooSmall",
    "validate_max_distance",
]

__version__ = "0.1.0"
