"""Hierarchical grid cell index (numpy, pure integer math).

Plays the role the six R-trees play in the reference
(``/root/reference/src/rtrees.rs:24-96``) but re-expressed for a
distributed engine: instead of an in-process tree probe, geometries are
assigned int64 CELL IDS at a resolution, and the spatial join's
filter phase becomes an ordinary Spark equi-join on the cell column
(broadcast or shuffle — Catalyst's problem, per SURVEY.md §4).

Cell id layout (int64):  [ res:6 bits | cx:29 bits | cy:29 bits ]
``cx``/``cy`` are row-major grid coordinates at resolution ``res``
(cell count per axis = 2^res) over a configured world extent. Row-major
packing keeps the id decodable with two shifts in Spark SQL built-ins
(used by the reference-point dedup filter); a Hilbert/Morton packing
would be a drop-in replacement if storage-order locality mattered more.

The ``max_distance`` buffering of the reference's index build
(``src/rtrees.rs:159-166`` cheap_buffer) maps to covering the EXPANDED
bbox here — the epsilon of the distance join is pushed into the cell
covering exactly like the reference pushes it into stored bboxes.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 28
_COORD_BITS = 29
_COORD_MASK = (1 << _COORD_BITS) - 1

# Default world extent. Synthetic corpora here live in small planar
# boxes; lon/lat data fits the same box. Configurable per index.
DEFAULT_EXTENT = (-180.0, -90.0, 180.0, 90.0)


class Grid:
    """A fixed-extent quadtree grid; all methods are vectorized."""

    __slots__ = ("x0", "y0", "x1", "y1")

    def __init__(self, extent=DEFAULT_EXTENT):
        self.x0, self.y0, self.x1, self.y1 = map(float, extent)
        if not (self.x1 > self.x0 and self.y1 > self.y0):
            raise ValueError("extent must have positive width and height")

    @property
    def extent(self):
        return (self.x0, self.y0, self.x1, self.y1)

    def cell_size(self, res: int):
        n = 1 << res
        return (self.x1 - self.x0) / n, (self.y1 - self.y0) / n

    # -- id packing ---------------------------------------------------------

    @staticmethod
    def pack(cx, cy, res):
        return (
            (np.int64(res) << np.int64(2 * _COORD_BITS))
            | (np.asarray(cx, dtype=np.int64) << np.int64(_COORD_BITS))
            | np.asarray(cy, dtype=np.int64)
        )

    @staticmethod
    def unpack(cell):
        cell = np.asarray(cell, dtype=np.int64)
        res = cell >> np.int64(2 * _COORD_BITS)
        cx = (cell >> np.int64(_COORD_BITS)) & np.int64(_COORD_MASK)
        cy = cell & np.int64(_COORD_MASK)
        return cx, cy, res

    # -- coordinate -> cell -------------------------------------------------

    def grid_coords(self, x, y, res: int):
        """Clamped integer grid coordinates at ``res`` — the same double
        ops as the engine's SQL covering (floor((v - origin) / size)),
        clamped BEFORE the integer cast so a coordinate far outside the
        extent cannot overflow int64 (NaN maps to cell 0)."""
        n = 1 << res
        cw, ch = self.cell_size(res)

        def axis(v, origin, size):
            c = np.floor((np.asarray(v, dtype=np.float64) - origin) / size)
            return np.clip(np.nan_to_num(c), 0, n - 1).astype(np.int64)

        return axis(x, self.x0, cw), axis(y, self.y0, ch)

    def cell_of(self, x, y, res: int):
        cx, cy = self.grid_coords(x, y, res)
        return self.pack(cx, cy, res)

    def choose_resolution(self, widths, heights, target_cells_per_geom: float = 2.0,
                          min_res: int = 2, max_res: int = MAX_RES) -> int:
        """Pick the join resolution from indexed-side bbox stats.

        Heuristic: cell size ~= median bbox max-dimension *
        sqrt(target), so a typical bbox overlaps ~target cells; tiny or
        point-like data falls back to a fine resolution bounded by
        max_res. Mirrors 'index the smaller sequence' guidance
        (reference README.md:199-205) — stats come from the indexed
        (small) side.
        """
        w = np.asarray(widths, dtype=np.float64)
        h = np.asarray(heights, dtype=np.float64)
        dim = np.maximum(w, h)
        dim = dim[np.isfinite(dim)]
        med = float(np.median(dim)) if dim.size else 0.0
        ex_w = self.x1 - self.x0
        ex_h = self.y1 - self.y0
        if med <= 0.0:
            return max_res
        cell = med * float(np.sqrt(target_cells_per_geom))
        res_x = int(np.floor(np.log2(max(ex_w / cell, 1.0))))
        res_y = int(np.floor(np.log2(max(ex_h / cell, 1.0))))
        return int(np.clip(min(res_x, res_y), min_res, max_res))
