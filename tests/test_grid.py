"""Grid properties: pack/unpack round-trip, clamped cells, resolution choice."""

from __future__ import annotations

import numpy as np

from spatialjoin.grid import Grid

G = Grid((-10.0, -10.0, 10.0, 10.0))


def test_pack_unpack_roundtrip():
    rng = np.random.default_rng(7)
    res = 12
    cx = rng.integers(0, 1 << res, 1000)
    cy = rng.integers(0, 1 << res, 1000)
    cell = Grid.pack(cx, cy, res)
    ux, uy, ur = Grid.unpack(cell)
    assert (ux == cx).all() and (uy == cy).all() and (ur == res).all()
    assert len(np.unique(cell)) == len(np.unique(cx * (1 << res) + cy))


def test_cell_of_in_extent():
    xs = np.array([-10.0, 0.0, 9.999, 10.0, -10.0001, 12.0])
    ys = np.array([-10.0, 0.0, 9.999, 10.0, 0.0, 0.0])
    cells = G.cell_of(xs, ys, 5)
    cx, cy, res = Grid.unpack(cells)
    assert (cx >= 0).all() and (cx < 32).all()
    assert (cy >= 0).all() and (cy < 32).all()


def test_choose_resolution_monotone():
    big = G.choose_resolution(np.full(100, 5.0), np.full(100, 5.0))
    small = G.choose_resolution(np.full(100, 0.01), np.full(100, 0.01))
    points = G.choose_resolution(np.zeros(100), np.zeros(100))
    assert big < small <= points
    cw, ch = G.cell_size(big)
    assert cw >= 5.0  # typical geometry spans ~1 cell per axis
