"""Parity of the native Hilbert encoder with the numpy kernel.

``geos_spark.functions.hilbert_native`` builds each cell as one SQL
expression over a 4-state table; these tests derive that table from
``kernels.hilbert.hilbert_encode`` and check the Spark cells against
the kernel at every level, and the tile functions against a numpy
floor/clamp reference.
"""

import numpy as np
import pandas as pd
import pytest

from geos_spark.functions import hilbert_native as hn
from geos_spark.kernels.hilbert import hilbert_encode


def _derive_table():
    """(state, quadrant) -> (digit, next state), read off hilbert_encode.

    A state is the digit pattern of a square's four quadrants; states are
    numbered in order of discovery from the level-1 square, walking
    quadrants q = 2*xbit + ybit in order.
    """

    def pattern(k, px, py):
        xs = np.array([2 * px + (q >> 1) for q in range(4)])
        ys = np.array([2 * py + (q & 1) for q in range(4)])
        return tuple(int(d) for d in hilbert_encode(k + 1, xs, ys) & 3)

    states, where, table = [pattern(0, 0, 0)], [(0, 0, 0)], []
    while len(table) < len(states):
        k, px, py = where[len(table)]
        row = []
        for q in range(4):
            child = (k + 1, 2 * px + (q >> 1), 2 * py + (q & 1))
            p = pattern(*child)
            if p not in states:
                states.append(p)
                where.append(child)
            row.append((states[len(table)][q], states.index(p)))
        table.append(tuple(row))
    return tuple(table)


def test_table_derived_from_kernel():
    assert _derive_table() == hn._TABLE


def _frame(spark, **cols):
    pdf = pd.DataFrame(cols)
    pdf.insert(0, "id", np.arange(len(pdf)))
    return spark.createDataFrame(pdf)


def _sorted(df, *cols):
    return df.orderBy("id").toPandas()[list(cols)]


def _grid_points(level, rng):
    n = 1 << level
    if level <= 7:
        gx, gy = np.meshgrid(np.arange(n), np.arange(n))
        return gx.ravel(), gy.ravel()
    xs = np.r_[rng.integers(0, n, 2000), 0, 0, n - 1, n - 1]
    ys = np.r_[rng.integers(0, n, 2000), 0, n - 1, 0, n - 1]
    return xs, ys


@pytest.mark.parametrize("level", range(1, 17))
def test_hilbert_cell_matches_kernel(spark, level):
    xs, ys = _grid_points(level, np.random.default_rng(level))
    df = _frame(spark, x=xs.astype(np.int64), y=ys.astype(np.int64))
    got = _sorted(hn.with_hilbert_cell(df, "x", "y", level), "cell")["cell"]
    want = hilbert_encode(level, xs, ys).astype(np.int64)
    np.testing.assert_array_equal(got.to_numpy(), want)


def _ref_grid(v, lo, hi, level):
    n = 1 << level
    step = (hi - lo) / n
    return np.clip(np.floor((v - lo) / step), 0, n - 1).astype(np.int64)


EXTENTS = [
    (0.0, 0.0, 100.0, 100.0),
    (-180.0, -90.0, 180.0, 90.0),  # non-square
    (10.5, -3.25, 42.0, 7.75),
]


def _coords(extent, level, rng, m=400):
    """Points inside, outside and exactly on tile edges of the extent."""
    minx, miny, maxx, maxy = extent
    n = 1 << level
    k = rng.integers(0, n + 1, m)
    wx, wy = maxx - minx, maxy - miny
    xs = np.r_[rng.uniform(minx - wx / 4, maxx + wx / 4, m),
               minx + k * ((maxx - minx) / n), minx, maxx]
    ys = np.r_[rng.uniform(miny - wy / 4, maxy + wy / 4, m),
               miny + k[::-1] * ((maxy - miny) / n), maxy, miny]
    return xs, ys


@pytest.mark.parametrize("extent", EXTENTS)
@pytest.mark.parametrize("level", [1, 6, 16])
def test_tile_cell_matches_numpy(spark, extent, level):
    xs, ys = _coords(extent, level, np.random.default_rng(level))
    df = _frame(spark, x=xs, y=ys)
    got = _sorted(hn.with_tile_cell(df, "x", "y", level, extent), "x", "y", "cell")
    minx, miny, maxx, maxy = extent
    gx = _ref_grid(xs, minx, maxx, level)
    gy = _ref_grid(ys, miny, maxy, level)
    np.testing.assert_array_equal(got["x"].to_numpy(), xs)
    np.testing.assert_array_equal(
        got["cell"].to_numpy(), hilbert_encode(level, gx, gy).astype(np.int64)
    )


@pytest.mark.parametrize("extent", EXTENTS)
@pytest.mark.parametrize("pad", [0.0, 1.5])
def test_tile_cells_exploded_matches_numpy(spark, extent, pad):
    level = 4
    rng = np.random.default_rng(7)
    x0, y0 = _coords(extent, level, rng, m=60)
    w, h = rng.uniform(0, (extent[2] - extent[0]) / 5, len(x0)), rng.uniform(
        0, (extent[3] - extent[1]) / 5, len(y0)
    )
    df = _frame(spark, x0=x0, y0=y0, x1=x0 + w, y1=y0 + h)
    out = hn.with_tile_cells_exploded(
        df, ("x0", "y0", "x1", "y1"), level, extent, pad=pad, keep_grid=True
    )
    got = sorted(map(tuple, out.select("id", "gx", "gy", "cell").collect()))
    minx, miny, maxx, maxy = extent
    want = []
    for i in range(len(x0)):
        gxs = range(
            _ref_grid(x0[i] - pad, minx, maxx, level),
            _ref_grid(x0[i] + w[i] + pad, minx, maxx, level) + 1,
        )
        gys = range(
            _ref_grid(y0[i] - pad, miny, maxy, level),
            _ref_grid(y0[i] + h[i] + pad, miny, maxy, level) + 1,
        )
        want += [(i, gx, gy, int(hilbert_encode(level, gx, gy)))
                 for gx in gxs for gy in gys]
    assert got == sorted(want)
    # without keep_grid the grid columns are dropped, the cells stay
    plain = hn.with_tile_cells_exploded(
        df, ("x0", "y0", "x1", "y1"), level, extent, pad=pad
    )
    assert plain.columns == df.columns + ["cell"]
    assert sorted(map(tuple, plain.select("id", "cell").collect())) == sorted(
        (i, c) for i, _, _, c in want
    )


@pytest.mark.parametrize("level", [0, 17, -1])
def test_level_out_of_range(spark, level):
    df = _frame(spark, x=np.array([1.0]), y=np.array([1.0]))
    ext = (0.0, 0.0, 8.0, 8.0)
    with pytest.raises(ValueError, match="Level out of range"):
        hn.with_hilbert_cell(df, "x", "y", level)
    with pytest.raises(ValueError, match="Level out of range"):
        hn.with_tile_cell(df, "x", "y", level, ext)
    with pytest.raises(ValueError, match="Level out of range"):
        hn.with_tile_cells_exploded(df, ("x", "y", "x", "y"), level, ext)
