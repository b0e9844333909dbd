"""Hilbert cell codes as one native Spark Column expression per call.

The curve is that of ``geos_spark.kernels.hilbert.hilbert_encode``
(reference semantics: ``src/shape/fractal/HilbertCode.cpp:124-193``),
run as its 4-state automaton: from the top bit down, each state maps
the quadrant q = 2*(x bit) + (y bit) to a base-4 digit and a next
state (``_TABLE``; ``tests/test_hilbert_native.py`` derives it from
``hilbert_encode`` and checks every level against that function).

Each call adds the cell with one SQL expression built by a single
``F.expr``, so Catalyst/Tungsten codegens it into one projection and
tile assignment stays JVM-side. A table lookup is an int shift: Java
masks an int shift count to its low 5 bits, so a state kept as 8*s
(plus ignored bits above bit 4) ORed with 2*q indexes the 2-bit slot
4*s + q of a packed table constant with no masking. Every digit's text
repeats the state chain above it (O(level^2) text); subexpression
elimination evaluates each state once per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# state -> quadrant q = 2*xbit + ybit -> (digit, next state)
_TABLE = (
    ((0, 1), (1, 0), (3, 2), (2, 0)),
    ((0, 0), (3, 3), (1, 1), (2, 1)),
    ((2, 2), (1, 2), (3, 0), (0, 3)),
    ((2, 3), (3, 1), (1, 3), (0, 2)),
)


def _packed(field: int) -> int:
    """One field of ``_TABLE`` as a signed 32-bit int, slot 4*s + q."""
    v = sum(
        row[q][field] << 2 * (4 * s + q)
        for s, row in enumerate(_TABLE)
        for q in range(4)
    )
    return v - (1 << 32) if v >= 1 << 31 else v


_DIGIT, _NEXT = _packed(0), _packed(1)


def _name(col: str) -> str:
    return "`" + col.replace("`", "``") + "`"


def _bit(v: str, b: int, to: int) -> str:
    """Bit b of int expression v moved to bit ``to``; other bits zero."""
    if b > to:
        v = f"({v} >> {b - to})"
    elif b < to:
        v = f"({v} << {to - b})"
    return f"({v} & {1 << to})"


def _check(level: int) -> None:
    if not 1 <= level <= 16:
        raise ValueError("Level out of range")


def _cell_sql(x: str, y: str, level: int) -> str:
    """Hilbert cell (bigint) of int grid-ordinate expressions x, y."""
    _check(level)
    state, digits = "0", []
    for b in range(level - 1, -1, -1):
        idx = f"({state} | {_bit(x, b, 2)} | {_bit(y, b, 1)})"
        digits.append(f"(CAST((({_DIGIT}) >> {idx}) & 3 AS BIGINT) << {2 * b})")
        state = f"((({_NEXT}) >> {idx}) << 3)"
    return " | ".join(digits)


def _num(v: float) -> str:
    """A DOUBLE literal (a bare ``1.5`` would be DECIMAL)."""
    return f"({float(v)!r}D)"


def _grid_sql(v: str, lo: float, step: float, n: int) -> str:
    """Tile ordinate (bigint) of double expression v: floor((v - lo) /
    step) clamped to [0, n - 1]; bigint bounds keep type coercion out."""
    return f"least({n - 1}L, greatest(0L, floor(({v} - {_num(lo)}) / {_num(step)})))"


def with_hilbert_cell(
    df: DataFrame,
    x_col: str,
    y_col: str,
    level: int,
    out: str = "cell",
) -> DataFrame:
    """Add Hilbert cell id (long) computed from integer grid ordinates.

    x_col/y_col must already be grid ordinates in [0, 2^level).
    """
    x, y = (f"CAST({_name(c)} AS INT)" for c in (x_col, y_col))
    return df.withColumn(out, F.expr(_cell_sql(x, y, level)))


def with_tile_cells_exploded(
    df: DataFrame,
    bbox_cols: tuple[str, str, str, str],
    level: int,
    extent: tuple[float, float, float, float],
    out: str = "cell",
    pad: float = 0.0,
    keep_grid: bool = False,
) -> DataFrame:
    """Explode each row to every tile its (optionally padded) envelope
    overlaps — fully native (sequence + explode + one Hilbert
    projection), so it is safe on join build sides and broadcast plans
    (a python UDF there defeats codegen and costs seconds per stage).
    """
    _check(level)
    minx, miny, maxx, maxy = extent
    n = 1 << level
    sx, sy = (maxx - minx) / n, (maxy - miny) / n
    lo, hi = (f" - {_num(pad)}", f" + {_num(pad)}") if pad else ("", "")

    def tiles(c0: str, c1: str, origin: float, step: float):
        a = _grid_sql(_name(c0) + lo, origin, step, n)
        b = _grid_sql(_name(c1) + hi, origin, step, n)
        return F.explode(F.expr(f"sequence({a}, {b})"))

    x0, y0, x1, y1 = bbox_cols
    tmp = df.withColumn("__gx", tiles(x0, x1, minx, sx)).withColumn(
        "__gy", tiles(y0, y1, miny, sy)
    )
    res = with_hilbert_cell(tmp, "__gx", "__gy", level, out)
    if keep_grid:
        return res.withColumnsRenamed({"__gx": "gx", "__gy": "gy"})
    return res.drop("__gx", "__gy")


def with_tile_cell(
    df: DataFrame,
    x_col: str,
    y_col: str,
    level: int,
    extent: tuple[float, float, float, float],
    out: str = "cell",
) -> DataFrame:
    """Point coordinates -> containing-tile Hilbert cell (native).

    Tiles partition the extent into 2^level x 2^level squares; grid
    ordinates are clamped to [0, 2^level - 1] so boundary/outside
    points land in the edge tiles. The grid math and the cell are one
    expression.
    """
    _check(level)
    minx, miny, maxx, maxy = extent
    n = 1 << level
    x, y = (
        f"CAST({_grid_sql(_name(c), o, (hi - o) / n, n)} AS INT)"
        for c, o, hi in ((x_col, minx, maxx), (y_col, miny, maxy))
    )
    return df.withColumn(out, F.expr(_cell_sql(x, y, level)))
