"""Grid-cell key computation — the engine's core partitioning key.

Re-expresses the reference's point->cell assignment and hierarchical
cell encoding as pure JVM-side column expressions (whole-stage codegen;
no Python in the hot path).

This module is the single home of the K1 cell rule (:func:`cell_cols`,
its Python twin :func:`cell_of`) and of the neighbour-window literal
(:func:`window_offsets`); operators call them instead of writing their
own floor or ``struct(dx, dy)`` array.

Reference semantics being matched (SURVEY.md §2.3):
- K1 point->cell: ``col = floor((x-minx)/res)``, ``row`` y-flipped so
  rows count from the top (src/lasgrid.cpp:302-314,
  src/finalizedpointstream.cpp:96-106); row-major linear index.
  Origin-0 callers pass ``minx=0.0``: ``x - 0.0`` is exact, so their
  keys are bit-identical to ``floor(x/res)``.
- K2 hierarchical encoding: the reference sorts files by a coarse grid
  index (src/pointstats.cpp:253-272); we generalize to a Morton
  (Z-order) key with level-prefix parents — an H3/S2-class hierarchy on
  a square grid. ``parent = key >> 2*(max_level - level)``. Z-order
  keys make range partitioning spatially coherent: a contiguous key
  range is a compact block of cells, so ``repartitionByRange(zkey)``
  co-locates spatial neighborhoods (the Spark analogue of the
  reference's spatial file sort + row-bucketed spill shuffle).
- K3 snap: bounds snapped outward to resolution multiples
  (include/util.hpp:195).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# 5 magic masks spread the low 32 bits of a long across 64 bits
# (classic Morton bit-interleave, expressed as Spark bitwise exprs so it
# stays inside whole-stage codegen).
_SPREAD_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def spread_bits(col: Column) -> Column:
    """Interleave zeros between the low 32 bits of an integer column."""
    out = col.cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
    for shift, mask in _SPREAD_MASKS:
        out = (out.bitwiseOR(F.shiftleft(out, shift))).bitwiseAND(F.lit(mask))
    return out


def morton_key(cx: Column, cy: Column) -> Column:
    """Z-order key for non-negative cell coordinates (<= 2^31-1 each).

    Bit i of cx lands at bit 2i, bit i of cy at bit 2i+1; result is a
    positive long for coordinates below 2^31.
    """
    return spread_bits(cx).bitwiseOR(F.shiftleft(spread_bits(cy), 1))


def morton_parent(key: Column, level_delta: int) -> Column:
    """Parent cell key ``level_delta`` levels up the hierarchy."""
    return F.shiftright(key, 2 * level_delta)


def cell_cols(
    x: Column,
    y: Column,
    *,
    minx: float,
    miny: float,
    res: float,
    rows: int | None = None,
    yflip: bool = False,
) -> tuple[Column, Column]:
    """(cell_col, cell_row) per the reference's K1 rule.

    yflip=True reproduces lasgrid's top-down row convention
    (src/lasgrid.cpp:313-314): ``row = rows - 1 - floor((y-miny)/res)``.
    """
    ccol = F.floor((x - F.lit(float(minx))) / F.lit(float(res)))
    crow = F.floor((y - F.lit(float(miny))) / F.lit(float(res)))
    if yflip:
        if rows is None:
            raise ValueError("yflip requires rows")
        crow = F.lit(int(rows) - 1) - crow
    return ccol, crow


def cell_of(v: float, origin: float, res: float) -> int:
    """K1 rule for one Python coordinate: the same IEEE
    ``floor((v-origin)/res)`` :func:`cell_cols` evaluates in the JVM."""
    return math.floor((v - origin) / res)


def window_offsets(n: int, *, center: bool = True) -> Column:
    """``array<struct<dx long, dy long>>`` literal of the (2n+1)^2
    neighbour window, dx-major (dx outer, dy inner), so the explode
    order is fixed. ``center=False`` leaves out (0, 0): with n=1 that is
    the D8 ring."""
    items = ", ".join(
        f"struct({dx}L as dx, {dy}L as dy)"
        for dx in range(-n, n + 1)
        for dy in range(-n, n + 1)
        if center or (dx, dy) != (0, 0)
    )
    return F.expr(f"array({items})")


def cell_index(ccol: Column, crow: Column, cols: int) -> Column:
    """Row-major linear cell index (the reference's grid idx)."""
    return (crow * F.lit(int(cols)) + ccol).cast("long")


def snap_bounds(
    minx: float, miny: float, maxx: float, maxy: float, res: float
) -> tuple[float, float, float, float]:
    """Snap bounds outward to resolution multiples (include/util.hpp:195)."""
    return (
        math.floor(minx / res) * res,
        math.floor(miny / res) * res,
        math.ceil(maxx / res) * res,
        math.ceil(maxy / res) * res,
    )


def with_cell(
    df,
    *,
    x: str = "x",
    y: str = "y",
    minx: float,
    miny: float,
    res: float,
    cols: int,
    rows: int | None = None,
    yflip: bool = False,
    zkey: bool = False,
):
    """Attach cell_col / cell_row / cell (linear idx) and optionally a
    Z-order ``zkey`` column used for range partitioning at scale.

    The coordinates get a projection of their own: the Morton key reads
    each one 32 times, which would re-evaluate an inlined floor."""
    ccol, crow = cell_cols(
        F.col(x), F.col(y), minx=minx, miny=miny, res=res, rows=rows, yflip=yflip
    )
    cc, cr = F.col("cell_col"), F.col("cell_row")
    keys = [cell_index(cc, cr, cols).alias("cell")]
    if zkey:
        keys.append(morton_key(cc, cr).alias("zkey"))
    return df.select("*", ccol.alias("cell_col"), crow.alias("cell_row")).select("*", *keys)
