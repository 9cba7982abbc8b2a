"""W9: tree-crown delineation by region growing from treetop seeds
(src/treetops.cpp:279-408), plus the composed 3-stage treetops
pipeline (smooth -> tops -> crowns; reference stages at
src/treetops.cpp:143-148, 150-277, 279-408 with a SpatiaLite table as
the inter-stage IR — here the stages chain as DataFrames).

Semantics reproduced:
- D8 neighbors; accept neighbor cell v iff v is valid, v < node z
  (strict monotone descent), v >= min_height, v / top_z >=
  height_fraction, and squared CELL distance to the top <= radius^2 —
  the reference compares cell deltas against the radius as-is
  (src/treetops.cpp:381-386), so radius is effectively in cells;
  quirk kept (parameter named radius_cells).
- A cell joins at most one crown. The reference assigns contested
  cells by FIFO arrival in its per-strip queue; here the growth runs
  in synchronous BFS waves, and within a wave contested cells resolve
  deterministically to the smallest top_id (documented deviation —
  affects only equidistant boundary cells between crowns).

Physical shape: ONE halo-tile exchange + a vectorized NumPy BFS per
tile (tree_crowns) — the growth is a synchronous cellular automaton
advancing one D8 cell per wave for at most ceil(radius)+1 waves, so
halo = waves+1 makes every tile core exact (the feather argument). At
100 TB that is one shuffle where a frontier-join loop would pay
O(radius) barriers.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tree_crowns(
    raster: DataFrame,
    tops: DataFrame,
    *,
    min_height: float,
    height_fraction: float,
    radius_cells: float,
    value: str = "value",
    tile: int = 256,
) -> DataFrame:
    """Grow crowns from ``tops`` (top_id, cell_col, cell_row, z) over
    the smoothed CHM ``raster``. Returns (cell_col, cell_row, top_id)
    for every crown cell (tops included).

    ONE halo-tile pass: the growth is a synchronous cellular automaton
    (each wave looks one D8 cell out, at most ceil(radius)+1 waves), so
    a cell's final assignment depends only on cells within Chebyshev
    distance = wave count — halo = waves+1 makes every tile core exact,
    and the whole delineation is a single shuffle + one vectorized
    NumPy BFS per tile instead of O(radius) driver-side join rounds.
    The BFS transcription of the reference growth
    (``tests/test_crowns.py``) judges it on multi-tile grids.
    """
    import numpy as np
    import pandas as pd

    from geotools_spark.operators.raster import D8, HaloTiles, shift_slices

    r2 = float(radius_cells) * float(radius_cells)
    waves = int(math.ceil(radius_cells)) + 1
    tiles = HaloTiles(tile, waves + 1)
    w = tiles.width
    rast_s = tiles.ship(raster.select("cell_col", "cell_row", F.col(value).alias("value")))
    tops_s = tiles.ship(
        tops.select("cell_col", "cell_row", F.col("z").alias("value"), "top_id"),
        extra=("top_id",),
    )
    mh = float(min_height)
    frac = float(height_fraction)

    def _grow(key, rast_pdf, tops_pdf):
        val, x0, y0 = tiles.grid(
            key, rast_pdf, rast_pdf["value"].to_numpy(dtype=np.float64), np.nan
        )

        # seeds: tid grid (int64, -1 = unassigned) + per-top attributes
        def seed(values, fill):
            return tiles.grid(key, tops_pdf, values, fill)[0]

        tid = seed(tops_pdf["top_id"].to_numpy(dtype=np.int64), -1)
        zcur = seed(tops_pdf["value"].to_numpy(dtype=np.float64), np.nan)  # the wave's comparison z
        tz = zcur.copy()  # top z (fraction test)
        # top position (radius test)
        tcx = seed(tops_pdf["cell_col"].to_numpy(dtype=np.float64), 0.0)
        tcy = seed(tops_pdf["cell_row"].to_numpy(dtype=np.float64), 0.0)
        frontier = tid >= 0
        gx, gy = np.meshgrid(np.arange(w) + x0, np.arange(w) + y0)
        big = np.iinfo(np.int64).max
        for _ in range(waves):
            if not frontier.any():
                break
            best = np.full((w, w), big, dtype=np.int64)
            bz = np.empty((w, w))
            btz = np.empty((w, w))
            btcx = np.empty((w, w))
            btcy = np.empty((w, w))
            for dx, dy in D8:
                ts, ss = shift_slices(dx, dy, w)
                src_f = frontier[ss]
                src_tid = tid[ss]
                src_z = zcur[ss]
                src_tz = tz[ss]
                src_tcx = tcx[ss]
                src_tcy = tcy[ss]
                tv = val[ts]
                d2 = (src_tcx - gx[ts]) ** 2 + (src_tcy - gy[ts]) ** 2
                with np.errstate(invalid="ignore"):
                    ok = (
                        src_f
                        & (tid[ts] < 0)
                        & ~np.isnan(tv)
                        & (tv < src_z)
                        & (tv >= mh)
                        & ((tv / src_tz) >= frac)
                        & (d2 <= r2)
                        & (src_tid < best[ts])
                    )
                sub = best[ts]
                sub[ok] = src_tid[ok]
                best[ts] = sub
                for grid_, src_ in (
                    (bz, tv), (btz, src_tz), (btcx, src_tcx), (btcy, src_tcy),
                ):
                    g2 = grid_[ts]
                    g2[ok] = src_[ok]
                    grid_[ts] = g2
            won = best < big
            if not won.any():
                break
            tid[won] = best[won]
            zcur[won] = bz[won]
            tz[won] = btz[won]
            tcx[won] = btcx[won]
            tcy[won] = btcy[won]
            frontier = won
        emit = (tid >= 0) & tiles.core_mask()
        er, ec = np.nonzero(emit)
        return pd.DataFrame(
            {
                "cell_col": ec + x0,
                "cell_row": er + y0,
                "top_id": tid[er, ec],
            }
        )

    return (
        rast_s.groupBy("tile_col", "tile_row")
        .cogroup(tops_s.groupBy("tile_col", "tile_row"))
        .applyInPandas(
            lambda key, lp, rp: _grow(key, lp, rp),
            "cell_col long, cell_row long, top_id long",
        )
    )


def treetops_pipeline(
    chm: DataFrame,
    *,
    cols: int,
    rows: int,
    smooth_sigma: float = 0.8,
    smooth_size: int = 3,
    tops_window: int = 3,
    min_height: float,
    height_fraction: float = 0.65,
    radius_cells: float = 10.0,
) -> tuple[DataFrame, DataFrame]:
    """The 3-stage reference pipeline: gaussian smooth -> local-maxima
    treetops -> crown growing. Returns (tops, crown_cells)."""
    from geotools_spark.operators.raster import gaussian_smooth, local_maxima

    smoothed = gaussian_smooth(
        chm, sigma=smooth_sigma, size=smooth_size, cols=cols, rows=rows
    ).select("cell_col", "cell_row", F.col("smoothed").alias("value"))
    tops = local_maxima(
        smoothed, window=tops_window, min_height=min_height, cols=cols, rows=rows
    )
    crowns = tree_crowns(
        smoothed,
        tops,
        min_height=min_height,
        height_fraction=height_fraction,
        radius_cells=radius_cells,
    )
    return tops, crowns
