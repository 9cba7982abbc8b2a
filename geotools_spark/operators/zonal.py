"""Zonal statistics (A14/A9, J3): stats of point values grouped by
raster zone x point class — the reference's pointzonalstats
(src/pointzonalstats.cpp:494-600).

The zone raster participates as a long-form (cell_col, cell_row,
zone_id) table; the point->zone lookup (cell calc at
src/pointzonalstats.cpp:554-556) is a plain equi-join on the computed
cell key, with the zone raster broadcast. Output schema mirrors the
reference CSV:
``id, cls, count, sum, min, max, mean, median, variance, stddev,
q0..q(n+1)`` with the ceil-index quantile rule.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotools_spark.operators.gridstats import cell_stat_exprs

ZONAL_STATS = ("count", "sum", "min", "max", "mean", "median", "variance", "stddev")


def zone_lookup(points: DataFrame, zones: DataFrame) -> DataFrame:
    """J3: attach zone_id by cell key. The zone raster always carries a
    broadcast hint: it is the small side of the lookup."""
    return points.join(F.broadcast(zones), ["cell_col", "cell_row"], "inner")


def zonal_stats(
    points_with_zone: DataFrame,
    *,
    value: str = "z",
    by_class: bool = True,
    quantile_num: int = 4,
    stats: Sequence[str] = ZONAL_STATS,
) -> DataFrame:
    """A14: one output row per (zone_id [, cls])."""
    group = ["zone_id", "cls"] if by_class else ["zone_id"]
    exprs = cell_stat_exprs(
        value,
        tuple(stats) + ("quantiles",),
        n1_rule="zero",
        quantile_num=quantile_num,
    )
    return points_with_zone.groupBy(*group).agg(*exprs)
