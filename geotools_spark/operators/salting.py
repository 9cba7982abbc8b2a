"""Two-phase salted aggregation for skewed hot cells (SURVEY.md §4,
north rule: partitioning / shuffle / skew handled explicitly).

The reference has no skew handling — a hot cell simply serializes
through one worker's point list (src/pointstats.cpp:215-251). At
10^12-doc scale a hot cell (urban LiDAR density, a viral doc cluster)
would pin one reducer for hours. The fix is the classic two-phase
shuffle:

  phase 1: groupBy(cell, salt) with salt = pmod(xxhash64(row-unique
           cols), n_salts) -> algebraic PARTIALS (count/sum/sumsq/
           min/max/moment sums) spread over n_salts reducers;
  phase 2: groupBy(cell) merging the partials -> final stats. The
           phase-2 input is n_salts rows per cell regardless of how
           hot the cell was.

Holistic stats (exact median/quantiles) cannot be salted this way
without shipping the values; for those, phase 1 emits per-salt SORTED
arrays and phase 2 merges them (flatten + sort_array) — the hot cell's
sort is then the only residual serial cost, and the shuffle fan-in is
already balanced. Results are bit-identical to the one-phase
``cell_stats``; tests pin that on a deliberately skewed table.

For the truly hot cell (billions of rows), prefer
:func:`exact_quantiles_by_value`: it computes the same exact order
statistics from (cell, value) COUNTS — map-side combine crushes
duplicates before the shuffle and reducer state is O(distinct values),
so no value list is ever materialized.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geotools_spark.operators.gridstats import (
    _median_expr,
    median_pick,
    n1_rule_expr,
    quantile_rank,
    stat_columns,
)

ALGEBRAIC = ("count", "density", "min", "max", "sum", "mean",
             "variance", "stddev", "pvariance", "pstddev")
HOLISTIC = ("median", "quantiles")


def exact_quantiles_by_value(
    points: DataFrame,
    *,
    value: str = "z",
    group: Sequence[str] = ("cell_col", "cell_row"),
    quantile_num: int = 4,
    include_median: bool = True,
) -> DataFrame:
    """Skew-proof EXACT median/quantiles without materializing any
    cell's value list (VERDICT r02 #2).

    The per-cell ``sort_array(collect_list(z))`` path (gridstats) puts
    a hot cell's entire value list in one aggregation buffer; the
    salted variant balances the shuffle but still merges the full list
    in phase 2. This operator computes the same order statistics by
    VALUE COUNTS instead:

      1. ``groupBy(group, value).count()`` — partial (map-side)
         aggregation crushes a hot cell's duplicates before the
         shuffle; reducer state is one row per DISTINCT value.
      2. a running-count window per cell over the sorted distinct
         values (shuffle by cell; sort cost is O(distinct), not O(n)).
      3. the k-th order statistic is the first value whose cumulative
         count reaches k+1 — a ``min(when(cum >= k+1, value))``
         groupBy that reuses the window's hash partitioning (NO third
         exchange; asserted in tests/test_plans.py).

    Per-cell reducer memory is O(distinct values), so a billion-point
    hot cell with quantized LiDAR z costs a few thousand rows instead
    of a billion. Residual skew only remains if one cell also
    dominates the DISTINCT-value count — the worst case degrades to
    the sorted-list cost, never above it.

    Bit-identical to ``cell_stats``'s median/ceil-index quantile rules
    (reference src/cellstats.hpp median tie rule; lasgrid quantile
    indexing): selections return exact input values; the only float
    arithmetic is the even-``n`` median average.
    """
    v = F.col(value)
    gcols = [F.col(g) for g in group]
    cnts = points.where(v.isNotNull()).groupBy(*gcols, v.alias("_v")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    from pyspark.sql.window import Window

    wcum = (
        Window.partitionBy(*group)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*group)
    d = cnts.select(
        "*", F.sum("_c").over(wcum).alias("_cum"), F.sum("_c").over(wall).alias("_n")
    )
    cum, n = F.col("_cum"), F.col("_n")

    def val_at(k):  # k: 0-based order-statistic index (Column)
        return F.min(F.when(cum >= k + 1, F.col("_v")))

    half = F.floor(n / 2)
    aggs = [F.max("_n").alias("_n_out")]
    if include_median:
        aggs += [
            val_at(half - 1).alias("_m_lo"),  # even: lower middle
            val_at(half).alias("_m_hi"),      # odd median / even upper
        ]
    aggs += [
        val_at(quantile_rank(n, i, quantile_num)).alias(f"_q{i}")
        for i in range(quantile_num + 2)
    ]
    out = d.groupBy(*gcols).agg(*aggs)

    cols = [*gcols, F.col("_n_out").alias("count")]
    if include_median:
        cols.append(
            median_pick(F.col("_n_out"), F.col("_m_lo"), F.col("_m_hi")).alias("median")
        )
    cols += [F.col(f"_q{i}").alias(f"q{i}") for i in range(quantile_num + 2)]
    return out.select(*cols)


def salted_cell_stats(
    points: DataFrame,
    *,
    value: str = "z",
    group: Sequence[str] = ("cell_col", "cell_row"),
    stats: Sequence[str] = ("count", "min", "max", "mean", "variance", "stddev"),
    res: float = 1.0,
    n1_rule: str = "zero",
    quantile_num: int = 4,
    n_salts: int = 16,
    salt_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Two-phase salted equivalent of ``gridstats.cell_stats``.

    Scale caveat, measured (BENCH.md round-5 skew A/B): for ALGEBRAIC
    stats, plain ``cell_stats`` is already skew-immune — map-side
    partial aggregation crushes a hot cell before the shuffle — so
    this path's extra exchange never pays at local scale; its value is
    compositional (a pre-balanced phase-1 frame). For HOLISTIC stats
    the list-merge here balances the phase-1 sort but phase 2 still
    re-materializes the hot cell's FULL value list on one reducer (it
    is the first plan to OOM at 38M rows / 0.8 hot share) — use
    ``exact_quantiles_by_value`` for skew-proof exact order statistics
    at scale.

    ``salt_cols``: columns whose hash spreads a hot cell (default: the
    value column plus all non-group columns is overkill — we hash the
    value column and a monotonic id surrogate via
    ``spark_partition_id``; any row-distinguishing mix works since the
    salt only needs to spread rows, not be stable)."""
    v = F.col(value)
    if salt_cols:
        salt_src = F.xxhash64(*[F.col(c) for c in salt_cols])
    else:
        salt_src = F.xxhash64(v, F.spark_partition_id())
    salt = F.pmod(salt_src, F.lit(int(n_salts)))

    need_holistic = any(s in HOLISTIC for s in stats)
    p1_aggs = [
        F.count(v).alias("_n"),
        F.sum(v).alias("_s1"),
        F.sum(v * v).alias("_s2"),
        F.min(v).alias("_mn"),
        F.max(v).alias("_mx"),
    ]
    if need_holistic:
        p1_aggs.append(F.sort_array(F.collect_list(v)).alias("_vals"))

    p1 = points.select("*", salt.alias("_salt")).groupBy(
        *[F.col(g) for g in group], F.col("_salt")
    ).agg(*p1_aggs)

    n = F.sum("_n")
    nd = n.cast("double")
    s1 = F.sum("_s1")
    s2 = F.sum("_s2")
    mean = s1 / nd
    m2 = s2 - s1 * s1 / nd
    var_samp = m2 / (nd - 1.0)
    var_pop = m2 / nd
    var_s = n1_rule_expr(var_samp, n, n1_rule)

    merged_vals = (
        F.sort_array(F.flatten(F.collect_list("_vals"))) if need_holistic else None
    )
    exprs: dict[str, Column] = {
        "count": nd,
        "density": nd / (float(res) * float(res)),
        "min": F.min("_mn"),
        "max": F.max("_mx"),
        "sum": s1,
        "mean": mean,
        "variance": var_s,
        "stddev": F.sqrt(var_s),
        "pvariance": var_pop,
        "pstddev": F.sqrt(var_pop),
    }
    if need_holistic:
        exprs["median"] = _median_expr(merged_vals, n)
    return p1.groupBy(*[F.col(g) for g in group]).agg(
        *stat_columns(exprs, stats, merged_vals, n, quantile_num)
    )
