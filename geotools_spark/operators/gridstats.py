"""Per-cell aggregation family (the reference's lasgrid / pointstats core).

One ``groupBy(cell).agg(...)`` computes every requested statistic in a
single shuffle — the Spark analogue of the reference's one-cache-pass
multi-aggregate (src/pointstats.cpp:240-247) and lasgrid's streaming
accumulators + finalize sweep (src/lasgrid.cpp:318-468).

This module is the single home of the quantile, median, n<=1 and
moment rules below; ``operators.salting`` and the zonal stats import
them. Exact parity rules (all from the reference, SURVEY.md §2.4):

- empty cells never appear in a grouped result; they materialize as the
  nodata sentinel -9999.0 only when densifying to a full grid
  (``densify``), matching include/cellstats.hpp:183 etc.
- sample variance/stddev with n<=1: lasgrid writes 0, not nodata
  (src/lasgrid.cpp:385-402) — ``n1_rule='zero'``; the cellstats path
  divides by (n-1)=0 giving NaN — ``n1_rule='nan'``; ``'null'`` keeps
  Spark's own NULL. Any other rule raises (``n1_rule_expr``).
- median: sort, even n -> mean of the two middles
  (include/cellstats.hpp:211-230) — ``median_pick``.
- quantiles: index rule ``c = ceil((i/(num+1)) * (cnt-1))`` giving
  num+2 outputs q0..q(num+1) (src/pointzonalstats.cpp:276-294) —
  ``quantile_rank``.
- skewness: Fisher-Pearson ``sum((v-mean)^3)/n / s^3`` with s = SAMPLE
  stddev (include/cellstats.hpp:324-342) — Spark's builtin skewness()
  uses population stddev, so it is composed manually from raw moments.
- kurtosis: ``sum((v-mean)^4)/N / s^4 - 3`` where N is the UNFILTERED
  per-cell count (quirk at include/cellstats.hpp:356) — reproduced when
  ``kurtosis_unfiltered_n=True`` (requires running pre-filter counts),
  standard n otherwise.
- gap fractions IR/BLa/BLb/RR/FR (include/cellstats.hpp:474-542,
  Hopkinson & Chasmer 2009) — conditional intensity/count sums by
  return-position predicates; BLa's "all" sum keeps cls<2 only
  (reference quirk, kept).

Scale notes: algebraic stats use Spark's partial+final hash aggregation
(map-side combine) untouched. Holistic stats (median/quantiles) collect
per-cell value arrays; cells are bounded by physics (points per grid
cell), so arrays stay small — for pathological hot cells use
``salted_cell_stats`` (two-phase algebraic aggregation) from
``operators.salting``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NODATA = -9999.0

ALGEBRAIC_STATS = (
    "count",
    "density",
    "min",
    "max",
    "sum",
    "mean",
    "variance",
    "stddev",
    "pvariance",
    "pstddev",
    "skew",
    "kurtosis",
)
HOLISTIC_STATS = ("median", "quantiles")

DEFAULT_STATS = (
    "count",
    "min",
    "max",
    "mean",
    "variance",
    "stddev",
    "pvariance",
    "pstddev",
    "median",
    "density",
)


def point_filters(
    df: DataFrame,
    *,
    cls_set: Sequence[int] | None = None,
    scan_angle_max: float | None = None,
    bounds: tuple[float, float, float, float] | None = None,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Reference pre-aggregation filters F1-F3.

    F1 class-set: empty/None set keeps everything (Util::inList,
    src/lasgrid.cpp:290-292). F2 |scanAngle| <= limit
    (src/lasgrid.cpp:281-282). F3 2-D bounds containment
    (include/util.hpp:135-139).
    """
    if cls_set:
        df = df.filter(F.col("cls").isin([int(c) for c in cls_set]))
    if scan_angle_max is not None:
        df = df.filter(F.abs(F.col("scan_angle")) <= F.lit(float(scan_angle_max)))
    if bounds is not None:
        minx, miny, maxx, maxy = bounds
        df = df.filter(
            (F.col(x) >= minx) & (F.col(x) < maxx) & (F.col(y) >= miny) & (F.col(y) < maxy)
        )
    return df


N1_RULES = ("zero", "nan", "null")


def n1_rule_expr(stat: Column, n: Column, n1_rule: str) -> Column:
    """A sample variance/stddev column under the n<=1 rule: ``'zero'``
    and ``'nan'`` replace it by 0 / NaN when ``n <= 1``, ``'null'``
    leaves Spark's NULL."""
    if n1_rule not in N1_RULES:
        raise ValueError(f"unknown n1_rule {n1_rule!r}; valid rules: {N1_RULES}")
    if n1_rule == "null":
        return stat
    return F.when(n <= 1, F.lit(0.0 if n1_rule == "zero" else float("nan"))).otherwise(stat)


def median_pick(n: Column, lo: Column, hi: Column) -> Column:
    """The median tie rule: the middle value ``hi`` for odd ``n``, the
    mean of the two middles ``lo``/``hi`` for even ``n``."""
    return F.when(n % 2 == 1, hi).otherwise((lo + hi) / 2.0)


def _median_expr(vals: Column, n: Column) -> Column:
    # element_at is 1-based; reference: v[n/2] (0-based) for odd,
    # mean of v[n/2-1], v[n/2] for even.
    half = (n / 2).cast("int")
    return median_pick(n, F.element_at(vals, half), F.element_at(vals, half + 1))


def quantile_rank(n: Column, i: int, num: int) -> Column:
    """0-based sorted position (a long) of quantile ``q<i>`` of ``num``:
    ``ceil(i/(num+1) * (n-1))``."""
    return F.ceil(F.lit(float(i) / float(num + 1)) * (n - 1).cast("double"))


def quantile_at(vals: Column, n: Column, i: int, num: int) -> Column:
    """Quantile ``q<i>`` of ``num`` from a sorted value array."""
    return F.element_at(vals, quantile_rank(n, i, num).cast("int") + 1)


def _central_moments(v: Column, nd: Column, mean: Column) -> tuple[Column, Column, Column]:
    """(m2, m3c, m4c) = sum((v-mean)^k) for k = 2, 3, 4, aggregated from
    the raw power sums of ``v`` (numerically fine at per-cell
    magnitudes; parity tests pin the values)."""
    s1, s2 = F.sum(v), F.sum(v * v)
    s3, s4 = F.sum(v * v * v), F.sum(v * v * v * v)
    m2 = s2 - s1 * s1 / nd
    m3c = s3 - 3.0 * mean * s2 + 3.0 * mean * mean * s1 - nd * mean * mean * mean
    m4c = (
        s4
        - 4.0 * mean * s3
        + 6.0 * mean * mean * s2
        - 4.0 * mean * mean * mean * s1
        + nd * mean * mean * mean * mean
    )
    return m2, m3c, m4c


def stat_columns(
    exprs: dict[str, Column],
    stats: Sequence[str],
    vals: Column | None,
    n: Column,
    quantile_num: int,
    prefix: str = "",
) -> list[Column]:
    """``stats`` in order as ``<prefix><stat>`` columns; ``'quantiles'``
    expands to q0..q(quantile_num+1) over the sorted array ``vals``."""
    out: list[Column] = []
    for s in stats:
        if s == "quantiles":
            out.extend(
                quantile_at(vals, n, i, quantile_num).alias(f"{prefix}q{i}")
                for i in range(quantile_num + 2)
            )
        elif s in exprs:
            out.append(exprs[s].alias(f"{prefix}{s}"))
        else:
            raise ValueError(f"unsupported stat {s!r}; have {[*exprs, 'quantiles']}")
    return out


def cell_stat_exprs(
    value: str,
    stats: Sequence[str],
    *,
    res: float = 1.0,
    n1_rule: str = "zero",
    quantile_num: int = 4,
    prefix: str = "",
) -> list[Column]:
    """Aggregate expressions for one grouped pass.

    All columns aliased ``<prefix><stat>`` so Spark and oracle SQL line
    up by name.
    """
    v = F.col(value)
    n = F.count(v)
    need_holistic = any(s in HOLISTIC_STATS for s in stats)
    vals = F.sort_array(F.collect_list(v)) if need_holistic else None

    mean = F.avg(v)
    nd = n.cast("double")
    m2, m3c, m4c = _central_moments(v, nd, mean)
    var_s = n1_rule_expr(F.var_samp(v), n, n1_rule)
    std_s = n1_rule_expr(F.stddev_samp(v), n, n1_rule)

    std_samp = F.sqrt(m2 / (nd - 1.0))

    exprs: dict[str, Column] = {
        "count": n.cast("double"),
        "density": nd / (float(res) * float(res)),
        "min": F.min(v),
        "max": F.max(v),
        "sum": F.sum(v),
        "mean": mean,
        "variance": var_s,
        "stddev": std_s,
        "pvariance": F.var_pop(v),
        "pstddev": F.stddev_pop(v),
        "skew": (m3c / nd) / (std_samp * std_samp * std_samp),
        "kurtosis": (m4c / nd) / (std_samp * std_samp * std_samp * std_samp) - 3.0,
    }
    if need_holistic:
        exprs["median"] = _median_expr(vals, n)
    return stat_columns(exprs, stats, vals, n, quantile_num, prefix)


def kurtosis_prefilter(
    points: DataFrame,
    predicate: Column,
    *,
    value: str = "z",
    group: Sequence[str] = ("cell_col", "cell_row"),
) -> DataFrame:
    """A11 with the reference's quirk (include/cellstats.hpp:344-361):
    mean and sample stddev come from the FILTERED points, but the
    fourth-moment sum divides by the UNFILTERED per-cell count
    (``count = values.size()`` at :356). One pass of conditional
    aggregation — no second scan for the pre-filter counts.

    Output: (group..., n_filtered, n_all, kurt_quirk, kurt_std)."""
    v = F.col(value)
    vf = F.when(predicate, v)
    n_f = F.count(vf)
    n_all = F.count(F.lit(1))
    nd = n_f.cast("double")
    m2, _, m4c = _central_moments(vf, nd, F.sum(vf) / nd)
    s_samp = F.sqrt(m2 / (nd - 1.0))
    s4p = s_samp * s_samp * s_samp * s_samp
    return points.groupBy(*[F.col(g) for g in group]).agg(
        n_f.alias("n_filtered"),
        n_all.alias("n_all"),
        ((m4c / n_all.cast("double")) / s4p - 3.0).alias("kurt_quirk"),
        ((m4c / nd) / s4p - 3.0).alias("kurt_std"),
    )


def quantile_band_filter(
    points: DataFrame,
    *,
    value: str = "z",
    group: Sequence[str] = ("cell_col", "cell_row"),
    quantiles: int = 4,
    q_from: int = 1,
    q_to: int = 3,
) -> DataFrame:
    """F5: keep points whose value lies in the per-cell quantile band
    (lo, hi] where lo/hi are the q_from-th / q_to-th quantile values by
    the reference's ceil-index rule (src/pointzonalstats.cpp:281-294).

    NOTE: the reference's own QuantileFilter.init
    (include/cellstats.hpp:95-127) is stubbed — the std::advance calls
    are commented out, so it degenerates to (first.z, first.z]. This
    implements the documented INTENT (the keep predicate
    ``z > lo && z <= hi`` at include/cellstats.hpp:105-107 applied to
    real band bounds); the stub is cited, not reproduced.
    """
    v = F.col(value)
    vals = F.sort_array(F.collect_list(v))
    n = F.count(v)
    bounds = points.groupBy(*group).agg(
        quantile_at(vals, n, q_from, quantiles).alias("_qlo"),
        quantile_at(vals, n, q_to, quantiles).alias("_qhi"),
    )
    out = points.join(bounds, list(group), "inner").filter(
        (v > F.col("_qlo")) & (v <= F.col("_qhi"))
    )
    return out.drop("_qlo", "_qhi")


def cell_stats(
    points: DataFrame,
    *,
    value: str = "z",
    group: Sequence[str] = ("cell_col", "cell_row"),
    stats: Sequence[str] = DEFAULT_STATS,
    res: float = 1.0,
    n1_rule: str = "zero",
    quantile_num: int = 4,
) -> DataFrame:
    """groupBy(cell).agg(all stats at once) — one shuffle, map-side
    partials for every algebraic stat."""
    return points.groupBy(*[F.col(g) for g in group]).agg(
        *cell_stat_exprs(value, stats, res=res, n1_rule=n1_rule, quantile_num=quantile_num)
    )


def gap_fraction(
    points: DataFrame,
    *,
    group: Sequence[str] = ("cell_col", "cell_row"),
) -> DataFrame:
    """A13: the five canopy gap-fraction aggregates per cell.

    Pure conditional-sum compositions — stays entirely in whole-stage
    codegen. Predicates per include/laspoint.hpp + src/laspoint.cpp:
    ground: cls==2; first: numReturns>0 & returnNum==1; last:
    numReturns>0 & returnNum==numReturns; single: numReturns==1;
    intermediate: numReturns>2 & 1<returnNum<numReturns.
    """
    i = F.col("intensity").cast("double")
    ground = F.col("cls") == 2
    nr, rn = F.col("num_returns"), F.col("return_num")
    first = (nr > 0) & (rn == 1)
    last = (nr > 0) & (rn == nr)
    single = nr == 1
    intermediate = (nr > 2) & (rn > 1) & (rn < nr)

    def csum(pred, val):
        return F.sum(F.when(pred, val).otherwise(F.lit(0.0)))

    total_i = F.sum(i)
    gnd_i = csum(ground, i)
    # BLa quirk: 'all' keeps cls<2 only (include/cellstats.hpp:481).
    all_bla = csum(F.col("cls") < 2, i)
    gnd_single = csum(ground & single, i)
    gnd_last = csum(ground & last, i)
    first_i = csum(first, i)
    single_i = csum(single, i)
    inter_i = csum(intermediate, i)
    last_i = csum(last, i)
    canopy_i = csum(~ground, i)
    canopy_n = F.sum(F.when(~ground, 1).otherwise(0)).cast("double")
    total_n = F.count(F.lit(1)).cast("double")
    first_canopy_n = F.sum(F.when(first & ~ground, 1).otherwise(0)).cast("double")
    first_n = F.sum(F.when(first, 1).otherwise(0)).cast("double")

    bla = F.when(all_bla != 0.0, 1.0 - F.sqrt(gnd_i / all_bla)).otherwise(F.lit(NODATA))
    blb_denom = (first_i + single_i) / total_i + F.sqrt((inter_i + last_i) / total_i)
    blb = F.when(total_i == 0.0, F.lit(NODATA)).otherwise(
        F.when(blb_denom == 0.0, F.lit(NODATA)).otherwise(
            (gnd_single / total_i + F.sqrt(gnd_last / total_i)) / blb_denom
        )
    )
    ir = F.when(total_i != 0.0, canopy_i / total_i).otherwise(F.lit(NODATA))
    rr = F.when(total_n != 0.0, canopy_n / total_n).otherwise(F.lit(NODATA))
    fr = F.when(first_n != 0.0, first_canopy_n / first_n).otherwise(F.lit(NODATA))

    return points.groupBy(*[F.col(g) for g in group]).agg(
        bla.alias("gap_bla"),
        blb.alias("gap_blb"),
        ir.alias("gap_ir"),
        rr.alias("gap_rr"),
        fr.alias("gap_fr"),
    )


def densify(
    stats_df: DataFrame,
    spark,
    *,
    cols: int,
    rows: int,
    stat_cols: Sequence[str],
    nodata: float = NODATA,
) -> DataFrame:
    """Left-join the sparse per-cell stats onto the full dense grid,
    materializing the reference's nodata sentinel for empty cells —
    the output-edge step of every raster-producing pipeline."""
    grid = spark.range(int(cols) * int(rows)).select(
        (F.col("id") % cols).cast("long").alias("cell_col"),
        (F.col("id") / cols).cast("long").alias("cell_row"),
    )
    out = grid.join(stats_df, ["cell_col", "cell_row"], "left")
    fill = set(stat_cols)
    return out.select(
        *(F.coalesce(F.col(c), F.lit(float(nodata))).alias(c) if c in fill else c
          for c in out.columns)
    )
