"""Neighborhood joins: radius range join (J6/J7), kNN join (J8) and the
IDW kernel (M11).

All three share one physical pattern: turn a spatial range predicate
into an EQUI-join on grid-cell keys by exploding a bounded set of
neighbor-cell offsets, then apply the exact distance predicate. This is
how a distance join stays a hash join at 100 TB — no cross join, no
index structure, and AQE can split skewed cells.

Reference semantics:
- J6: a point contributes to every cell whose CENTROID lies within
  radius r (src/lasgrid.cpp:135-145, 306-344; offset window
  ±(2r)/res/2 cells).
- J8: k nearest samples per query via kd-tree
  (src/interp/Interpolators.cpp:279-352); ties broken deterministically
  here by (dist, sample id) — the reference's kd-tree order is
  arbitrary, so deterministic ordering is the reproducible superset.
- M11: IDW ``sum(z/d^p)/sum(1/d^p)`` with exact-hit short-circuit
  (src/interp/Interpolators.cpp:214-363).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geotools_spark.functions.cells import cell_cols, window_offsets

from .partitioning import spread


def radius_cell_join(
    points: DataFrame,
    *,
    radius: float,
    res: float,
    minx: float = 0.0,
    miny: float = 0.0,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """J6: replicate each point to every cell whose centroid is within
    ``radius``; downstream groupBy(cell) computes radius-windowed stats
    (lasgrid radius mode). Output adds cell_col/cell_row/dist."""
    n = int((radius * 2) / res / 2) + 1  # safe cover of the reference window
    base_col, base_row = cell_cols(F.col(x), F.col(y), minx=minx, miny=miny, res=res)
    out = points.select("*", F.explode(window_offsets(n)).alias("off")).select(
        *points.columns,
        (base_col + F.col("off.dx")).alias("cell_col"),
        (base_row + F.col("off.dy")).alias("cell_row"),
    )
    cx = F.lit(minx) + (F.col("cell_col") + 0.5) * F.lit(res)
    cy = F.lit(miny) + (F.col("cell_row") + 0.5) * F.lit(res)
    dist2 = (F.col(x) - cx) * (F.col(x) - cx) + (F.col(y) - cy) * (F.col(y) - cy)
    return out.select("*", F.sqrt(dist2).alias("dist")).filter(
        dist2 <= F.lit(float(radius) * float(radius))
    )


def knn_join(
    queries: DataFrame,
    samples: DataFrame,
    *,
    k: int,
    res: float,
    rings: int = 2,
    query_id: str = "qid",
    sample_id: str = "sid",
    qx: str = "qx",
    qy: str = "qy",
    sx: str = "x",
    sy: str = "y",
    ranked: bool = True,
) -> DataFrame:
    """J8: k nearest samples per query point.

    Candidates come from the query's cell plus ``rings`` rings of
    neighbor cells at resolution ``res`` (equi-join on cell key), then
    ``row_number() over (partition by query order by dist, sid) <= k``.

    EXACTNESS CONTRACT: results equal brute-force kNN iff every query's
    k-th neighbor lies within ``rings * res`` of the query (the minimum
    distance to any cell outside the window). Callers size (res, rings)
    from expected sample density; ``knn_kth_dist_bound_ok`` verifies
    the guarantee on real output.

    ``ranked=False`` is for the all-candidates-in-window idiom (huge k
    feeding an exact distance filter): it skips the per-query window
    sort entirely — a whole shuffle+sort saved — and emits no
    ``knn_rank`` column. Only for callers that neither read the rank
    nor depend on per-query candidate order.
    """
    # A small query side is broadcast by the planner; the sample side
    # stays where the scan put it, and the plan's partial
    # WindowGroupLimit cuts each task's candidates to k per query before
    # the qid exchange. A round-robin shuffle of the samples would only
    # cost, so ``spread`` repartitions only an input narrower than the
    # cluster (a single-row-group file scans as ONE task, which would
    # then sort the whole fan-out alone).
    scol, srow = cell_cols(F.col(sx), F.col(sy), minx=0.0, miny=0.0, res=res)
    s = spread(samples).select("*", scol.alias("scell_col"), srow.alias("scell_row"))
    # the query cell is keyed once per query, before the window explode
    qcol, qrow = cell_cols(F.col(qx), F.col(qy), minx=0.0, miny=0.0, res=res)
    qe = (
        queries.select("*", qcol.alias("qcell_col"), qrow.alias("qcell_row"))
        .select("*", F.explode(window_offsets(rings)).alias("off"))
        .select(
            *queries.columns,
            (F.col("qcell_col") + F.col("off.dx")).alias("jcell_col"),
            (F.col("qcell_row") + F.col("off.dy")).alias("jcell_row"),
        )
    )
    ddx = F.col(qx) - F.col(sx)
    ddy = F.col(qy) - F.col(sy)
    joined = qe.join(
        s,
        (F.col("jcell_col") == F.col("scell_col"))
        & (F.col("jcell_row") == F.col("scell_row")),
        "inner",
    ).select(
        *queries.columns,
        *samples.columns,
        # plain multiplication (not pow) so the DuckDB oracle's dist*dist
        # arithmetic is bit-identical
        F.sqrt(ddx * ddx + ddy * ddy).alias("dist"),
    )
    if not ranked:
        return joined
    w = Window.partitionBy(query_id).orderBy(F.col("dist"), F.col(sample_id))
    return joined.select("*", F.row_number().over(w).alias("knn_rank")).filter(
        F.col("knn_rank") <= k
    )


def knn_kth_dist_bound_ok(knn_df: DataFrame, *, k: int, res: float, rings: int) -> bool:
    """True iff the candidate window provably contained the exact kNN
    for every query (max k-th distance <= rings*res)."""
    row = (
        knn_df.filter(F.col("knn_rank") == k)
        .agg(F.max("dist").alias("maxd"))
        .collect()[0]
    )
    return row.maxd is None or row.maxd <= rings * res


def idw(
    knn_df: DataFrame,
    *,
    query_id: str = "qid",
    value: str = "z",
    power: float = 2.0,
) -> DataFrame:
    """M11 over a kNN result: exact-hit short-circuit (any d==0 ->
    mean of exact hits), else sum(z/d^p)/sum(1/d^p)."""
    d = F.col("dist")
    dp = d * d if power == 2.0 else d ** F.lit(power)
    wcol = F.lit(1.0) / dp
    agg = knn_df.groupBy(query_id).agg(
        F.sum(F.when(d == 0.0, F.col(value))).alias("_hit_sum"),
        F.count(F.when(d == 0.0, 1)).alias("_hit_n"),
        F.sum(F.when(d > 0.0, F.col(value) / dp)).alias("_num"),
        F.sum(F.when(d > 0.0, wcol)).alias("_den"),
    )
    return agg.select(
        query_id,
        F.when(F.col("_hit_n") > 0, F.col("_hit_sum") / F.col("_hit_n"))
        .otherwise(F.col("_num") / F.col("_den"))
        .alias("idw"),
    )
