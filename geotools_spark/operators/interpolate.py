"""Interpolator registry (SURVEY.md §2.11): the reference's strategy
interface (include/interp/Interpolator.hpp + six concrete headers)
becomes a name -> DataFrame-transformer registry.

| name              | reference                                   | here |
|-------------------|---------------------------------------------|------|
| idw               | IDWInterpolator (src/interp/Interpolators.cpp:214-363) | kNN candidate join + column math (operators/neighbors.idw) |
| avg               | AvgInterpolator (…:386-419) — mean of k nearest | kNN join + avg() |
| planar            | PlanarInterpolator (…:509-523)              | driver 3x3 solve + column expr (operators/terrain) |
| kriging           | SimpleKrigingInterpolator (…:140-206)       | driver factorization + Arrow batches (operators/terrain) |
| loess             | LOESSInterpolator — DECLARED but never implemented in the reference (include/interp/LOESSInterpolator.hpp has no matching definition) | implemented: tricube-weighted local plane, pure column Cramer |
| natural_neighbour | NaturalNeighbourInterpolator (…:526-713, CGAL Voronoi) | Watson stolen-area Sibson over NumPy Delaunay (functions/geometry.natural_neighbour) |

All query sides are DataFrames with (qid, qx, qy); sample sides carry
(sid, x, y, z). The kNN/radius candidate generation keeps every path a
cell-key equi-join (operators/neighbors) — no cross joins at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotools_spark.operators.neighbors import idw as _idw_kernel
from geotools_spark.operators.neighbors import knn_join


def interp_idw(
    queries: DataFrame, samples: DataFrame, *, k: int = 8, power: float = 2.0,
    res: float = 1.0, rings: int = 2,
) -> DataFrame:
    knn = knn_join(queries, samples, k=k, res=res, rings=rings)
    return _idw_kernel(knn, power=power).toDF("qid", "value")


def interp_idw_all(
    queries: DataFrame, samples: DataFrame, *, power: float = 2.0, **_
) -> DataFrame:
    """IDWInterpolator's all-neighbours branch (neighbours <= 0,
    src/interp/Interpolators.cpp:288-321 via rastfit -ip default):
    every sample weighs into every query. The sample side is
    contract-small, so a broadcast cross join keeps it one narrow
    stage — and the formula is plain aggregation, so the whole path is
    DuckDB-expressible (VERDICT r04 #3)."""
    j = queries.crossJoin(F.broadcast(samples.select("x", "y", "z")))
    d = F.sqrt(
        (F.col("qx") - F.col("x")) * (F.col("qx") - F.col("x"))
        + (F.col("qy") - F.col("y")) * (F.col("qy") - F.col("y"))
    )
    knn = j.select("qid", "z", d.alias("dist"))
    return _idw_kernel(knn, power=power).toDF("qid", "value")


def interp_avg(
    queries: DataFrame, samples: DataFrame, *, k: int = 8,
    res: float = 1.0, rings: int = 2,
) -> DataFrame:
    """AvgInterpolator: plain mean of the k nearest samples."""
    knn = knn_join(queries, samples, k=k, res=res, rings=rings)
    return knn.groupBy("qid").agg(F.avg("z").alias("value"))


def interp_shift(queries: DataFrame, samples: DataFrame, **_) -> DataFrame:
    """AvgInterpolator's global branch (src/interp/Interpolators.cpp:
    368-384, neighbours<=0): every query gets the plain mean of all
    sample z — rastfit's 'shift vertically by the average difference'.
    One scalar agg broadcast onto the query side; no per-query work."""
    mean = samples.agg(F.avg("z").alias("value"))
    return queries.select("qid").crossJoin(F.broadcast(mean))


def interp_planar(queries: DataFrame, samples: DataFrame, **_) -> DataFrame:
    from geotools_spark.operators.terrain import planar_interpolate

    return planar_interpolate(samples, queries).toDF(*queries.columns, "value")


def interp_kriging(
    queries: DataFrame, samples: DataFrame, *,
    nugget: float = 0.0, sill: float = 10.0, vrange: float = 25.0,
    model: str = "spherical", **_,
) -> DataFrame:
    from geotools_spark.operators.terrain import simple_kriging

    return simple_kriging(
        samples, queries, nugget=nugget, sill=sill, vrange=vrange, model=model
    ).toDF(*queries.columns, "value")


def interp_loess(
    queries: DataFrame, samples: DataFrame, *,
    bandwidth: float = 4.0, res: float = 1.0,
) -> DataFrame:
    """Degree-1 LOESS: tricube-weighted least-squares plane over the
    samples within ``bandwidth`` of each query, evaluated at the query
    (= the intercept of the query-centered fit). Candidates come from
    the cell-ring equi-join; the 3x3 weighted normal equations solve in
    closed form (Cramer) as pure column expressions — whole pipeline
    stays in codegen. Degenerate neighborhoods (|det| ~ 0) fall back to
    the weighted mean."""
    rings = max(1, int(bandwidth / res) + 1)
    # candidate join: reuse the kNN cell-window machinery with a huge k,
    # then the exact distance filter below does the real bounding
    cand = knn_join(queries, samples, k=1 << 30, res=res, rings=rings)
    cand = cand.filter(F.col("dist") <= bandwidth)
    u = F.col("dist") / F.lit(float(bandwidth))
    w = F.pow(1.0 - u * u * u, 3)  # tricube
    dx = F.col("x") - F.col("qx")
    dy = F.col("y") - F.col("qy")
    z = F.col("z")
    agg = cand.groupBy("qid").agg(
        F.sum(w).alias("sw"),
        F.sum(w * dx).alias("sx"),
        F.sum(w * dy).alias("sy"),
        F.sum(w * dx * dx).alias("sxx"),
        F.sum(w * dx * dy).alias("sxy"),
        F.sum(w * dy * dy).alias("syy"),
        F.sum(w * z).alias("sz"),
        F.sum(w * dx * z).alias("sxz"),
        F.sum(w * dy * z).alias("syz"),
    )
    det = (
        F.col("sw") * (F.col("sxx") * F.col("syy") - F.col("sxy") * F.col("sxy"))
        - F.col("sx") * (F.col("sx") * F.col("syy") - F.col("sxy") * F.col("sy"))
        + F.col("sy") * (F.col("sx") * F.col("sxy") - F.col("sxx") * F.col("sy"))
    )
    det0 = (
        F.col("sz") * (F.col("sxx") * F.col("syy") - F.col("sxy") * F.col("sxy"))
        - F.col("sx") * (F.col("sxz") * F.col("syy") - F.col("sxy") * F.col("syz"))
        + F.col("sy") * (F.col("sxz") * F.col("sxy") - F.col("sxx") * F.col("syz"))
    )
    value = F.when(F.abs(det) > 1e-9, det0 / det).otherwise(F.col("sz") / F.col("sw"))
    return agg.select("qid", value.alias("value"))


def interp_natural_neighbour(queries: DataFrame, samples: DataFrame, **_) -> DataFrame:
    """M13 Sibson natural neighbour (src/interp/Interpolators.cpp:526-713,
    CGAL Voronoi area-stealing) — reimplemented as Watson's stolen-area
    sum over the NumPy Bowyer-Watson Delaunay
    (functions/geometry.natural_neighbour). Sample side is collected +
    broadcast like kriging (the reference interpolates one tile's
    samples at a time); queries stream through mapInPandas in Arrow
    batches. Hull-exterior queries yield NULL (documented deviation —
    the reference extrapolates against a padded clip box)."""
    import numpy as np

    from geotools_spark.functions.geometry import natural_neighbour
    from geotools_spark.operators.sampling import map_with_samples

    def _nn(pts, pdf):
        vals, located = natural_neighbour(pts, pdf[["qx", "qy"]].to_numpy(dtype=np.float64))
        return np.where(located, vals, np.nan)

    return map_with_samples(queries, samples, ("x", "y", "z"), "value", _nn)


REGISTRY = {
    "idw": interp_idw,
    "idw_all": interp_idw_all,
    "avg": interp_avg,
    "shift": interp_shift,
    "planar": interp_planar,
    "kriging": interp_kriging,
    "loess": interp_loess,
    "natural_neighbour": interp_natural_neighbour,
}


def interpolate(name: str, queries: DataFrame, samples: DataFrame, **params) -> DataFrame:
    """Dispatch by interpolator name — the reference's Interpolator
    strategy interface. Every implementation returns (qid, value)."""
    if name not in REGISTRY:
        raise ValueError(f"unknown interpolator {name!r}; have {sorted(REGISTRY)}")
    return REGISTRY[name](queries, samples, **params)
