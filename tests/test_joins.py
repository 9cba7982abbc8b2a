"""PIP / radius / kNN join operators vs small brute-force oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geotools_spark.operators.neighbors import (
    idw,
    knn_join,
    knn_kth_dist_bound_ok,
    radius_cell_join,
)
from geotools_spark.operators.pip import inside_expr, pip_join
from geotools_spark.operators.sampling import local_frame
from geotools_spark.sources.datagen import fixture_polygons

CONCAVE = np.array(
    [(0.0, 0.0), (4.0, 0.0), (4.0, 1.0), (1.0, 1.0), (1.0, 3.0), (4.0, 3.0),
     (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
)


def ray_cast(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """NumPy oracle: vectorized even-odd point-in-polygon over one ring,
    the crossing rule of ``pip.inside_expr`` in the same order."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    px = xs[:, None]
    py = ys[:, None]
    straddle = (y1[None, :] > py) != (y2[None, :] > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1)[None, :] * (py - y1[None, :]) / (y2 - y1)[None, :] + x1[None, :]
    crossings = straddle & (px < xint)
    return (crossings.sum(axis=1) % 2).astype(bool)


def _seeded_rings(rng):
    """Convex, concave (star) and self-intersecting (bow-tie) closed
    rings, with horizontal edges in the last two."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, 9))
    convex = np.column_stack([10 + 6 * np.cos(ang), 10 + 6 * np.sin(ang)])
    ang = np.linspace(0, 2 * np.pi, 14, endpoint=False)
    rad = np.where(np.arange(14) % 2 == 0, 7.0, rng.uniform(1.5, 4.0, 14))
    star = np.column_stack([30 + rad * np.cos(ang), 10 + rad * np.sin(ang)])
    star[3, 1] = star[4, 1]  # one horizontal edge
    bowtie = np.array([(50.0, 2.0), (58.0, 2.0), (50.0, 12.0), (58.0, 12.0)])
    return [np.vstack([r, r[:1]]) for r in (convex, star, bowtie)]


def _probe_points(rng, ring):
    """Random points in the ring's bbox, every vertex, edge midpoints,
    and points on each vertex's y (the ray passes through the vertex)."""
    lo, hi = ring.min(axis=0) - 1.0, ring.max(axis=0) + 1.0
    rand = rng.uniform(lo, hi, (300, 2))
    mids = (ring[:-1] + ring[1:]) / 2.0
    on_y = np.column_stack([rng.uniform(lo[0], hi[0], len(ring)), ring[:, 1]])
    return np.vstack([rand, ring, mids, on_y])


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_inside_expr_matches_numpy_ray_cast(spark, ansi):
    rng = np.random.default_rng(7)
    rings = _seeded_rings(rng)
    pts, edges, want = [], [], {}
    for rid, ring in enumerate(rings):
        xy = _probe_points(rng, ring)
        for i, (px, py) in enumerate(xy):
            pts.append((rid, rid * 10_000 + i, float(px), float(py)))
        inside = ray_cast(xy[:, 0], xy[:, 1], ring)
        want.update({rid * 10_000 + i: bool(v) for i, v in enumerate(inside)})
        edges.append((rid, [
            {"x1": float(a[0]), "y1": float(a[1]), "x2": float(b[0]), "y2": float(b[1])}
            for a, b in zip(ring[:-1], ring[1:])
        ]))
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        p = local_frame(spark, pts, "rid int, i int, x double, y double")
        e = local_frame(
            spark, edges,
            "rid int, _edges array<struct<x1:double,y1:double,x2:double,y2:double>>",
        )
        got = {
            r.i: r.inside
            for r in p.join(e, "rid").select(
                "i", inside_expr(F.col("x"), F.col("y"), F.col("_edges")).alias("inside")
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert got == want
    assert 0 < sum(want.values()) < len(want)


def test_ray_cast_concave():
    xs = np.array([0.5, 2.0, 2.0, 2.0, 5.0])
    ys = np.array([2.0, 0.5, 2.0, 3.5, 2.0])
    # (2,2) sits in the concave notch -> outside
    assert ray_cast(xs, ys, CONCAVE).tolist() == [True, True, False, True, False]


def test_pip_join_inner_and_semi(spark):
    pts = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 22.05, 5.0), (3, 60.0, 60.0), (4, 20.0, 28.0),
         (5, 14.0, 28.0)],
        "pid int, x double, y double",
    )
    polys = fixture_polygons(spark)
    inner = pip_join(pts, polys, res=8.0, how="inner")
    got = {(r.pid, r.poly_id) for r in inner.collect()}
    # pid 4 is in the concave polygon's notch -> NOT inside; pid 5 is in
    # the C's left bar -> inside poly 4
    assert got == {(1, 1), (2, 2), (5, 4)}
    semi = pip_join(pts, polys, res=8.0, how="left_semi")
    assert {r.pid for r in semi.collect()} == {1, 2, 5}
    assert semi.columns == pts.columns  # clip preserves schema


def test_radius_join_matches_bruteforce(spark):
    rows = [(float(i % 7) + 0.3, float(i % 5) + 0.7, float(i)) for i in range(40)]
    pts = spark.createDataFrame(rows, "x double, y double, z double")
    rj = radius_cell_join(pts, radius=1.5, res=1.0)
    got = {
        ((r.cell_col, r.cell_row), r.z) for r in rj.collect()
    }
    want = set()
    for x, y, z in rows:
        for cc in range(-2, 10):
            for cr in range(-2, 8):
                if (x - (cc + 0.5)) ** 2 + (y - (cr + 0.5)) ** 2 <= 2.25:
                    want.add(((cc, cr), z))
    assert got == want


def test_knn_matches_bruteforce(spark):
    qrows = [(i, float((i * 37) % 19) + 0.21, float((i * 53) % 17) + 0.43)
             for i in range(15)]
    srows = [(j, float((j * 29) % 19) + 0.11, float((j * 41) % 17) + 0.59,
              float(j % 9)) for j in range(300)]
    q = spark.createDataFrame(qrows, "qid int, qx double, qy double")
    s = spark.createDataFrame(srows, "sid int, x double, y double, z double")
    knn = knn_join(q, s, k=4, res=2.0, rings=2)
    assert knn_kth_dist_bound_ok(knn, k=4, res=2.0, rings=2)
    got = {
        (r.qid, r.knn_rank): r.sid for r in knn.collect()
    }
    sdf = pd.DataFrame(srows, columns=["sid", "x", "y", "z"])
    for qid, qx, qy in qrows:
        d = np.sqrt((sdf.x - qx) ** 2 + (sdf.y - qy) ** 2)
        order = sorted(zip(d, sdf.sid))
        for rank in range(1, 5):
            assert got[(qid, rank)] == order[rank - 1][1], (qid, rank)


def test_idw_exact_hit(spark):
    knn = spark.createDataFrame(
        [(1, 0.0, 7.0), (1, 2.0, 9.0), (2, 1.0, 4.0), (2, 2.0, 8.0)],
        "qid int, dist double, z double",
    )
    out = {r.qid: r.idw for r in idw(knn, query_id="qid").collect()}
    assert out[1] == 7.0  # exact hit short-circuit
    expected = (4.0 / 1.0 + 8.0 / 4.0) / (1.0 / 1.0 + 1.0 / 4.0)
    assert out[2] == pytest.approx(expected, rel=1e-12)
