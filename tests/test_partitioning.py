"""Size-aware partitioning + collect-size guards (VERDICT r02 #5/#7)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geotools_spark.operators.partitioning import plan_size_bytes
from geotools_spark.operators.sampling import collect_capped, local_frame


def test_plan_size_bytes_tracks_input_size(spark):
    small = spark.range(100).select(
        F.col("id").cast("double").alias("x"), F.col("id").cast("double").alias("y")
    )
    # 2e9 rows x 8B = 16 GB in Catalyst stats — no execution happens,
    # plan_size_bytes only reads the optimized plan's size estimate
    big = spark.range(2_000_000_000).select(
        F.col("id").cast("double").alias("x"), F.col("id").cast("double").alias("y")
    )
    assert plan_size_bytes(big) > plan_size_bytes(small)


def test_collect_capped_raises_before_materializing(spark):
    big = spark.range(10_000).select(F.col("id").alias("a"), F.col("id").alias("b"))
    with pytest.raises(ValueError, match="driver-collect cap"):
        collect_capped(big, ("a", "b"), max_rows=100, what="test side")
    ok = collect_capped(big.limit(50), ("a",), max_rows=100)
    assert len(ok) == 50


def test_local_frame_round_trips_rows_and_schema(spark):
    ddl = "poly_id int, ring array<struct<x:double,y:double>>, tag string"
    rows = [(1, [{"x": 1.0, "y": 2.0}, {"x": None, "y": 3.0}], "a"), (None, None, None),
            (3, [], "")]
    want = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString()
    empty = local_frame(spark, [], ddl)
    assert empty.schema == want.schema
    assert empty.collect() == []


def test_pip_rejects_oversized_polygon_side(spark):
    # VERDICT r02 #5: _collect_rings routes through the capped collect
    import geotools_spark.operators.sampling as sampling
    from geotools_spark.operators.pip import pip_join

    ring = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)]
    polys = spark.createDataFrame(
        [(i, [{"x": x, "y": y} for x, y in ring]) for i in range(60)],
        "poly_id int, ring array<struct<x:double,y:double>>",
    )
    pts = spark.createDataFrame([(1, 0.5, 0.5)], "pid int, x double, y double")
    old = sampling.MAX_SAMPLE_ROWS
    sampling.MAX_SAMPLE_ROWS = 10
    try:
        with pytest.raises(ValueError, match="driver-collect cap"):
            pip_join(pts, polys)
    finally:
        sampling.MAX_SAMPLE_ROWS = old


def test_pip_rejects_reserved_point_columns(spark):
    from geotools_spark.operators.pip import pip_join

    ring = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)]
    polys = spark.createDataFrame(
        [(0, [{"x": x, "y": y} for x, y in ring])],
        "poly_id int, ring array<struct<x:double,y:double>>",
    )
    pts = spark.createDataFrame(
        [(1, 0.5, 0.5, 9)], "pid int, x double, y double, poly_id int"
    )
    with pytest.raises(ValueError, match="pip-internal"):
        pip_join(pts, polys)


def test_locate_in_tris_survives_skinny_triangles():
    # ADVICE r02 (low): a degenerate triangulation of long skinny
    # triangles spanning the extent must not quadratically inflate the
    # bucket table — the K-shrink loop bounds replication at <=16*ntri
    from geotools_spark.functions.geometry import _locate_in_tris

    rs = np.random.RandomState(3)
    n = 2000
    # vertices on two nearly-parallel horizontal lines: every triangle
    # spans most of the x extent
    xs = rs.uniform(0, 1000, n)
    ys = np.where(np.arange(n) % 2 == 0, 0.0, 1.0) + rs.uniform(0, 1e-3, n)
    verts = np.column_stack([xs, ys])
    order = np.argsort(xs)
    tris = np.column_stack([order[:-2], order[1:-1], order[2:]]).astype(np.int64)
    q = np.column_stack([rs.uniform(0, 1000, 3000), rs.uniform(0, 1.001, 3000)])
    hit, has = _locate_in_tris(verts, tris, q)  # bucketed path (ntri*nq > 250k)
    # dense reference on a subsample
    sub = slice(0, 200)
    t1, t2, t3 = verts[tris[:, 0]], verts[tris[:, 1]], verts[tris[:, 2]]

    def dense_ref(qs):
        qx, qy = qs[:, 0][:, None], qs[:, 1][:, None]

        def sign(pa, pb):
            return (qx - pb[None, :, 0]) * (pa[None, :, 1] - pb[None, :, 1]) - (
                pa[None, :, 0] - pb[None, :, 0]
            ) * (qy - pb[None, :, 1])

        d1, d2, d3 = sign(t1, t2), sign(t2, t3), sign(t3, t1)
        inside = ~(((d1 < 0) | (d2 < 0) | (d3 < 0)) & ((d1 > 0) | (d2 > 0) | (d3 > 0)))
        return inside.argmax(axis=1), inside.any(axis=1)

    h_ref, has_ref = dense_ref(q[sub])
    assert np.array_equal(has[sub], has_ref)
    ok = has_ref
    assert np.array_equal(hit[sub][ok], h_ref[ok])
