"""Deterministic synthetic sources (no external data, no RNG objects).

Everything is generated from ``spark.range`` with integer-mixing column
expressions, so generation is fully distributed, reproducible at any
scale (the same formulas would generate the 10^12-doc table on a
cluster), and contains NO driver-side loops.

Tables produced:
- interleaved documents per BASELINE.json input_hint (text spans carry
  LASPoint payloads; media spans reference 'tile/<level>/<tx>/<ty>'),
  with a deliberately skewed hot cell to exercise salting/AQE;
- the distinct media-ref set of that table, without building it;
- polygon fixtures for PIP joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geotools_spark.operators.spans import POINT_FIELDS, POINT_SEP

# World: [0,64) x [0,64) map units; default grid res 1.0 -> 64x64 cells.
WORLD = 64.0
MIX = 100000007  # prime modulus keeping products inside int64


def synthetic_documents(
    spark: SparkSession,
    n_docs: int,
    *,
    partitions: int | None = None,
    hot_fraction_pct: int = 20,
) -> DataFrame:
    """Interleaved documents table, schema per input_hint.

    Each doc has 2-6 spans with monotonically increasing offsets; every
    4th span is media. ``hot_fraction_pct`` percent of points collapse
    into one map-unit cell at (1,1) — the skew hot-spot for the salted
    aggregation path.
    """
    rng = spark.range(0, n_docs, 1, partitions) if partitions else spark.range(n_docs)
    hot = int(hot_fraction_pct)
    px = (
        f"CASE WHEN t.m1 % 100 < {hot}"
        " THEN format_string('%.4f', CAST(1.0 + (t.m1 % 9999) / 10000.0 AS DOUBLE))"
        " ELSE format_string('%.4f', CAST((t.m1 % 640000) / 10000.0 AS DOUBLE)) END"
    )
    py = (
        f"CASE WHEN t.m1 % 100 < {hot}"
        " THEN format_string('%.4f', CAST(1.0 + (t.m2 % 9999) / 10000.0 AS DOUBLE))"
        " ELSE format_string('%.4f', CAST((t.m2 % 640000) / 10000.0 AS DOUBLE)) END"
    )
    payload = ", ".join(
        {
            "x": px,
            "y": py,
            "z": "format_string('%.2f', CAST(1.0 + (t.m2 % 1900) / 100.0 AS DOUBLE))",
            "intensity": "CAST(t.m1 % 256 AS STRING)",
            "return_num": "CAST(t.m2 % 5 + 1 AS STRING)",
            "num_returns": "'5'",
            "cls": "CAST(t.m1 % 8 AS STRING)",
            "scan_angle": "CAST(t.m2 % 61 - 30 AS STRING)",
            "gps_time": "format_string('%.1f', CAST(id * 2 + t.i AS DOUBLE))",
            "source_id": "CAST(id % 4 AS STRING)",
        }[name]
        for name, _ in POINT_FIELDS
    )
    # Two transform layers emulate let-bindings: layer 1 computes the
    # per-span mix values (m1, m2), layer 2 builds the span struct.
    spans = f"""
      transform(
        transform(sequence(0, CAST(1 + id % 5 AS INT)), i ->
          named_struct(
            'i', i,
            'm1', pmod((id % {MIX}) * 1103515245 + CAST(i AS BIGINT) * 826366247 + 12345, 2147483647),
            'm2', pmod((pmod((id % {MIX}) * 1103515245 + CAST(i AS BIGINT) * 826366247 + 12345,
                             2147483647)) * 69069 + 1, 2147483647))),
        t -> struct(
          CASE WHEN (id + t.i) % 4 = 3 THEN 'media' ELSE 'text' END AS kind,
          CASE WHEN (id + t.i) % 4 = 3 THEN CAST(NULL AS STRING)
               ELSE concat_ws('{POINT_SEP}', {payload}) END AS text,
          CASE WHEN (id + t.i) % 4 = 3
               THEN concat('tile/4/', CAST(t.m1 % 16 AS STRING), '/',
                           CAST(t.m2 % 16 AS STRING))
               ELSE CAST(NULL AS STRING) END AS media_ref,
          CAST(t.i * 10 + t.m1 % 10 AS INT) AS offset))
    """
    return rng.select(
        F.format_string("doc%012d", F.col("id")).alias("doc_id"),
        F.expr(spans).alias("spans"),
    )


def synthetic_media_refs(
    spark: SparkSession, n_docs: int, *, partitions: int | None = None
) -> DataFrame:
    """DISTINCT media_ref set of ``synthetic_documents(n_docs)`` without
    building the documents: the doc generator's span transform is an
    interpreted higher-order expression that constructs every TEXT
    payload (10 fields, 4 format_strings) even when the consumer only
    wants the media refs — measured ~0.9 s at 5k docs for a 95-ref
    result. This replays the identical integer mixing (same constants,
    same span index range, same media predicate) as plain codegen
    columns over an explode, so the ref SET is equal by construction
    (pinned by tests/test_media.py)."""
    rng = spark.range(0, n_docs, 1, partitions) if partitions else spark.range(n_docs)
    e = rng.select(
        "id", F.explode(F.expr("sequence(0, CAST(1 + id % 5 AS INT))")).alias("i")
    ).filter((F.col("id") + F.col("i")) % 4 == 3)
    m1 = F.pmod(
        (F.col("id") % MIX) * F.lit(1103515245)
        + F.col("i").cast("bigint") * F.lit(826366247)
        + F.lit(12345),
        F.lit(2147483647),
    )
    m2 = F.pmod(m1 * F.lit(69069) + F.lit(1), F.lit(2147483647))
    ref = F.concat(
        F.lit("tile/4/"),
        (m1 % 16).cast("string"),
        F.lit("/"),
        (m2 % 16).cast("string"),
    )
    return e.select(ref.alias("media_ref")).distinct()


def fixture_polygons(spark: SparkSession) -> DataFrame:
    """PIP fixture (FIXTURES.md §3): 3 disjoint convex polygons + 1
    concave, vertices off lattice points to dodge boundary ambiguity."""
    polys = [
        # (poly_id, ring closed CCW)
        (1, [(2.05, 2.05), (10.05, 2.05), (10.05, 10.05), (2.05, 10.05), (2.05, 2.05)]),
        (2, [(20.05, 4.05), (30.05, 4.05), (25.05, 14.05), (20.05, 4.05)]),
        (3, [(40.05, 40.05), (52.05, 40.05), (52.05, 52.05), (40.05, 52.05), (40.05, 40.05)]),
        # concave 'C' shape
        (
            4,
            [
                (12.05, 20.05),
                (24.05, 20.05),
                (24.05, 24.05),
                (16.05, 24.05),
                (16.05, 32.05),
                (24.05, 32.05),
                (24.05, 36.05),
                (12.05, 36.05),
                (12.05, 20.05),
            ],
        ),
    ]
    rows = [
        (pid, [{"x": float(x), "y": float(y)} for x, y in ring]) for pid, ring in polys
    ]
    return spark.createDataFrame(
        rows, "poly_id int, ring array<struct<x:double,y:double>>"
    )
