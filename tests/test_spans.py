"""Span-sequence invariant: explode -> reassemble must reproduce the
input documents byte-for-byte (BASELINE.json input_hint)."""

from pyspark.sql import functions as F

from geotools_spark.operators.spans import (
    explode_spans,
    parse_media_spans,
    parse_point_spans,
    reassemble,
)
from geotools_spark.sources.datagen import synthetic_documents


def _collect_docs(df):
    rows = df.orderBy("doc_id").collect()
    return [
        (r.doc_id, [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans])
        for r in rows
    ]


def test_span_roundtrip(spark):
    docs = synthetic_documents(spark, 300)
    rebuilt = reassemble(explode_spans(docs))
    assert _collect_docs(docs) == _collect_docs(rebuilt)


def test_offsets_monotonic(spark):
    docs = synthetic_documents(spark, 200)
    bad = docs.select(
        F.expr(
            "exists(sequence(1, size(spans) - 1),"
            " i -> spans[i].offset <= spans[i-1].offset)"
        ).alias("bad")
    ).filter("bad")
    assert bad.count() == 0


def test_parse_point_spans(spark):
    docs = synthetic_documents(spark, 300)
    spans = explode_spans(docs)
    pts = parse_point_spans(spans)
    n_text = spans.filter("kind = 'text'").count()
    assert pts.count() == n_text
    agg = pts.agg(
        F.sum(F.col("x").isNull().cast("int")).alias("nullx"),
        F.min("x").alias("minx"),
        F.max("x").alias("maxx"),
        F.min("cls").alias("mincls"),
        F.max("cls").alias("maxcls"),
        F.max("num_returns").alias("nr"),
    ).collect()[0]
    assert agg.nullx == 0
    assert 0.0 <= agg.minx and agg.maxx < 64.0
    assert 0 <= agg.mincls and agg.maxcls <= 7
    assert agg.nr == 5


def test_parse_media_spans(spark):
    docs = synthetic_documents(spark, 300)
    media = parse_media_spans(explode_spans(docs))
    agg = media.agg(
        F.min("level").alias("lvl"),
        F.min("tile_x").alias("minx"),
        F.max("tile_x").alias("maxx"),
    ).collect()[0]
    assert agg.lvl == 4
    assert 0 <= agg.minx and agg.maxx <= 15


def test_hot_cell_skew_present(spark):
    """datagen must synthesize a hot cell so salting paths are exercised."""
    pts = parse_point_spans(explode_spans(synthetic_documents(spark, 2000)))
    counts = (
        pts.groupBy(F.floor("x").alias("cx"), F.floor("y").alias("cy"))
        .count()
        .orderBy(F.desc("count"))
        .limit(2)
        .collect()
    )
    assert (counts[0].cx, counts[0].cy) == (1, 1)
    assert counts[0]["count"] > 5 * counts[1]["count"]


def test_span_invariant_survives_shuffle_heavy_pipeline(spark):
    """The north-rule invariant: after an operator chain full of
    shuffles (cell assignment, hash repartition, aggregate join), rows
    keyed by (doc_id, span_idx) still reassemble to the original
    (kind, text, media_ref, offset) sequence byte-for-byte."""
    from geotools_spark.functions.cells import with_cell

    docs = synthetic_documents(spark, 250)
    spans = explode_spans(docs)
    pts = with_cell(parse_point_spans(spans), minx=0.0, miny=0.0, res=1.0, cols=64)
    # shuffle on cell, aggregate, join back on cell — a typical chain
    grid = pts.groupBy("cell_col", "cell_row").agg(F.avg("z").alias("cell_mean"))
    enriched = (
        pts.repartition(16, "cell_col", "cell_row")
        .join(grid, ["cell_col", "cell_row"])
    )
    # text spans come back from the enriched point rows; media spans
    # pass through untouched — splice both by (doc_id, span_idx)
    media = spans.filter(F.col("kind") == "media")
    rebuilt_rows = enriched.select(
        "doc_id", "span_idx", F.lit("text").alias("kind"),
        F.concat_ws(
            ";",
            F.format_string("%.4f", "x"), F.format_string("%.4f", "y"),
            F.format_string("%.2f", "z"), F.col("intensity").cast("string"),
            F.col("return_num").cast("string"), F.col("num_returns").cast("string"),
            F.col("cls").cast("string"), F.col("scan_angle").cast("string"),
            F.format_string("%.1f", "gps_time"), F.col("source_id").cast("string"),
        ).alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        "offset",
    ).unionByName(media.select("doc_id", "span_idx", "kind", "text", "media_ref", "offset"))
    rebuilt = reassemble(rebuilt_rows)
    assert _collect_docs(docs) == _collect_docs(rebuilt)

