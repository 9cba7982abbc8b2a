"""Interleaved-document span operators.

The engine's canonical input (BASELINE.json input_hint) is a table of
interleaved text+media documents::

    documents(doc_id string,
              spans array<struct<kind string, text string,
                                 media_ref string, offset int>>)

Text spans carry serialized LiDAR point metadata; media spans reference
raster/LiDAR tiles. The first operator of every pipeline is the span
explode (the reference's LAS record scan, include/lasreader.hpp:17-160,
re-expressed); the span-sequence invariant — per row the reconstructed
``(kind, text, media_ref, order)`` sequence equals the input — is
guaranteed because every derived row keeps ``(doc_id, span_idx)``.

All parsing is JVM-side (split/cast) — no Python in the scan path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Field order of the serialized point payload inside text spans
# (mirrors the LASPoint fields of include/laspoint.hpp:37-50).
POINT_FIELDS = (
    ("x", "double"),
    ("y", "double"),
    ("z", "double"),
    ("intensity", "int"),
    ("return_num", "int"),
    ("num_returns", "int"),
    ("cls", "int"),
    ("scan_angle", "int"),
    ("gps_time", "double"),
    ("source_id", "int"),
)
POINT_SEP = ";"


def explode_spans(docs: DataFrame) -> DataFrame:
    """One row per span, keyed by (doc_id, span_idx) so order is always
    reconstructible after any shuffle."""
    return docs.select(
        "doc_id",
        F.posexplode("spans").alias("span_idx", "span"),
    ).select(
        "doc_id",
        "span_idx",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def parse_point_spans(
    spans: DataFrame, fields: tuple[str, ...] | None = None
) -> DataFrame:
    """text spans -> typed point columns (vectorized split+cast).

    This is the engine's LAS 'scan': schema-by-format is fixed
    (SURVEY.md §1.1) so a delimited decode covers it. Keeps
    (doc_id, span_idx, offset) for the sequence invariant.

    ``fields`` restricts the decode to the named payload fields: the
    split then carries a LIMIT of (last needed position + 2), so the
    regex walk stops after the last needed separator instead of
    tokenizing all ten fields (element_at positions up to the limit-1
    are exact regardless of limit — only the final "rest" element
    glues). The flagship grid path needs just (x, y, z); measured
    ~0.5 s/4M docs off the parse stage. Decoded values are identical
    to the full parse for every requested field.
    """
    # materialize the split ONCE: ten per-field `split(text)[i]`
    # expressions survive into codegen un-deduplicated (measured 2x on
    # the decode stage), so the array gets its own projection
    want = [
        (i, name, typ)
        for i, (name, typ) in enumerate(POINT_FIELDS)
        if fields is None or name in fields
    ]
    if fields is not None:
        missing = set(fields) - {name for _, name, _ in want}
        if missing:
            raise ValueError(f"unknown point fields: {sorted(missing)}")
    limit = -1 if fields is None else max(i for i, _, _ in want) + 2
    keep = [c for c in spans.columns if c not in ("text", "media_ref", "kind")]
    parts = spans.filter(F.col("kind") == "text").select(
        *keep, F.split(F.col("text"), POINT_SEP, limit).alias("_parts")
    )
    return parts.select(
        *keep,
        *(F.element_at("_parts", i + 1).cast(typ).alias(name) for i, name, typ in want),
    )


def parse_media_spans(spans: DataFrame) -> DataFrame:
    """media spans -> (level, tile_x, tile_y) parsed from
    media_ref='tile/<level>/<tx>/<ty>' — the tile-assignment key."""
    keep = [c for c in spans.columns if c not in ("text", "kind")]
    # the split gets its own projection, as in parse_point_spans
    parts = spans.filter(F.col("kind") == "media").select(
        *keep, F.split(F.col("media_ref"), "/").alias("_parts")
    )
    return parts.select(
        *keep,
        F.element_at("_parts", 2).cast("int").alias("level"),
        F.element_at("_parts", 3).cast("long").alias("tile_x"),
        F.element_at("_parts", 4).cast("long").alias("tile_y"),
    )


def reassemble(spans: DataFrame) -> DataFrame:
    """Inverse of explode_spans: rebuild documents with spans in original
    order. Used by the invariant test after each operator."""
    packed = F.struct("span_idx", "kind", "text", "media_ref", "offset")
    return (
        spans.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(packed)).alias("packed"))
        .select(
            "doc_id",
            F.expr(
                "transform(packed, p -> struct(p.kind as kind, p.text as text,"
                " p.media_ref as media_ref, p.offset as offset))"
            ).alias("spans"),
        )
    )
