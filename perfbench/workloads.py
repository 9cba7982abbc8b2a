"""The benchmark workloads.

Each workload generates its inputs from the seed (``generate``),
computes the reference its checks compare against (``reference``,
outside every timed window), and runs one job (``job``): the public calls into the
package, every output collected and checked. ``trace`` re-runs the job
as a chain of prefixes, each materialized under its own Spark job group,
and derives per-layer numbers from the differences; ``trace_setup``
makes inputs only the traced run needs, and ``trace_extra`` times
layers beside the job (docs_grid's write and decode paths).

Sizes are fixed per workload so a job takes well under a second to a
few seconds at ``local[4]``; the closed loop then fits several jobs
into one measured window.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import checks
import datagen
import probe

# --- sizes (input rows per job) -------------------------------------
GRID_DOCS = 200_000
CHECKPOINT_DOCS = 2_000
POINTS = 80_000
QUERIES = 2_000
POLYGONS = 300
KNN_SAMPLE = 40  # queries checked against brute force per job

# --- program parameters (as flagship.py and the module defaults use) --
GRID = dict(minx=0.0, miny=0.0, res=1.0, cols=64)
K, KNN_RES, KNN_RINGS = 8, 0.5, 2
LEVEL_DELTA = 3  # cell_part = zkey >> 6: 8 x 8-cell blocks, 64 partitions
READ_PART = 0  # the partition holding the hot cell (1, 1)
RUN_ID = "bench"


def _first(nodes, metric: str, name_has: str = "") -> int:
    """``metric`` of the first plan node (root first) that has it."""
    for name, metrics in nodes:
        if name_has in name and metric in metrics:
            return metrics[metric]
    return 0


def _timed(status: probe.StatusReader, group: str, df) -> tuple[float, list, probe.StageTotals]:
    """Materialize ``df`` under job group ``group``: (wall s, plan nodes,
    stage totals)."""
    sc = status.spark.sparkContext
    group = f"{group}-{time.perf_counter_ns()}"  # one group per materialization
    sc.setJobGroup(group, group)
    try:
        wall = probe.run_plan(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return wall, probe.plan_nodes(df), status.totals(group)


class Workload:
    name = ""
    row_kind = ""
    #: fewest measured jobs per run, however short ``--seconds`` is
    min_jobs = 5
    #: untimed jobs between the set-ups (three jobs) and the measurement
    warmup_jobs = 0

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.rows = 0
        self.truth: dict = {}

    def generate(self, inputs: str) -> dict[str, tuple[int, int]]:
        """Write this seed's inputs under ``inputs``; returns (rows, bytes)
        of every file set written."""
        raise NotImplementedError

    def reference(self, spark) -> None:
        """Expected outputs for the checks (harness work, untimed)."""

    def job(self, spark) -> tuple[float, list[str]]:
        """One job: (seconds spent in lazy plan construction, problems)."""
        raise NotImplementedError

    def trace_setup(self, spark) -> None:
        """Inputs only the traced run needs (untimed)."""

    def trace(self, spark, status: probe.StatusReader) -> tuple[list[str], dict[str, float]]:
        """One traced pass over the job's prefixes: (problems, per-layer values)."""
        raise NotImplementedError

    def trace_extra(self, spark, status) -> tuple[list[str], dict[str, float]]:
        """Layers traced beside the job, outside the overhead measurement."""
        return [], {}


# ------------------------------------------------------------ docs_grid

class DocsGrid(Workload):
    """The BASELINE headline: scan -> flagship_from_docs -> both sinks."""

    name = "docs_grid"
    row_kind = "docs"
    # its CPU per job still falls for about four jobs after the first
    warmup_jobs = 1

    def generate(self, inputs):
        self.path = os.path.join(inputs, "docs")
        self.truth = datagen.docs(self.seed, GRID_DOCS, self.path)
        self.rows = GRID_DOCS
        return self.truth["inputs"]

    def job(self, spark):
        from geotools_spark.flagship import flagship_from_docs

        t0 = time.perf_counter()
        grid, tiles = flagship_from_docs(spark.read.parquet(self.path))
        plan_s = time.perf_counter() - t0
        return plan_s, checks.docs_grid(grid.collect(), tiles.collect(), self.truth)

    def trace_setup(self, spark):
        self.beside = [WritePath(self.seed, self.work), DecodePath(spark, self.seed, self.work)]

    def trace(self, spark, status):
        from geotools_spark.functions.cells import with_cell
        from geotools_spark.operators import gridstats
        from geotools_spark.operators.spans import (
            explode_spans, parse_media_spans, parse_point_spans)

        # each prefix keeps only the columns its consumer reads, as the
        # optimizer prunes them in the full pipeline
        docs = spark.read.parquet(self.path)
        t_scan, snodes, _ = _timed(status, "scan", docs.select(
            "spans.kind", "spans.text", "spans.media_ref"))
        spans = explode_spans(docs)
        pts = parse_point_spans(spans, fields=("x", "y", "z"))
        t_spans, nodes, _ = _timed(status, "spans", pts.select("x", "y", "z"))
        t_media, _, _ = _timed(status, "spans.media", parse_media_spans(spans).select(
            "level", "tile_x", "tile_y"))
        cells = with_cell(pts, **GRID, zkey=True)
        t_cells, _, _ = _timed(status, "cells", cells.select(
            "zkey", "cell_col", "cell_row", "z"))
        grid = gridstats.cell_stats(
            cells, value="z", group=("zkey", "cell_col", "cell_row"),
            stats=("count", "min", "max", "mean", "stddev"))
        t_grid, gnodes, gstats = _timed(status, "gridstats", grid)
        return [], {
            "scan.self_s": t_scan,
            "scan.input_bytes": _first(snodes, "filesSize", "Scan"),
            "spans.self_s": t_spans - t_scan,
            "spans.rows_out": _first(nodes, "numOutputRows", "Generate"),
            "spans.media_self_s": t_media - t_scan,
            "cells.self_s": t_cells - t_spans,
            "gridstats.self_s": t_grid - t_cells,
            "gridstats.shuffle_write_bytes": gstats.shuffle_write_bytes,
            "gridstats.spill_bytes": gstats.spill_bytes,
            "gridstats.groups_out": _first(gnodes, "numOutputRows", "HashAggregate"),
        }

    def trace_extra(self, spark, status):
        problems, layers = [], {}
        for path in self.beside:
            p, values = path.trace(spark, status)
            problems += p
            layers |= values
        return problems, layers


# ------------------------------------------------------- spatial_join

class SpatialJoin(Workload):
    """PIP inner join, kNN + IDW, zone lookup + zonal stats over points."""

    name = "spatial_join"
    row_kind = "points"
    # a job takes 3-6 s; more would not fit the time of a run
    min_jobs = 3
    # its CPU per job falls for about five jobs (compiles, GC marking)
    warmup_jobs = 1

    def generate(self, inputs):
        self.dir = os.path.join(inputs, "spatial")
        self.truth = datagen.spatial(self.seed, POINTS, QUERIES, POLYGONS, self.dir)
        self.rows = POINTS
        return self.truth["inputs"]

    def reference(self, spark):
        rng = np.random.default_rng([self.seed, 9])
        sample = rng.choice(QUERIES, KNN_SAMPLE, replace=False)
        self.ref = {
            "pip": checks.pip_reference(self.truth),
            "knn": checks.knn_reference(self.truth, sample, K),
            "zonal": checks.zonal_reference(self.truth),
            "queries": QUERIES,
        }

    def _read(self, spark, name):
        return spark.read.parquet(os.path.join(self.dir, name))

    def _plans(self, spark):
        from pyspark.sql import functions as F

        from geotools_spark.functions.cells import with_cell
        from geotools_spark.operators import neighbors, pip, zonal

        pts = self._read(spark, "points")
        hits = pip.pip_join(pts, self._read(spark, "polygons"), how="inner")
        samples = pts.select(F.col("pid").alias("sid"), "x", "y", "z")
        knn = neighbors.knn_join(self._read(spark, "queries"), samples,
                                 k=K, res=KNN_RES, rings=KNN_RINGS)
        idw = neighbors.idw(knn)
        zon = zonal.zonal_stats(
            zonal.zone_lookup(with_cell(pts, **GRID), self._read(spark, "zones")))
        return pts, hits, knn, idw, zon

    def job(self, spark):
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        _, hits, _, idw, zon = self._plans(spark)
        plan_s = time.perf_counter() - t0
        per_poly = hits.groupBy("poly_id").agg(
            F.count("*").alias("n"), F.sum("pid").alias("pid_sum"))
        return plan_s, checks.spatial_join(
            per_poly.collect(), idw.collect(), zon.collect(), self.ref)

    def trace(self, spark, status):
        pts, hits, knn, idw, zon = self._plans(spark)
        t_scan, snodes, _ = _timed(status, "scan", pts)
        t_pip, pnodes, _ = _timed(status, "pip", hits.select("poly_id", "pid"))
        t_knn, knodes, kstats = _timed(status, "knn", knn.select("qid", "dist", "z"))
        t_idw, _, _ = _timed(status, "idw", idw)
        t_zon, _, zstats = _timed(status, "zonal", zon)
        cand = sum(m.get("pythonNumRowsReceived", 0) for n, m in pnodes if "EvalPython" in n)
        got = _first(pnodes, "numOutputRows")
        kcand = _first(knodes, "numOutputRows", "Join")
        kept = _first(knodes, "numOutputRows")
        return [], {
            "scan.self_s": t_scan,
            "scan.input_bytes": _first(snodes, "filesSize", "Scan"),
            "pip.self_s": t_pip - t_scan,
            "pip.candidates": cand,
            "pip.hits": got,
            "pip.hit_ratio": got / cand if cand else 0.0,
            "knn.self_s": t_knn - t_scan,
            "knn.candidates": kcand,
            "knn.kept": kept,
            "knn.kept_ratio": kept / kcand if kcand else 0.0,
            "knn.shuffle_write_bytes": kstats.shuffle_write_bytes,
            "idw.self_s": t_idw - t_knn,
            "zonal.self_s": t_zon - t_scan,
            "zonal.shuffle_write_bytes": zstats.shuffle_write_bytes,
        }


# ------------------------------------------- write path (docs_grid trace)

class WritePath:
    """The write path of the layers docs_grid reads through, timed in
    docs_grid's traced run on a small snapshot of its own: spans -> cells
    -> ``lineage.write_cell_partitioned`` into a fresh table, the same
    run again (must skip every partition), then a snapshot read pruned
    to one ``cell_part``. Its resume grows with the input much faster
    than the write (about 95 s for 200k docs on a 4-core box), which is
    why it is not a workload of its own."""

    def __init__(self, seed: int, work: str):
        self.path = os.path.join(work, "write_path", "docs")
        self.tables = os.path.join(work, "write_path", "tables")
        self.truth = datagen.docs(seed, CHECKPOINT_DOCS, self.path)
        self.expect_read = checks.part_rows(self.truth, READ_PART, LEVEL_DELTA)

    def trace(self, spark, status) -> tuple[list[str], dict[str, float]]:
        """(problems, lineage.* values) of one write, resume and read."""
        from pyspark.sql import functions as F

        from geotools_spark.functions.cells import with_cell
        from geotools_spark.operators.spans import explode_spans, parse_point_spans
        from geotools_spark.plans import lineage

        table = self.tables
        keyed = with_cell(parse_point_spans(explode_spans(spark.read.parquet(self.path))),
                          **GRID, zkey=True)
        t0 = time.perf_counter()
        first = lineage.write_cell_partitioned(
            keyed, table, level_delta=LEVEL_DELTA, run_id=RUN_ID)
        t_write = time.perf_counter() - t0
        files = [os.path.join(d, f) for d, _, fs in os.walk(table) if "_lineage" not in d
                 for f in fs if f.endswith(".parquet")]
        written = sum(os.path.getsize(f) for f in files)
        t0 = time.perf_counter()
        again = lineage.write_cell_partitioned(
            keyed, table, level_delta=LEVEL_DELTA, run_id=RUN_ID)
        t_resume = time.perf_counter() - t0
        t0 = time.perf_counter()
        read_back = lineage.read_table(spark, table, as_of_run=RUN_ID).filter(
            F.col("cell_part") == READ_PART).count()
        t_read = time.perf_counter() - t0
        shutil.rmtree(table)
        problems = checks.write_path(
            first["rows"], again["rows"], read_back, self.truth, self.expect_read)
        return problems, {
            "lineage.write_s": t_write,
            "lineage.rows_written": first["rows"],
            "lineage.files_written": len(files),
            "lineage.bytes_written_per_input_byte": written / self.truth["inputs"]["docs"][1],
            # whole call (write + lineage-count pass) over the write alone
            # as checkpointed_write times it, by wall clock
            "lineage.compute_ratio": t_write / first["wall_s"] if first["wall_s"] else 0.0,
            "lineage.resume_s": t_resume,
            "lineage.resume_rows_written": again["rows"],
            "lineage.read_pruned_s": t_read,
        }


# ------------------------------------------ decode path (docs_grid trace)

class DecodePath:
    """The Python codec layer, timed in docs_grid's traced run: image
    tiles encoded by ``media.synthetic_media`` at set-up, decoded by
    ``media.decode_image_stats`` (PNG, TIFF and JPEG) and checked against
    the closed-form gradient of operators/media.py. A workload of its own
    spread too much from run to run: its four scan tasks each decode a
    fixed share, so any interference lands on the job's slowest task."""

    def __init__(self, spark, seed: int, work: str):
        from pyspark.sql import functions as F

        from geotools_spark.operators.media import synthetic_media

        refs = os.path.join(work, "decode_path", "media_refs")
        self.media = os.path.join(work, "decode_path", "media")
        by_band = datagen.media_refs(seed, refs)["by_band"]
        # one file per core, the refs dealt out in turn by (size band,
        # variant): every scan task decodes the same mix for every seed
        n = spark.sparkContext.defaultParallelism
        slots = spark.createDataFrame(
            [(ref, i % n) for i, ref in enumerate(by_band)], "media_ref string, slot int")
        synthetic_media(spark, spark.read.parquet(refs)).join(
            F.broadcast(slots), "media_ref").repartitionByRange(n, "slot").drop(
            "slot").write.parquet(self.media)
        # the expected means from the generator's hash-derived parameters,
        # recomputed with Spark's builtin xxhash64
        h = "pmod(xxhash64(media_ref{}), {})"
        rows = spark.read.parquet(refs).selectExpr(
            "media_ref",
            f"{h.format('', 3)} AS kind",
            f"{h.format(', 2', 48)} * 16 + 64 AS width",
            f"{h.format(', 3', 32)} * 16 + 64 AS height",
            f"{h.format(', 5', 256)} AS seed",
            f"{h.format(', 7', 3)} AS fmt",
        ).collect()
        if any(r.kind != 0 for r in rows):
            raise RuntimeError("media refs must all be images; datagen's xxhash64 disagrees")
        self.expected = {
            r.media_ref: checks.gradient_means(int(r.seed), int(r.fmt), int(r.width),
                                               int(r.height))
            for r in rows
        }
        self.mpix = sum(int(r.width) * int(r.height) for r in rows) / 1e6
        self.payload_bytes = spark.read.parquet(self.media).selectExpr(
            "sum(length(payload))").collect()[0][0]

    def trace(self, spark, status) -> tuple[list[str], dict[str, float]]:
        """(problems, media.* values) of one decode pass."""
        from geotools_spark.operators.media import decode_image_stats

        media = spark.read.parquet(self.media)
        t_scan, _, _ = _timed(status, "media.scan", media.select("media_ref", "kind", "payload"))
        stats = decode_image_stats(media)
        t_dec, nodes, _ = _timed(status, "media", stats)
        decode = t_dec - t_scan
        return checks.decode_path(stats.collect(), self.expected), {
            "media.decode_self_s": decode,
            "media.tiles_decoded": sum(m.get("pythonNumRowsReceived", 0) for _, m in nodes),
            "media.payload_bytes": self.payload_bytes,
            "media.decoded_mpix_per_s": self.mpix / decode if decode > 0 else 0.0,
        }


WORKLOADS = {w.name: w for w in (DocsGrid, SpatialJoin)}
