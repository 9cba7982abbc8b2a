"""Resumable partitioned writes with a lineage/metrics table.

Models the Iceberg-snapshot checkpoint contract on plain parquet (no
Iceberg runtime jar in this environment — SURVEY.md §7): the table
directory carries a ``_lineage`` subtable and a ``_manifest.json``
snapshot list, and a rerun of the same job skips partitions already
committed. The table API is deliberately thin so a real Iceberg catalog
(``df.writeTo(...).overwritePartitions()`` + snapshot metadata) can be
dropped in without touching operator code.

Layout of a checkpointed table at ``path``:

  path/part_key=<v>/...parquet        -- data, one spark partition dir per key
  path/_lineage/...parquet            -- (run_id, part_key, rows, wall_s, ts)
  path/_manifest.json                 -- {"runs": [...], "completed": {key: run_id}}

The partition column is typically a coarse cell-key prefix
(``zkey >> 2*delta``) so that (a) resume granularity is spatial, (b)
downstream readers get partition pruning on cell ranges — the Spark
analogue of the reference's file-bbox pruning (src/lasgrid.cpp:197-212)
and its SpatiaLite R-tree (include/sqlite.hpp:20-142).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geotools_spark.operators.sampling import local_frame


def _append_lineage(spark: SparkSession, path: str, rows: list) -> None:
    """Append (run_id, part_key, rows, wall_s, ts) records to the
    table's ``_lineage`` sidecar as one file; no-op without rows."""
    if rows:
        local_frame(
            spark, rows, "run_id string, part_key string, rows long, wall_s double, ts double"
        ).coalesce(1).write.mode("append").parquet(os.path.join(path, "_lineage"))


def require_local_path(path: str, what: str) -> str:
    """Fail loudly on non-local URIs (VERDICT r04 #9). The sidecar
    writers in this module (and build_ivf_index's _centroids.json) use
    os/open() path manipulation: on an hdfs:// or s3a:// URI the Spark
    write would go to the remote filesystem while the sidecar landed in
    a literal ``hdfs:`` local directory — corrupt lineage with no
    error. Returns the path with any file:// prefix stripped."""
    if "://" in path and not path.startswith("file://"):
        raise ValueError(f"{what} is local-filesystem-only, got {path!r}")
    return path.removeprefix("file://")


def _manifest_path(path: str) -> str:
    return os.path.join(path, "_manifest.json")


def read_manifest(path: str) -> dict:
    mp = _manifest_path(path)
    if os.path.exists(mp):
        with open(mp) as fh:
            return json.load(fh)
    return {"runs": [], "completed": {}}


def checkpointed_write(
    df: DataFrame,
    path: str,
    *,
    part_col: str,
    run_id: str,
) -> dict:
    """Write ``df`` partitioned by ``part_col``, skipping partitions a
    previous run already committed; append per-partition lineage rows
    and advance the manifest snapshot. Returns the run summary.

    The skip is a partition-pruned anti-filter (``~isin(completed)``) —
    at 10^12 docs the pruned partitions never leave the scan."""
    spark = df.sparkSession
    path = require_local_path(path, "checkpointed_write")
    os.makedirs(path, exist_ok=True)
    manifest = read_manifest(path)
    done = set(manifest["completed"])
    pending = df
    if done:
        pending = df.filter(~F.col(part_col).cast("string").isin(sorted(done)))

    t0 = time.time()
    pending.write.partitionBy(part_col).mode("append").parquet(path)
    wall = time.time() - t0

    # per-partition lineage: rows per committed partition in this run
    stats = (
        pending.groupBy(F.col(part_col).cast("string").alias("part_key"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    )
    lineage_rows = [
        (run_id, r.part_key, int(r.rows), float(wall), time.time()) for r in stats
    ]
    _append_lineage(spark, path, lineage_rows)

    for r in stats:
        manifest["completed"][r.part_key] = run_id
    manifest["runs"].append(
        {
            "run_id": run_id,
            "ts": time.time(),
            "partitions": len(stats),
            "rows": int(sum(r.rows for r in stats)),
            "wall_s": round(wall, 3),
        }
    )
    tmp = _manifest_path(path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, _manifest_path(path))
    return manifest["runs"][-1]


def write_cell_partitioned(
    df: DataFrame,
    path: str,
    *,
    zkey_col: str = "zkey",
    level_delta: int = 6,
    run_id: str = "r0",
) -> dict:
    """North-rule partitioning: EXPLICIT range partitioning on the
    hierarchical cell key. Rows are range-repartitioned on the Z-order
    key (spatially contiguous key ranges = compact blocks of cells, so
    each task writes one coherent spatial region), then written
    partitioned by the level-(L-delta) parent key — the directory
    partition column that gives readers cell-range pruning (the
    SpatiaLite R-tree's job, include/sqlite.hpp:20-142). Goes through
    checkpointed_write, so resume/lineage apply."""
    parent = F.shiftright(F.col(zkey_col), 2 * level_delta).alias("cell_part")
    keyed = df.withColumn("cell_part", parent)
    spread = keyed.repartitionByRange(
        max(df.sparkSession.sparkContext.defaultParallelism, 4),
        F.col(zkey_col),
    )
    return checkpointed_write(spread, path, part_col="cell_part", run_id=run_id)


def compact_partitions(
    spark: SparkSession,
    path: str,
    *,
    run_id: str,
    target_files: int = 1,
    min_files: int = 2,
) -> dict:
    """Small-file compaction for a checkpointed table — the Iceberg
    ``rewrite_data_files`` analogue. Incremental appends (many runs,
    AQE-coalesced tasks, stragglers) leave partitions with piles of
    small parquet files; at 10^12 docs that turns every scan into a
    footer-read storm and defeats row-group pruning. Each partition
    with more than ``min_files`` data files is rewritten into
    ``target_files`` file(s); logical content is untouched (row-count
    verified per partition before the swap), the manifest records the
    compaction run, and lineage gains one row per rewritten partition.

    Like ``rewrite_data_files`` + ``expire_snapshots`` in one step:
    earlier snapshots keep their LOGICAL visibility (``as_of_run``
    filters on partition keys, which compaction never changes) but
    re-read the rewritten files. The per-partition swap is ordered so
    data is never absent: the live dir is renamed aside FIRST
    (``<part>.old``), the verified rewrite moves into place, and only
    then is the old copy deleted — a crash at any point leaves either
    the original or the rewrite readable under a recoverable name (a
    leftover ``.old`` next to a live dir just means the delete didn't
    run; remove it). A real Iceberg catalog would commit this as a
    metadata-only snapshot.

    Local-filesystem only (os/shutil path manipulation, same as the
    manifest handling above): ``path`` must be a plain directory path.
    Checkpointed tables written to hdfs:// or s3a:// URIs can be read
    and appended by the Spark paths in this module but not compacted
    here — raise early rather than failing obscurely mid-swap.
    """
    import shutil

    path = require_local_path(path, "compact_partitions")

    summary = {"run_id": run_id, "compaction": True, "partitions": 0,
               "files_before": 0, "files_after": 0, "rows": 0}
    lineage_rows = []
    # recovery pass: a prior crash can leave <part>.old (original moved
    # aside) with or without a live dir. Live dir present -> the swap
    # finished, drop the old copy; absent -> restore the original.
    for entry in sorted(os.listdir(path)):
        if not entry.endswith(".old"):
            continue
        old_dir = os.path.join(path, entry)
        live = old_dir[: -len(".old")]
        if os.path.isdir(live):
            shutil.rmtree(old_dir)
        else:
            os.replace(old_dir, live)
    for entry in sorted(os.listdir(path)):
        part_dir = os.path.join(path, entry)
        if "=" not in entry or not os.path.isdir(part_dir):
            continue
        files = [f for f in os.listdir(part_dir)
                 if f.endswith(".parquet") and not f.startswith((".", "_"))]
        if len(files) < int(min_files) or len(files) <= int(target_files):
            continue
        t0 = time.time()
        part = spark.read.parquet(part_dir)
        n_before = part.count()
        tmp = os.path.join(path, f"_compacting_{entry.replace('=', '_')}")
        shutil.rmtree(tmp, ignore_errors=True)
        part.coalesce(int(target_files)).write.mode("overwrite").parquet(tmp)
        n_after = spark.read.parquet(tmp).count()
        if n_after != n_before:  # never swap in a bad rewrite
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"compaction row-count mismatch in {entry}: {n_before} -> {n_after}"
            )
        old = part_dir + ".old"
        shutil.rmtree(old, ignore_errors=True)  # stale leftover from a crash
        os.replace(part_dir, old)   # live data stays readable under .old
        os.replace(tmp, part_dir)   # verified rewrite becomes live
        shutil.rmtree(old)          # only now is the original gone
        new_files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        summary["partitions"] += 1
        summary["files_before"] += len(files)
        summary["files_after"] += len(new_files)
        summary["rows"] += n_before
        lineage_rows.append(
            (run_id, entry.split("=", 1)[1], int(n_before),
             float(time.time() - t0), time.time())
        )

    _append_lineage(spark, path, lineage_rows)
    manifest = read_manifest(path)
    manifest["runs"].append({**summary, "ts": time.time()})
    tmp = _manifest_path(path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, _manifest_path(path))
    return summary


def read_lineage(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, "_lineage"))


def read_table(
    spark: SparkSession, path: str, *, as_of_run: str | None = None
) -> DataFrame:
    """Read a checkpointed table (partition column comes back from the
    directory layout; filters on it prune at the file listing).

    ``as_of_run`` = snapshot time travel on the manifest: only
    partitions committed by runs up to and including that run_id are
    visible (the Iceberg snapshot-read analogue). The filter is on the
    partition column, so pruning applies."""
    df = spark.read.parquet(path)
    if as_of_run is not None:
        m = read_manifest(path)
        run_order = [r["run_id"] for r in m["runs"]]
        if as_of_run not in run_order:
            raise ValueError(f"unknown run_id {as_of_run!r}; have {run_order}")
        visible_runs = set(run_order[: run_order.index(as_of_run) + 1])
        keys = [k for k, rid in m["completed"].items() if rid in visible_runs]
        part_col = df.schema.names[-1]  # partitionBy column lands last
        df = df.filter(F.col(part_col).cast("string").isin(keys))
    return df
