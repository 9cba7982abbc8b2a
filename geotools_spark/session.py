"""SparkSession factory with scale-oriented defaults.

The same builder is used by tests, the CLI, ``perfbench/`` and the
driver entry so every run gets AQE + Arrow + a shuffle-partition count
matched to the parallelism level (200 default shuffle partitions would
over-parallelize small local sessions).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

NODATA = -9999.0


def get_spark(
    app_name: str = "geotools-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores=None -> honor $SPARK_GRAFT_CPUS on local master, else the CPUs
    this process may run on.
    shuffle_partitions defaults to 2x cores: enough tasks for AQE to
    coalesce, not so many that task overhead dominates at local scale.
    On a real cluster the same code path takes master from $SPARK_MASTER.
    """
    if cores is None:
        cores = int(
            os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        )
    master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalescing + skew-join splitting (north rule: skew
        # handled explicitly; AQE is the second line of defense after our
        # salted two-phase aggregation).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas UDF / toPandas round-trip.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Oracle comparison (DuckDB) is UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Small dimension sides (polygons, zones, param tables) should
        # always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.maxResultSize", "2g")
        # scan-parallelism floor: a snapshot scan sized at the default
        # 128 MB splits can yield fewer tasks than cores (e.g. a
        # 2.5 GB / 32 MB-row-group flagship snapshot -> ~20 tasks on 32
        # cores). minPartitionNum is Spark's knob for exactly this and
        # scales with the session's core count, not the input.
        .config("spark.sql.files.minPartitionNum", str(cores))
        # local mode runs everything in the driver JVM; the 1g default
        # heap GC-thrashes under 32 executor threads (GCLocker retry
        # failures). Only effective for the process's first JVM launch.
        # measured sweet spot: 1g GC-locks, 16g slows young-gen at 32
        # threads; 4g is fastest on the flagship pipeline
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
        )
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
