"""CPU-aware partitioning for Python-heavy stages.

AQE's partition coalescing sizes post-shuffle partitions by BYTES
(spark.sql.adaptive.advisoryPartitionSizeInBytes). That is the right
call for JVM whole-stage-codegen operators, but it starves stages whose
cost is CPU in a Python worker: a per-cell Delaunay over 600k points is
~25 MB of shuffle data — AQE happily coalesces it to a couple of
partitions and the entire triangulation workload runs on two cores
(measured 2x end-to-end on the bench; the same effect at cluster scale
idles all but a handful of executors).

The fix is declared at the operator, where the cost model is known: an
explicit ``repartition(n, *keys)`` pins a hash partitioning that AQE
does not re-coalesce, and the downstream groupBy recognizes it as
satisfying its required distribution — no second shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Round-robin repartition to cluster parallelism when the input
    arrives in fewer partitions — single-row-group parquet files (and
    any small compacted table) scan as ONE task, and every narrow
    transformation downstream (span explode, expression derivation,
    shuffle write) inherits that. No-op when the source is already
    wide, so a large multi-split scan pays nothing.

    The source's partition count comes from probing ``df.rdd`` — an
    analysis round-trip, and unavailable under Spark Connect, in which
    case we conservatively spread (the repartition is the whole point
    at small partition counts)."""
    par = default_parallelism(df.sparkSession) * factor
    try:
        if df.rdd.getNumPartitions() >= par:
            return df
    except Exception:
        pass  # Spark Connect: no RDD API — fall through and spread
    return df.repartition(par)


def default_parallelism(spark) -> int:
    """Cluster parallelism, Connect-tolerant: prefer the SparkContext
    (classic), fall back to session conf (Connect has no sparkContext),
    then to shuffle partitions as the last planning hint."""
    try:
        return int(spark.sparkContext.defaultParallelism)
    except Exception:
        pass
    for key in ("spark.default.parallelism", "spark.sql.shuffle.partitions"):
        try:
            v = spark.conf.get(key, None)
            if v:
                return int(v)
        except Exception:
            continue
    return 200


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df`` (optimized-plan stats —
    file sizes for scans, row-width products for local relations).
    None when the internal API is unavailable (Spark Connect)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def cpu_partition(df: DataFrame, *keys: str, factor: int = 2) -> DataFrame:
    """Hash-repartition on ``keys`` to ``factor`` x cluster parallelism
    so a downstream Python-heavy groupBy runs one task per core with a
    few groups each (straggler slack), regardless of how few bytes the
    shuffle carries."""
    n = default_parallelism(df.sparkSession) * factor
    if keys:
        from pyspark.sql import functions as F

        return df.repartition(n, *[F.col(k) for k in keys])
    return df.repartition(n)
