"""N-vs-4N executor scaling run of the flagship pipeline.

BASELINE.json's north rule asks for an N -> 4N scaling efficiency of at
least 0.8. This script measures it: the same job,
``flagship.flagship_docs_pipeline`` (synthesize the interleaved
documents table in-plan, then span explode, cell keys, grid stats and
media tile counts), runs on two fresh ``local-cluster`` sessions of 1
and 4 executor JVMs with 4 cores each. The executors are real
processes, not threads, so there is no shared-heap ceiling. It prints
one JSON line, ``{"metric": "scaling_efficiency", ...}``.

- Strong scaling (default): the same docs at both sizes;
  efficiency = (docs/s at 4N / docs/s at N) / 4.
- Weak scaling: 4x the docs at 4N; efficiency = t_N / t_4N.

Settings (environment):

- ``SPARK_GRAFT_SCALING_WEAK=1``: weak instead of strong scaling.
- ``SPARK_GRAFT_SCALING_DOCS``: docs at the N level (default 4M, so the
  ~3.5 s job floor is under 5% of the 4N wall).
- ``SPARK_GRAFT_SCALING_TRIALS``: timed trials per level (default 4).

The levels alternate, two trials per fresh session, so host drift hits
both. Each level is scored by its fastest trial, the one least hit by
CPU steal on a shared host; every trial is reported.

The job is the generation-inclusive one on purpose: hash mixing and
string formatting per span keep it CPU-bound at both sizes, so its
single-box scaling stands for multi-node scaling. A scan of a stored
snapshot is bound by the one memory bus that all 16 cores of a single
machine share, which a 4-node cluster does not have (BENCH.md).

Run from the repository root: ``python3 scripts/scaling.py``, or
``scripts/submit.sh`` for the ``spark-submit --py-files`` launch. A
representative number needs 16 free cores; on a smaller machine the
run is only a smoke test.
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EXECS_LO, EXECS_HI, CORES_PER_EXEC = 1, 4, 4
TRIALS_PER_SESSION = 2


def _run_level(execs: int, n_docs: int, trials: int) -> list[float]:
    """Wall seconds of ``trials`` timed flagship jobs over ``n_docs`` on
    a fresh local-cluster[execs, CORES_PER_EXEC] session, after one
    untimed warm-up job (executor launch, JIT, codegen)."""
    from pyspark.sql import SparkSession

    from geotools_spark.flagship import flagship_docs_pipeline

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = (
        SparkSession.builder.master(f"local-cluster[{execs},{CORES_PER_EXEC},4096]")
        .appName(f"geotools-scaling-{execs}x{CORES_PER_EXEC}")
        .config("spark.executor.memory", "4g")
        .config("spark.sql.shuffle.partitions", str(execs * CORES_PER_EXEC * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    def job(n: int) -> None:
        # the two sinks run concurrently, as a pipeline with two outputs
        # would drive them: their job floors overlap
        grid, tiles = flagship_docs_pipeline(spark, n)
        with ThreadPoolExecutor(2) as ex:
            for f in [ex.submit(df.write.format("noop").mode("overwrite").save)
                      for df in (grid, tiles)]:
                f.result()

    job(max(n_docs // 20, 1000))
    walls = []
    for _ in range(trials):
        t0 = time.perf_counter()
        job(n_docs)
        walls.append(time.perf_counter() - t0)
    spark.stop()
    return walls


def main() -> None:
    weak = os.environ.get("SPARK_GRAFT_SCALING_WEAK") == "1"
    n_docs = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "4000000"))
    trials = int(os.environ.get("SPARK_GRAFT_SCALING_TRIALS", "4"))
    if trials < 1:
        raise SystemExit("SPARK_GRAFT_SCALING_TRIALS must be >= 1")
    ratio = EXECS_HI // EXECS_LO
    n_docs_hi = n_docs * ratio if weak else n_docs

    t_lo_all: list[float] = []
    t_hi_all: list[float] = []
    while len(t_lo_all) < trials:
        k = min(TRIALS_PER_SESSION, trials - len(t_lo_all))
        t_lo_all += _run_level(EXECS_LO, n_docs, k)
        t_hi_all += _run_level(EXECS_HI, n_docs_hi, k)
    t_lo, t_hi = min(t_lo_all), min(t_hi_all)
    thr_lo, thr_hi = n_docs / t_lo, n_docs_hi / t_hi
    eff = t_lo / t_hi if weak else (thr_hi / thr_lo) / ratio
    print(json.dumps({
        "metric": "scaling_efficiency",
        "value": round(eff, 4),
        "unit": "ratio",
        "weak": weak,
        "docs": n_docs,
        "docs_hi": n_docs_hi,
        "executors_lo": EXECS_LO,
        "executors_hi": EXECS_HI,
        "cores_per_executor": CORES_PER_EXEC,
        "sec_lo": round(t_lo, 2),
        "sec_hi": round(t_hi, 2),
        "docs_per_sec_lo": round(thr_lo, 1),
        "docs_per_sec_hi": round(thr_hi, 1),
        "trials_lo": [round(t, 2) for t in t_lo_all],
        "trials_hi": [round(t, 2) for t in t_hi_all],
    }))


if __name__ == "__main__":
    main()
