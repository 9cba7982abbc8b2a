"""Benchmark of record for geotools_spark.

Run from the repository root:

    python3 perfbench/run.py --workload docs_grid --seed 1 --seconds 10 --trace 0

One closed-loop client in one ``local[nproc]`` driver process: start
the session, set up (seeded inputs, warm-up job) ``SETUP_REPS`` times,
run the workload's untimed warm-up jobs, then run one job after another
for ``--seconds``, checking every job's
output. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run. Human-readable lines come first; the
last line of standard output is one JSON object.

``python3 perfbench/run.py --write-benchmark-json`` rewrites
BENCHMARK.json from ``spec.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
TRACE_PASSES = 2
T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on standard error, stamped with seconds since start."""
    print(f"[{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv, seconds: float):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=seconds)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-benchmark-json", action="store_true")
    args = ap.parse_args(argv)
    if not args.write_benchmark_json and args.workload is None:
        ap.error("--workload is required")
    return args


class Bench:
    """One benchmark run: owns the Spark session, the JVM it starts and
    the scratch directory, and releases all three in ``close``."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.cores = len(os.sched_getaffinity(0))
        self.peak_rss_mb: float | None = None

    def _start(self):
        from geotools_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        return get_spark(
            f"perfbench-{self.args.workload}",
            cores=self.cores,
            extra_conf={
                # keep the JVM's temporary files inside the checkout.
                # C1 only: with the C2 compiler the JVM kept compiling
                # Spark's code for over 40 jobs, longer than a run, and
                # that compiling was up to half of a job's CPU time, so
                # a run's figures depended on how far it had got
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
                "spark.ui.showConsoleProgress": "false",
            },
        )

    def setup(self, wl) -> dict:
        """Start the session (the JVM starts once per process), then set
        up ``SETUP_REPS`` times: generate the inputs and run the warm-up
        job. ``setup_s`` is the session start plus the median
        set-up. The reference outputs are computed once, untimed."""
        t0 = time.perf_counter()
        self.spark = self._start()
        self.spark.sparkContext.setLogLevel("ERROR")
        start = time.perf_counter() - t0
        total, build = [], []
        for rep in range(SETUP_REPS):
            t1 = time.perf_counter()
            inputs = os.path.join(self.work, f"inputs{rep}")
            self.inputs = wl.generate(inputs)
            t2 = time.perf_counter()
            if rep == 0:
                wl.reference(self.spark)
            t3 = time.perf_counter()
            try:
                wl.job(self.spark)
            except Exception as exc:  # measured jobs will count it
                print(f"warm-up job failed: {exc!r}", file=sys.stderr)
            t4 = time.perf_counter()
            log(f"set-up {rep}: inputs {t2 - t1:.2f}s, reference {t3 - t2:.2f}s, "
                f"warm-up {t4 - t3:.2f}s")
            build.append(t2 - t1)
            total.append((t4 - t1) - (t3 - t2))
            if rep + 1 < SETUP_REPS:
                shutil.rmtree(inputs)
        log(f"session start {start:.2f}s")
        return {"setup_s": start + statistics.median(total), "session.start_s": start,
                "datagen.build_s": statistics.median(build)}

    def _job(self, wl, group: str | None = None) -> tuple[float, float, bool]:
        """(wall s, plan-build s, passed) of one checked job."""
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            plan_s, problems = wl.job(self.spark)
        except Exception as exc:
            plan_s, problems = 0.0, [f"raised {exc!r}"]
        wall = time.perf_counter() - t0
        if group:
            sc.setLocalProperty("spark.jobGroup.id", None)
        for p in problems:
            print(f"job check failed: {p}", file=sys.stderr)
        return wall, plan_s, not problems

    def measure(self, wl) -> dict:
        """After ``wl.warmup_jobs`` untimed jobs, jobs back to back: at
        least ``wl.min_jobs`` and until ``--seconds`` are used. Process-tree
        CPU and wall time are medians per job; the wall time is printed,
        not returned as a metric (see spec.END_TO_END)."""
        import probe

        for _ in range(wl.warmup_jobs):
            self._job(wl)
        walls, cpus, failed = [], [], 0
        t_start = time.perf_counter()
        while len(walls) < wl.min_jobs or time.perf_counter() - t_start < self.args.seconds:
            cpu0 = probe.tree_cpu_s()
            wall, _, ok = self._job(wl)
            cpus.append(probe.tree_cpu_s() - cpu0)
            walls.append(wall)
            failed += not ok
        log(f"measured {len(walls)} jobs, wall s: " + " ".join(f"{w:.3f}" for w in walls))
        log("process-tree CPU s per job: " + " ".join(f"{c:.2f}" for c in cpus))
        p50 = statistics.median(walls)
        self.peak_rss_mb = probe.tree_peak_rss_mb()
        return {
            "attempted": len(walls),
            "failed": failed,
            "metrics": {"cpu_s_per_mrow": statistics.median(cpus) / (wl.rows / 1e6)},
            "wall": {"job.wall_s_p50": p50, "job.rows_per_s": wl.rows / p50},
        }

    def trace(self, wl) -> dict:
        """After one untimed pass, alternate one untraced job (under a job
        group, for the session metrics) with one traced pass, at least
        ``TRACE_PASSES`` times and until ``--seconds`` are used."""
        import probe

        status = probe.StatusReader(self.spark)
        wl.trace_setup(self.spark)
        wl.trace(self.spark, status)  # compiles every prefix plan, untimed
        walls, plans, passes, traced, session = [], [], [], [], []
        failed = 0
        t_start = time.perf_counter()
        while len(walls) < TRACE_PASSES or time.perf_counter() - t_start < self.args.seconds:
            group = f"job{len(walls)}"
            wall, plan_s, ok = self._job(wl, group)
            walls.append(wall)
            plans.append(plan_s)
            session.append(status.totals(group))
            t0 = time.perf_counter()
            try:
                problems, layers = wl.trace(self.spark, status)
                passes.append(time.perf_counter() - t0)
                extra_problems, extra = wl.trace_extra(self.spark, status)
                problems += extra_problems
                traced.append(layers | extra)
            except Exception as exc:  # counted like a failed job
                problems = [f"raised {exc!r}"]
            for p in problems:
                print(f"traced pass check failed: {p}", file=sys.stderr)
            failed += not ok or bool(problems)
        layers = {k: statistics.median(t[k] for t in traced) for k in (traced or [{}])[0]}
        layers.update({
            "job.wall_s_p50": statistics.median(walls),
            "job.rows_per_s": wl.rows / statistics.median(walls),
            "session.gc_s": statistics.median(s.gc_s for s in session),
            "session.tasks": statistics.median(s.tasks for s in session),
            "session.failed_tasks": max(s.failed_tasks for s in session),
            "plan.build_s": statistics.median(plans),
            "session.peak_rss_mb": probe.tree_peak_rss_mb(),
            "trace.overhead_s": statistics.median(passes or [0.0]) - statistics.median(walls),
        })
        return {"attempted": len(walls), "failed": failed, "metrics": layers}

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every process this run
        started, killing any that outlive the grace period."""
        import probe
        from pyspark import SparkContext

        pids = probe.tree_pids()[1:]
        if self.spark is not None:
            self.spark.stop()
        log("spark stopped")
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            log("JVM ended")
        for pid in probe.wait_gone(pids, 30):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        probe.wait_gone(pids, 30)
        log("all processes ended")


def report(wl, inputs: dict, res: dict, peak_rss_mb: float | None) -> list[str]:
    """Human-readable lines naming every metric with its unit (and, for a
    per-layer metric, the end-to-end metric it should move)."""
    import spec

    size = ", ".join(f"{name} {rows} rows {size} B" for name, (rows, size) in inputs.items())
    lines = [
        f"workload {wl.name}: {wl.rows} input {wl.row_kind} per job ({size})",
        f"jobs attempted {res['attempted']}, failed {res['failed']}, "
        f"failed_frac {res['failed'] / res['attempted']:.4f}",
    ]
    if peak_rss_mb is not None:
        lines.append(f"cpu_s_per_mrow and the job wall are medians of {res['attempted']} "
                     f"jobs; setup_s the median of {SETUP_REPS} set-ups")
        lines.append(f"peak RSS of the process tree {peak_rss_mb:.0f} MB")
    for name, value in (res.get("wall", {}) | res["metrics"]).items():
        moves = f"  (moves: {spec.MOVES[name]})" if name in spec.MOVES else ""
        lines.append(f"{name} = {value:.6g} {spec.UNITS[name]}{moves}")
    return lines


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    import spec

    args = parse_args(argv, spec.RUN_SECONDS)
    if args.write_benchmark_json:
        with open("BENCHMARK.json", "w") as fh:
            json.dump(spec.benchmark_json(), fh, indent=2)
            fh.write("\n")
        return 0
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "geotools_spark")):
        print("run from the repository root: geotools_spark/ not found", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every temporary file of the driver, the JVM and the Python workers
    # stays in the checkout; the workers import geotools_spark from it
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # the JVM spark-submit runs first to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, root)

    wl = WORKLOADS[args.workload](args.seed, work)
    bench = Bench(args, work)
    try:
        setup = bench.setup(wl)
        res = bench.trace(wl) if args.trace else bench.measure(wl)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        res["metrics"].update(
            {"session.start_s": setup["session.start_s"],
             "datagen.build_s": setup["datagen.build_s"]})
        names = [n for n, *_ in spec.PER_LAYER]
    else:
        res["metrics"]["setup_s"] = setup["setup_s"]
        names = [n for n, *_ in spec.END_TO_END]
    # layers a workload does not run report 0
    res["metrics"] = {n: float(res["metrics"].get(n, 0.0)) for n in names}
    peak = None if args.trace else bench.peak_rss_mb
    for line in report(wl, bench.inputs, res, peak):
        print(line)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": v, "unit": spec.UNITS[n]} for n, v in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
