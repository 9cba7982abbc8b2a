"""What the benchmark measures: workloads, end-to-end metrics with their
regression bounds, and per-layer metrics with the end-to-end metric each
should move. ``run.py --write-benchmark-json`` renders BENCHMARK.json
from these tables.
"""

from __future__ import annotations

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 10

WORKLOADS = {
    "docs_grid": "BASELINE headline read path: docs scan, span parse, cell keys, grid stats, "
                 "JVM codegen only; its traced run also times the checkpoint write path and "
                 "the tile decode path",
    "spatial_join": "PIP ray-cast UDF, kNN fan-out join + IDW and zonal stats over seeded "
                    "points; almost no span parsing",
}

# (name, unit, better, bound). The wall time of a job is not gated: on
# a shared host whose hypervisor steals CPU in bursts, the median job
# wall moved by a third between runs of the same code while the
# process-tree CPU per job moved by about a tenth. It is reported as the
# per-layer job.wall_s_p50 and job.rows_per_s, and printed by every run.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cpu_s_per_mrow", "s", "lower", 0.24),
]

# (name, unit, better, end-to-end metric it should move and where)
PER_LAYER = [
    ("job.wall_s_p50", "s", "lower", "none: the wall-clock view of cpu_s_per_mrow, not gated"),
    ("job.rows_per_s", "rows/s", "higher", "none: the wall-clock view of cpu_s_per_mrow, not gated"),
    ("session.start_s", "s", "lower", "setup_s, both workloads"),
    ("datagen.build_s", "s", "lower", "setup_s, both workloads"),
    ("session.gc_s", "s", "lower", "cpu_s_per_mrow and session.peak_rss_mb on docs_grid"),
    ("session.tasks", "count", "lower", "job.wall_s_p50 on docs_grid"),
    ("session.failed_tasks", "count", "lower", "job.wall_s_p50 on docs_grid"),
    # per-layer, not end-to-end: the JVM sizes its heap adaptively, so
    # the peak moved by a fifth between runs of the same code
    ("session.peak_rss_mb", "MB", "lower", "none: memory of the traced run's process tree"),
    ("plan.build_s", "s", "lower", "cpu_s_per_mrow and job.wall_s_p50, strongest on spatial_join"),
    ("scan.self_s", "s", "lower", "cpu_s_per_mrow on docs_grid"),
    ("scan.input_bytes", "B", "lower", "cpu_s_per_mrow on docs_grid"),
    ("spans.self_s", "s", "lower", "cpu_s_per_mrow on docs_grid; flat on spatial_join"),
    ("spans.rows_out", "count", "higher", "cpu_s_per_mrow on docs_grid"),
    ("spans.media_self_s", "s", "lower", "cpu_s_per_mrow on docs_grid"),
    ("cells.self_s", "s", "lower", "cpu_s_per_mrow on docs_grid"),
    ("gridstats.self_s", "s", "lower", "cpu_s_per_mrow on docs_grid"),
    ("gridstats.shuffle_write_bytes", "B", "lower", "cpu_s_per_mrow and session.peak_rss_mb on docs_grid"),
    ("gridstats.spill_bytes", "B", "lower", "cpu_s_per_mrow and session.peak_rss_mb on docs_grid"),
    ("gridstats.groups_out", "count", "higher", "cpu_s_per_mrow on docs_grid"),
    ("pip.self_s", "s", "lower", "cpu_s_per_mrow on spatial_join; none on docs_grid"),
    ("pip.candidates", "count", "lower", "cpu_s_per_mrow on spatial_join"),
    ("pip.hits", "count", "higher", "cpu_s_per_mrow on spatial_join"),
    ("pip.hit_ratio", "ratio", "higher", "cpu_s_per_mrow on spatial_join"),
    ("knn.self_s", "s", "lower", "cpu_s_per_mrow on spatial_join"),
    ("knn.candidates", "count", "lower", "cpu_s_per_mrow on spatial_join"),
    ("knn.kept", "count", "higher", "cpu_s_per_mrow on spatial_join"),
    ("knn.kept_ratio", "ratio", "higher", "cpu_s_per_mrow on spatial_join"),
    ("knn.shuffle_write_bytes", "B", "lower", "cpu_s_per_mrow on spatial_join"),
    ("idw.self_s", "s", "lower", "cpu_s_per_mrow on spatial_join"),
    ("zonal.self_s", "s", "lower", "cpu_s_per_mrow on spatial_join"),
    ("zonal.shuffle_write_bytes", "B", "lower", "cpu_s_per_mrow on spatial_join"),
    ("lineage.write_s", "s", "lower", "none: write path traced beside docs_grid, not in its job"),
    ("lineage.rows_written", "count", "higher", "none: write path traced beside docs_grid, not in its job"),
    ("lineage.files_written", "count", "lower", "none: write path traced beside docs_grid, not in its job"),
    ("lineage.bytes_written_per_input_byte", "ratio", "lower", "none: write path traced beside docs_grid, not in its job"),
    ("lineage.compute_ratio", "ratio", "lower", "none: write path traced beside docs_grid, not in its job"),
    ("lineage.resume_s", "s", "lower", "none: write path traced beside docs_grid, not in its job"),
    ("lineage.resume_rows_written", "count", "lower", "none: write path traced beside docs_grid, not in its job"),
    ("lineage.read_pruned_s", "s", "lower", "none: write path traced beside docs_grid, not in its job"),
    ("media.decode_self_s", "s", "lower", "none: decode path traced beside docs_grid, not in its job"),
    ("media.tiles_decoded", "count", "higher", "none: decode path traced beside docs_grid, not in its job"),
    ("media.payload_bytes", "B", "lower", "none: decode path traced beside docs_grid, not in its job"),
    ("media.decoded_mpix_per_s", "Mpix/s", "higher", "none: decode path traced beside docs_grid, not in its job"),
    ("trace.overhead_s", "s", "lower", "none: traced minus untraced wall of one job"),
]

UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}
MOVES = {n: m for n, _, _, m in PER_LAYER}


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _ in PER_LAYER],
    }
