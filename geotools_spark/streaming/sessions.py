"""Streaming flight-line sessionization (VERDICT r04 #7) — the third
stateful streaming twin, next to finalize.py (count-based completion)
and flips.py (queue automaton).

Batch twin: operators/reclass.flight_segments — gap-rule segments over
a gps-time stream (src/lasreclass.cpp:344-358). The streaming
re-expression is the built-in ``session_window`` aggregation: Spark
keeps per-session state (start/end/aggregates) across micro-batches,
merges sessions when a new event lands within ``gap`` of one, and
emits a session exactly once, when the watermark passes its close —
the engine-managed version of the state-carry that flips.py hand-rolls
with applyInPandasWithState.

Documented boundary semantics: the batch rule merges at ``dt <= gap``
(strict > starts a segment), the engine's session window closes at
``dt >= gap`` — results differ only when a time delta equals the gap
EXACTLY, which for float gps times is measure-zero (the parity test
keeps deltas away from the boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def flight_segments_stream(
    points_stream: DataFrame,
    *,
    t: str = "gps_time",
    gap: float = 25.0,
    watermark_s: float = 3600.0,
    key: str = "src_id",
) -> DataFrame:
    """Gap-rule flight segments over a streaming point source.

    Returns an append-mode stream of (m_start, m_end, n_points): one
    row per closed segment, bounds in the raw gps-time domain (the
    session grouping uses microsecond-precision timestamps derived
    from ``t``; the emitted bounds aggregate the original doubles, so
    they match the batch operator bit-for-bit). Late data beyond
    ``watermark_s`` is dropped by the engine — size it to the sensor's
    real out-of-orderness (the reference assumes a time-sorted file
    and has no late path at all, src/lasreclass.cpp:344).

    ``key`` partitions the sessionization (one segment timeline per
    sensor/source). The engine rejects a GLOBAL streaming session
    aggregation — and folds a literal key back into one — so the batch
    operator's keyless semantics need a constant DATA column on the
    stream (one state timeline, same result; the parity test does
    exactly this)."""
    e = points_stream.select(
        "*", F.timestamp_seconds(F.col(t)).alias("_ts")
    ).withWatermark("_ts", f"{int(watermark_s)} seconds")
    return (
        e.groupBy(
            F.session_window("_ts", f"{gap} seconds").alias("_sw"),
            F.col(key),
        )
        .agg(
            F.min(t).alias("m_start"),
            F.max(t).alias("m_end"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .drop("_sw")
    )
