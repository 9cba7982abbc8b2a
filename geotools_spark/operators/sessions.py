"""Sessionization and interval operators (reference: lasreclass flight
lines — src/lasreclass.cpp:25,97-161,344-358).

The reference sessionizes a gpsTime-ordered point stream on gaps >
timeGap (50 s), merges overlapping/near segments, then interval-joins
points back to segments. Re-expressed as window functions:

- ``sessionize``: lag + gap flag + running sum = session id — the
  standard cumsum sessionizer; arithmetic in integer microseconds so
  oracle SQL is exact.
- ``merge_intervals`` (J10): sort by start, running max of end, new
  group when start > max(previous ends) + tolerance.
- interval membership (J9) falls out of sessionize (each row carries
  its session); a broadcast BETWEEN join covers the small-side case.

In Structured Streaming the same semantics are
``session_window(ts, gap)`` — see streaming/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sessionize(
    events: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
    gap_us: int = 3_600_000_000,
) -> DataFrame:
    """Attach session_id (0-based per key) by time-gap rule."""
    # parquet timestamps arrive as TIMESTAMP_NTZ; session TZ is pinned
    # to UTC so the cast is value-preserving (and DuckDB-identical)
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    w = Window.partitionBy(key).orderBy(us)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag(us).over(w)
    new_flag = F.when(prev.isNull() | ((us - prev) > gap_us), 1).otherwise(0)
    return events.select(
        "*", us.alias("_us"), (F.sum(new_flag).over(wsum) - 1).alias("session_id")
    )


def session_stats(sessions: DataFrame, *, key: str = "user_id") -> DataFrame:
    """One row per (key, session): event count, span, bounds in µs."""
    return sessions.groupBy(key, "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("_us").alias("start_us"),
        F.max("_us").alias("end_us"),
        (F.max("_us") - F.min("_us")).alias("span_us"),
    )


def merge_intervals(
    intervals: DataFrame,
    *,
    key: str = "key",
    start: str = "start_us",
    end: str = "end_us",
    tolerance_us: int = 0,
) -> DataFrame:
    """J10: merge intervals per key that overlap or sit within
    tolerance (the reference's 'near' 1.0 s rule,
    src/lasreclass.cpp:97-150)."""
    w = Window.partitionBy(key).orderBy(F.col(start), F.col(end))
    prev_max_end = F.max(F.col(end)).over(w.rowsBetween(Window.unboundedPreceding, -1))
    new_flag = F.when(
        prev_max_end.isNull() | (F.col(start) > prev_max_end + tolerance_us), 1
    ).otherwise(0)
    grp = F.sum(new_flag).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    grouped = intervals.select("*", (grp - 1).alias("_grp"))
    return grouped.groupBy(key, F.col("_grp").alias("interval_id")).agg(
        F.min(start).alias("m_start"),
        F.max(end).alias("m_end"),
        F.count("*").alias("n_merged"),
    )
