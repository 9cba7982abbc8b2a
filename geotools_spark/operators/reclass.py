"""Point reclassification family (reference: lasreclass —
src/lasreclass.cpp).

- F7 ``class_remap``: cls -> mappings[cls], identity when unmapped
  (src/lasreclass.cpp:264-311) — a broadcast map lookup in pure column
  exprs.
- J9 ``assign_flight_line``: point.gpsTime within [seg.start, seg.end]
  -> seg id, 0 when no segment matches; the reference linear-scans the
  (tiny) segment list in sorted order and takes the FIRST hit
  (src/lasreclass.cpp:154-161, sorted at 123-133). Spark: broadcast
  BETWEEN join + min-by-start tiebreak = same first-hit rule.
- W8 ``direction_flip_reclass``: the two-20-point-queue direction
  detector (src/lasreclass.cpp:163-250). Exact semantics are stateful
  (a detected flip or a >0.4 s gap CLEARS both queues, changing all
  later decisions), so this is applyInPandas per flight line with the
  literal queue algorithm over numpy-backed rows — the sanctioned
  shape for sequential per-group state (SURVEY.md §2.11). Each flight
  line is one group; lines process in parallel across executors.

W8 semantics notes (all reproduced):
- queues fill to 20 each; windows are therefore consecutive 40-point
  spans [i-39..i];
- direction = atan2(back.y-front.y, back.x-front.x) normalized to
  [0, 2*pi);
- flip test |abs(dir0) - abs(dir1)| > 0.75*pi — after normalization
  abs() is the identity, and there is NO circular wrap handling (359
  deg vs 1 deg does not flip) — reference quirk kept;
- on flip all 40 points are reclassed to 31 and both queues clear;
- a time gap > 0.4 s flushes both queues unchanged;
- trailing queue contents flush unchanged.
"""

from __future__ import annotations

import math
from collections import deque
from collections.abc import Mapping

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import collect_capped, local_frame


def class_remap(points: DataFrame, mappings: Mapping[int, int], *, cls: str = "cls") -> DataFrame:
    """F7: remap classes; identity for unmapped values."""
    expr = None
    col = F.col(cls)
    for src, dst in sorted(mappings.items()):
        cond = col == int(src)
        expr = F.when(cond, int(dst)) if expr is None else expr.when(cond, int(dst))
    out = col if expr is None else expr.otherwise(col)
    return points.select(
        *[out.cast("int").alias(c) if c == cls else F.col(c) for c in points.columns]
    )


def bucketed_time_intervals(
    points: DataFrame,
    *,
    t: str = "gps_time",
    gap: float = 25.0,
    bucket_width: float | None = None,
) -> DataFrame:
    """Distributed phase of ``flight_segments``: per-bucket gap
    sessionization reduced to [min, max] intervals. All windows are
    partitioned by the time bucket — no single-partition Exchange."""
    from pyspark.sql.window import Window

    bw = float(bucket_width) if bucket_width else 512.0 * float(gap)
    b = F.floor(F.col(t) / bw)
    w = Window.partitionBy("_b").orderBy(t)
    prev = F.lag(t).over(w)
    flag = F.when(prev.isNull() | ((F.col(t) - prev) > gap), 1).otherwise(0)
    sid = F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # _sid's window partitions by _b, so _b gets its own projection first
    return (
        points.select(F.col(t), b.alias("_b"))
        .select(t, "_b", sid.alias("_sid"))
        .groupBy("_b", "_sid")
        .agg(F.min(t).alias("m_start"), F.max(t).alias("m_end"))
    )


def flight_segments(
    points: DataFrame,
    *,
    t: str = "gps_time",
    gap: float = 25.0,
    bucket_width: float | None = None,
) -> DataFrame:
    """Derive the flight-line segment list from a time stream by the
    gap rule (new segment when the sorted-time gap exceeds ``gap`` —
    src/lasreclass.cpp:344-358), WITHOUT a global sort.

    Scale shape (the single-partition ``Window.orderBy(t)`` this
    replaces would serialize the whole distinct-time stream through
    one reducer at 100x):

      1. bucket rows by ``floor(t / bucket_width)`` and sessionize
         WITHIN buckets — per-bucket lag/cumsum windows, fully
         parallel (duplicate times collapse into the same session, so
         no global distinct is needed);
      2. reduce each (bucket, session) to a [min, max] interval — the
         surviving rows are O(true gaps + buckets), not O(points);
      3. merge boundary-adjacent intervals (inter-bucket gap <= gap)
         driver-side and number them 1..k in start order. The segment
         list is driver-sized BY CONTRACT — ``assign_flight_line``
         broadcasts it, and the reference linear-scans it in memory
         (src/lasreclass.cpp:123-161) — and the collect goes through
         ``collect_capped``, so a pathological input raises instead of
         flooding the driver.

    Returns (seg_id long, m_start double, m_end double) with seg_id
    1-based in time order — identical output to the global-window
    derivation, no single-partition Exchange anywhere in the plan.
    """
    local = bucketed_time_intervals(points, t=t, gap=gap, bucket_width=bucket_width)
    rows = collect_capped(local, ["m_start", "m_end"], what="flight segment list")
    merged: list[list[float]] = []
    for s, e in sorted((r[0], r[1]) for r in rows):
        if merged and s - merged[-1][1] <= gap:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    out = [(i + 1, s, e) for i, (s, e) in enumerate(merged)]
    return local_frame(
        points.sparkSession, out, "seg_id long, m_start double, m_end double"
    )


def assign_flight_line(
    points: DataFrame,
    segments: DataFrame,
    *,
    t: str = "gps_time",
    seg_id: str = "seg_id",
    start: str = "m_start",
    end: str = "m_end",
) -> DataFrame:
    """J9: attach the segment containing the point's time; 0 when none.

    ``segments`` must be DISJOINT (the output of ``merge_intervals`` —
    the reference normalizes exactly so, src/lasreclass.cpp:130-150),
    which makes first-hit == only-hit and the broadcast BETWEEN join
    emit at most one row per point."""
    j = points.join(
        F.broadcast(segments.select(seg_id, start, end)),
        (F.col(t) >= F.col(start)) & (F.col(t) <= F.col(end)),
        "left",
    )
    return j.select(
        *[F.col(c) for c in points.columns],
        F.coalesce(F.col(seg_id), F.lit(0)).cast("long").alias("line_id"),
    )


def direction_flip_reclass(
    points: DataFrame,
    *,
    line: str = "line_id",
    t: str = "gps_time",
    x: str = "x",
    y: str = "y",
    cls: str = "cls",
    limit: int = 20,
    gap_s: float = 0.4,
    flip_rad: float = math.pi * 0.75,
) -> DataFrame:
    """W8: flag direction-flip spans as class 31, per flight line."""
    schema = points.schema

    def _scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(t, kind="mergesort").reset_index(drop=True)
        xs = pdf[x].to_numpy()
        ys = pdf[y].to_numpy()
        ts = pdf[t].to_numpy()
        out_cls = pdf[cls].to_numpy().copy()

        def direction(q):
            i0, i1 = q[0], q[-1]
            d = math.atan2(ys[i1] - ys[i0], xs[i1] - xs[i0])
            while d < 0:
                d += math.pi * 2.0
            while d > math.pi * 2.0:
                d -= math.pi * 2.0
            return d

        pq0: deque[int] = deque()
        pq1: deque[int] = deque()
        last_time = 0.0
        for i in range(len(pdf)):
            ti = float(ts[i])
            if last_time == 0.0:
                last_time = ti
            elif ti - last_time > gap_s:
                last_time = ti
                pq0.clear()  # flushed unchanged (already written)
                pq1.clear()
            pq0.append(i)
            if len(pq0) <= limit:
                continue
            pq1.append(pq0.popleft())
            if len(pq1) == limit:
                d0 = direction(pq0)
                d1 = direction(pq1)
                if abs(abs(d0) - abs(d1)) > flip_rad:
                    for j in pq0:
                        out_cls[j] = 31
                    for j in pq1:
                        out_cls[j] = 31
                    pq0.clear()
                    pq1.clear()
                else:
                    pq1.popleft()  # oldest point leaves unchanged
        pdf[cls] = out_cls
        return pdf

    return points.repartition(F.col(line)).groupBy(line).applyInPandas(
        lambda _, pdf: _scan(pdf), schema
    )
