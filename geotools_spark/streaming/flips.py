"""Streaming direction-flip reclassification (W8; the two-20-point-queue
detector, src/lasreclass.cpp:163-250, over lasreclass's
streaming-shaped scan at src/lasreclass.cpp:344-358).

The queue automaton is ``operators.reclass.flip_scan``, shared with the
batch operator ``direction_flip_reclass``, which feeds it a whole
flight line at once. Here it advances incrementally per micro-batch
via ``applyInPandasWithState`` keyed by line: the two queues (<= 40
undecided points) and the run-start clock are the state row; a point
is EMITTED the moment its class is decided — when it leaves the
trailing queue unchanged, when a detected flip reclasses all 40
queued points to 31, or when a time gap flushes the queues unchanged.
A flip whose 40-point span straddles a micro-batch boundary therefore
reclasses points that arrived in an EARLIER batch — the state
carry-over the batch/stream parity test pins.

Ordering contract: the stream must deliver each line's points in
gps_time order across batches (the reference reads a time-sorted
scan; Spark file sources preserve file order). Points still queued
when the stream idles stay in state — exactly the batch operator's
trailing-flush rows, which emerge unchanged; a terminal empty batch
cannot flush them without a timeout, so bounded pipelines should
append a far-future sentinel point per line (> ``FLIP_GAP_S`` past the
end) to force the final flush, which the parity test demonstrates.

State is O(40 points) per ACTIVE line — bounded regardless of stream
length, the property that makes this safe at 10^12 rows.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from geotools_spark.operators.reclass import FLIP_CLASS, flip_scan

OUT_SCHEMA = "line_id long, pid long, gps_time double, x double, y double, cls int"
STATE_SCHEMA = (
    "pids array<long>, xs array<double>, ys array<double>, "
    "ts array<double>, cs array<int>, n1 int, last_time double"
)
# state array -> input column, in STATE_SCHEMA order
_COLS = (("pid", np.int64), ("x", np.float64), ("y", np.float64), ("gps_time", np.float64), ("cls", np.int32))


def _flip_fn(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    # held points are time-ordered, the first n1 in the trailing queue;
    # this micro-batch's points follow them in time order
    *held, n1, last_time = state.get if state.exists else ([], [], [], [], [], 0, 0.0)
    batch = pd.concat(list(pdfs), ignore_index=True).sort_values("gps_time", kind="mergesort")
    pid, x, y, t, c = (
        np.concatenate([np.asarray(h, dtype=dt), batch[name].to_numpy(dtype=dt)])
        for h, (name, dt) in zip(held, _COLS)
    )
    decided, pending, n1, last_time = flip_scan(
        x, y, t, queued=len(held[0]), n1=n1, last_time=last_time
    )
    state.update((*(a[pending].tolist() for a in (pid, x, y, t, c)), n1, last_time))
    if decided:
        idx = np.array([j for j, _ in decided], dtype=np.int64)
        flipped = np.array([f for _, f in decided], dtype=bool)
        yield pd.DataFrame(
            {
                "line_id": int(key[0]),
                "pid": pid[idx],
                "gps_time": t[idx],
                "x": x[idx],
                "y": y[idx],
                "cls": np.where(flipped, FLIP_CLASS, c[idx]).astype(np.int32),
            }
        )


def direction_flip_stream(points_stream: DataFrame) -> DataFrame:
    """points_stream: streaming DF with (line_id, pid, gps_time, x, y,
    cls), time-ordered per line. Returns an append-mode stream of
    points whose class is DECIDED (original, or 31 inside a flip
    span); undecided tail points remain in per-line state."""
    return points_stream.groupBy("line_id").applyInPandasWithState(
        _flip_fn,
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
