"""Count-based cell finalization over a point stream — the streaming
twin of FinalizedPointStream (src/finalizedpointstream.cpp:24-86;
LASMultiReader countdown at include/lasreader.hpp:183-229).

The reference's two-pass trick: pass 1 counts points per cell; pass 2
streams points, decrementing the count — when a cell hits zero it is
FINAL (an exact completeness watermark; nothing can be late because
the total is known). Streaming translation:

- the expected per-cell counts are a STATIC table (pass 1 is a batch
  job over the same input manifest);
- the point stream joins that table (stream-static equi-join on the
  cell key — no shuffle of the static side per batch, it broadcasts);
- ``applyInPandasWithState`` keyed by cell accumulates (n, sum, min,
  max) and EMITS exactly one finalized row when n reaches the
  expected count, then drops the state. Cells never complete keep
  state until the stream ends (the reference blocks the same way).

Session windows (flight lines, src/lasreclass.cpp:344-358) are the
built-in ``session_window`` aggregation — included here for the
streaming surface.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = (
    "cell_col long, cell_row long, n long, zsum double, zmin double, zmax double"
)
STATE_SCHEMA = "n long, zsum double, zmin double, zmax double, expected long"


def _finalize_fn(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, zsum, zmin, zmax, expected = state.get
    else:
        n, zsum, zmin, zmax, expected = 0, 0.0, None, None, None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        expected = int(pdf["expected"].iloc[0])
        n += len(pdf)
        zsum += float(pdf["z"].sum())
        bmin = float(pdf["z"].min())
        bmax = float(pdf["z"].max())
        zmin = bmin if zmin is None else min(zmin, bmin)
        zmax = bmax if zmax is None else max(zmax, bmax)
    if expected is not None and n >= expected:
        state.remove()  # finalized: emit once, free the state
        yield pd.DataFrame(
            {
                "cell_col": [key[0]],
                "cell_row": [key[1]],
                "n": [n],
                "zsum": [zsum],
                "zmin": [zmin],
                "zmax": [zmax],
            }
        )
    else:
        state.update((n, zsum, zmin, zmax, expected))


def finalized_cell_stats(
    points_stream: DataFrame,
    expected_counts: DataFrame,
) -> DataFrame:
    """points_stream: streaming DF with (cell_col, cell_row, z);
    expected_counts: static DF with (cell_col, cell_row, expected).
    Returns an append-mode stream of finalized per-cell stats."""
    joined = points_stream.join(
        F.broadcast(expected_counts), ["cell_col", "cell_row"], "inner"
    )
    return joined.groupBy("cell_col", "cell_row").applyInPandasWithState(
        _finalize_fn,
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def session_window_stats(
    events_stream: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
    gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming flight-line sessionization: built-in session_window
    with a watermark for state eviction (batch twin:
    operators/sessions.sessionize)."""
    e = events_stream.select("*", F.col(ts).cast("timestamp").alias("_ts")).withWatermark(
        "_ts", watermark
    )
    return e.groupBy(F.session_window("_ts", gap).alias("sw"), F.col(key)).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("_ts").alias("start_ts"),
        F.max("_ts").alias("end_ts"),
    )
