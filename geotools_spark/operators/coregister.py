"""M20: raster co-registration network adjustment
(scripts/raster_diff_correction.py:1-239).

The reference computes pairwise overlap diff means between rasters,
builds a dependency graph whose traversable edges point from the
later-sorted raster to the earlier one (edge mean = mean(f - g)), then
greedily walks each node to a chosen root following the HIGHEST-COUNT
outgoing edge at each step, WITHOUT backtracking (find_node returns
None if the greedy path misses the root — such nodes get no shift;
reproduced). A node's vertical shift is the sum of edge means along
its chain; applying ``z + shift`` aligns it to the root.

Spark split: the pairwise diff stats are the heavy part and run
distributed (operators.raster.raster_pair_diff_stats — an equi-join on
the world cell key); the graph walk is O(#rasters^2) driver-side work
on the aggregated table, exactly like the reference's script stage.
Set-iteration tie order in the reference is nondeterministic; ties
break here by (count desc, target id asc) — documented deviation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import collect_capped, local_frame


def coregister_shifts(diff_stats: DataFrame, *, root: str) -> dict[str, float]:
    """diff_stats: (rid0, rid1, count, mean) with rid0 < rid1 in sort
    order and mean = mean(value(rid0) - value(rid1)) over the overlap.
    Returns {raster_id: z_shift}; the root shifts 0; greedy-unreachable
    nodes are absent (reference: chain is None -> skipped)."""
    # aggregated pair table is O(#rasters^2) by contract; capped so a
    # mis-wired un-aggregated input raises instead of flooding the driver
    rows = collect_capped(
        diff_stats, ("rid0", "rid1", "count", "mean"), what="raster pair-stats side"
    )
    outgoing: dict[str, list[tuple[int, str, float]]] = {}
    nodes = set()
    for r in rows:
        nodes.add(r.rid0)
        nodes.add(r.rid1)
        # traversable edge: later (rid1) -> earlier (rid0), mean(f - g)
        outgoing.setdefault(r.rid1, []).append((int(r["count"]), r.rid0, float(r.mean)))
    if root not in nodes:
        raise ValueError(f"root {root!r} not among rasters {sorted(nodes)}")

    shifts: dict[str, float] = {root: 0.0}
    for n in sorted(nodes):
        if n == root:
            continue
        total, cur, seen = 0.0, n, set()
        while True:
            if cur in seen:  # cycle guard (cannot occur on sorted-order DAG)
                total = None
                break
            seen.add(cur)
            edges = sorted(
                outgoing.get(cur, []), key=lambda e: (-e[0], e[1])
            )
            if not edges:
                total = None  # greedy dead end: no chain (reference: None)
                break
            cnt, nxt, mean = edges[0]  # greedy max-count, NO backtracking
            total += mean
            if nxt == root:
                break
            cur = nxt
        if total is not None:
            shifts[n] = total
    return shifts


def apply_shifts(points: DataFrame, shifts: dict[str, float], *, raster_col: str = "raster_id", z: str = "z") -> DataFrame:
    """las2las z-translate step: z + shift per source raster; points
    from rasters without a chain pass through unshifted (reference
    skips them)."""
    sdf = local_frame(
        points.sparkSession,
        [(k, float(v)) for k, v in shifts.items()],
        f"{raster_col} string, _shift double",
    )
    j = points.join(F.broadcast(sdf), raster_col, "left")
    shifted = F.col(z) + F.coalesce(F.col("_shift"), F.lit(0.0))
    return j.select(
        *[shifted.alias(c) if c == z else F.col(c) for c in j.columns if c != "_shift"]
    )
