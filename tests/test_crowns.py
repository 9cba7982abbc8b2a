"""Crown region-growing vs a BFS transcription of the reference
(src/treetops.cpp:360-390), modulo the documented same-wave tie rule."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geotools_spark.operators.crowns import tree_crowns, treetops_pipeline

SIZE = 20


def cone_grid(tops):
    """CHM with conical hills at the given (cx, cy, h)."""
    g = np.zeros((SIZE, SIZE))
    for cx, cy, h in tops:
        for r in range(SIZE):
            for c in range(SIZE):
                d = ((c - cx) ** 2 + (r - cy) ** 2) ** 0.5
                g[r, c] = max(g[r, c], h - 1.2 * d)
    return g


def oracle_crowns(g, seeds, min_height, frac, radius):
    """Synchronous-wave BFS with min-id tie rule (matches the operator;
    acceptance predicates literal from src/treetops.cpp:381-386)."""
    from collections import deque

    assigned = {}
    frontier = []
    for tid, c, r, z in seeds:
        assigned[(c, r)] = tid
        frontier.append((tid, c, r, z, c, r, z))
    while frontier:
        nxt = {}
        for tid, c, r, z, tc, tr, tz in frontier:
            for dc in (-1, 0, 1):
                for dr in (-1, 0, 1):
                    if dc == dr == 0:
                        continue
                    nc, nr = c + dc, r + dr
                    if not (0 <= nc < SIZE and 0 <= nr < SIZE):
                        continue
                    if (nc, nr) in assigned:
                        continue
                    v = g[nr, nc]
                    if (
                        v < z
                        and v >= min_height
                        and v / tz >= frac
                        and (tc - nc) ** 2 + (tr - nr) ** 2 <= radius**2
                    ):
                        cur = nxt.get((nc, nr))
                        if cur is None or tid < cur[0]:
                            nxt[(nc, nr)] = (tid, nc, nr, v, tc, tr, tz)
        frontier = list(nxt.values())
        for (nc, nr), t in nxt.items():
            assigned[(nc, nr)] = t[0]
    return assigned


def to_raster_df(spark, g):
    rows = [
        (c, r, float(g[r, c])) for r in range(SIZE) for c in range(SIZE)
    ]
    return spark.createDataFrame(rows, "cell_col long, cell_row long, value double")


def test_crowns_match_oracle(spark):
    g = cone_grid([(5, 5, 12.0), (14, 13, 10.0)])
    df = to_raster_df(spark, g)
    seeds = [(1, 5, 5, 12.0), (2, 14, 13, 10.0)]
    tops = spark.createDataFrame(
        seeds, "top_id long, cell_col long, cell_row long, z double"
    )
    out = tree_crowns(
        df, tops, min_height=2.0, height_fraction=0.3, radius_cells=8.0
    )
    got = {(r.cell_col, r.cell_row): r.top_id for r in out.collect()}
    want = oracle_crowns(g, seeds, 2.0, 0.3, 8.0)
    assert got == want
    assert len({v for v in got.values()}) == 2
    assert len(got) > 50  # crowns actually grew


def test_crowns_respect_radius_and_fraction(spark):
    g = cone_grid([(10, 10, 12.0)])
    df = to_raster_df(spark, g)
    tops = spark.createDataFrame(
        [(7, 10, 10, 12.0)], "top_id long, cell_col long, cell_row long, z double"
    )
    out = tree_crowns(df, tops, min_height=0.5, height_fraction=0.8, radius_cells=20.0)
    cells = [(r.cell_col, r.cell_row) for r in out.collect()]
    for c, r in cells:
        d2 = (c - 10) ** 2 + (r - 10) ** 2
        assert g[r, c] / 12.0 >= 0.8 or (c, r) == (10, 10)
        assert d2 <= 20.0**2


def test_treetops_pipeline_end_to_end(spark):
    g = cone_grid([(5, 5, 12.0), (14, 13, 10.0)])
    df = to_raster_df(spark, g)
    tops, crowns = treetops_pipeline(
        df, cols=SIZE, rows=SIZE, min_height=3.0, height_fraction=0.4,
        radius_cells=6.0,
    )
    t = tops.collect()
    assert len(t) == 2
    assert {(r.cell_col, r.cell_row) for r in t} == {(5, 5), (14, 13)}
    ncrown = crowns.count()
    assert ncrown > 20


def test_crowns_multi_tile_match_oracle(spark):
    # tile=8 on a 20x20 grid: crowns cross tile borders, so the halo
    # must carry every wave that reaches a tile core
    g = cone_grid([(5, 5, 12.0), (14, 13, 10.0), (4, 15, 9.0)])
    df = to_raster_df(spark, g)
    seeds = [(1, 5, 5, 12.0), (2, 14, 13, 10.0), (3, 4, 15, 9.0)]
    tops = spark.createDataFrame(
        seeds, "top_id long, cell_col long, cell_row long, z double"
    )
    out = tree_crowns(df, tops, tile=8, min_height=2.0, height_fraction=0.5, radius_cells=5.0)
    got = {(r.cell_col, r.cell_row): r.top_id for r in out.collect()}
    assert got == oracle_crowns(g, seeds, 2.0, 0.5, 5.0)
    assert len({v for v in got.values()}) == 3
