"""lasgrid golden fixture (tests/data/lasgrid_data.txt re-derived) —
value-level parity with the reference's per-stat rules (SURVEY.md §2.4)
against a NumPy oracle."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from geotools_spark.functions.cells import with_cell
from geotools_spark.operators.gridstats import (
    DEFAULT_STATS,
    cell_stat_exprs,
    cell_stats,
    densify,
)
from geotools_spark.operators.salting import salted_cell_stats

# The 32-point fixture, verbatim from the reference's
# tests/data/lasgrid_data.txt (FIXTURES.md §2).
FIXTURE = (
    [(1.0, 1.0, 1.0), (1.0001, 1.0, 1.0), (0.5, 0.5, 1.0)]
    + [(0.5, 1.5, z) for z in (1.0, 3.0, 4.0)]
    + [(0.5, 2.5, z) for z in (1.0, 2.0, 3.0, 4.0)]
    + [(0.5, 3.5, 1.0), (0.5, 3.5, 1.0)]
    + [(0.5, 4.5, float(z)) for z in range(1, 21)]
)


def _oracle(values):
    v = np.sort(np.array(values, dtype=float))
    n = len(v)
    mean = v.mean()
    m2 = ((v - mean) ** 2).sum()
    out = {
        "count": float(n),
        "min": v.min(),
        "max": v.max(),
        "mean": mean,
        "density": float(n),  # res = 1.0
        "pvariance": m2 / n,
        "pstddev": math.sqrt(m2 / n),
        # lasgrid rule: n<=1 -> 0 (src/lasgrid.cpp:385-402)
        "variance": m2 / (n - 1) if n > 1 else 0.0,
        "stddev": math.sqrt(m2 / (n - 1)) if n > 1 else 0.0,
        "median": (v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2.0),
    }
    return out


@pytest.fixture(scope="module")
def grid(spark):
    df = spark.createDataFrame(FIXTURE, "x double, y double, z double")
    cells = with_cell(df, minx=0.0, miny=0.0, res=1.0, cols=2)
    out = cell_stats(cells, value="z", stats=DEFAULT_STATS, res=1.0)
    return {(r.cell_col, r.cell_row): r.asDict() for r in out.collect()}


def test_cell_count(grid):
    assert len(grid) == 6  # occupied cells only


@pytest.mark.parametrize(
    "cell,values",
    [
        ((0, 0), [1.0]),
        ((1, 1), [1.0, 1.0]),
        ((0, 1), [1.0, 3.0, 4.0]),
        ((0, 2), [1.0, 2.0, 3.0, 4.0]),
        ((0, 3), [1.0, 1.0]),
        ((0, 4), [float(z) for z in range(1, 21)]),
    ],
)
def test_cell_values(grid, cell, values):
    exp = _oracle(values)
    got = grid[cell]
    for stat, expected in exp.items():
        assert got[stat] == pytest.approx(expected, abs=1e-12), stat


def test_hand_checks(grid):
    # FIXTURES.md §2 hand checks
    c = grid[(0, 4)]
    assert c["count"] == 20 and c["mean"] == 10.5 and c["median"] == 10.5
    assert c["min"] == 1.0 and c["max"] == 20.0 and c["density"] == 20.0
    assert grid[(0, 3)]["variance"] == 0.0
    assert grid[(1, 1)]["variance"] == 0.0
    # single-point cell: n<=1 rule gives 0, not nodata
    assert grid[(0, 0)]["variance"] == 0.0 and grid[(0, 0)]["stddev"] == 0.0


def test_densify_nodata(spark, grid):
    df = spark.createDataFrame(FIXTURE, "x double, y double, z double")
    cells = with_cell(df, minx=0.0, miny=0.0, res=1.0, cols=2)
    stats = cell_stats(cells, value="z", stats=("count", "mean"), res=1.0)
    dense = densify(stats, spark, cols=2, rows=5, stat_cols=("count", "mean"))
    rows = {(r.cell_col, r.cell_row): r for r in dense.collect()}
    assert len(rows) == 10
    assert rows[(1, 0)]["mean"] == -9999.0 and rows[(1, 0)]["count"] == -9999.0
    assert rows[(0, 4)]["count"] == 20.0


def test_quantile_ceil_rule(spark):
    # reference rule: c = ceil((i/(num+1)) * (cnt-1)), num=4 -> q0..q5
    df = spark.createDataFrame([(0.5, 0.5, float(z)) for z in range(1, 11)],
                               "x double, y double, z double")
    cells = with_cell(df, minx=0.0, miny=0.0, res=1.0, cols=1)
    out = cell_stats(cells, value="z", stats=("quantiles",), quantile_num=4).collect()[0]
    v = list(range(1, 11))
    for i in range(6):
        c = math.ceil((i / 5.0) * (len(v) - 1))
        assert out[f"q{i}"] == float(v[c]), f"q{i}"


def test_skew_kurtosis_composition(spark):
    vals = [1.0, 2.0, 2.0, 3.0, 7.0, 9.0]
    df = spark.createDataFrame([(0.5, 0.5, z) for z in vals], "x double, y double, z double")
    cells = with_cell(df, minx=0.0, miny=0.0, res=1.0, cols=1)
    out = cell_stats(cells, value="z", stats=("skew", "kurtosis")).collect()[0]
    v = np.array(vals)
    n, mean = len(v), v.mean()
    s = math.sqrt(((v - mean) ** 2).sum() / (n - 1))
    skew = ((v - mean) ** 3).sum() / n / s**3
    kurt = ((v - mean) ** 4).sum() / n / s**4 - 3.0
    assert out["skew"] == pytest.approx(skew, rel=1e-9)
    assert out["kurtosis"] == pytest.approx(kurt, rel=1e-9)


@pytest.mark.parametrize(
    "build",
    [
        lambda cells: cell_stat_exprs("z", ("variance",), n1_rule="zeros"),
        lambda cells: salted_cell_stats(cells, stats=("variance",), n1_rule="zeros"),
    ],
    ids=["cell_stat_exprs", "salted_cell_stats"],
)
def test_unknown_n1_rule_raises(spark, build):
    # a typo used to fall through to the 'null' rule: NULL variances
    cells = spark.createDataFrame([(0, 0, 1.0)], "cell_col long, cell_row long, z double")
    with pytest.raises(ValueError, match="'zero', 'nan', 'null'"):
        build(cells)
