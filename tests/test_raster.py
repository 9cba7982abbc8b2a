"""Focal/global raster operators vs NumPy oracles that transcribe the
reference's loops literally (src/raster.cpp, src/treetops.cpp,
src/mosaic.cpp, src/rasterstats.cpp)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from geotools_spark.operators.raster import (
    blend,
    edge_pixels,
    feather,
    flood_label,
    gaussian_smooth,
    gaussian_smooth_tiled,
    global_stats,
    local_maxima,
    local_minima,
    normalize,
    raster_pair_diff_stats,
    spectral_pivot,
    void_fill_idw,
)

COLS = ROWS = 24


def make_grid(seed=3, nodata_holes=True):
    rs = np.random.RandomState(seed)
    g = rs.uniform(0.0, 20.0, size=(ROWS, COLS))
    if nodata_holes:
        mask = rs.uniform(size=(ROWS, COLS)) < 0.05
        g[mask] = np.nan
    return g


def to_df(spark, g, extra=None):
    rows = []
    for r in range(g.shape[0]):
        for c in range(g.shape[1]):
            v = None if np.isnan(g[r, c]) else float(g[r, c])
            rows.append((c, r, v))
    df = spark.createDataFrame(rows, "cell_col long, cell_row long, value double")
    return df


def collect_grid(df, value_col, shape):
    out = np.full(shape, np.nan)
    for row in df.collect():
        v = row[value_col]
        if v is not None:
            out[row.cell_row, row.cell_col] = v
    return out


# ---- numpy oracles (literal transcriptions of the reference loops) ----


def oracle_smooth(g, sigma, size):
    half = size // 2
    w = np.zeros((size, size))
    for r in range(size):
        for c in range(size):
            x, y = half - c, half - r
            w[r, c] = (1 / (2 * math.pi * sigma * sigma)) * math.e ** (
                -((x * x + y * y) / (2.0 * sigma * sigma))
            )
    rows, cols = g.shape
    out = np.full_like(g, np.nan)
    # reference loop: r < rows - size (off-by-one clip kept)
    for r in range(rows - size):
        for c in range(cols - size):
            win = g[r : r + size, c : c + size]
            if np.isnan(win).any():
                continue
            out[r + half, c + half] = (win * w).sum()
    return out


def oracle_tops(g, window, min_height):
    """treetops isMaxCenter + driver loop (src/treetops.cpp:72-91,199-226)."""
    half = window // 2
    rows, cols = g.shape
    tops = set()
    for row in range(rows - window):
        for col in range(cols - window):
            cc, cr = col + half, row + half
            center = g[cr, cc]
            if np.isnan(center) or center < min_height:
                continue
            mx, mc, mr = 0.0, 0, 0
            for r in range(row, row + window):
                for c in range(col, col + window):
                    v = g[r, c]
                    if not np.isnan(v) and v > mx:
                        mx, mc, mr = v, c, r
            if mc == cc and mr == cr:
                tops.add((cc, cr))
    return tops


def oracle_feather(g, distance, resolution):
    rows, cols = g.shape
    fill = (~np.isnan(g)).astype(np.int8)
    alpha = np.full_like(g, 1.0)
    steps = max(1.0, distance / resolution)
    step = 0.0
    while True:
        found = False
        edges = []
        for row in range(rows):
            for col in range(cols):
                if fill[row, col] == 0:
                    continue
                edge = False
                for r in range(row - 1, row + 2):
                    for c in range(col - 1, col + 2):
                        if c <= 0 or r <= 0 or c >= cols - 1 or r >= rows - 1 or fill[
                            min(max(r, 0), rows - 1), min(max(c, 0), cols - 1)
                        ] == 0:
                            edge = True
                            break
                    if edge:
                        break
                if edge:
                    edges.append((row, col))
        for row, col in edges:
            s = min(steps, max(0.0, step))
            alpha[row, col] = (
                math.tanh(((s - steps / 2.0) / (steps / 2.0)) * math.pi) * 0.5 + 0.5
            )
            fill[row, col] = 0
            found = True
        step += 1.0
        if not (found and step <= steps):
            break
    alpha[np.isnan(g)] = np.nan
    return alpha


# ------------------------------- tests ---------------------------------


def test_gaussian_smooth_matches_oracle(spark):
    g = make_grid()
    df = to_df(spark, g)
    out = gaussian_smooth(df, sigma=0.8, size=3, cols=COLS, rows=ROWS)
    got = collect_grid(out, "smoothed", g.shape)
    want = oracle_smooth(g, 0.8, 3)
    assert np.allclose(np.nan_to_num(got, nan=-1), np.nan_to_num(want, nan=-1), atol=1e-9)


def test_gaussian_smooth_tiled_equals_explode(spark):
    g = make_grid(seed=11)
    df = to_df(spark, g)
    a = collect_grid(
        gaussian_smooth(df, sigma=1.1, size=5, cols=COLS, rows=ROWS), "smoothed", g.shape
    )
    # tile=2 is narrower than the size-5 halo: the tile grows to 2*halo
    for tile in (8, 2):
        b = collect_grid(
            gaussian_smooth_tiled(df, sigma=1.1, size=5, cols=COLS, rows=ROWS, tile=tile),
            "smoothed",
            g.shape,
        )
        assert np.allclose(np.nan_to_num(a, nan=-1), np.nan_to_num(b, nan=-1), atol=1e-9)


def test_tiled_kernel_plans_without_type_hint_warning(spark):
    # the per-tile kernels carry no partial type hints, so PySpark has
    # nothing to (fail to) infer an eval type from
    import warnings

    df = to_df(spark, make_grid(seed=11))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        gaussian_smooth_tiled(df, sigma=1.1, size=5, cols=COLS, rows=ROWS, tile=8)
    assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]


def test_local_maxima_matches_oracle(spark):
    g = make_grid(seed=5)
    df = to_df(spark, g)
    out = local_maxima(df, window=3, min_height=4.0, cols=COLS, rows=ROWS)
    got = {(r.cell_col, r.cell_row) for r in out.collect()}
    want = oracle_tops(g, 3, 4.0)
    assert got == want
    # id packing (src/treetops.cpp:210)
    for r in out.collect():
        assert r.top_id == (r.cell_col << 32) | r.cell_row


def test_local_maxima_tie_goes_to_scan_order(spark):
    g = np.full((8, 8), 1.0)
    g[3, 3] = 9.0
    g[3, 5] = 9.0  # same value later in scan order -> only (3,3) wins
    df = to_df(spark, g)
    out = local_maxima(df, window=5, min_height=0.0, cols=8, rows=8)
    got = {(r.cell_col, r.cell_row) for r in out.collect()}
    assert got == oracle_tops(g, 5, 0.0)


def test_local_minima_strict(spark):
    g = np.full((6, 6), 5.0)
    g[2, 2] = 1.0
    g[4, 4] = 1.0  # not strict: equal min two cells apart still strict per-window
    df = to_df(spark, g)
    out = local_minima(df, window=3, cols=6, rows=6)
    got = {(r.cell_col, r.cell_row) for r in out.collect()}
    assert (2, 2) in got and (4, 4) in got


def test_edge_pixels_border_quirk(spark):
    g = np.full((8, 8), 1.0)
    g[4, 4] = np.nan
    df = to_df(spark, g)
    out = edge_pixels(df, cols=8, rows=8).filter(F.col("is_edge"))
    got = {(r.cell_col, r.cell_row) for r in out.collect()}
    # two outermost rings are edges (isEdgePixel border test, mosaic.cpp:40-50)
    assert (0, 0) in got and (1, 1) in got
    assert (2, 2) not in got
    # neighbors of the hole are edges
    assert (3, 4) in got and (4, 3) in got and (3, 3) in got


def test_feather_matches_oracle(spark):
    g = make_grid(seed=9)
    df = to_df(spark, g)
    out = feather(df, distance=4.0, resolution=1.0, cols=COLS, rows=ROWS)
    got = collect_grid(out, "alpha", g.shape)
    want = oracle_feather(g, 4.0, 1.0)
    assert np.allclose(np.nan_to_num(got, nan=-1), np.nan_to_num(want, nan=-1), atol=1e-9)


def test_feather_multi_tile_matches_oracle(spark):
    # tile=8 on the test grid: the halo-tile distance transform must
    # reproduce the reference peel loop across tile borders
    g = make_grid(seed=13)
    df = to_df(spark, g)
    out = feather(df, distance=5.0, resolution=1.0, cols=COLS, rows=ROWS, tile=8)
    got = collect_grid(out, "alpha", g.shape)
    want = oracle_feather(g, 5.0, 1.0)
    assert np.allclose(np.nan_to_num(got, nan=-1), np.nan_to_num(want, nan=-1), atol=1e-12)


def test_rastfit_shift_is_constant_mean_diff(spark):
    from geotools_spark.operators.raster import rastfit

    g = make_grid(seed=5)
    base = to_df(spark, g)
    adj = to_df(spark, g + 2.5)
    out = rastfit(base, adj, method="shift", n_samples=10).collect()
    # identical +2.5 offset everywhere -> every sampled diff is 2.5
    assert len(out) > 0
    assert all(r.fit == pytest.approx(2.5) for r in out)


def test_rastfit_nn_recovers_smooth_offset(spark):
    from geotools_spark.operators.raster import rastfit

    g = make_grid(seed=5)
    base = to_df(spark, g)
    adj = to_df(spark, g + 2.5)
    out = rastfit(base, adj, method="natural_neighbour", n_samples=40).collect()
    vals = [r.fit for r in out if r.fit is not None and not np.isnan(r.fit)]
    # constant diff surface: NN has exactness on constants inside hull
    assert len(vals) > 0
    assert all(v == pytest.approx(2.5, abs=1e-9) for v in vals)


def test_blend_semantics(spark):
    base = to_df(spark, np.array([[1.0, np.nan], [3.0, 4.0]]))
    over = to_df(spark, np.array([[11.0, 12.0], [np.nan, 14.0]]))
    alpha = over.select("cell_col", "cell_row", F.lit(0.25).alias("alpha"))
    out = collect_grid(blend(base, over, alpha), "value", (2, 2))
    assert out[0, 0] == pytest.approx(1 * 0.75 + 11 * 0.25)
    assert np.isnan(out[0, 1])  # base nodata stays
    assert out[1, 0] == pytest.approx(3.0)  # overlay nodata -> base unchanged
    assert out[1, 1] == pytest.approx(4 * 0.75 + 14 * 0.25)


def test_flood_label_components(spark):
    g = np.array(
        [
            [1, 1, 9, 2, 2],
            [1, 9, 9, 2, 9],
            [9, 9, 9, 9, 9],
            [3, 9, 4, 4, 9],
            [3, 9, 9, 4, 9],
        ],
        dtype=float,
    )
    df = to_df(spark, g)
    out = flood_label(df, predicate=F.col("value") <= 5.0, connectivity=4)
    labels = {}
    for r in out.collect():
        labels[(r.cell_col, r.cell_row)] = r.label
    # four 4-connected components
    assert labels[(0, 0)] == labels[(1, 0)] == labels[(0, 1)]
    assert labels[(3, 0)] == labels[(4, 0)] == labels[(3, 1)]
    assert labels[(0, 3)] == labels[(0, 4)]
    assert labels[(2, 3)] == labels[(3, 3)] == labels[(3, 4)]
    assert len(set(labels.values())) == 4


def test_raster_pair_diff_stats(spark):
    r0 = np.arange(16, dtype=float).reshape(4, 4)
    r1 = r0 * 1.5
    cls = to_df(spark, np.tile([0.0, 1.0], (4, 2))).withColumnRenamed("value", "clsd")
    cls = cls.select("cell_col", "cell_row", F.col("clsd").cast("int").alias("cls"))
    rasters = (
        to_df(spark, r0).withColumn("raster_id", F.lit("a"))
        .unionByName(to_df(spark, r1).withColumn("raster_id", F.lit("b")))
    )
    out = raster_pair_diff_stats(rasters, cls)
    rows = {r.cls: r for r in out.collect()}
    for c in (0, 1):
        d = (r0 - r1)[:, c::2].ravel()
        assert rows[c]["count"] == d.size
        assert rows[c]["sum"] == pytest.approx(d.sum())
        assert rows[c]["mean"] == pytest.approx(d.mean())
        assert rows[c]["variance"] == pytest.approx(d.var(ddof=1))


def test_global_stats_population_variance(spark):
    g = make_grid(seed=13)
    df = to_df(spark, g)
    row = global_stats(df).collect()[0]
    valid = g[~np.isnan(g)]
    assert row["count"] == valid.size
    assert row["mean"] == pytest.approx(valid.mean())
    assert row["variance"] == pytest.approx(valid.var(ddof=0), rel=1e-9)


def test_normalize_parity_quirks(spark):
    g = make_grid(seed=17)
    df = to_df(spark, g)
    out = collect_grid(normalize(df, total_cells=g.size, parity=True), "value", g.shape)
    valid = g[~np.isnan(g)]
    mu = valid.sum() / g.size  # divides by TOTAL size (quirk)
    sd = math.sqrt(((valid - mu) ** 2).sum())  # no /n (quirk)
    want = (g - mu) / sd
    assert np.allclose(np.nan_to_num(out, nan=-9), np.nan_to_num(want, nan=-9), atol=1e-12)


def test_spectral_pivot_requires_all_bands(spark):
    rows = [
        (0, 0, 1, 10.0),
        (0, 0, 2, 20.0),
        (1, 0, 1, 11.0),  # band 2 missing -> dropped
    ]
    df = spark.createDataFrame(rows, "cell_col long, cell_row long, band int, value double")
    out = spectral_pivot(df, [1, 2]).collect()
    assert len(out) == 1
    assert out[0]["1"] == 10.0 and out[0]["2"] == 20.0


def test_void_fill_idw(spark):
    g = np.full((10, 10), 7.0)
    g[5, 5] = np.nan
    g[0, 9] = np.nan
    df = to_df(spark, g)
    out = collect_grid(
        void_fill_idw(df, radius=2.0, count=3, exp=1.0, cols=10, rows=10, tile=8),
        "value",
        g.shape,
    )
    # the tile size only changes the partitioning, never a value
    default = collect_grid(
        void_fill_idw(df, radius=2.0, count=3, exp=1.0, cols=10, rows=10), "value", g.shape
    )
    assert np.array_equal(out, default, equal_nan=True)
    assert out[5, 5] == pytest.approx(7.0)
    assert out[0, 9] == pytest.approx(7.0)
    # valid cells unchanged
    assert out[2, 2] == pytest.approx(7.0)


def oracle_ring_fill(g, max_size=16):
    """Literal interpNodata transcription (src/treetops.cpp:94-119)."""
    rows, cols = g.shape
    out = g.copy()
    for row in range(rows):
        for col in range(cols):
            if not np.isnan(g[row, col]):
                continue
            for size in range(1, max_size + 1):
                t, n = 0.0, 0
                for c in range(max(0, col - size), min(cols, col + size + 1)):
                    for r in (max(0, row - size), min(rows - 1, row + size)):
                        v = g[r, c]
                        if not np.isnan(v):
                            t += v
                            n += 1
                for r in range(max(1, row - size), min(rows, row + size + 1)):
                    for c in (max(0, col - size), min(cols - 1, col + size)):
                        v = g[r, c]
                        if not np.isnan(v):
                            t += v
                            n += 1
                if n > 0:
                    out[row, col] = t / n
                    break
    return out


def test_ring_fill_matches_oracle(spark):
    from geotools_spark.operators.raster import ring_fill_mean

    g = make_grid(seed=23)
    g[0, 0] = np.nan  # corner (exercises the clamped double-count)
    df = to_df(spark, g)
    out = collect_grid(
        ring_fill_mean(df, cols=COLS, rows=ROWS, tile=16, max_size=8),
        "value",
        g.shape,
    )
    want = oracle_ring_fill(g, max_size=8)
    assert np.allclose(
        np.nan_to_num(out, nan=-1), np.nan_to_num(want, nan=-1), atol=1e-9
    )
    default = collect_grid(
        ring_fill_mean(df, cols=COLS, rows=ROWS, max_size=8), "value", g.shape
    )
    assert np.array_equal(out, default, equal_nan=True)


def test_unfillable_cells_come_back_null(spark):
    """A cell no fill reaches is NULL, not NaN: the kernels return NaN
    and the Arrow hop out of applyInPandas turns it into NULL."""
    from geotools_spark.operators.raster import ring_fill_mean

    g = np.full((12, 12), np.nan)
    g[0, 0] = 5.0  # the only valid cell: far cells are out of every reach
    df = to_df(spark, g)
    for out in (
        ring_fill_mean(df, cols=12, rows=12, tile=4, max_size=2),
        void_fill_idw(df, radius=1.0, count=1, exp=1.0, cols=12, rows=12, tile=4),
    ):
        assert out.count() == 144
        assert out.filter(F.isnan("value")).count() == 0
        nulls = {(r.cell_col, r.cell_row) for r in out.filter(F.col("value").isNull()).collect()}
        assert (11, 11) in nulls and (0, 0) not in nulls
        assert out.filter(F.col("value").isNotNull()).count() == 144 - len(nulls)


def test_spill_points_matches_quadruple_loop(spark):
    from geotools_spark.operators.raster import spill_points

    # two basin blobs with labels, plus an unlabeled gap between them
    rows_in = []
    for c in range(2, 6):
        for r in range(2, 6):
            rows_in.append((c, r, 1))
    for c in range(9, 12):
        for r in range(3, 7):
            rows_in.append((c, r, 2))
    for c in range(4, 7):
        for r in range(10, 13):
            rows_in.append((c, r, 3))
    basins = spark.createDataFrame(rows_in, "cell_col long, cell_row long, label long")
    got = {
        (r.label_a, r.x_a, r.y_a, r.label_b, r.x_b, r.y_b): r.dist
        for r in spill_points(basins, max_dist=5.0, cols=16, rows=16).collect()
    }

    # literal transcription of src/flood.cpp:150-173 + 369-400
    cells = {(c, r): l for c, r, l in rows_in}

    def edges_of(lbl):
        out = []
        for (c, r), l in cells.items():
            if l != lbl:
                continue
            for rr in range(r - 1, r + 2):
                for cc in range(c - 1, c + 2):
                    if (cc, rr) == (c, r) or not (0 <= cc < 16 and 0 <= rr < 16):
                        continue
                    if cells.get((cc, rr)) != lbl:
                        out.append((c, r))
                        break
                else:
                    continue
                break
        return out

    want = {}
    import math as _m
    for a in (1, 2, 3):
        for b in (1, 2, 3):
            if a >= b:
                continue
            for (c0, r0) in edges_of(a):
                for (c1, r1) in edges_of(b):
                    d = _m.sqrt((c0 - c1) ** 2 + (r0 - r1) ** 2)
                    if d <= 5.0:
                        want[(a, float(c0), float(r0), b, float(c1), float(r1))] = d
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)
