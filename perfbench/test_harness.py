"""Self-tests of the benchmark harness (no Spark needed):

    python3 -m pytest perfbench/test_harness.py -q

- the same seed writes byte-identical inputs, another seed different ones;
- the NumPy references agree with direct computations;
- every output check accepts a correct result and rejects a corrupted one.
"""

from __future__ import annotations

import copy
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import datagen  # noqa: E402


def _gen_all(seed: int, out: str) -> dict:
    return {
        "docs": datagen.docs(seed, 2_000, os.path.join(out, "docs")),
        "spatial": datagen.spatial(seed, 3_000, 200, 40, os.path.join(out, "spatial")),
        "media": datagen.media_refs(seed, os.path.join(out, "media")),
    }


@pytest.fixture(scope="module")
def gen(tmp_path_factory):
    base = tmp_path_factory.mktemp("inputs")
    paths = {key: str(base / key) for key in ("s1a", "s1b", "s2a")}
    truth = {key: _gen_all(int(key[1]), p) for key, p in paths.items()}
    return paths, truth


def test_same_seed_byte_identical(gen):
    paths, _ = gen
    assert datagen.digest(paths["s1a"]) == datagen.digest(paths["s1b"])


def test_other_seed_differs(gen):
    paths, _ = gen
    for sub in ("docs", "spatial", "media"):
        a = datagen.digest(os.path.join(paths["s1a"], sub))
        b = datagen.digest(os.path.join(paths["s2a"], sub))
        assert a != b, sub


def test_docs_truth_matches_snapshot(gen):
    import pyarrow.parquet as pq

    paths, truth = gen
    t = truth["s1a"]["docs"]
    spans = pq.read_table(os.path.join(paths["s1a"], "docs")).column("spans").combine_chunks()
    kinds = spans.flatten().field("kind").to_pylist()
    assert kinds.count("text") == t["text_spans"]
    assert kinds.count("media") == t["media_spans"]
    text = [s for s in spans.flatten().field("text").to_pylist() if s is not None]
    fields = np.array([s.split(";")[:2] for s in text], dtype=np.float64)
    assert all(len(s.split(";")) == 10 for s in text)
    cells = np.floor(fields).astype(int)
    assert np.array_equal(np.bincount(cells[:, 0] * 64 + cells[:, 1], minlength=4096),
                          t["cells"])
    hot = (cells[:, 0] == 1) & (cells[:, 1] == 1)
    assert 0.15 < hot.mean() < 0.25


def test_xxhash64_matches_spark():
    # values printed by Spark SQL xxhash64(r), xxhash64(r, 2), xxhash64(r, 7)
    want = {
        "tile/4/3/15": (5318869395432079792, 4838409325078637462, 4551871963441949401),
        "tile/12/1234/999": (3738456296943437393, -5534018814630365841, 7696921328672357001),
        "": (-7444071767201028348, -1176509664010565646, -1372193571060509073),
        "x" * 31: (-1716462135722163746, 7381101070822730939, 2676787870180528614),
    }
    for ref, (h, h2, h7) in want.items():
        assert (datagen.spark_xxhash64(ref), datagen.spark_xxhash64(ref, 2),
                datagen.spark_xxhash64(ref, 7)) == (h, h2, h7)


def test_media_refs_fill_every_variant_and_band(gen):
    import pyarrow.parquet as pq

    paths, truth = gen
    refs = pq.read_table(os.path.join(paths["s1a"], "media")).column("media_ref").to_pylist()
    assert len(set(refs)) == truth["s1a"]["media"]["inputs"]["media_refs"][0]
    assert len(refs) == datagen.MEDIA_TILES
    params = [datagen.media_params(r) for r in refs]
    assert all(p["kind"] == 0 for p in params)
    cells = {(datagen._variant(p), band) for p in params
             for band, (lo, hi) in enumerate(datagen.AREA_BANDS)
             if lo <= p["width"] * p["height"] < hi}
    assert len(cells) == datagen.MEDIA_TILES


def test_even_odd_square_and_concave():
    square = np.array([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)], dtype=float)
    xs, ys = np.array([2.0, 5.0, 0.5]), np.array([2.0, 2.0, 3.9])
    assert checks.even_odd(xs, ys, square).tolist() == [True, False, True]
    # 'C' shape: the notch at (3, 2) is outside
    c = np.array([(0, 0), (4, 0), (4, 1), (1, 1), (1, 3), (4, 3), (4, 4), (0, 4), (0, 0)],
                 dtype=float)
    assert checks.even_odd(np.array([3.0, 0.5]), np.array([2.0, 2.0]), c).tolist() == [
        False, True]


def test_gradient_means_match_pixels():
    for fmt in (0, 1, 2):
        seed, w, h = 201, 80, 72
        r = np.arange(h)[:, None]
        if fmt == 2:
            r = (r // 8) * 8
        px = (seed + np.arange(3)[None, :] + r) % 256  # (h, 3), equal across columns
        full = np.broadcast_to(px[:, None, :], (h, w, 3))
        s = full.reshape(-1, 3).sum(axis=0)
        want = (s[0] / (w * h), s[1] / (w * h), s[2] / (w * h), s.sum() / (w * h * 3))
        assert checks.gradient_means(seed, fmt, w, h) == want


def test_part_rows_counts_blocks(gen):
    _, truth = gen
    t = truth["s1a"]["docs"]
    # level delta 3: partition 0 is the 8 x 8-cell block at the origin
    block = t["cells"].reshape(64, 64)[:8, :8].sum()
    assert checks.part_rows(t, 0, 3) == block
    assert sum(checks.part_rows(t, p, 3) for p in range(64)) == t["text_spans"]


def _grid_rows(t):
    cells = t["cells"]
    return [{"cell_col": i // 64, "cell_row": i % 64, "count": float(n)}
            for i, n in enumerate(cells) if n]


def test_docs_grid_check(gen):
    t = gen[1]["s1a"]["docs"]
    rows = _grid_rows(t)
    tiles = [{"n_media": t["media_spans"]}]
    assert checks.docs_grid(rows, tiles, t) == []
    moved = copy.deepcopy(rows)
    moved[0]["count"] -= 1
    moved[1]["count"] += 1  # same total, wrong cells
    assert checks.docs_grid(moved, tiles, t)
    assert checks.docs_grid(rows[1:], tiles, t)
    assert checks.docs_grid(rows, [{"n_media": t["media_spans"] - 1}], t)


def test_spatial_join_check(gen):
    t = gen[1]["s1a"]["spatial"]
    ref = {
        "pip": checks.pip_reference(t),
        "knn": checks.knn_reference(t, np.arange(10), 8),
        "zonal": checks.zonal_reference(t),
        "queries": 10,
    }
    assert ref["pip"], "fixture polygons should contain points"
    pip_rows = [{"poly_id": p, "n": n, "pid_sum": s} for p, (n, s) in ref["pip"].items()]
    idw_rows = [{"qid": q, "idw": v} for q, v in ref["knn"].items()]
    zon_rows = [{"zone_id": z, "cls": c, "count": float(n), "sum": s}
                for (z, c), (n, s) in ref["zonal"].items()]
    assert checks.spatial_join(pip_rows, idw_rows, zon_rows, ref) == []
    bad_pip = copy.deepcopy(pip_rows)
    bad_pip[0]["pid_sum"] += 1
    assert checks.spatial_join(bad_pip, idw_rows, zon_rows, ref)
    bad_idw = copy.deepcopy(idw_rows)
    bad_idw[3]["idw"] *= 1.001
    assert checks.spatial_join(pip_rows, bad_idw, zon_rows, ref)
    assert checks.spatial_join(pip_rows, idw_rows[1:], zon_rows, ref)
    bad_zon = copy.deepcopy(zon_rows)
    bad_zon[0]["count"] += 1
    assert checks.spatial_join(pip_rows, idw_rows, bad_zon, ref)


def test_knn_reference_is_brute_force(gen):
    t = gen[1]["s1a"]["spatial"]
    q = 5
    d = np.hypot(t["x"] - t["qx"][q], t["y"] - t["qy"][q])
    near = np.argsort(d)[:8]
    w = 1.0 / d[near] ** 2
    assert np.isclose(checks.knn_reference(t, [q], 8)[q], (t["z"][near] * w).sum() / w.sum())


def test_write_path_check(gen):
    t = gen[1]["s1a"]["docs"]
    n, part = t["text_spans"], checks.part_rows(t, 0, 3)
    assert checks.write_path(n, 0, part, t, part) == []
    assert checks.write_path(n - 1, 0, part, t, part)
    assert checks.write_path(n, 5, part, t, part)
    assert checks.write_path(n, 0, part + 1, t, part)


def test_decode_path_check():
    expected = {f"tile/5/{i}/0": checks.gradient_means(i, i % 3, 64 + 16 * i, 64)
                for i in range(6)}
    rows = [{"media_ref": k, "mean_r": v[0], "mean_g": v[1], "mean_b": v[2],
             "brightness": v[3]} for k, v in expected.items()]
    assert checks.decode_path(rows, expected) == []
    bad = copy.deepcopy(rows)
    bad[2]["mean_g"] += 1.0 / 4096
    assert checks.decode_path(bad, expected)
    assert checks.decode_path(rows[:-1], expected)


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q", "-p", "no:cacheprovider"]))
