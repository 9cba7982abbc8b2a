"""Output checks. Each takes a job's collected output plus the truth the
generator recorded, and returns a list of problems (empty = correct).
A job with any problem counts as failed.

The references are computed here with NumPy from the generated arrays,
independently of the package: an even-odd ray cast for point-in-polygon,
brute force for kNN and IDW, a bincount for zonal and grid counts, and
the closed-form gradient for decoded images.
"""

from __future__ import annotations

import numpy as np

from datagen import WORLD


def _morton(col: np.ndarray, row: np.ndarray) -> np.ndarray:
    """Z-order key: bit i of col at bit 2i, bit i of row at bit 2i+1."""
    out = np.zeros_like(col)
    for bit in range(16):
        out |= ((col >> bit) & 1) << (2 * bit)
        out |= ((row >> bit) & 1) << (2 * bit + 1)
    return out


# ------------------------------------------------------------ docs_grid

def docs_grid(grid_rows, tile_rows, truth: dict) -> list[str]:
    """Grid point counts equal the text spans generated (in total and per
    cell); tile counts sum to the media spans generated."""
    problems = []
    counts = np.zeros(WORLD * WORLD, dtype=np.int64)
    for r in grid_rows:
        col, row = int(r["cell_col"]), int(r["cell_row"])
        if not (0 <= col < WORLD and 0 <= row < WORLD):
            problems.append(f"grid cell out of world: {(col, row)}")
            continue
        counts[col * WORLD + row] += int(r["count"])
    if int(counts.sum()) != truth["text_spans"]:
        problems.append(f"sum(count) {int(counts.sum())} != text spans {truth['text_spans']}")
    elif not np.array_equal(counts, truth["cells"]):
        problems.append(f"{int((counts != truth['cells']).sum())} cells with wrong count")
    n_media = sum(int(r["n_media"]) for r in tile_rows)
    if n_media != truth["media_spans"]:
        problems.append(f"sum(n_media) {n_media} != media spans {truth['media_spans']}")
    return problems


# -------------------------------------------------------- spatial_join

def even_odd(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd rule: a point is inside when a ray towards +x crosses the
    closed ``ring`` an odd number of times. Edge (x1,y1)-(x2,y2) crosses
    iff ``(y1 > py) != (y2 > py)`` and ``px < (x2-x1)*(py-y1)/(y2-y1) + x1``."""
    inside = np.zeros(len(xs), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        straddle = (y1 > ys) != (y2 > ys)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (ys - y1) / (y2 - y1) + x1
        inside ^= straddle & (xs < xint)
    return inside


def pip_reference(truth: dict) -> dict[int, tuple[int, int]]:
    """poly_id -> (points inside, sum of their pids), over all points."""
    x, y = truth["x"], truth["y"]
    out = {}
    for pid, ring in enumerate(truth["rings"]):
        lo, hi = ring.min(axis=0), ring.max(axis=0)
        sel = np.flatnonzero((x >= lo[0]) & (x <= hi[0]) & (y >= lo[1]) & (y <= hi[1]))
        hit = sel[even_odd(x[sel], y[sel], ring)]
        if len(hit):
            out[pid] = (len(hit), int(hit.sum()))
    return out


def knn_reference(truth: dict, qids: np.ndarray, k: int) -> dict[int, float]:
    """qid -> IDW (power 2) over the brute-force k nearest points, ties
    broken by point id; an exact hit returns the mean of exact hits."""
    x, y, z = truth["x"], truth["y"], truth["z"]
    out = {}
    for q in qids:
        d = np.sqrt((truth["qx"][q] - x) ** 2 + (truth["qy"][q] - y) ** 2)
        near = np.lexsort((np.arange(len(d)), d))[:k]
        dn, zn = d[near], z[near]
        if (dn == 0).any():
            out[int(q)] = float(zn[dn == 0].mean())
        else:
            w = 1.0 / (dn * dn)
            out[int(q)] = float((zn * w).sum() / w.sum())
    return out


def zonal_reference(truth: dict) -> dict[tuple[int, int], tuple[int, float]]:
    """(zone_id, cls) -> (count, sum of z)."""
    col = np.floor(truth["x"]).astype(np.int64)
    row = np.floor(truth["y"]).astype(np.int64)
    zone = truth["zone"][col, row].astype(np.int64)
    key = zone * 16 + truth["cls"]
    n = np.bincount(key)
    s = np.bincount(key, weights=truth["z"])
    return {(int(k // 16), int(k % 16)): (int(n[k]), float(s[k])) for k in np.flatnonzero(n)}


def spatial_join(pip_rows, idw_rows, zonal_rows, ref: dict) -> list[str]:
    problems = []
    got = {int(r["poly_id"]): (int(r["n"]), int(r["pid_sum"])) for r in pip_rows}
    if got != ref["pip"]:
        bad = {p for p in set(got) | set(ref["pip"]) if got.get(p) != ref["pip"].get(p)}
        problems.append(f"pip hits differ from the even-odd test on {len(bad)} polygons")
    idw = {int(r["qid"]): float(r["idw"]) for r in idw_rows}
    if len(idw) != ref["queries"]:
        problems.append(f"idw rows {len(idw)} != queries {ref['queries']}")
    for q, want in ref["knn"].items():
        if q not in idw or not np.isclose(idw[q], want, rtol=1e-9, atol=0.0):
            problems.append(f"knn/idw of query {q}: {idw.get(q)} != brute force {want}")
            break
    zon = {(int(r["zone_id"]), int(r["cls"])): (int(r["count"]), float(r["sum"]))
           for r in zonal_rows}
    if set(zon) != set(ref["zonal"]):
        problems.append("zonal groups differ")
    else:
        for key, (n, s) in ref["zonal"].items():
            if zon[key][0] != n or not np.isclose(zon[key][1], s, rtol=1e-9):
                problems.append(f"zonal {key}: {zon[key]} != {(n, s)}")
                break
    return problems


# ----------------------------------------------------------- write path

def part_rows(truth: dict, part: int, level_delta: int) -> int:
    """Points whose cell's Z-order key has parent ``part`` at
    ``level_delta`` levels up."""
    cells = np.arange(WORLD * WORLD)
    col, row = cells // WORLD, cells % WORLD
    parent = _morton(col, row) >> (2 * level_delta)
    return int(truth["cells"][parent == part].sum())


def write_path(written: int, resumed: int, read_back: int, truth: dict,
                    expect_read: int) -> list[str]:
    problems = []
    if written != truth["text_spans"]:
        problems.append(f"rows written {written} != parsed spans {truth['text_spans']}")
    if resumed != 0:
        problems.append(f"resume wrote {resumed} rows, expected 0")
    if read_back != expect_read:
        problems.append(f"read-back {read_back} rows != {expect_read}")
    return problems


# ---------------------------------------------------------- decode path

def gradient_means(seed: int, fmt: int, width: int, height: int) -> tuple[float, ...]:
    """(mean_r, mean_g, mean_b, brightness) of the closed-form content:
    ``(seed + c + r) % 256`` per row r and channel c, or for JPEG
    (fmt 2) the block-flat ``(seed + c + 8*(r//8)) % 256``; means are
    integer pixel sums divided by the pixel count."""
    r = np.arange(height, dtype=np.int64)
    if fmt == 2:
        r = (r // 8) * 8
    n = width * height
    sums = [int(((seed + c + r) % 256).sum()) * width for c in range(3)]
    return (sums[0] / n, sums[1] / n, sums[2] / n, sum(sums) / (n * 3))


def decode_path(rows, expected: dict[str, tuple[float, ...]]) -> list[str]:
    got = {r["media_ref"]: (r["mean_r"], r["mean_g"], r["mean_b"], r["brightness"])
           for r in rows}
    if set(got) != set(expected):
        return [f"decoded {len(got)} images, expected {len(expected)}"]
    bad = [ref for ref, want in expected.items() if got[ref] != want]
    return [f"{len(bad)} images decode to wrong means, e.g. {bad[0]}"] if bad else []
