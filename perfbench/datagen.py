"""Seeded input generator for the benchmark (NumPy + pyarrow, no Spark).

Every input is a function of ``seed`` alone: the same seed writes
byte-identical parquet files, another seed writes different ones. The
program under test only ever receives these files.

Each generator returns ``inputs`` (rows and bytes of every file set it
wrote) and the facts the output checks need. They are produced together, so
each check compares the program's result against numbers derived here
from the same arrays, never from the program:

- ``docs``: the interleaved documents table in the input_hint schema
  ``(doc_id string, spans array<struct<kind, text, media_ref, offset>>)``.
  Text spans carry the ten ``POINT_FIELDS`` joined by ``POINT_SEP``;
  ``HOT_SHARE`` of the points fall in the one map-unit cell at (1, 1).
  Media spans reference ``tile/4/<tx>/<ty>`` (256 distinct tiles).
- ``spatial``: points, query points, a few hundred convex and concave
  polygon footprints and a zone raster (long form, one row per cell).
- ``media``: image refs ``tile/<level>/<tx>/<ty>`` over zoom levels
  5..14 (the documents table references 256 tiles of level 4), one per
  codec variant and size band so every seed decodes the same mix.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: span payload layout, identical to geotools_spark.operators.spans
#: (POINT_FIELDS order, POINT_SEP separator); kept as literals so the
#: generator does not depend on the package it feeds
POINT_SEP = ";"
WORLD = 64  # map units per side; grid res 1.0 -> 64 x 64 cells
HOT_SHARE = 0.2
#: docs snapshot is written as this many parquet files (scan splits)
DOC_FILES = 4


def _fixed(ints: np.ndarray, decimals: int) -> pa.Array:
    """Decimal strings of ``ints / 10**decimals`` with exactly
    ``decimals`` fraction digits — what ``'%.<d>f'`` prints for these
    exact quotients — built with Arrow kernels, not a Python loop."""
    scale = 10**decimals
    whole = pa.array(ints // scale).cast(pa.string())
    frac = pc.utf8_lpad(pa.array(ints % scale).cast(pa.string()), decimals, "0")
    return pc.binary_join_element_wise(whole, frac, ".")


def _ints(values: np.ndarray) -> pa.Array:
    return pa.array(values).cast(pa.string())


def _write(table: pa.Table, path: str, *, files: int = 1) -> None:
    """Write ``table`` as ``files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def docs(seed: int, n_docs: int, out: str) -> dict:
    """Documents snapshot at ``out``; returns its truth (span counts and
    per-cell point counts) for the output checks."""
    rng = np.random.default_rng([seed, 1])
    per_doc = rng.integers(2, 7, size=n_docs)  # 2..6 spans
    n = int(per_doc.sum())
    is_media = rng.random(n) < 0.25
    n_text = int((~is_media).sum())
    hot = rng.random(n_text) < HOT_SHARE
    # 4-decimal coordinates as integer ten-thousandths: hot points in
    # [1, 2), the rest uniform over the world
    x = np.where(hot, 10000 + rng.integers(0, 10000, n_text),
                 rng.integers(0, WORLD * 10000, n_text))
    y = np.where(hot, 10000 + rng.integers(0, 10000, n_text),
                 rng.integers(0, WORLD * 10000, n_text))
    z = 100 + rng.integers(0, 1900, n_text)  # hundredths, 1.00 .. 19.99
    fields = [
        _fixed(x, 4),
        _fixed(y, 4),
        _fixed(z, 2),
        _ints(rng.integers(0, 256, n_text)),  # intensity
        _ints(rng.integers(1, 6, n_text)),  # return_num
        _ints(np.full(n_text, 5)),  # num_returns
        _ints(rng.integers(0, 8, n_text)),  # cls
        _ints(rng.integers(-30, 31, n_text)),  # scan_angle
        _fixed(rng.integers(0, 10**9, n_text), 1),  # gps_time
        _ints(rng.integers(0, 4, n_text)),  # source_id
    ]
    text = pc.binary_join_element_wise(*fields, POINT_SEP)
    n_media = n - n_text
    tx = rng.integers(0, 16, n_media)
    ty = rng.integers(0, 16, n_media)
    refs = pc.binary_join_element_wise(
        pa.array(np.full(n_media, "tile/4")), _ints(tx), _ints(ty), "/"
    )
    # scatter the text / media columns back into span order
    text_full = pc.take(
        pa.concat_arrays([text, pa.nulls(1, pa.string())]),
        pa.array(np.where(~is_media, np.cumsum(~is_media) - 1, n_text)),
    )
    ref_full = pc.take(
        pa.concat_arrays([refs, pa.nulls(1, pa.string())]),
        pa.array(np.where(is_media, np.cumsum(is_media) - 1, n_media)),
    )
    starts = np.concatenate([[0], np.cumsum(per_doc)[:-1]])
    span_idx = np.arange(n) - np.repeat(starts, per_doc)
    offset = (span_idx * 10 + rng.integers(0, 10, n)).astype(np.int32)
    spans = pa.StructArray.from_arrays(
        [
            pa.array(np.where(is_media, "media", "text")),
            text_full,
            ref_full,
            pa.array(offset),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    offsets = pa.array(np.concatenate([[0], np.cumsum(per_doc)]).astype(np.int32))
    doc_id = pc.binary_join_element_wise(
        pa.array(np.full(n_docs, "doc")),
        pc.utf8_lpad(_ints(np.arange(n_docs)), 12, "0"),
        "",
    )
    table = pa.table({"doc_id": doc_id, "spans": pa.ListArray.from_arrays(offsets, spans)})
    _write(table, out, files=DOC_FILES)
    col, row = x // 10000, y // 10000
    return {
        "inputs": {"docs": (n_docs, _dir_bytes(out))},
        "text_spans": n_text,
        "media_spans": n_media,
        "cells": np.bincount(col * WORLD + row, minlength=WORLD * WORLD),
    }


def _polygon_rings(rng: np.random.Generator, n_poly: int) -> list[np.ndarray]:
    """Closed rings: even ids convex (vertices on a circle), odd ids
    concave (stars alternating outer and inner radius)."""
    rings = []
    for pid in range(n_poly):
        cx, cy = rng.uniform(3.0, WORLD - 3.0, 2)
        r = rng.uniform(0.6, 2.5)
        if pid % 2 == 0:
            k = int(rng.integers(5, 10))
            ang = np.sort(rng.uniform(0.0, 2 * np.pi, k))
            rad = np.full(k, r)
        else:
            k = 2 * int(rng.integers(3, 7))
            ang = np.linspace(0.0, 2 * np.pi, k, endpoint=False) + rng.uniform(0, 1)
            rad = np.where(np.arange(k) % 2 == 0, r, r * rng.uniform(0.3, 0.6))
        ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
        rings.append(np.vstack([ring, ring[:1]]))
    return rings


def spatial(seed: int, n_points: int, n_queries: int, n_poly: int, out: str) -> dict:
    """Points, queries, polygons and zones under ``out``; returns the raw
    arrays the checks recompute results from."""
    rng = np.random.default_rng([seed, 2])
    x = rng.uniform(0.0, WORLD, n_points)
    y = rng.uniform(0.0, WORLD, n_points)
    z = rng.uniform(1.0, 20.0, n_points)
    cls = rng.integers(0, 4, n_points).astype(np.int32)
    pid = np.arange(n_points, dtype=np.int64)
    _write(pa.table({"pid": pid, "x": x, "y": y, "z": z, "cls": cls}),
           os.path.join(out, "points"), files=DOC_FILES)
    qx = rng.uniform(0.0, WORLD, n_queries)
    qy = rng.uniform(0.0, WORLD, n_queries)
    _write(pa.table({"qid": np.arange(n_queries, dtype=np.int64), "qx": qx, "qy": qy}),
           os.path.join(out, "queries"))
    rings = _polygon_rings(rng, n_poly)
    point_t = pa.struct([("x", pa.float64()), ("y", pa.float64())])
    ring_arr = pa.array(
        [[{"x": float(a), "y": float(b)} for a, b in ring] for ring in rings],
        type=pa.list_(point_t),
    )
    _write(pa.table({"poly_id": pa.array(np.arange(n_poly, dtype=np.int32)),
                     "ring": ring_arr}), os.path.join(out, "polygons"))
    # zone raster: 8 x 8-cell blocks, each assigned one of 24 zone ids
    block_zone = rng.integers(0, 24, (WORLD // 8, WORLD // 8))
    cc, cr = np.meshgrid(np.arange(WORLD), np.arange(WORLD), indexing="ij")
    zone = block_zone[cc // 8, cr // 8].astype(np.int32)
    _write(pa.table({"cell_col": cc.ravel().astype(np.int64),
                     "cell_row": cr.ravel().astype(np.int64),
                     "zone_id": zone.ravel()}), os.path.join(out, "zones"))
    rows = {"points": n_points, "queries": n_queries, "polygons": n_poly,
            "zones": WORLD * WORLD}
    return {
        "inputs": {d: (n, _dir_bytes(os.path.join(out, d))) for d, n in rows.items()},
        "x": x, "y": y, "z": z, "cls": cls, "qx": qx, "qy": qy,
        "rings": rings, "zone": zone,
    }


# --- media refs -------------------------------------------------------
#
# operators/media.py derives each ref's kind, size, content seed and
# format from Spark's xxhash64 of the ref. Decode cost follows those, so
# refs drawn at random would make the work differ by a third from seed
# to seed. The generator therefore replays the same hash (Spark's XXH64
# with seed 42, string bytes then int literals) and fills a fixed quota:
# one image per (codec variant, size band).

_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_MASK = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _fmix(h: int) -> int:
    h = ((h ^ (h >> 33)) * _P2) & _MASK
    h = ((h ^ (h >> 29)) * _P3) & _MASK
    return h ^ (h >> 32)


def _xxh64_short(data: bytes, seed: int) -> int:
    """XXH64 of fewer than 32 bytes."""
    if len(data) >= 32:
        raise ValueError("only short inputs are supported")
    h = (seed + _P5 + len(data)) & _MASK
    i = 0
    while i + 8 <= len(data):
        k = (_rotl((int.from_bytes(data[i:i + 8], "little") * _P2) & _MASK, 31) * _P1) & _MASK
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _MASK
        i += 8
    if i + 4 <= len(data):
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    for b in data[i:]:
        h = (_rotl(h ^ ((b * _P5) & _MASK), 11) * _P1) & _MASK
    return _fmix(h)


def spark_xxhash64(text: str, *ints: int) -> int:
    """Spark SQL ``xxhash64(text, ints...)`` as a signed 64-bit value."""
    h = _xxh64_short(text.encode(), 42)
    for v in ints:  # XXH64.hashInt, chained on the previous hash
        h = ((h + _P5 + 4) & _MASK) ^ (((v & 0xFFFFFFFF) * _P1) & _MASK)
        h = _fmix((_rotl(h, 23) * _P2 + _P3) & _MASK)
    return h - (1 << 64) if h >> 63 else h


def media_params(ref: str) -> dict:
    """kind (0 image, 1 audio, 2 video), width, height, content seed and
    image format (0 PNG, 1 TIFF, 2 JPEG), as synthetic_media derives them."""
    return {
        "kind": spark_xxhash64(ref) % 3,
        "width": spark_xxhash64(ref, 2) % 48 * 16 + 64,
        "height": spark_xxhash64(ref, 3) % 32 * 16 + 64,
        "seed": spark_xxhash64(ref, 5) % 256,
        "fmt": spark_xxhash64(ref, 7) % 3,
    }


#: decode-cost classes: PNG plain / Adam7, the 8 TIFF layouts, JPEG
#: baseline / progressive (synthetic_media picks them by content seed)
_VARIANTS = 2 + 8 + 2
#: pixel-count bands (±4% around 40k and 180k pixels), one image each
#: per variant; narrow, so each task's share of the decode work is the
#: same for every seed
AREA_BANDS = tuple((c * 24 // 25, c * 26 // 25) for c in (40_000, 180_000))
MEDIA_TILES = _VARIANTS * len(AREA_BANDS)


def _variant(p: dict) -> int:
    return (0, 2, 10)[p["fmt"]] + p["seed"] % (8 if p["fmt"] == 1 else 2)


def media_refs(seed: int, out: str) -> dict:
    """``MEDIA_TILES`` distinct image refs ``tile/<level>/<tx>/<ty>`` over
    zoom levels 5..14 at ``out``, one per (codec variant, size band).
    ``by_band`` lists them by (size band, variant), so dealing it out in
    turn gives every task the same mix whatever the seed."""
    rng = np.random.default_rng([seed, 3])
    chosen: dict[tuple[int, int], str] = {}
    while len(chosen) < MEDIA_TILES:
        level = int(rng.integers(5, 15))
        tx, ty = rng.integers(0, 2**level, 2)
        ref = f"tile/{level}/{tx}/{ty}"
        if spark_xxhash64(ref) % 3:  # not an image
            continue
        p = media_params(ref)
        area = p["width"] * p["height"]
        band = next((b for b, (lo, hi) in enumerate(AREA_BANDS) if lo <= area < hi), None)
        if band is not None:
            chosen.setdefault((_variant(p), band), ref)
    refs = [chosen[k] for k in sorted(chosen)]
    _write(pa.table({"media_ref": [refs[i] for i in rng.permutation(len(refs))]}), out)
    return {
        "inputs": {"media_refs": (len(refs), _dir_bytes(out))},
        "by_band": [chosen[k] for k in sorted(chosen, key=lambda k: (k[1], k[0]))],
    }


def digest(path: str) -> str:
    """sha256 over every file under ``path`` (names and bytes), in name
    order — the determinism self-test compares these."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            full = os.path.join(root, f)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
