"""Pure-NumPy/stdlib media codecs: PNG, strip TIFF, WAV PCM, and a
minimal frame container — the REAL byte-level decode path behind the
multimodal operators (operators/media.py).

No Pillow/libvips/ffmpeg exists in this environment, so these are
implemented from the public format specifications directly:

- PNG (RFC 2083): 8-bit gray/RGB/RGBA, zlib-inflated IDAT, all five
  standard row filters (None/Sub/Up/Average/Paeth) unfiltered in
  NumPy. CRCs verified on read. The encoder emits filter-0 rows —
  simple and optimal for the synthetic gradient content; the decoder
  handles the full filter set (Sub vectorizes as a per-channel
  cumsum; Average/Paeth are sequential by spec and run as cold
  per-row loops — exercised by tests, never emitted by our encoder).
- TIFF 6.0: uncompressed contiguous strips, uint8 or float32 samples
  (sources/tiff.py does the IFD walk; this module adds the uint8
  encoder and the bytes entry point).
- WAV (RIFF): PCM16 mono/stereo.
- GTV: a 16-byte-header frame container (magic, frame count, frame
  lengths, concatenated PNG frames) standing in for a video container
  — parsing structure is real, codec-per-frame is PNG.
- baseline JPEG (ITU-T T.81): sources/jpeg.py — Huffman entropy
  decode + dequant + IDCT, re-exported here and dispatched on the
  FFD8 magic; the real-world lossy codec in the image path.

The reference's raster IO contract is include/raster.hpp:419-772
(GDAL-backed there); this module is the in-sandbox equivalent for the
media decode seam.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 interlace passes: (x0, y0, dx, dy) per PNG spec §8.2
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


# ---------------------------------------------------------------- PNG

def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _pack_rows(samples: np.ndarray, depth: int) -> bytes:
    """(h, w, c) samples -> filter-0 scanline bytes at ``depth``."""
    h = samples.shape[0]
    if depth == 16:
        body = samples.astype(">u2").reshape(h, -1).view(np.uint8)
    elif depth == 8:
        body = samples.astype(np.uint8).reshape(h, -1)
    else:
        flat = samples.astype(np.uint8).reshape(h, -1)
        bits = np.unpackbits(flat[:, :, None], axis=2)[:, :, 8 - depth :]
        body = np.packbits(bits.reshape(h, -1), axis=1)
    return np.concatenate(
        [np.zeros((h, 1), np.uint8), body], axis=1
    ).tobytes()


def _adam7_payload(arr: np.ndarray, depth: int) -> bytes:
    h, w = arr.shape[:2]
    out = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = arr[y0::dy, x0::dx]
        if sub.shape[0] and sub.shape[1]:
            out += _pack_rows(sub, depth)
    return bytes(out)


def encode_png(
    arr: np.ndarray,
    *,
    level: int = 6,
    interlace: bool = False,
    bit_depth: int | None = None,
) -> bytes:
    """Encode (h, w[, c]) uint8/uint16 -> PNG bytes (filter 0 rows).

    c in {1, 2, 3, 4} -> gray / gray+alpha / RGB / RGBA; uint16 input
    writes depth 16. ``bit_depth`` of 1/2/4 (gray only) packs sub-byte
    samples — values must already fit the depth. ``interlace`` writes
    Adam7. The default call is byte-stable with prior rounds (the
    hash-gated fixtures depend on it)."""
    if arr.dtype == np.uint16:
        depth = 16
        arr = np.ascontiguousarray(arr)
    else:
        depth = bit_depth or 8
        arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}.get(c)
    if ctype is None:
        raise ValueError(f"unsupported channel count {c}")
    if depth < 8:
        if c != 1:
            raise ValueError("sub-byte depth is gray-only")
        if int(arr.max(initial=0)) >= (1 << depth):
            raise ValueError(f"samples exceed {depth}-bit range")
    raw = _adam7_payload(arr, depth) if interlace else _pack_rows(arr, depth)
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, ctype, 0, 0, 1 if interlace else 0
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, level))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_indexed(
    idx: np.ndarray,
    palette: np.ndarray,
    *,
    bit_depth: int = 8,
    trns: np.ndarray | None = None,
    level: int = 6,
    interlace: bool = False,
) -> bytes:
    """Encode palette PNG (color type 3): ``idx`` (h, w) indices into
    ``palette`` (n, 3) uint8; optional ``trns`` per-index alpha."""
    idx = np.ascontiguousarray(idx, dtype=np.uint8)[:, :, None]
    palette = np.ascontiguousarray(palette, dtype=np.uint8)
    if int(idx.max(initial=0)) >= (1 << bit_depth):
        raise ValueError(f"palette index exceeds {bit_depth}-bit range")
    h, w = idx.shape[:2]
    raw = (
        _adam7_payload(idx, bit_depth)
        if interlace
        else _pack_rows(idx, bit_depth)
    )
    ihdr = struct.pack(
        ">IIBBBBB", w, h, bit_depth, 3, 0, 0, 1 if interlace else 0
    )
    out = _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(
        b"PLTE", palette.tobytes()
    )
    if trns is not None:
        out += _png_chunk(b"tRNS", np.asarray(trns, dtype=np.uint8).tobytes())
    return (
        out
        + _png_chunk(b"IDAT", zlib.compress(raw, level))
        + _png_chunk(b"IEND", b"")
    )


def _unfilter(raw: bytes, h: int, rowbytes: int, bpp: int) -> np.ndarray:
    """Reverse PNG scanline filters over one (sub-)image: ``raw`` is
    h rows of (1 filter byte + rowbytes); ``bpp`` is the filter's
    byte-per-pixel offset (max(1, channels*depth//8) per spec §9).
    Returns (h, rowbytes) uint8."""
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, rowbytes + 1)
    ftypes = rows[:, 0]
    data = rows[:, 1:]
    out = np.empty((h, rowbytes), dtype=np.uint8)
    prev = np.zeros(rowbytes, dtype=np.int64)
    for r in range(h):
        cur = data[r].astype(np.int64)
        f = int(ftypes[r])
        if f == 0:
            rec = cur
        elif f == 1:  # Sub: + left same-channel -> cumsum mod 256
            rec = (
                cur.reshape(rowbytes // bpp, bpp).cumsum(axis=0) % 256
            ).reshape(rowbytes)
        elif f == 2:  # Up
            rec = (cur + prev) % 256
        elif f == 3:  # Average — sequential by spec (cold path)
            rec = np.empty(rowbytes, dtype=np.int64)
            for x in range(rowbytes):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (cur[x] + (left + prev[x]) // 2) % 256
        elif f == 4:  # Paeth — sequential by spec (cold path)
            rec = np.empty(rowbytes, dtype=np.int64)
            for x in range(rowbytes):
                a = rec[x - bpp] if x >= bpp else 0
                b = int(prev[x])
                cc = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                rec[x] = (cur[x] + pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[r] = rec
        prev = rec
    return out


def _rowbytes(w: int, c: int, depth: int) -> int:
    return (w * c * depth + 7) // 8


def _rows_to_samples(rows: np.ndarray, w: int, c: int, depth: int) -> np.ndarray:
    """(h, rowbytes) filtered-out bytes -> (h, w, c) samples (uint8 for
    depth<=8, uint16 for depth 16). Sub-byte samples unpack MSB-first."""
    h = rows.shape[0]
    if depth == 16:
        return (
            rows.reshape(h, -1)
            .view(">u2")
            .astype(np.uint16)
            .reshape(h, w, c)
        )
    if depth == 8:
        return rows.reshape(h, w, c)
    # MSB-first groups: sample i occupies bits [i*depth, (i+1)*depth)
    bits = np.unpackbits(rows, axis=1).reshape(h, -1, depth)
    out = np.zeros(bits.shape[:2], dtype=np.uint8)
    for b in range(depth):
        out = (out << 1) | bits[:, :, b]
    return out[:, : w * c].reshape(h, w, c)


def decode_png(buf: bytes) -> np.ndarray:
    """PNG bytes -> (h, w, c) array.

    Full static-image coverage: color types 0/2/3/4/6 (gray, RGB,
    palette, gray+alpha, RGBA), bit depths 1/2/4/8/16, interlace 0 and
    Adam7, all five scanline filters. Palette output expands through
    PLTE (+tRNS alpha when present -> RGBA); sub-byte gray scales to
    8-bit (×255/(2^d−1), exact); depth-16 returns uint16, everything
    else uint8. tRNS color-key transparency on gray/RGB (a display
    hint, not pixel data) is ignored."""
    if buf[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    idat = bytearray()
    plte = None
    trns = None
    while pos + 8 <= len(buf):
        (ln,) = struct.unpack(">I", buf[pos : pos + 4])
        tag = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", buf[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = bytes(data)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0 or interlace not in (0, 1):
        raise NotImplementedError("non-standard PNG compression/interlace")
    c = _CHANNELS.get(ctype)
    if c is None:
        raise NotImplementedError(f"PNG color type {ctype} unsupported")
    valid = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
             4: (8, 16), 6: (8, 16)}
    if depth not in valid[ctype]:
        raise ValueError(f"invalid depth {depth} for color type {ctype}")
    if ctype == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    raw = zlib.decompress(bytes(idat))
    bpp = max(1, c * depth // 8)
    sdtype = np.uint16 if depth == 16 else np.uint8
    if interlace == 0:
        rb = _rowbytes(w, c, depth)
        if len(raw) != h * (rb + 1):
            raise ValueError("PNG scanline payload size mismatch")
        samples = _rows_to_samples(_unfilter(raw, h, rb, bpp), w, c, depth)
    else:  # Adam7: 7 independently-filtered sub-images, concatenated
        samples = np.zeros((h, w, c), dtype=sdtype)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            rb = _rowbytes(pw, c, depth)
            chunk_len = ph * (rb + 1)
            sub = _rows_to_samples(
                _unfilter(raw[off : off + chunk_len], ph, rb, bpp),
                pw, c, depth,
            )
            samples[y0::dy, x0::dx] = sub
            off += chunk_len
        if off != len(raw):
            raise ValueError("PNG Adam7 payload size mismatch")
    if ctype == 3:
        idx = samples[:, :, 0]
        if trns is not None:
            alpha = np.full(len(plte), 255, dtype=np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            return np.concatenate(
                [plte[idx], alpha[idx][:, :, None]], axis=2
            )
        return plte[idx]
    if ctype == 0 and depth < 8:
        # exact 8-bit expansion: 255/(2^d-1) is an integer for d=1/2/4
        return (samples.astype(np.uint16) * (255 // ((1 << depth) - 1))).astype(
            np.uint8
        )
    return samples.astype(sdtype)


# --------------------------------------------------------------- TIFF

def _packbits_encode(src: bytes) -> bytes:
    """TIFF 6.0 PackBits: emit repeat runs (>=3 equal bytes) as
    (257-n, byte) and everything else as literal blocks of <=128."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n:
        run = 1
        while i + run < n and run < 128 and src[i + run] == src[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, src[i]])
            i += run
            continue
        lit_start = i
        i += run
        while i < n and i - lit_start < 128:
            run = 1
            while i + run < n and run < 3 and src[i + run] == src[i]:
                run += 1
            if run >= 3:
                break
            i += 1
        out += bytes([i - lit_start - 1]) + src[lit_start:i]
    return bytes(out)


def _lzw_encode(src: bytes) -> bytes:
    """TIFF 6.0 §13 LZW with early change: MSB-first bit packing,
    9..12-bit codes, Clear=256, EOI=257; the string table resets when
    the next code would be 4094 (the spec's early-change reset point),
    keeping any compliant reader — including GDAL/libtiff — in sync.

    Native fast path: greedy LZW is deterministic, so the compiled
    encoder (sources/_lzw_native) produces the byte-identical stream
    ~50x faster (the Python loop pays a dict lookup plus an
    O(match-length) bytes concat per input byte); parity pinned in
    tests/test_codecs_property.py. Falls through when no compiler."""
    from geotools_spark.sources import _lzw_native

    fast = _lzw_native.encode(src)
    if fast is not None:
        return fast
    out = bytearray()
    bitbuf = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    def fresh():
        return {bytes([i]): i for i in range(256)}

    table = fresh()
    next_code = 258
    width = 9
    emit(256, width)  # spec: every strip starts with a Clear
    omega = b""
    for b in src:
        cand = omega + bytes([b])
        if cand in table:
            omega = cand
            continue
        emit(table[omega], width)
        table[cand] = next_code
        next_code += 1
        # early change: the DECODER grows its width when its table hits
        # (1<<w)-1 entries, which happens as it mirrors this insert —
        # so the encoder must widen at the same point
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        elif next_code == 4094:  # 12-bit early-change ceiling: reset
            emit(256, width)
            table = fresh()
            next_code = 258
            width = 9
        omega = bytes([b])
    if omega:
        emit(table[omega], width)
    emit(257, width)  # EndOfInformation
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)  # pad final byte
    return bytes(out)


def _tiff_predict(block: np.ndarray, predictor: int, dt: np.dtype) -> bytes:
    """Apply the TIFF predictor to one strip/tile and serialize.
    2 = per-channel horizontal differencing (integer samples);
    3 = TechNote-3 float byte-split: per row, floats go big-endian,
    the four significance streams concatenate MSB-first, then the
    row's bytes are differenced with stride = samples-per-pixel
    (libtiff fpDiff)."""
    bh, bw, c = block.shape
    if predictor == 1:
        return np.ascontiguousarray(block, dt).tobytes()
    if predictor == 2:
        d = block.astype(np.int64)
        d[:, 1:, :] = d[:, 1:, :] - block[:, :-1, :].astype(np.int64)
        return (d % (1 << (dt.itemsize * 8))).astype(dt).tobytes()
    if predictor == 3:
        cc = bw * c * 4
        be = (
            np.ascontiguousarray(block, ">f4")
            .view(np.uint8)
            .reshape(bh, bw * c, 4)
        )
        streams = np.ascontiguousarray(np.transpose(be, (0, 2, 1))).reshape(
            bh, cc // c, c
        )
        d = streams.astype(np.int16)
        d[:, 1:, :] = d[:, 1:, :] - streams[:, :-1, :].astype(np.int16)
        return (d % 256).astype(np.uint8).tobytes()
    raise ValueError(f"predictor {predictor}")


def encode_tiff(
    arr: np.ndarray,
    *,
    compression: str = "none",
    predictor: int = 1,
    tile: tuple[int, int] | None = None,
    bigtiff: bool = False,
    planar: int = 1,
) -> bytes:
    """(h, w[, c]) uint8 / uint16 / float32 -> classic little-endian
    TIFF, contiguous samples. ``compression``: "none", "lzw" (tag 5),
    "deflate" (tag 8, zlib), or "packbits" (32773). ``predictor``:
    1, 2 (horizontal differencing, integer samples), or 3 (float
    byte-split, float32 — GDAL's recommended PREDICTOR=3 layout).
    ``tile=(tw, th)`` writes the tiled organization (TIFF 6.0 §15,
    tags 322-325, edge tiles zero-padded to full size — GDAL's
    TILED=YES default for large GeoTIFFs); otherwise one strip.
    ``bigtiff=True`` writes the BigTIFF variant (version 43, 8-byte
    offsets, LONG8 offset arrays — what GDAL emits for >4 GB rasters).
    ``planar=2`` writes separate sample planes (tag 284, plane-major
    strip/tile order — GDAL's INTERLEAVE=BAND layout).
    Readable by sources.tiff.read_strip_tiff_bytes."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    if arr.dtype == np.uint8:
        bps, sfmt, dt = 8, 1, np.dtype("<u1")
    elif arr.dtype == np.uint16:
        bps, sfmt, dt = 16, 1, np.dtype("<u2")
    elif arr.dtype == np.float32:
        bps, sfmt, dt = 32, 3, np.dtype("<f4")
    else:
        raise ValueError(f"unsupported dtype {arr.dtype} (uint8/uint16/float32)")
    if predictor == 2 and sfmt == 3:
        raise ValueError("predictor 2 is integer-only; use 3 for float32")
    if predictor == 3 and sfmt != 3:
        raise ValueError("predictor 3 is float-only")

    def compress(payload: bytes) -> bytes:
        if compression == "deflate":
            return zlib.compress(payload)
        if compression == "lzw":
            return _lzw_encode(payload)
        if compression == "packbits":
            return _packbits_encode(payload)
        return payload

    comp_tag = {"none": 1, "lzw": 5, "deflate": 8, "packbits": 32773}[compression]

    if planar not in (1, 2):
        raise ValueError(f"planar config {planar}")
    # planar=2: each emitted strip/tile carries ONE sample plane, in
    # plane-major order (all of sample 0's blocks, then sample 1's, …)
    planes = (
        [arr] if planar == 1 else [arr[:, :, s : s + 1] for s in range(c)]
    )
    blocks: list[bytes] = []
    if tile is not None:
        tw, th = tile
        if tw % 16 or th % 16:
            raise ValueError("TIFF tile dims must be multiples of 16")
        down = (h + th - 1) // th
        across = (w + tw - 1) // tw
        for plane in planes:
            pc = plane.shape[2]
            padded = np.zeros((down * th, across * tw, pc), dtype=arr.dtype)
            padded[:h, :w] = plane
            for ty in range(down):
                for tx in range(across):
                    block = padded[
                        ty * th : (ty + 1) * th, tx * tw : (tx + 1) * tw
                    ]
                    blocks.append(compress(_tiff_predict(block, predictor, dt)))
    else:
        for plane in planes:
            blocks.append(compress(_tiff_predict(plane, predictor, dt)))

    # --- IFD assembly: (tag, type, values) with >4-byte runs spilled
    tags: list[tuple[int, int, list[int]]] = [
        (256, 4, [w]),                 # ImageWidth
        (257, 4, [h]),                 # ImageLength
        (258, 3, [bps] * c),           # BitsPerSample
        (259, 3, [comp_tag]),          # Compression
        (262, 3, [2 if c >= 3 else 1]),  # Photometric: RGB / gray
        (277, 3, [c]),                 # SamplesPerPixel
        (339, 3, [sfmt] * c),          # SampleFormat
    ]
    if predictor != 1:
        tags.append((317, 3, [predictor]))
    if planar == 2:
        tags.append((284, 3, [2]))     # PlanarConfiguration: separate
    off_type = 16 if bigtiff else 4  # LONG8 offset arrays in BigTIFF
    if tile is not None:
        tags.append((322, 4, [tw]))    # TileWidth
        tags.append((323, 4, [th]))    # TileLength
        tags.append((324, off_type, [0] * len(blocks)))  # TileOffsets (patched)
        tags.append((325, 4, [len(b) for b in blocks]))  # TileByteCounts
        off_tag = 324
    else:
        tags.append((273, off_type, [0] * len(blocks)))  # StripOffsets (patched)
        tags.append((278, 4, [h]))     # RowsPerStrip (one strip per plane)
        tags.append((279, 4, [len(b) for b in blocks]))  # StripByteCounts
        off_tag = 273
    tags.sort(key=lambda t: t[0])

    type_fmt = {3: "H", 4: "I", 16: "Q"}
    type_size = {3: 2, 4: 4, 16: 8}
    inline = 8 if bigtiff else 4       # value slot width in an entry
    if bigtiff:
        ifd_off = 16
        ifd_size = 8 + len(tags) * 20 + 8
    else:
        ifd_off = 8
        ifd_size = 2 + len(tags) * 12 + 4
    extra_off = ifd_off + ifd_size
    # first pass: size the spill area
    extra_size = sum(
        type_size[typ] * len(vals)
        for _, typ, vals in tags
        if type_size[typ] * len(vals) > inline
    )
    data_off = extra_off + extra_size
    # patch block offsets now that the layout is known
    offs: list[int] = []
    pos = data_off
    for b in blocks:
        offs.append(pos)
        pos += len(b)
    tags = [
        (tag, typ, offs if tag == off_tag else vals) for tag, typ, vals in tags
    ]

    if bigtiff:
        out = bytearray(struct.pack("<2sHHHQ", b"II", 43, 8, 0, ifd_off))
        out += struct.pack("<Q", len(tags))
    else:
        out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_off))
        out += struct.pack("<H", len(tags))
    cnt_fmt = "Q" if bigtiff else "I"
    extra = bytearray()
    for tag, typ, vals in tags:
        size = type_size[typ] * len(vals)
        packed = struct.pack("<" + type_fmt[typ] * len(vals), *vals)
        out += struct.pack("<HH" + cnt_fmt, tag, typ, len(vals))
        if size <= inline:
            out += packed.ljust(inline, b"\0")
        else:
            out += struct.pack("<" + cnt_fmt, extra_off + len(extra))
            extra += packed
    out += struct.pack("<" + cnt_fmt, 0)  # next IFD
    assert len(extra) == extra_size
    out += extra
    for b in blocks:
        out += b
    return bytes(out)


# ---------------------------------------------------------------- WAV

# WAVE_FORMAT_EXTENSIBLE subformat GUID tail (fixed per RFC 2361):
# first two bytes carry the actual format code
_WAVEX_GUID_TAIL = bytes.fromhex("000000001000800000AA00389B71")


def encode_wav(
    samples: np.ndarray,
    *,
    rate: int,
    channels: int = 1,
    bits: int | None = None,
    extensible: bool = False,
) -> bytes:
    """Samples (interleaved if multichannel) -> RIFF/WAVE.

    Format follows the dtype: int16 -> PCM16 (byte-stable with prior
    rounds), uint8 -> PCM8, int32 -> PCM32 (or PCM24 with ``bits=24``,
    low three bytes), float32/float64 -> IEEE float (format 3).
    ``extensible=True`` wraps the format in WAVE_FORMAT_EXTENSIBLE
    (0xFFFE + subformat GUID — what most DAWs emit for >2 channels)."""
    samples = np.asarray(samples)
    if samples.dtype == np.int16:
        afmt, width, pcm = 1, 2, np.ascontiguousarray(samples, "<i2").tobytes()
    elif samples.dtype == np.uint8:
        afmt, width, pcm = 1, 1, np.ascontiguousarray(samples, "u1").tobytes()
    elif samples.dtype == np.int32 and bits == 24:
        le = np.ascontiguousarray(samples, "<i4").view(np.uint8).reshape(-1, 4)
        afmt, width, pcm = 1, 3, le[:, :3].tobytes()
    elif samples.dtype == np.int32:
        afmt, width, pcm = 1, 4, np.ascontiguousarray(samples, "<i4").tobytes()
    elif samples.dtype == np.float32:
        afmt, width, pcm = 3, 4, np.ascontiguousarray(samples, "<f4").tobytes()
    elif samples.dtype == np.float64:
        afmt, width, pcm = 3, 8, np.ascontiguousarray(samples, "<f8").tobytes()
    else:
        raise ValueError(f"unsupported sample dtype {samples.dtype}")
    block = width * channels
    if extensible:
        fmt = struct.pack(
            "<HHIIHHHHI", 0xFFFE, channels, rate, rate * block, block,
            width * 8, 22, width * 8, (1 << channels) - 1,
        ) + struct.pack("<H", afmt) + _WAVEX_GUID_TAIL
    elif afmt == 3:  # IEEE float carries the cbSize=0 extension
        fmt = struct.pack(
            "<HHIIHHH", afmt, channels, rate, rate * block, block,
            width * 8, 0,
        )
    else:
        fmt = struct.pack(
            "<HHIIHH", afmt, channels, rate, rate * block, block, width * 8
        )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    if len(pcm) & 1:
        body += b"\x00"  # RIFF chunks are word-aligned
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(buf: bytes) -> tuple[int, int, np.ndarray]:
    """WAV bytes -> (rate, channels, samples).

    Covers PCM 8 (uint8 as stored), 16 (int16), 24 (sign-extended
    int32), 32 (int32), IEEE float 32/64, and WAVE_FORMAT_EXTENSIBLE
    wrappers of any of those. Integer samples keep their native
    magnitude (no normalization)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos = 12
    rate = channels = afmt = bits = None
    raw = None
    while pos + 8 <= len(buf):
        tag = buf[pos : pos + 4]
        (ln,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        data = buf[pos + 8 : pos + 8 + ln]
        if tag == b"fmt ":
            afmt, channels, rate, _, _, bits = struct.unpack(
                "<HHIIHH", data[:16]
            )
            if afmt == 0xFFFE:  # extensible: real code leads the GUID
                if len(data) < 40:
                    raise ValueError("truncated WAVE_FORMAT_EXTENSIBLE")
                (afmt,) = struct.unpack("<H", data[24:26])
        elif tag == b"data":
            raw = data
        pos += 8 + ln + (ln & 1)
    if rate is None or raw is None:
        raise ValueError("WAV missing fmt/data chunk")
    if afmt == 1 and bits == 16:
        pcm = np.frombuffer(raw, dtype="<i2")
    elif afmt == 1 and bits == 8:
        pcm = np.frombuffer(raw, dtype="u1")
    elif afmt == 1 and bits == 24:
        b = np.frombuffer(raw, dtype="u1").reshape(-1, 3).astype(np.int32)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        pcm = v - ((v & 0x800000) << 1)  # sign-extend bit 23
    elif afmt == 1 and bits == 32:
        pcm = np.frombuffer(raw, dtype="<i4")
    elif afmt == 3 and bits == 32:
        pcm = np.frombuffer(raw, dtype="<f4")
    elif afmt == 3 and bits == 64:
        pcm = np.frombuffer(raw, dtype="<f8")
    else:
        raise NotImplementedError(f"WAV format {afmt} / {bits}-bit unsupported")
    return int(rate), int(channels), pcm


# ------------------------------------------------- GTV frame container

_GTV_MAGIC = b"GTV1"


def encode_gtv(frames: list[bytes]) -> bytes:
    """Frame container: magic, u32 count, u32 lengths, frame bytes."""
    head = _GTV_MAGIC + struct.pack("<I", len(frames))
    head += struct.pack("<" + "I" * len(frames), *[len(f) for f in frames])
    return head + b"".join(frames)


def decode_gtv(buf: bytes) -> list[bytes]:
    if buf[:4] != _GTV_MAGIC:
        raise ValueError("not a GTV container")
    (n,) = struct.unpack("<I", buf[4:8])
    lens = struct.unpack("<" + "I" * n, buf[8 : 8 + 4 * n])
    out = []
    pos = 8 + 4 * n
    for ln in lens:
        out.append(buf[pos : pos + ln])
        pos += ln
    return out


# ----------------------------------------------------------- dispatch

def decode_image(buf: bytes) -> np.ndarray:
    """Magic-dispatch image decode -> uint8 (h, w, c)."""
    if buf[:8] == _PNG_SIG:
        return decode_png(buf)
    if buf[:2] in (b"II", b"MM"):
        from .tiff import read_strip_tiff_bytes

        data, _ = read_strip_tiff_bytes(bytes(buf))
        return np.ascontiguousarray(data).astype(np.uint8)
    if buf[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(bytes(buf))
    raise ValueError(f"unknown image magic {bytes(buf[:4])!r}")


# baseline JPEG (sources/jpeg.py) — re-exported so callers use one
# codec namespace; decode_image dispatches on the FFD8 magic above
from .jpeg import decode_jpeg, encode_jpeg  # noqa: E402,F401
