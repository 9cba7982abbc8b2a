"""Multimodal media: real byte-level codecs (PNG/TIFF/WAV/GTV),
decoded-pixel statistics, frame explode, embeddings, span->media join."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geotools_spark.operators.media import (
    _audio_samples,
    _gradient_pixels,
    decode_audio_stats,
    decode_image_stats,
    frame_sample,
    media_embedding,
    resize_image_meta,
    synthetic_media,
    video_payload_frames,
)
from geotools_spark.operators.spans import explode_spans
from geotools_spark.sources import codecs
from geotools_spark.sources.tiff import read_strip_tiff_bytes
from geotools_spark.sources.datagen import synthetic_documents


@pytest.fixture(scope="module")
def media(spark):
    docs = synthetic_documents(spark, 300)
    refs = (
        explode_spans(docs)
        .filter(F.col("kind") == "media")
        .select("media_ref")
        .distinct()
    )
    return synthetic_media(spark, refs).cache()


# ------------------------------------------------------------- codecs


def test_png_round_trip_all_shapes():
    rs = np.random.RandomState(0)
    for shape in [(5, 7, 3), (4, 4, 1), (16, 9, 4), (1, 1, 3)]:
        a = rs.randint(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(codecs.decode_png(codecs.encode_png(a)), a)


def test_png_unfilters_all_five_filter_types():
    # handcraft a PNG whose rows use filters 0..4 (our encoder emits
    # only 0; the decoder must handle the full spec)
    import struct
    import zlib

    rs = np.random.RandomState(1)
    a = rs.randint(0, 256, (6, 5, 3), dtype=np.uint8)
    h, w, c = a.shape
    stride = w * c
    rows, prev = [], np.zeros(stride, np.int64)
    for r, f in zip(range(h), [0, 1, 2, 3, 4, 2]):
        cur = a[r].reshape(stride).astype(np.int64)
        if f == 0:
            enc = cur
        elif f == 1:
            left = np.concatenate([np.zeros(c, np.int64), cur[:-c]])
            enc = (cur - left) % 256
        elif f == 2:
            enc = (cur - prev) % 256
        elif f == 3:
            enc = np.empty(stride, np.int64)
            for x in range(stride):
                left = cur[x - c] if x >= c else 0
                enc[x] = (cur[x] - (left + prev[x]) // 2) % 256
        else:
            enc = np.empty(stride, np.int64)
            for x in range(stride):
                A = cur[x - c] if x >= c else 0
                B = int(prev[x])
                C = int(prev[x - c]) if x >= c else 0
                p = A + B - C
                pa, pb, pc = abs(p - A), abs(p - B), abs(p - C)
                pred = A if (pa <= pb and pa <= pc) else (B if pb <= pc else C)
                enc[x] = (cur[x] - pred) % 256
        rows.append(bytes([f]) + bytes(enc.astype(np.uint8)))
        prev = cur
    raw = b"".join(rows)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(codecs.decode_png(png), a)


def test_png_rejects_corrupt_crc():
    a = np.zeros((4, 4, 3), np.uint8)
    buf = bytearray(codecs.encode_png(a))
    buf[20] ^= 0xFF  # flip a byte inside IHDR
    with pytest.raises(ValueError, match="CRC"):
        codecs.decode_png(bytes(buf))


def test_tiff_round_trip_uint8():
    rs = np.random.RandomState(2)
    for shape in [(5, 7, 3), (9, 4, 1)]:
        a = rs.randint(0, 256, shape, dtype=np.uint8)
        t = codecs.encode_tiff(a)
        assert np.array_equal(codecs.decode_image(t), a)


def test_wav_round_trip():
    rs = np.random.RandomState(3)
    s = rs.randint(-32768, 32768, 1000).astype(np.int16)
    rate, ch, out = codecs.decode_wav(codecs.encode_wav(s, rate=16000))
    assert (rate, ch) == (16000, 1)
    assert np.array_equal(out, s)


def test_gtv_round_trip():
    frames = [codecs.encode_png(np.full((3, 3, 3), i, np.uint8)) for i in range(4)]
    assert codecs.decode_gtv(codecs.encode_gtv(frames)) == frames


def test_jpeg_blockflat_round_trip_exact():
    """Block-flat content (every 8x8 block constant) has DC-only
    spectra, so baseline JPEG at quant=1 round-trips BIT-EXACTLY —
    the property the hash-gated media oracle relies on."""
    from geotools_spark.operators.media import _blockflat_pixels

    for seed, (h, w) in [(0, (8, 8)), (37, (48, 80)), (200, (56, 24)), (255, (13, 21))]:
        px = _blockflat_pixels(seed, w, h)
        out = codecs.decode_jpeg(codecs.encode_jpeg(px, quant=1))
        assert np.array_equal(out, px), (seed, h, w)


def test_jpeg_general_content_and_entropy_paths():
    """Arbitrary content exercises the AC run-length/ZRL/EOB entropy
    paths: round trip within +/-1 at quant=1 (forward-DCT rounding),
    gray + non-multiple-of-8 dims crop correctly, and a lossy quant
    table still decodes to something close."""
    rs = np.random.RandomState(5)
    img = rs.randint(0, 256, (40, 56, 3)).astype(np.uint8)
    out = codecs.decode_jpeg(codecs.encode_jpeg(img, quant=1))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 1
    g = rs.randint(0, 256, (19, 33)).astype(np.uint8)
    og = codecs.decode_jpeg(codecs.encode_jpeg(g, quant=1))
    assert og.shape == (19, 33, 1)
    assert np.abs(og[:, :, 0].astype(int) - g.astype(int)).max() <= 1
    lossy = codecs.decode_jpeg(codecs.encode_jpeg(img, quant=16))
    assert lossy.shape == img.shape
    assert np.abs(lossy.astype(np.float64) - img).mean() < 8.0
    # magic dispatch reaches the JPEG decoder
    assert np.array_equal(codecs.decode_image(codecs.encode_jpeg(img, quant=1)), out)


def test_jpeg_subset_guards():
    """Spec features outside the supported subset fail loudly, never
    mis-decode (same contract as the other codecs' guards)."""
    img = np.zeros((8, 8, 3), np.uint8)
    buf = bytearray(codecs.encode_jpeg(img))
    i = buf.find(b"\xff\xc0")
    buf[i + 1] = 0xC9  # rewrite SOF0 -> SOF9 (arithmetic coding)
    with pytest.raises(NotImplementedError):
        codecs.decode_jpeg(bytes(buf))
    # SOF0 -> SOF2 alone makes a malformed progressive stream (its one
    # scan has Ss=0, Se=63 — illegal for a DC scan): reject, not
    # mis-decode
    buf2 = bytearray(codecs.encode_jpeg(img))
    i = buf2.find(b"\xff\xc0")
    buf2[i + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive scan header"):
        codecs.decode_jpeg(bytes(buf2))
    with pytest.raises(ValueError, match="SOI"):
        codecs.decode_jpeg(b"\x00\x01")


def test_jpeg_progressive_bit_identical_to_baseline():
    """Progressive (SOF2) encode->decode equals the baseline path
    BIT-EXACTLY for the same image and quant: successive approximation
    of integer coefficients is lossless once fully refined, so any
    difference is an entropy-coding bug. Content chosen to exercise
    every scan-kind branch: EOBn runs (flat/smooth), ZRL in first and
    refine scans (sparse spikes), history-coefficient correction bits
    (lossy quant), subsampled true-grid-vs-padded-grid walks (420)."""
    rs = np.random.RandomState(11)
    cases = [
        (np.full((128, 96), 77, np.uint8), {}),
        (rs.randint(0, 256, (40, 56, 3)).astype(np.uint8), {}),
        (rs.randint(0, 256, (19, 33)).astype(np.uint8), {}),
        (rs.randint(0, 256, (200, 72, 3)).astype(np.uint8), {"quant": 8}),
        (
            rs.randint(0, 256, (120, 56, 3)).astype(np.uint8),
            {"subsample": "420"},
        ),
        (
            rs.randint(0, 256, (33, 41, 3)).astype(np.uint8),
            {"subsample": "420", "ycbcr": True},
        ),
    ]
    sparse = np.zeros((96, 96), np.uint8)
    sparse.flat[rs.choice(96 * 96, 200, replace=False)] = rs.randint(
        1, 256, 200
    )
    cases.append((sparse, {}))
    # restart markers inside progressive scans (per-MCU in interleaved
    # DC scans, per-block in AC scans, EOB runs flushed at boundaries)
    cases.append(
        (
            rs.randint(0, 256, (80, 96, 3)).astype(np.uint8),
            {"restart_interval": 2, "subsample": "420"},
        )
    )
    # 16-bit DQT (precision 1) both directions
    cases.append(
        (rs.randint(0, 256, (48, 64, 3)).astype(np.uint8), {"quant": 300})
    )
    for img, kw in cases:
        bkw = {k: v for k, v in kw.items() if k != "restart_interval"}
        base = codecs.decode_jpeg(codecs.encode_jpeg(img, **bkw))
        penc = codecs.encode_jpeg(img, progressive=True, **kw)
        assert b"\xff\xc2" in penc  # really SOF2
        if kw.get("restart_interval"):
            assert b"\xff\xd0" in penc  # really carries RSTn markers
        assert np.array_equal(codecs.decode_jpeg(penc), base), (
            img.shape,
            kw,
        )
        # baseline NON-interleaved layout (one sequential scan per
        # component, true-grid walk, coefficient-store decode route):
        # also bit-identical to the interleaved stream's decode
        if img.ndim == 3:
            nenc = codecs.encode_jpeg(img, interleaved=False, **kw)
            assert nenc.count(b"\xff\xda") == 3  # really 3 scans
            assert np.array_equal(codecs.decode_jpeg(nenc), base), (
                img.shape,
                kw,
                "non-interleaved",
            )


def test_jpeg_real_world_layouts():
    """VERDICT r04 #4: 4:2:0 subsampling, restart intervals, and the
    JFIF YCbCr transform decode correctly; the default stream stays
    bit-identical (hash-gated fixtures depend on it)."""
    rng = np.random.RandomState(3)
    # 4:2:0 block-flat content (constant per 16x16 tile): chroma
    # box-average and replicate upsample are exact, q=1 DC-only blocks
    # are exact -> bit-exact round-trip even though the path is lossy
    tiles = rng.randint(0, 256, size=(3, 4, 3)).astype(np.uint8)
    arr = np.repeat(np.repeat(tiles, 16, axis=0), 16, axis=1)
    assert np.array_equal(
        codecs.decode_jpeg(codecs.encode_jpeg(arr, subsample="420")), arr
    )
    # general content: luma (full-res plane) still within +-1 at q=1
    arr = np.clip(rng.normal(128, 30, size=(33, 41, 3)), 0, 255).astype(np.uint8)
    dec = codecs.decode_jpeg(codecs.encode_jpeg(arr, subsample="420"))
    assert abs(dec[:, :, 0].astype(int) - arr[:, :, 0].astype(int)).max() <= 1
    # restart markers: stream contains RSTn, decode identical to no-DRI
    arr = rng.randint(0, 256, size=(40, 56, 3)).astype(np.uint8)
    enc = codecs.encode_jpeg(arr, restart_interval=3)
    assert b"\xff\xd0" in enc
    assert np.array_equal(
        codecs.decode_jpeg(enc), codecs.decode_jpeg(codecs.encode_jpeg(arr))
    )
    # the camera layout: YCbCr + 4:2:0 + DRI on smooth chroma
    yy, xx = np.mgrid[0:48, 0:64]
    arr = np.stack(
        [
            (xx * 2 + yy) % 256,
            128 + 60 * np.sin(xx / 20.0),
            128 + 60 * np.cos(yy / 24.0),
        ],
        axis=2,
    ).astype(np.uint8)
    dec = codecs.decode_jpeg(
        codecs.encode_jpeg(arr, subsample="420", ycbcr=True, restart_interval=4)
    )
    err = abs(dec.astype(int) - arr.astype(int))
    assert err.mean() < 3.5 and err.max() <= 8
    # YCbCr 4:4:4: transform rounding only
    dec2 = codecs.decode_jpeg(codecs.encode_jpeg(arr, ycbcr=True))
    assert abs(dec2.astype(int) - arr.astype(int)).max() <= 3


def test_tiff_compressed_round_trips():
    """VERDICT r04 #5: Deflate (with and without the horizontal
    predictor) and PackBits strips round-trip bit-exactly."""
    rng = np.random.RandomState(7)
    for shape in [(5, 7), (8, 8, 3), (3, 129, 1)]:
        arr = rng.randint(0, 256, size=shape).astype(np.uint8)
        a3 = arr if arr.ndim == 3 else arr[:, :, None]
        for comp, pred in [
            ("none", 1), ("deflate", 1), ("deflate", 2), ("packbits", 1),
            ("lzw", 1), ("lzw", 2),
        ]:
            buf = codecs.encode_tiff(
                arr, compression=comp, predictor=pred
            )
            data, _ = read_strip_tiff_bytes(buf)
            assert np.array_equal(data.astype(np.uint8), a3), (shape, comp, pred)
    # predictor makes smooth content smaller (the point of tag 317)
    grad = (np.arange(64)[None, :] + np.arange(32)[:, None]).astype(np.uint8)
    b1 = codecs.encode_tiff(grad, compression="deflate", predictor=1)
    b2 = codecs.encode_tiff(grad, compression="deflate", predictor=2)
    assert len(b2) < len(b1)


def test_tiff_tiled_uint16_float32_round_trips():
    """Round-5 real-world layouts: the tiled organization (TIFF 6.0
    §15, tags 322-325 — GDAL's TILED=YES default), uint16 samples, and
    the TechNote-3 float predictor (PREDICTOR=3) all round-trip
    bit-exactly, including edge tiles narrower than the tile size."""
    rng = np.random.RandomState(19)
    a8 = rng.randint(0, 256, size=(37, 53, 3)).astype(np.uint8)
    a16 = rng.randint(0, 65536, size=(41, 29)).astype(np.uint16)
    f32 = rng.normal(0, 100, size=(33, 47)).astype(np.float32)
    f32c3 = rng.normal(0, 10, size=(25, 31, 3)).astype(np.float32)
    cases = [
        (a16, dict(compression="deflate", predictor=2)),
        (a16, dict(compression="lzw", predictor=2)),
        (f32, dict(compression="deflate", predictor=3)),
        (f32c3, dict(compression="deflate", predictor=3)),
        (a8, dict(tile=(16, 16), compression="lzw", predictor=2)),
        (a16, dict(tile=(16, 32), compression="deflate", predictor=2)),
        (f32, dict(tile=(32, 16), compression="deflate", predictor=3)),
        (f32, dict(tile=(16, 16), compression="packbits")),
    ]
    for arr, kw in cases:
        buf = codecs.encode_tiff(arr, **kw)
        data, _ = read_strip_tiff_bytes(buf)
        ref = arr if arr.ndim == 3 else arr[:, :, None]
        assert np.array_equal(data, ref.astype(np.float64)), kw
    # predictor 3 earns its keep on smooth float content
    smooth = np.linspace(0.0, 500.0, 64 * 64).reshape(64, 64).astype(np.float32)
    p1 = codecs.encode_tiff(smooth, compression="deflate", predictor=1)
    p3 = codecs.encode_tiff(smooth, compression="deflate", predictor=3)
    assert len(p3) < len(p1)


def test_bigtiff_round_trips():
    """BigTIFF (version 43, 8-byte offsets, LONG8 offset arrays — the
    container GDAL writes for >4 GB rasters) round-trips across strip
    and tiled organizations, all sample types, and both predictors."""
    rng = np.random.RandomState(23)
    a8 = rng.randint(0, 256, size=(37, 53, 3)).astype(np.uint8)
    a16 = rng.randint(0, 65536, size=(19, 45)).astype(np.uint16)
    f32 = rng.normal(0, 5, size=(33, 47)).astype(np.float32)
    cases = [
        (a8, dict(bigtiff=True)),
        (a16, dict(bigtiff=True, compression="deflate", predictor=2)),
        (f32, dict(bigtiff=True, tile=(16, 16), compression="deflate", predictor=3)),
        (f32, dict(bigtiff=True, tile=(32, 16), compression="lzw", predictor=3)),
    ]
    for arr, kw in cases:
        buf = codecs.encode_tiff(arr, **kw)
        assert buf[2] == 43  # BigTIFF version
        data, _ = read_strip_tiff_bytes(buf)
        ref = arr if arr.ndim == 3 else arr[:, :, None]
        assert np.array_equal(data, ref.astype(np.float64)), kw


def test_tiff_predictor3_byte_layout_pinned():
    """The fpDiff byte order is pinned against a hand-computed vector
    so a symmetric encode/decode mistake can't hide behind the
    round-trip: row [1.0f, 2.0f] big-endians to 3F800000 40000000,
    splits MSB-first to 3F 40 80 00 00 00 00 00, and stride-1
    differencing gives 3F 01 40 80 00 00 00 00 (libtiff
    tif_predict.c fpDiff semantics)."""
    arr = np.array([[1.0, 2.0]], dtype=np.float32)
    buf = codecs.encode_tiff(arr, predictor=3)  # uncompressed
    assert buf[-8:] == bytes.fromhex("3F01408000000000")
    data, _ = read_strip_tiff_bytes(buf)
    assert np.array_equal(data[:, :, 0], arr.astype(np.float64))


def test_tiff_lzw_width_growth_and_reset():
    """LZW early-change width transitions (9->10->11->12 bits) and the
    4094-entry Clear/reset both sit inside one strip: a 64 KiB
    incompressible payload forces thousands of table inserts, and a
    repetitive payload exercises long match extension. Round-trips must
    be bit-exact (TIFF 6.0 spec 13; the early-change pairing is pinned
    by construction - decoder offsets 0/+1 desync on exactly this
    input)."""
    rng = np.random.RandomState(11)
    noisy = rng.randint(0, 256, size=(64, 1024)).astype(np.uint8)  # 64 KiB
    runs = np.tile(np.repeat(np.arange(16), 13)[None, :], (60, 1)).astype(np.uint8)
    for arr in (noisy, runs):
        buf = codecs.encode_tiff(arr, compression="lzw")
        data, _ = read_strip_tiff_bytes(buf)
        assert np.array_equal(data[:, :, 0].astype(np.uint8), arr)
    # compression actually compresses the compressible case
    raw = codecs.encode_tiff(runs, compression="none")
    lzw = codecs.encode_tiff(runs, compression="lzw")
    assert len(lzw) < len(raw) // 4


# ---------------------------------------------------------- operators


def test_media_schema_and_determinism(spark, media):
    rows = media.collect()
    assert len(rows) > 10
    kinds = {r.kind for r in rows}
    assert kinds == {"image", "audio", "video"}
    magics = {"image": (b"\x89PNG", b"II*\x00", b"\xff\xd8\xff"), "audio": (b"RIFF",), "video": (b"GTV1",)}
    for r in rows:
        head = bytes(r.payload[:4])
        assert any(head.startswith(m[: len(head)]) for m in magics[r.kind]), (r.kind, head)
        assert r.meta.width >= 64 and r.meta.height >= 64
    # determinism: regenerating yields identical payloads
    again = {r.media_ref: bytes(r.payload) for r in media.collect()}
    for r in rows:
        assert again[r.media_ref] == bytes(r.payload)
    # all three image formats actually occur (hash-chosen PNG/TIFF/JPEG)
    img_magics = {bytes(r.payload[:2]) for r in rows if r.kind == "image"}
    assert img_magics == {b"\x89P", b"II", b"\xff\xd8"}


def test_decode_image_stats_matches_closed_form(spark, media):
    out = {r.media_ref: r for r in decode_image_stats(media).collect()}
    imgs = media.filter(F.col("kind") == "image").collect()
    assert len(out) == len(imgs)
    for m in imgs:
        # closed form: mean_c = mean over rows of (seed + c + r) % 256;
        # seed is re-derived the same way the generator derives it
        px = codecs.decode_image(bytes(m.payload))
        h, w, c = px.shape
        assert (w, h) == (m.meta.width, m.meta.height)
        r = out[m.media_ref]
        s = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
        assert r.mean_r == int(s[0]) / (w * h)
        assert r.brightness == int(s.sum()) / (w * h * 3)
        # gradient content: every row is constant across columns
        assert (px == px[:, :1, :]).all()


def test_decode_audio_stats(spark, media):
    out = {r.media_ref: r for r in decode_audio_stats(media).collect()}
    auds = media.filter(F.col("kind") == "audio").collect()
    assert len(out) == len(auds)
    for m in auds:
        r = out[m.media_ref]
        assert r.n_samples == 16000 * m.meta.duration_ms // 1000
        _, _, s = codecs.decode_wav(bytes(m.payload))
        x = s.astype(np.float64)
        assert r.mean_amp == pytest.approx(x.mean())
        assert r.rms == pytest.approx(np.sqrt((x * x).mean()))


def test_video_payload_frames(spark, media):
    out = video_payload_frames(media).collect()
    vids = {r.media_ref: bytes(r.payload) for r in media.filter("kind = 'video'").collect()}
    per_ref = {}
    for r in out:
        per_ref.setdefault(r.media_ref, []).append(r)
    assert set(per_ref) == set(vids)
    for ref, rows in per_ref.items():
        frames = codecs.decode_gtv(vids[ref])
        assert len(rows) == len(frames)
        assert 2 <= len(frames) <= 6  # nframes = hash % 5 + 2
        for row in sorted(rows, key=lambda r: r.frame_idx):
            px = codecs.decode_png(frames[row.frame_idx])
            assert row.frame_mean == int(px.sum(dtype=np.int64)) / px.size


def test_resize_rewrites_meta_only(spark, media):
    before = {r.media_ref: len(r.payload) for r in media.collect()}
    out = resize_image_meta(media, width=224, height=224).collect()
    for r in out:
        assert (r.meta.width, r.meta.height) == (224, 224)
        assert len(r.payload) == before[r.media_ref]  # payload untouched


def test_resample_image_stats_real_pixels(spark, media):
    """The decode-time resample behind the stamped target: per-channel
    means of the bilinear-resampled ACTUAL pixels, checked against an
    independent per-pixel NumPy loop on the decoded source image."""
    from geotools_spark.operators.media import resample_image_stats

    tw, th = 16, 12
    out = {r.media_ref: r for r in resample_image_stats(media, width=tw, height=th).collect()}
    imgs = media.filter("kind = 'image'").collect()
    assert set(out) == {r.media_ref for r in imgs}
    for r in imgs:
        px = codecs.decode_image(bytes(r.payload)).astype(np.float64)
        h, w, _ = px.shape
        acc = np.zeros(3)
        for yo in range(th):
            for xo in range(tw):
                ys = min(max((yo + 0.5) * h / th - 0.5, 0.0), h - 1.0)
                xs = min(max((xo + 0.5) * w / tw - 0.5, 0.0), w - 1.0)
                y0, x0 = int(ys), int(xs)
                y1, x1 = min(y0 + 1, h - 1), min(x0 + 1, w - 1)
                fy, fx = ys - y0, xs - x0
                acc += (
                    px[y0, x0] * (1 - fy) * (1 - fx)
                    + px[y0, x1] * (1 - fy) * fx
                    + px[y1, x0] * fy * (1 - fx)
                    + px[y1, x1] * fy * fx
                )
        exp = acc / (tw * th)
        got = out[r.media_ref]
        assert (got.out_w, got.out_h) == (tw, th)
        np.testing.assert_allclose([got.mean_r, got.mean_g, got.mean_b], exp, rtol=1e-12)


def test_frame_sample_counts(spark, media):
    out = frame_sample(media, every_ms=500)
    got = {r[0]: r[1] for r in out.groupBy("media_ref").count().collect()}
    vids = {r.media_ref: r.meta.duration_ms for r in media.filter("kind = 'video'").collect()}
    assert set(got) == set(vids)
    for ref, dur in vids.items():
        assert got[ref] == (max(dur - 1, 0)) // 500 + 1


def test_media_embedding_normalized_and_decode_derived(spark, media):
    out = media_embedding(media, dim=8).collect()
    assert len(out) == media.count()
    payloads = {r.media_ref: (r.kind, bytes(r.payload)) for r in media.collect()}
    for r in out:
        v = np.array(r.embedding)
        assert len(v) == 8
        assert np.linalg.norm(v) == pytest.approx(1.0, abs=1e-9)
        kind, buf = payloads[r.media_ref]
        if kind == "image":
            # embedding is the row-index fold of the DECODED pixels
            px = codecs.decode_image(buf)
            ref = np.array(
                [int(px[k::8].sum(dtype=np.int64)) for k in range(8)], dtype=np.float64
            )
            n2 = int((ref.astype(np.int64) ** 2).sum())
            ref = ref / float(np.sqrt(float(n2)))
            assert np.array_equal(v, ref)


def test_gradient_and_audio_closed_forms():
    px = _gradient_pixels(250, 4, 300, frame=2)
    r = np.arange(300)[:, None]
    for c in range(3):
        assert np.array_equal(px[:, 0, c], ((250 + 2 + c + r[:, 0]) % 256).astype(np.uint8))
    s = _audio_samples(7, 1000)
    assert len(s) == 16000
    assert s[0] == (7 - 128) * 256 and s[300] == ((7 + 300) % 256 - 128) * 256


def test_span_media_join_preserves_sequence(spark, media):
    docs = synthetic_documents(spark, 300)
    spans = explode_spans(docs)
    j = spans.filter(F.col("kind") == "media").join(media, "media_ref", "inner")
    # every media span resolves, and (doc_id, span_idx) order is intact
    assert j.count() == spans.filter(F.col("kind") == "media").count()
    seq = j.select("doc_id", "span_idx").groupBy("doc_id").agg(
        F.sort_array(F.collect_list("span_idx")).alias("idxs")
    )
    for r in seq.collect():
        assert r.idxs == sorted(r.idxs)


def test_png_full_static_coverage():
    """PNG real-world layouts: palette (PLTE/tRNS, sub-byte indices),
    gray 1/2/4-bit (exact 8-bit expansion), 16-bit gray/RGB (uint16
    out), gray+alpha, and Adam7 interlace across all of them — every
    variant round-trips exactly, and the default stream stays
    byte-stable (hash-gated fixtures depend on it)."""
    rs = np.random.RandomState(3)
    # plain + interlaced round-trips across channel counts and depths
    for shape, dt in [
        ((20, 30, 3), np.uint8), ((15, 17, 4), np.uint8),
        ((15, 17, 2), np.uint8), ((20, 30, 3), np.uint16),
        ((9, 13), np.uint16), ((1, 1, 3), np.uint8),
    ]:
        a = rs.randint(0, np.iinfo(dt).max + 1, shape).astype(dt)
        a3 = a if a.ndim == 3 else a[:, :, None]
        for il in (False, True):
            d = codecs.decode_png(codecs.encode_png(a, interlace=il))
            assert d.dtype == dt and np.array_equal(d, a3), (shape, dt, il)
    # sub-byte gray: stored d-bit samples expand exactly to 8-bit
    for depth in (1, 2, 4):
        g = rs.randint(0, 1 << depth, (11, 23)).astype(np.uint8)
        want = (
            g.astype(np.uint16) * (255 // ((1 << depth) - 1))
        ).astype(np.uint8)[:, :, None]
        for il in (False, True):
            d = codecs.decode_png(
                codecs.encode_png(g, bit_depth=depth, interlace=il)
            )
            assert np.array_equal(d, want), (depth, il)
    # palette: every index depth, with and without tRNS alpha
    pal = rs.randint(0, 256, (16, 3)).astype(np.uint8)
    for depth in (1, 2, 4, 8):
        idx = rs.randint(0, min(1 << depth, 16), (14, 19)).astype(np.uint8)
        d = codecs.decode_png(
            codecs.encode_png_indexed(idx, pal, bit_depth=depth)
        )
        assert np.array_equal(d, pal[idx]), depth
    trns = rs.randint(0, 256, 10).astype(np.uint8)
    idx = rs.randint(0, 16, (14, 19)).astype(np.uint8)
    d = codecs.decode_png(
        codecs.encode_png_indexed(idx, pal, trns=trns, interlace=True)
    )
    alpha = np.concatenate([trns, np.full(6, 255, np.uint8)])
    assert np.array_equal(
        d, np.concatenate([pal[idx], alpha[idx][:, :, None]], axis=2)
    )
    # guard: palette stream without PLTE fails loudly
    buf = bytearray(codecs.encode_png_indexed(idx, pal))
    i = buf.find(b"PLTE") - 4
    ln = int.from_bytes(buf[i : i + 4], "big")
    del buf[i : i + 12 + ln]
    with pytest.raises(ValueError, match="PLTE"):
        codecs.decode_png(bytes(buf))


def test_tiff_planar_config_round_trips():
    """PlanarConfiguration 2 (separate planes, GDAL INTERLEAVE=BAND):
    plane-major strips and tiles round-trip exactly across dtypes,
    compressions, and predictors; predictors run within the plane."""
    rng = np.random.RandomState(11)
    for shape, dt in [
        ((9, 13, 3), np.uint8), ((8, 8, 3), np.uint16),
        ((6, 7, 3), np.float32), ((17, 5, 4), np.uint8),
    ]:
        if dt == np.float32:
            arr = rng.normal(0, 10, shape).astype(np.float32)
        else:
            arr = rng.randint(0, np.iinfo(dt).max + 1, shape).astype(dt)
        pred = 3 if dt == np.float32 else 2
        for comp in ("none", "lzw", "deflate", "packbits"):
            for tile in (None, (16, 16)):
                buf = codecs.encode_tiff(
                    arr, compression=comp,
                    predictor=pred if comp != "none" else 1,
                    tile=tile, planar=2,
                )
                data, _ = read_strip_tiff_bytes(buf)
                assert np.allclose(data, arr.astype(np.float64)), (
                    shape, dt, comp, tile,
                )


def test_wav_real_world_formats():
    """WAV beyond PCM16: PCM 8 (uint8 as stored) / 24 (sign-extended
    int32) / 32, IEEE float 32/64, and WAVE_FORMAT_EXTENSIBLE wrappers
    — all round-trip exactly; the default PCM16 stream stays
    byte-stable (hash-gated fixtures depend on it)."""
    rs = np.random.RandomState(3)
    cases = [
        (rs.randint(0, 256, 500).astype(np.uint8), {}),
        (rs.randint(-(1 << 23), 1 << 23, 500).astype(np.int32), {"bits": 24}),
        (
            rs.randint(-(1 << 31), (1 << 31) - 1, 500, dtype=np.int64).astype(
                np.int32
            ),
            {},
        ),
        (rs.normal(0, 1, 500).astype(np.float32), {}),
        (rs.normal(0, 1, 500).astype(np.float64), {}),
    ]
    for samp, kw in cases:
        for ext in (False, True):
            rate, ch, out = codecs.decode_wav(
                codecs.encode_wav(
                    samp, rate=44100, channels=2, extensible=ext, **kw
                )
            )
            assert (rate, ch) == (44100, 2)
            assert out.dtype == samp.dtype and np.array_equal(out, samp), (
                samp.dtype, kw, ext,
            )
    # odd-length PCM8 payload: RIFF word alignment must not corrupt
    s8 = rs.randint(0, 256, 501).astype(np.uint8)
    _, _, out = codecs.decode_wav(codecs.encode_wav(s8, rate=8000))
    assert np.array_equal(out, s8)
    # unsupported combination fails loudly
    buf = bytearray(codecs.encode_wav(s8, rate=8000))
    i = buf.find(b"fmt ") + 8
    buf[i] = 2  # ADPCM
    with pytest.raises(NotImplementedError):
        codecs.decode_wav(bytes(buf))


def test_media_refs_fast_path_matches_doc_explode(spark):
    """synthetic_media_refs must reproduce exactly the distinct media
    refs of the interleaved doc generator (the entry's media queries
    build the media table from the fast path)."""
    from geotools_spark.sources.datagen import synthetic_media_refs

    docs = synthetic_documents(spark, 1500)
    slow = sorted(
        r.media_ref
        for r in explode_spans(docs)
        .filter(F.col("kind") == "media")
        .select("media_ref")
        .distinct()
        .collect()
    )
    fast = sorted(
        r.media_ref for r in synthetic_media_refs(spark, 1500).collect()
    )
    assert fast == slow
