"""Property-based codec tests (hypothesis): random shapes, dtypes, and
layout knobs round-trip losslessly (or bit-identically across decode
routes for JPEG). Pure NumPy — no Spark session, so these are cheap
despite the example counts."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geotools_spark.sources import codecs
from geotools_spark.sources.tiff import read_strip_tiff_bytes

_dims = st.integers(min_value=1, max_value=40)


@settings(max_examples=25, deadline=None)
@given(
    h=_dims, w=_dims,
    c=st.sampled_from([1, 2, 3, 4]),
    depth16=st.booleans(),
    interlace=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_round_trip_property(h, w, c, depth16, interlace, seed):
    rs = np.random.RandomState(seed)
    dt = np.uint16 if depth16 else np.uint8
    a = rs.randint(0, np.iinfo(dt).max + 1, (h, w, c)).astype(dt)
    d = codecs.decode_png(codecs.encode_png(a, interlace=interlace))
    assert d.dtype == dt and np.array_equal(d, a)


@settings(max_examples=25, deadline=None)
@given(
    h=_dims, w=_dims,
    c=st.sampled_from([1, 3, 4]),
    comp=st.sampled_from(["none", "lzw", "deflate", "packbits"]),
    tiled=st.booleans(),
    planar=st.sampled_from([1, 2]),
    kind=st.sampled_from(["u8", "u16", "f32"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_tiff_round_trip_property(h, w, c, comp, tiled, planar, kind, seed):
    rs = np.random.RandomState(seed)
    if kind == "f32":
        a = rs.normal(0, 100, (h, w, c)).astype(np.float32)
        pred = 3
    else:
        dt = np.uint8 if kind == "u8" else np.uint16
        a = rs.randint(0, np.iinfo(dt).max + 1, (h, w, c)).astype(dt)
        pred = 2
    buf = codecs.encode_tiff(
        a, compression=comp, predictor=pred if comp != "none" else 1,
        tile=(16, 16) if tiled else None, planar=planar,
    )
    d, _ = read_strip_tiff_bytes(buf)
    assert np.array_equal(d, a.astype(np.float64))


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(1, 400),
    ch=st.sampled_from([1, 2]),
    kind=st.sampled_from(["u8", "i16", "i24", "i32", "f32", "f64"]),
    ext=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_round_trip_property(n, ch, kind, ext, seed):
    rs = np.random.RandomState(seed)
    n *= ch
    kw = {}
    if kind == "u8":
        s = rs.randint(0, 256, n).astype(np.uint8)
    elif kind == "i16":
        s = rs.randint(-(1 << 15), 1 << 15, n).astype(np.int16)
    elif kind == "i24":
        s = rs.randint(-(1 << 23), 1 << 23, n).astype(np.int32)
        kw["bits"] = 24
    elif kind == "i32":
        s = rs.randint(-(1 << 31), (1 << 31) - 1, n, dtype=np.int64).astype(
            np.int32
        )
    elif kind == "f32":
        s = rs.normal(0, 1, n).astype(np.float32)
    else:
        s = rs.normal(0, 1, n).astype(np.float64)
    rate, c, out = codecs.decode_wav(
        codecs.encode_wav(s, rate=8000, channels=ch, extensible=ext, **kw)
    )
    assert (rate, c) == (8000, ch)
    assert out.dtype == s.dtype and np.array_equal(out, s)


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(1, 48), w=st.integers(1, 48),
    c=st.sampled_from([1, 3]),
    quant=st.sampled_from([1, 8, 300]),
    layout=st.sampled_from(["progressive", "noninterleaved", "dri"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_routes_bit_identical_property(h, w, c, quant, layout, seed):
    """Whatever the entropy layout, decode equals the interleaved
    baseline stream's decode bit-for-bit (same quantized coefficients,
    different coding only)."""
    rs = np.random.RandomState(seed)
    a = rs.randint(0, 256, (h, w, c)).astype(np.uint8)
    base = codecs.decode_jpeg(codecs.encode_jpeg(a, quant=quant))
    if layout == "progressive":
        alt = codecs.encode_jpeg(a, quant=quant, progressive=True)
    elif layout == "noninterleaved":
        if c == 1:
            return  # layout needs >1 component
        alt = codecs.encode_jpeg(a, quant=quant, interleaved=False)
    else:
        alt = codecs.encode_jpeg(
            a, quant=quant, progressive=True, restart_interval=2
        )
    assert np.array_equal(codecs.decode_jpeg(alt), base)


def test_native_lzw_byte_parity(monkeypatch):
    """The compiled LZW encoder must emit the byte-identical stream of
    the Python loop (greedy LZW is deterministic) across entropy
    regimes, resets (>3836 table inserts) and degenerate inputs."""
    import numpy as np

    from geotools_spark import _native
    from geotools_spark.sources import _lzw_native, codecs

    if _lzw_native.get_lib() is None:
        import pytest

        pytest.skip("no C toolchain on this host")
    rng = np.random.RandomState(99)
    cases = [
        b"",
        b"A",
        b"ABAB" * 50,
        bytes(rng.randint(0, 256, 200000, dtype=np.uint8)),  # high entropy
        bytes(rng.randint(0, 3, 400000, dtype=np.uint8)),    # low entropy
        bytes(np.tile(np.arange(256, dtype=np.uint8), 300)),
        bytes(300000),                                        # constant
    ]
    got = [codecs._lzw_encode(src) for src in cases]
    monkeypatch.setattr(_native, "ENABLED", False)
    assert _lzw_native.get_lib() is None
    assert [codecs._lzw_encode(src) for src in cases] == got
