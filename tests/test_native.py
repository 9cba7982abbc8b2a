"""The native kernel loader (geotools_spark._native) loads only a
library this user built: a file planted at its cache path that fails
the owner / permission check is refused with one warning, and the
fallback gives the identical result."""

import os
import stat
import warnings

import numpy as np
import pytest

from geotools_spark import _native
from geotools_spark.sources import _lzw_native, codecs


@pytest.fixture
def cache(tmp_path, monkeypatch):
    d = tmp_path / "cache"
    monkeypatch.setattr(_native, "CACHE_DIR", str(d))
    monkeypatch.setattr(_native, "_libs", {})
    return d


def _src() -> bytes:
    return bytes(np.random.RandomState(5).randint(0, 4, 50000, dtype=np.uint8))


def test_cache_dir_is_private(cache):
    if _lzw_native.get_lib() is None:
        pytest.skip("no C toolchain on this host")
    assert stat.S_IMODE(os.stat(cache).st_mode) == 0o700
    (so,) = [p for p in cache.iterdir() if p.suffix == ".so"]
    assert so.stat().st_uid == os.getuid()
    assert not so.stat().st_mode & (stat.S_IWGRP | stat.S_IWOTH)


@pytest.mark.parametrize("tamper", ["foreign_uid", "world_writable_dir", "group_writable_so"])
def test_foreign_library_refused(cache, monkeypatch, tamper):
    if _lzw_native.get_lib() is None:
        pytest.skip("no C toolchain on this host")
    src = _src()
    native_out = codecs._lzw_encode(src)
    (so,) = [p for p in cache.iterdir() if p.suffix == ".so"]

    # plant: the file at the cache path no longer passes the check
    if tamper == "foreign_uid":
        if os.getuid() != 0:
            pytest.skip("chown to another uid needs root")
        os.chown(so, 12345, 12345)
    elif tamper == "world_writable_dir":
        os.chmod(cache, 0o777)
    else:
        os.chmod(so, 0o770)
    before = so.stat()
    monkeypatch.setattr(_native, "_libs", {})  # a fresh process

    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        assert _lzw_native.get_lib() is None
        outs = [codecs._lzw_encode(src) for _ in range(3)]
    msgs = [str(w.message) for w in rec if issubclass(w.category, RuntimeWarning)]
    assert len(msgs) == 1 and "native lzw kernel unavailable" in msgs[0]
    assert ("owned by uid" if tamper == "foreign_uid" else "writable") in msgs[0]
    # refused, not rebuilt over
    after = so.stat()
    assert (after.st_uid, after.st_mode, after.st_mtime_ns) == (
        before.st_uid, before.st_mode, before.st_mtime_ns,
    )
    assert all(o == native_out for o in outs)
