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


def test_ivf_index_cache_is_owner_checked(spark, cache, monkeypatch, capsys):
    """The ann_ivf query keeps its IVF index under the owner-checked
    cache dir; an index dir it may not trust is never read — the query
    falls back to the in-memory path, which returns the same rows."""
    import __spark_entry__ as entry_mod
    from geotools_spark.operators import similarity

    query = entry_mod.queries()["ann_ivf"]
    sf = entry_mod.SF0001
    indexed = sorted(query(spark, sf).collect())
    (idx,) = [p for p in cache.iterdir() if p.name.startswith("ivf_")]
    assert (idx / "_centroids.json").exists()
    assert stat.S_IMODE(os.stat(cache).st_mode) == 0o700

    if os.getuid() == 0:
        os.chown(idx, 12345, 12345)
    else:
        os.chmod(idx, 0o777)
    served = []
    real = similarity.ivf_ann_topk_indexed

    def spy(spark_, path, *a, **kw):
        served.append(path)
        return real(spark_, path, *a, **kw)

    monkeypatch.setattr(similarity, "ivf_ann_topk_indexed", spy)
    capsys.readouterr()
    fallback = sorted(query(spark, sf).collect())
    assert served == []
    assert "in-memory fallback" in capsys.readouterr().err
    assert fallback == indexed


def test_ivf_index_cache_tracks_a_single_file_source(spark, cache, tmp_path):
    """The index cache key fingerprints the embeddings source even when
    it is one parquet file, not a directory: rewriting the file builds
    a fresh index instead of serving the old one, and the fresh index
    replaces the old one in the cache (another sf's index stays)."""
    import shutil

    import __spark_entry__ as entry_mod

    sf = tmp_path / "sf"
    sf.mkdir()
    src = sf / "embeddings.parquet"
    shutil.copy(f"{entry_mod.SF0001}/embeddings.parquet", src)
    query = entry_mod.queries()["ann_ivf"]
    first = sorted(query(spark, str(sf)).collect())
    (old,) = [p.name for p in cache.iterdir() if p.name.startswith("ivf_sf_")]
    (cache / "ivf_sf2_1f").mkdir()  # another sf's index
    st = src.stat()
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert sorted(query(spark, str(sf)).collect()) == first
    (new,) = [p.name for p in cache.iterdir() if p.name.startswith("ivf_sf_")]
    assert new != old
    assert (cache / "ivf_sf2_1f").is_dir()
