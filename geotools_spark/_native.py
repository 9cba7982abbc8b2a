"""Compile-once loader for the package's C kernels (ctypes).

Each kernel module (``functions/_delaunay_native``,
``sources/_lzw_native``) hands over its C source, compiler flags and
ctypes signatures; this module compiles the source once per machine
and user into a content-hashed ``.so`` and loads it.

Trust rule: a shared library is code, so only a file this user built
is loaded. The cache dir is a per-uid directory created with mode
0700. Before ``CDLL`` both the dir and the ``.so`` must be owned by
the current uid and must not be group- or world-writable; the dir must
be a real directory and the ``.so`` a regular file (no symlinks).
Because no one else can write into a 0700 dir we own, the checked file
cannot be swapped between the check and the load. A file that fails
the check is refused, never rebuilt over.

No compiler, a failed build or a refused file -> ``load`` returns None,
the caller keeps its NumPy / Python loop (bit-identical results, only
slower), and one ``RuntimeWarning`` per kernel says why.

Tests force the fallback by monkeypatching ``ENABLED`` to False.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import stat
import subprocess
import tempfile
import threading
import warnings

#: False forces every kernel onto its fallback (checked on each call).
ENABLED = True

#: Per-user build cache; created with mode 0700.
CACHE_DIR = os.path.join(tempfile.gettempdir(), f"geotools_spark-{os.getuid()}")

# kernel name -> loaded library, or None once the fallback engaged;
# the lock makes build-and-warn happen once per kernel per process
_libs: dict[str, ctypes.CDLL | None] = {}
_lock = threading.Lock()


def _check_owned(path: str, is_dir: bool) -> None:
    """Raise PermissionError unless ``path`` is a real directory /
    regular file owned by this uid and not group- or world-writable."""
    st = os.lstat(path)
    kind_ok = stat.S_ISDIR(st.st_mode) if is_dir else stat.S_ISREG(st.st_mode)
    if not kind_ok:
        raise PermissionError(f"{path} is not a regular {'dir' if is_dir else 'file'}")
    if st.st_uid != os.getuid():
        raise PermissionError(f"{path} is owned by uid {st.st_uid}, not {os.getuid()}")
    if st.st_mode & (stat.S_IWGRP | stat.S_IWOTH):
        raise PermissionError(f"{path} is group- or world-writable")


def _build(name: str, source: str, cflags: list[str]) -> str:
    """Path of the trusted compiled library, compiling it if absent."""
    os.makedirs(CACHE_DIR, mode=0o700, exist_ok=True)
    _check_owned(CACHE_DIR, is_dir=True)
    tag = hashlib.md5((source + " ".join(cflags)).encode()).hexdigest()[:12]
    so = os.path.join(CACHE_DIR, f"{name}_{tag}.so")
    if not os.path.lexists(so):
        fd, csrc = tempfile.mkstemp(suffix=".c", dir=CACHE_DIR)
        with os.fdopen(fd, "w") as fh:
            fh.write(source)
        fd, tmp_so = tempfile.mkstemp(suffix=".so", dir=CACHE_DIR)
        os.close(fd)
        try:
            subprocess.run(
                ["gcc", *cflags, "-o", tmp_so, csrc],
                check=True, capture_output=True, timeout=120,
            )
            # the umask may leave gcc's output group-writable
            os.chmod(tmp_so, 0o700)
            os.replace(tmp_so, so)  # atomic: concurrent builds race benignly
        finally:
            os.unlink(csrc)
            if os.path.exists(tmp_so):
                os.unlink(tmp_so)
    _check_owned(so, is_dir=False)
    return so


def load(name: str, source: str, cflags: list[str], signatures: dict) -> ctypes.CDLL | None:
    """ctypes handle to kernel ``name`` with ``signatures``
    (``{symbol: (restype, argtypes)}``) applied, or None when the
    fallback is forced or engaged."""
    if not ENABLED:
        return None
    with _lock:
        if name not in _libs:
            _libs[name] = _load(name, source, cflags, signatures)
        return _libs[name]


def _load(name: str, source: str, cflags: list[str], signatures: dict) -> ctypes.CDLL | None:
    try:
        lib = ctypes.CDLL(_build(name, source, cflags))
        for sym, (restype, argtypes) in signatures.items():
            fn = getattr(lib, sym)
            fn.restype = restype
            fn.argtypes = argtypes
        return lib
    except Exception as exc:  # no gcc, build error, refused file
        warnings.warn(
            f"geotools_spark: native {name} kernel unavailable ({exc}); "
            "using the slower NumPy/Python fallback",
            RuntimeWarning,
            stacklevel=4,
        )
        return None
