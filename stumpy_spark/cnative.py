"""Optional compiled matrix-profile kernel (ctypes, gcc-built at first use).

``_native/mp_top1.c`` implements the fused top-1 self-join diagonal-STOMP
kernel for integer series — the same drift-free recurrence and arithmetic
as :func:`stumpy_spark.kernels._mp_top1_diag`, operation-for-operation
(compiled with ``-ffp-contract=off`` so no FMA contraction changes the
rounding route; ``tests/test_kernels.py`` asserts bit-identical outputs).

The shared object is compiled lazily on first use with ``-march=native``
and cached under ``$STUMPY_SPARK_CKERNEL_DIR`` (default
``$TMPDIR/stumpy_spark_ckernel_<uid>``), named by a hash of the source
and the compiler flags, so the driver process builds it once and every
Spark worker on the host dlopens the cached copy.  Concurrent builders
race harmlessly: each compiles to a unique temp file and atomically
renames over the target.  The cache dir is created with mode 0700, and
a dir or shared object that another user owns, or that is group- or
world-writable, is refused before it is loaded.  Any failure (refused
cache, no gcc, compile error, load error) permanently disables the path
for the process and callers fall back to the numpy kernels — the
compiled path is an optimization, never a requirement.  The reason of a
failure is kept and reported by :func:`status`.

Set ``STUMPY_SPARK_NO_CKERNEL=1`` to disable (used by the fallback
parity tests).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import stat
import subprocess
import tempfile
import threading

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "_native", "mp_top1.c")
_CFLAGS = ["-O3", "-march=native", "-ffp-contract=off", "-fPIC",
           "-shared"]

_lock = threading.Lock()
_fn = None
_failed = False
_reason = None


def _build_dir() -> str:
    d = os.environ.get("STUMPY_SPARK_CKERNEL_DIR") or os.path.join(
        tempfile.gettempdir(), f"stumpy_spark_ckernel_{os.getuid()}")
    os.makedirs(d, mode=0o700, exist_ok=True)
    return d


def _check_private(path: str) -> None:
    """Raise unless ``path`` (the cache dir, or the kernel we dlopen) is
    owned by this user and not writable by group or others."""
    st = os.stat(path)
    if st.st_uid != os.getuid():
        raise PermissionError(f"refusing {path}: owned by uid "
                              f"{st.st_uid}, not {os.getuid()}")
    if st.st_mode & (stat.S_IWGRP | stat.S_IWOTH):
        raise PermissionError(f"refusing {path}: group- or world-writable")


def _load_lib():
    """Build (if needed) and dlopen the kernel; raise on any failure."""
    with open(_SRC, "rb") as f:
        src = f.read()
    tag = hashlib.sha256(src + " ".join(_CFLAGS).encode()).hexdigest()[:16]
    d = _build_dir()
    _check_private(d)
    so = os.path.join(d, f"mp_top1_{tag}.so")
    if not os.path.exists(so):
        fd, tmp = tempfile.mkstemp(suffix=".so", dir=d)
        os.close(fd)
        try:
            r = subprocess.run(["gcc", *_CFLAGS, "-o", tmp, _SRC, "-lm"],
                               capture_output=True, text=True, timeout=120)
            if r.returncode != 0:
                raise RuntimeError(f"gcc exited {r.returncode}: "
                                   f"{r.stderr[-2000:].strip()}")
            os.chmod(tmp, 0o700)      # the linker applies the umask
            os.replace(tmp, so)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    _check_private(so)
    return ctypes.CDLL(so)


def load():
    """Return the ctypes kernel entry point, or None if unavailable
    (the reason is then in :func:`status`)."""
    global _fn, _failed, _reason
    if _fn is not None or _failed:
        return _fn
    with _lock:
        if _fn is not None or _failed:
            return _fn
        if os.environ.get("STUMPY_SPARK_NO_CKERNEL"):
            _failed = True
            _reason = "disabled by STUMPY_SPARK_NO_CKERNEL"
            return None
        try:
            lib = _load_lib()
            fn = lib.mp_top1_self_int
            fn.restype = ctypes.c_int
            dp = ctypes.POINTER(ctypes.c_double)
            lp = ctypes.POINTER(ctypes.c_int64)
            ip = ctypes.POINTER(ctypes.c_int32)
            fn.argtypes = [dp, ctypes.c_int64, ctypes.c_int64,
                           ctypes.c_int64, ctypes.c_double,
                           dp, lp, dp, lp]
            ss = lib.sliding_stats_int32
            ss.restype = None
            ss.argtypes = [ip, lp, ctypes.c_int64, ctypes.c_int64,
                           ip, lp, dp, dp, dp, dp]
            fn._sliding_stats = ss
            _fn = fn
        except Exception as e:
            _failed = True
            _reason = f"{type(e).__name__}: {e}"
        return _fn


def status() -> dict:
    """``{"loaded": bool, "reason": str | None}`` for this process:
    ``reason`` says why the compiled kernel is unavailable (disabled,
    refused cache dir, gcc error with the tail of its stderr, load
    error)."""
    load()
    return {"loaded": _fn is not None, "reason": _reason}


def mp_top1_self_int(T, m: int, ez: int, p_norm_threshold: float):
    """Run the compiled kernel on one series.

    Returns ``(status, pr, ir, pl, il)`` where ``pr``/``pl`` are the
    right/left running minima in the shifted ``D^2 - 2m`` space and
    ``ir``/``il`` the neighbor indices (-1 where absent).  ``status``
    nonzero (or a None return from :func:`load`) means the caller must
    fall back to the numpy paths: 1 = ineligible series (non-integral /
    non-finite / magnitude bound), 2 = constant window present.
    """
    import numpy as np

    fn = load()
    if fn is None:
        return None
    l = T.shape[0] - m + 1
    pr = np.empty(l)
    ir = np.empty(l, dtype=np.int64)
    pl = np.empty(l)
    il = np.empty(l, dtype=np.int64)
    dp = ctypes.POINTER(ctypes.c_double)
    lp = ctypes.POINTER(ctypes.c_int64)
    status = fn(T.ctypes.data_as(dp), T.shape[0], m, ez,
                p_norm_threshold,
                pr.ctypes.data_as(dp), ir.ctypes.data_as(lp),
                pl.ctypes.data_as(dp), il.ctypes.data_as(lp))
    return status, pr, ir, pl, il


def sliding_stats_int32(vals, off, m: int):
    """Single-pass sliding stats over a flat int32 token batch.

    ``vals``: contiguous int32 values; ``off``: int64 offsets
    (n_docs + 1).  Returns ``(n_windows, sum_ws, min_mean, max_mean,
    min_std, max_std)`` per document (``n_windows == 0`` marks n < m),
    bit-identical to the numpy flat path — or None when the compiled
    library is unavailable.
    """
    import numpy as np

    fn = load()
    if fn is None:
        return None
    n_docs = len(off) - 1
    nw = np.empty(n_docs, dtype=np.int32)
    sum_ws = np.empty(n_docs, dtype=np.int64)
    mn = np.empty(n_docs)
    mx = np.empty(n_docs)
    mns = np.empty(n_docs)
    mxs = np.empty(n_docs)
    dp = ctypes.POINTER(ctypes.c_double)
    lp = ctypes.POINTER(ctypes.c_int64)
    ip = ctypes.POINTER(ctypes.c_int32)
    fn._sliding_stats(
        vals.ctypes.data_as(ip), off.ctypes.data_as(lp), n_docs, m,
        nw.ctypes.data_as(ip), sum_ws.ctypes.data_as(lp),
        mn.ctypes.data_as(dp), mx.ctypes.data_as(dp),
        mns.ctypes.data_as(dp), mxs.ctypes.data_as(dp))
    return nw, sum_ws, mn, mx, mns, mxs
