"""Optional compiled matrix-profile kernel (ctypes, gcc-built at first use).

``_native/mp_top1.c`` implements one diagonal-STOMP loop for integer
series: the top-1 minima of any row-range x column-range block of the
distance matrix, self-join or AB-join, over an exact-integer QT
recurrence, so the profile carries no recurrence drift and a block's
result does not depend on the blocking.  :func:`window_stats` checks a
series once and computes the stats every block of it reads;
:func:`top1_block` runs one block (``kernels._CSource``, behind
``kernels._top1_sweep``: the whole square of a self-join or AB-join in
``kernels.matrix_profile``, and the long-series tiles);
:func:`mp_top1_self_int` is the whole self-join of one series in one
call, kept as the benchmark's per-document probe and as a test
reference; :func:`summary_batch` is the same self-join for every
document of a flat Arrow batch, reduced to its motif/discord summary in
the same call (``operators.profile._flat_profile_summary``);
:func:`sliding_stats_int32` is the one-pass sliding-window stats of a
flat int32 batch.  A series the kernel declines runs the numpy GEMM
tile sweep, which ``tests/test_kernels.py`` holds to within 1e-8 of the
kernel.

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


def _bind(lib):
    """The library's entry points with their ctypes signatures, hung on
    its ``mp_top1_self_int`` (the object :func:`load` returns)."""
    dp = ctypes.POINTER(ctypes.c_double)
    lp = ctypes.POINTER(ctypes.c_int64)
    ip = ctypes.POINTER(ctypes.c_int32)
    vp = ctypes.c_void_p
    fn = lib.mp_top1_self_int
    fn.restype = ctypes.c_int
    fn.argtypes = [dp, ctypes.c_int64, ctypes.c_int64, ctypes.c_int64,
                   ctypes.c_double, dp, lp, dp, lp]
    ss = lib.sliding_stats_int32
    ss.restype = None
    ss.argtypes = [ip, lp, ctypes.c_int64, ctypes.c_int64,
                   ip, lp, dp, dp, dp, dp]
    fn._sliding_stats = ss
    ws = lib.mp_window_stats
    ws.restype = ctypes.c_int
    ws.argtypes = [vp, ctypes.c_int64, ctypes.c_int64, vp]
    fn._window_stats = ws
    blk = lib.mp_top1_block
    blk.restype = None
    blk.argtypes = [vp, vp, ctypes.c_int64, vp, vp, ctypes.c_int64,
                    *[ctypes.c_int64] * 6, ctypes.c_double, *[vp] * 4]
    fn._block = blk
    sb = lib.mp_summary_batch
    sb.restype = None
    sb.argtypes = [vp, vp, ctypes.c_int64, ctypes.c_int64, ctypes.c_int64,
                   ctypes.c_double, *[vp] * 7]
    fn._summary_batch = sb
    return fn


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
            _fn = _bind(_load_lib())
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
    """The whole top-1 self-join of one series in one kernel call: its
    :func:`window_stats`, then one :func:`top1_block` over the full
    square.

    Returns ``(status, pr, ir, pl, il)`` where ``pr``/``pl`` are the
    right/left running minima in the shifted ``D^2 - 2m`` space and
    ``ir``/``il`` the neighbor indices (-1 where absent).  ``status``
    nonzero (or a None return from :func:`load`) means the caller must
    fall back to the numpy paths: 1 = ineligible series (non-integral /
    non-finite / magnitude bound, or shorter than ``m``), 2 = constant
    window present, 3 = allocation failure.
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


def window_stats(T, m: int):
    """Check one contiguous float64 series and compute the window stats
    that every :func:`top1_block` over it reads, once per series.

    Returns ``(status, st)``: ``st`` is the (4, l) stats array, valid
    when ``status`` is 0 (the codes of :func:`mp_top1_self_int`); None
    when the compiled library is unavailable.
    """
    import numpy as np

    if T.dtype != np.float64 or not T.flags.c_contiguous:
        raise ValueError("window_stats needs a contiguous float64 series")
    fn = load()
    if fn is None:
        return None
    l = max(T.shape[0] - m + 1, 0)
    st = np.empty((4, l))
    status = fn._window_stats(T.ctypes.data, T.shape[0], m, st.ctypes.data)
    return status, st


def top1_block(A, sa, B, sb, m: int, r0: int, r1: int, c0: int, c1: int,
               ez: int, p_norm_threshold: float):
    """Top-1 minima of rows ``r0:r1`` of ``A`` against columns ``c0:c1``
    of ``B`` (contiguous float64 series with their :func:`window_stats`
    ``sa``/``sb``, status 0).  ``ez >= 0`` is a self-join (``B is A``):
    only cells with ``j - i > ez`` are evaluated, so a block is the
    diagonal block or lies above it; ``ez < 0`` an AB-join.

    Returns ``(pr, ir, pl, il)`` in the shifted ``D^2 - 2m`` space: the
    minima of rows r0:r1 with their column index, and (self-join only,
    else inf / -1) of columns c0:c1 with their row index.  The library
    must be loaded.
    """
    import numpy as np

    la, lb = A.shape[0] - m + 1, B.shape[0] - m + 1
    if not (0 <= r0 <= r1 <= la and 0 <= c0 <= c1 <= lb
            and sa.shape == (4, la) and sb.shape == (4, lb)
            and all(x.dtype == np.float64 and x.flags.c_contiguous
                    for x in (A, sa, B, sb))):
        raise ValueError(f"block rows {r0}:{r1} x cols {c0}:{c1} outside "
                         f"series of {la} x {lb} windows, or stats or "
                         f"series not contiguous float64")
    fn = load()
    out = (np.empty(r1 - r0), np.empty(r1 - r0, dtype=np.int64),
           np.empty(c1 - c0), np.empty(c1 - c0, dtype=np.int64))
    # raw addresses, each taken once: a self-join passes one series twice
    a, s = A.ctypes.data, sa.ctypes.data
    b, t = (a, s) if B is A and sb is sa else (B.ctypes.data, sb.ctypes.data)
    fn._block(a, s, A.shape[0], b, t, B.shape[0], m, r0, r1, c0, c1, ez,
              p_norm_threshold, *[x.ctypes.data for x in out])
    return out


def summary_batch(vals, off, m: int, ez: int, p_norm_threshold: float):
    """Top-1 self-join profile summaries of a whole flat batch in one
    kernel call: per doc of at least ``2m`` values, its
    :func:`window_stats`, one :func:`top1_block` over the full square,
    the ``kernels._top1`` epilogue and the first argmin/argmax over the
    finite ``P``.

    ``vals``: contiguous float64 values; ``off``: int64 offsets
    (n_docs + 1).  Returns ``(status, keep, n_windows, min_p, max_p,
    motif_i, motif_j)`` per doc, or None when the compiled library is
    unavailable.  ``status`` is that of :func:`mp_top1_self_int`: a doc
    with nonzero status is left unsummarised for the caller's fallback;
    a doc shorter than ``2m`` has status 0.  ``keep`` marks the docs
    summarised with one finite ``P`` at least; elsewhere ``min_p`` and
    ``max_p`` are NaN and the other arrays 0.
    """
    import numpy as np

    if not (vals.dtype == np.float64 and vals.flags.c_contiguous
            and off.dtype == np.int64 and off.flags.c_contiguous
            and len(off) and off[0] >= 0 and off[-1] <= len(vals)
            and (off[1:] >= off[:-1]).all()):
        raise ValueError("summary_batch needs contiguous float64 values "
                         "and non-decreasing int64 offsets into them")
    fn = load()
    if fn is None:
        return None
    n_docs = len(off) - 1
    out = (np.empty(n_docs, dtype=np.int32), np.empty(n_docs, dtype=bool),
           np.empty(n_docs, dtype=np.int32), np.empty(n_docs),
           np.empty(n_docs), np.empty(n_docs, dtype=np.int64),
           np.empty(n_docs, dtype=np.int64))
    fn._summary_batch(vals.ctypes.data, off.ctypes.data, n_docs, m, ez,
                      p_norm_threshold, *[a.ctypes.data for a in out])
    return out


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
