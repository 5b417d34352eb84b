"""Incremental (streaming) matrix profile.

Every streaming state of the engine — ``stumpi`` and ``aampi``
(stumpy/stumpi.py, stumpy/aampi.py), in growing and egress mode, and the
FLOSS right profile (:mod:`stumpy_spark.streaming.floss`) — is one state
machine, :class:`_IncrementalProfile`: append a point, in egress mode
drop the oldest, compute the newest window's distance profile, merge it
into the profile.  It has three parts:

- **one window buffer** of per-point and per-window arrays with one
  capacity.  Growing mode never advances its start and grows the
  arrays geometrically; egress mode advances the start by one per
  append and compacts the arrays to the front when the buffer is full,
  so no array shifts per update.
- **one distance routine**, :meth:`_IncrementalProfile._distance_profile`:
  one matrix-vector product ``QT = W @ q`` of the window matrix with
  the newest window, then ``kernels.squared_distance_profile`` (z-norm)
  or ``kernels._sq_euclid`` / ``kernels._pnorm_direct`` (p-norm), with
  one finite mask and one exclusion zone.  There is no QT recurrence, so
  a pair's distance depends on its two windows only.
- **one top-k merge over absolute indices** (core.py:4448-4511
  ``_update_incremental_PI``): the newest window is a candidate for
  every older row, and its own row is the top-k of its profile.  The
  window-relative, ``-1``-for-egressed and ``absolute_indices=True``
  views are derived from the stored absolute indices.

Non-finite appends follow the reference contract (stumpy/stumpi.py:
316-334): the point is zeroed in the stored series, a per-point finite
mask is tracked, windows containing a non-finite point get ``mu = inf``
/ ``sigma = nan`` / ``isconstant = False``, and while the newest window
contains one its whole distance profile is inf.

:func:`stumpi_stream` wires :class:`StumpiState` (or
:class:`~stumpy_spark.streaming.floss.AampiState`) into Structured
Streaming via ``applyInPandasWithState`` keyed by ``doc_id``; the state
is :meth:`_IncrementalProfile.to_tuple`.  One key's updates are
sequential; throughput scales across keys (sequences), which is the
engine's unit of parallelism everywhere else too.
"""

from __future__ import annotations

import math

import numpy as np

from .. import kernels


def _grow(arr: np.ndarray, need: int) -> np.ndarray:
    """Geometric growth: return ``arr`` with capacity >= need (rows)."""
    cap = arr.shape[0]
    if cap >= need:
        return arr
    new_cap = max(need, 2 * cap)
    shape = (new_cap,) + arr.shape[1:]
    out = np.empty(shape, dtype=arr.dtype)
    out[:cap] = arr
    return out


def _topk_insert_rows(P: np.ndarray, I: np.ndarray, D: np.ndarray,
                      new_j_abs: int, stop: int) -> None:
    """Insert candidate (D[i], new_j_abs) into each sorted top-k row
    ``P[i] / I[i]`` for i < stop (core.py:4495-4499 semantics:
    ``searchsorted(side='right')`` keeps earlier-seen neighbors first on
    ties)."""
    k = P.shape[1]
    if k == 1:
        rows = (D[:stop] < P[:stop, 0]).nonzero()[0]
        P[rows, 0] = D[rows]
        I[rows, 0] = new_j_abs
        return
    rows = np.flatnonzero(D[:stop] < P[:stop, -1])
    for i in rows:
        pos = np.searchsorted(P[i], D[i], side="right")
        P[i, pos + 1:] = P[i, pos:-1]
        P[i, pos] = D[i]
        I[i, pos + 1:] = I[i, pos:-1]
        I[i, pos] = new_j_abs


def _topk_row(D: np.ndarray, k: int, idx_offset: int):
    """Top-k (distance, index) of a distance profile with ties broken
    toward the smaller index (core.py:4502-4509 loop semantics), (inf,
    -1) past its finite entries; scalars for ``k == 1``."""
    if k == 1:
        j = D.argmin()
        return (D[j], j + idx_offset) if D[j] < np.inf else (np.inf, -1)
    vals, cols = (x[0] for x in kernels.topk_tie_aware(
        D[None], min(k, len(D))))
    take = np.flatnonzero(np.isfinite(vals))
    P_row = np.full(k, np.inf)
    I_row = np.full(k, -1, dtype=np.int64)
    P_row[take] = vals[take]
    I_row[take] = cols[take] + idx_offset
    return P_row, I_row


class _IncrementalProfile:
    """The one incremental top-k profile state (see the module
    docstring).  The public states fix its class flags: ``_normalize``
    (z-norm, else p-norm), ``_egress`` (sliding window, else growing)
    and ``_right`` (``P``/``I`` hold the right profile, FLOSS: the
    newest window has no right neighbor).

    ``I`` entries are absolute stream positions.  Accessors:

    - ``P_`` / ``P``: the profile, 1-D for ``k == 1``, else (l, k);
    - ``I_``: absolute indices; an egressed neighbor reads -1 unless
      ``absolute_indices=True`` (the reference's egress contract,
      stumpy/stumpi.py:290-303, whose indices may point at egressed
      points);
    - ``I``: window-relative indices (egressed neighbors go negative,
      the incremental naive oracles' bookkeeping); "no neighbor" stays
      -1;
    - ``left_P_`` / ``left_I_``: the top-1 left profile, ``left_I_``
      masked like ``I_``.

    In growing mode nothing egresses and all three index views agree.
    """

    _normalize = True
    _egress = True
    _right = False

    def __init__(self, T: np.ndarray, m: int, k: int = 1, p: float = 2.0,
                 absolute_indices: bool = False, mp=None):
        """``mp``: optional precomputed profile of ``T`` — ``(P, I, IL,
        IR, PL, PR)`` from ``kernels.matrix_profile(T, m, k=k,
        return_left_right_P=True)`` (z-norm) or ``(P, I, IL, IR)`` from
        ``kernels.matrix_profile_absolute(T, m, p=p, k=k)`` (p-norm) —
        the reference's ``mp=`` resume shortcut (stumpy/stumpi.py:
        205-211) that skips the O(n^2) batch profile when resuming a
        stream."""
        T = np.asarray(T, dtype=np.float64)
        self.m, self.k, self.p = m, k, p
        self.absolute_indices = absolute_indices
        self.n, self.n_appended = len(T), 0
        l = self.n - m + 1
        if self._normalize:
            self.shift = 0.0
            Tc, M_T, Sigma_T, finw, con = kernels.preprocess(T, m)
            stats = {"M": M_T, "Sig": Sigma_T, "con": con}
            if mp is None:
                mp = kernels.matrix_profile(T, m, k=k,
                                            return_left_right_P=True)
        else:
            self.shift = kernels._int_shift(T)
            Tc, w2, finw = kernels._preprocess_abs(T, m, self.shift)
            stats = {"w2": w2}
            if mp is None:
                mp = kernels.matrix_profile_absolute(T, m, p=p, k=k)
        P, I, IL, IR = mp[:4]
        if self._right:
            P, I = mp[5], IR
        if np.asarray(P).reshape(l, -1).shape != (l, k):
            raise ValueError(f"mp profile shape {np.asarray(P).shape} does "
                             f"not match (l={l}, k={k})")
        IL = np.asarray(IL, dtype=np.int64).reshape(l)
        if self._normalize:
            PL = np.asarray(mp[4], dtype=np.float64).reshape(l)
        else:
            # left profile values from the left indices (the reference's
            # stumpi-style left_P reconstruction)
            wins = np.lib.stride_tricks.sliding_window_view(Tc, m)
            PL = kernels._p_root(kernels._pnorm_direct(wins, wins[IL], p), p)
            PL[IL < 0] = np.inf
        self._alloc(T=Tc, isfin=np.isfinite(T), finw=finw,
                    P=np.asarray(P, dtype=np.float64).reshape(l, k),
                    I=np.asarray(I, dtype=np.int64).reshape(l, k),
                    lP=PL, lI=IL, **stats)

    def _alloc(self, **arrays) -> None:
        """The window buffer: every per-point and per-window array at one
        capacity (a window lives at the index of its first point), the
        visible points at ``[_lo, _lo + n)``."""
        n = self.n
        cap = 2 * n if self._egress else max(2 * n, n + 64)
        self._a = {name: _grow(arr, cap) for name, arr in arrays.items()}
        self._lo = 0

    def _push(self) -> None:
        """Make room for one appended point at the end of the buffer."""
        a, lo, n = self._a, self._lo, self.n
        if not self._egress:
            for name, arr in a.items():
                a[name] = _grow(arr, n + 1)
            self.n += 1
            return
        if lo + n == a["T"].shape[0]:         # full: compact to the front
            for arr in a.values():
                arr[:n] = arr[lo:lo + n]
            lo = 0
        self._lo = lo + 1
        self.n_appended += 1

    def _win(self, name: str) -> np.ndarray:
        """The visible windows' slice of a per-window array."""
        return self._a[name][self._lo:self._lo + self.n - self.m + 1]

    def _distance_profile(self, T: np.ndarray, wins: slice) -> np.ndarray:
        """Distances of the newest window ``q`` of the visible series
        ``T`` to each of its windows ``W`` (buffer slice ``wins``): one
        matrix-vector product ``QT = W @ q`` (computed as one correlation
        of ``T`` with ``q``, which runs at BLAS speed where numpy's
        matmul loops over the strided window matrix), the z-norm or
        p-norm formula, the finite mask and the exclusion zone."""
        m, p, a = self.m, self.p, self._a
        q = T[-m:]
        if self._normalize:
            M, Sig, con = a["M"][wins], a["Sig"][wins], a["con"][wins]
            D2 = kernels.squared_distance_profile(
                np.correlate(T, q, "valid"), M[-1], Sig[-1], M, Sig, m,
                con[-1], con)
        else:
            W = np.lib.stride_tricks.sliding_window_view(T, m)
            if p == 2.0:
                w2 = a["w2"][wins]
                D2 = kernels._sq_euclid(np.correlate(T, q, "valid"), w2,
                                        w2[-1], W, q)
            else:
                D2 = kernels._pnorm_direct(W, q, p)
        fin = a["finw"][wins]
        if not fin[-1]:
            D2[:] = np.inf
        elif not fin.all():
            np.copyto(D2, np.inf, where=~fin)
        D = np.sqrt(D2, out=D2) if p == 2.0 else kernels._p_root(D2, p)
        kernels.apply_exclusion_zone(D, len(D) - 1, np.inf,
                                     kernels.excl_zone(m))
        return D

    def update(self, t: float) -> None:
        """Append one point (egress mode: and drop the oldest); the
        newest window's row is its top-k, and it is a candidate for
        every older row (stumpy/stumpi.py:290-443)."""
        m, a = self.m, self._a
        finite = math.isfinite(t)
        self._push()
        lo, n = self._lo, self.n
        a["T"][lo + n - 1] = float(t) - self.shift if finite else 0.0
        a["isfin"][lo + n - 1] = finite
        T = a["T"][lo:lo + n]
        wins = slice(lo, lo + n - m + 1)
        w = wins.stop - 1                     # the newest window
        q = T[-m:]
        q_fin = bool(a["isfin"][w:w + m].all())
        a["finw"][w] = q_fin
        if not self._normalize:
            a["w2"][w] = kernels._sq_norms(q[None])[0]
        elif q_fin:
            # q.mean() and q.std(), spelled out: numpy's own arithmetic
            # (bit-identical) in a third of the calls
            a["M"][w] = mu = np.add.reduce(q) / m
            d = q - mu
            a["Sig"][w] = math.sqrt(np.add.reduce(d * d) / m)
            a["con"][w] = q.max() == q.min()
        else:
            a["M"][w], a["Sig"][w], a["con"][w] = np.inf, np.nan, False
        D = self._distance_profile(T, wins)
        new_abs = self.n_appended + len(D) - 1
        _topk_insert_rows(a["P"][wins], a["I"][wins], D, new_abs,
                          len(D) - 1)
        a["P"][w], a["I"][w] = _topk_row(D, self.k, self.n_appended)
        a["lP"][w], a["lI"][w] = a["P"][w, 0], a["I"][w, 0]
        if self._right:
            a["P"][w], a["I"][w] = np.inf, -1

    # -- accessors --------------------------------------------------------
    def _out(self, X: np.ndarray) -> np.ndarray:
        return X[:, 0] if self.k == 1 else X

    def _visible(self, I: np.ndarray) -> np.ndarray:
        return I if self.absolute_indices else np.where(
            I >= self.n_appended, I, -1)

    @property
    def P(self):
        return self._out(self._win("P"))

    P_ = P

    @property
    def I(self):
        I = self._win("I")
        return self._out(np.where(I >= 0, I - self.n_appended, -1))

    @property
    def I_(self):
        return self._out(self._visible(self._win("I")))

    @property
    def left_P_(self):
        return self._win("lP")

    @property
    def left_I_(self):
        return self._visible(self._win("lI"))

    # -- serialization for applyInPandasWithState -------------------------
    def to_tuple(self):
        """``(m, n, n_appended, shift, T, isfin, P, I, left_P, left_I,
        stats)``: the visible buffer, with ``stats`` the window stats the
        distance routine reads (z-norm: means then stds; p-norm: square
        sums).  They travel rather than being recomputed on rehydration
        so a round-tripped state is bit-identical to the live one: the
        incremental per-window stats are not reproducible from the
        whole-array formulas at the last ulp.  ``p`` does not travel, so
        a p-norm state round-trips at p = 2 only."""
        lo, n = self._lo, self.n
        stats = ("M", "Sig") if self._normalize else ("w2",)
        return (self.m, n, self.n_appended, self.shift,
                self._a["T"][lo:lo + n].tolist(),
                self._a["isfin"][lo:lo + n].tolist(),
                self._win("P").ravel().tolist(),
                self._win("I").ravel().tolist(),
                self._win("lP").tolist(), self._win("lI").tolist(),
                np.concatenate([self._win(x) for x in stats]).tolist())

    @classmethod
    def from_tuple(cls, tup, absolute_indices: bool = False):
        obj = cls.__new__(cls)
        (obj.m, obj.n, obj.n_appended, obj.shift, T, isfin, P, I, lP, lI,
         stats) = tup
        m, l = obj.m, obj.n - obj.m + 1
        obj.k, obj.p = max(len(P) // l, 1), 2.0
        obj.absolute_indices = absolute_indices
        T = np.asarray(T, dtype=np.float64)
        isfin = np.asarray(isfin, dtype=bool)
        # finw/con are exact booleans, derivable from the zeroed series
        # and the point mask
        T_nan = np.where(isfin, T, np.nan)
        finw = kernels.rolling_isfinite(T_nan, m)
        stats = np.asarray(stats, dtype=np.float64).reshape(-1, l)
        if cls._normalize:
            stats = {"M": stats[0], "Sig": stats[1],
                     "con": kernels.rolling_isconstant(T_nan, m)}
        else:
            stats = {"w2": stats[0]}
        obj._alloc(T=T, isfin=isfin, finw=finw,
                   P=np.asarray(P, dtype=np.float64).reshape(l, obj.k),
                   I=np.asarray(I, dtype=np.int64).reshape(l, obj.k),
                   lP=np.asarray(lP, dtype=np.float64),
                   lI=np.asarray(lI, dtype=np.int64), **stats)
        return obj


class GrowingStumpiState(_IncrementalProfile):
    """Incremental top-k z-norm matrix profile, growing mode — the
    reference's ``stumpi(egress=False)`` (stumpy/stumpi.py:369-443): the
    history is retained, the profile gains one row per appended point,
    and indices are absolute stream positions.  After any number of
    appends, ``P_``/``I_`` equal the batch ``matrix_profile`` of the full
    series (every (i, j) pair is offered as a candidate exactly once).
    An update costs O(n·m) and amortized O(1) allocation."""

    _egress = False

    def __init__(self, T: np.ndarray, m: int, k: int = 1, mp=None):
        super().__init__(T, m, k=k, mp=mp)


class StumpiState(_IncrementalProfile):
    """Incremental top-k z-norm matrix profile with egress over one
    sequence (stumpy/stumpi.py:266-367 ``_update_egress``): a
    fixed-length window over the stream."""

    def __init__(self, T: np.ndarray, m: int, k: int = 1,
                 absolute_indices: bool = False, mp=None):
        super().__init__(T, m, k=k, absolute_indices=absolute_indices,
                         mp=mp)


def stumpi_stream(stream_df, m: int, window_n: int,
                  timeout_ms: int = 60000, normalize: bool = True,
                  k: int = 1):
    """Wire StumpiState (or AampiState when ``normalize=False`` — the
    aampi reroute) into Structured Streaming.

    ``stream_df`` must be a streaming DataFrame with columns
    ``(doc_id string, pos long, value double)``; rows for a doc must arrive
    in ``pos`` order within a batch (cross-batch ordering is the source's
    responsibility, e.g. Kafka per-key ordering).  Emits one row per
    processed batch per key with the current profile arrays; for ``k > 1``
    the P/I arrays are row-major flattened (l, k) top-k profiles
    (``k`` is only supported on the normalized path).  The group state is
    the state's ``to_tuple()`` plus ``buf``, the points that arrived
    before the first ``window_n``.
    """
    if k > 1 and not normalize:
        raise ValueError("k > 1 requires normalize=True (aampi is top-1)")
    import pandas as pd
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("P", T.ArrayType(T.DoubleType())),
        T.StructField("I", T.ArrayType(T.LongType())),
    ])
    state_schema = T.StructType([
        T.StructField("m", T.IntegerType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("n_appended", T.IntegerType()),
        T.StructField("shift", T.DoubleType()),
        T.StructField("T", T.ArrayType(T.DoubleType())),
        T.StructField("isfin", T.ArrayType(T.BooleanType())),
        T.StructField("P", T.ArrayType(T.DoubleType())),
        T.StructField("I", T.ArrayType(T.LongType())),
        T.StructField("left_P", T.ArrayType(T.DoubleType())),
        T.StructField("left_I", T.ArrayType(T.LongType())),
        T.StructField("stats", T.ArrayType(T.DoubleType())),
        T.StructField("buf", T.ArrayType(T.DoubleType())),
    ])

    if normalize:
        state_cls, kw = StumpiState, {"k": k}
    else:                                     # AampiState is top-1
        from .floss import AampiState as state_cls  # noqa: N813
        kw = {}

    def fn(key, pdfs, state: GroupState):
        doc_id = key[0]
        vals = []
        for pdf in pdfs:
            pdf = pdf.sort_values("pos")
            vals.extend(float(v) for v in pdf["value"])
        st, buf = None, []
        if state.exists:
            *tup, buf = state.get
            # an empty stored T is the pre-initialization placeholder
            # (first window still accumulating across micro-batches) —
            # rehydrating it as a live state would crash update()
            if tup[4] is not None and len(tup[4]):
                st = state_cls.from_tuple(tup)
            buf = list(buf)
        buf.extend(vals)
        if st is None and len(buf) >= window_n:
            st = state_cls(np.asarray(buf[:window_n]), m, **kw)
            buf = buf[window_n:]
        if st is not None:
            for v in buf:
                st.update(v)
            state.update(st.to_tuple() + ([],))
            yield pd.DataFrame({"doc_id": [doc_id],
                                "n_seen": [st.n + st.n_appended],
                                "P": [st.P_.ravel().tolist()],
                                "I": [st.I_.ravel().tolist()]})
        else:
            state.update((m, window_n, 0, 0.0, [], [], [], [], [], [], [],
                          buf))
            yield pd.DataFrame({"doc_id": [doc_id], "n_seen": [len(buf)],
                                "P": [[]], "I": [[]]})

    return (stream_df.groupBy("doc_id")
            .applyInPandasWithState(
                fn, outputStructType=out_schema,
                stateStructType=state_schema,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))
