"""Incremental (streaming) matrix profile.

:class:`StumpiState` is the pure state machine — semantics of the
reference's ``stumpi`` with ``egress=True`` (stumpy/stumpi.py:18-367): a
fixed-length ring window over the stream; each appended point updates the
profile in O(n) via the sliding-dot-product diagonal recurrence
(stumpy/stumpi.py:341-342) and a top-k insertion-merge
(core.py:4448-4511 ``_update_incremental_PI``).

Non-finite appends follow the reference contract exactly
(stumpy/stumpi.py:316-334): the point is zeroed *in the stored series*
(so the QT recurrence stays finite), a per-point finite mask is tracked,
windows containing a non-finite point get ``mu = inf`` / ``sigma = nan``
/ ``isconstant = False``, and while the *query* window contains one the
whole distance profile is forced to ``inf``.

:func:`stumpi_stream` wires the state machine into Structured Streaming
via ``applyInPandasWithState`` keyed by ``doc_id`` — state = the
serialized arrays, egress ≡ bounded state size.  One key's updates are
sequential; throughput scales across keys (sequences), which is the
engine's unit of parallelism everywhere else too.
"""

from __future__ import annotations

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
        improved = D[:stop] < P[:stop, 0]
        P[:stop, 0] = np.where(improved, D[:stop], P[:stop, 0])
        I[:stop, 0] = np.where(improved, new_j_abs, I[:stop, 0])
        return
    rows = np.flatnonzero(D[:stop] < P[:stop, -1])
    for i in rows:
        pos = np.searchsorted(P[i], D[i], side="right")
        P[i, pos + 1:] = P[i, pos:-1]
        P[i, pos] = D[i]
        I[i, pos + 1:] = I[i, pos:-1]
        I[i, pos] = new_j_abs

def _topk_last_row(D: np.ndarray, k: int, idx_offset: int = 0):
    """Top-k (distance, index) of a distance profile with ties broken
    toward the smaller index (core.py:4502-4509 loop semantics)."""
    order = np.argsort(D, kind="stable")[:k]
    P_row = np.full(k, np.inf)
    I_row = np.full(k, -1, dtype=np.int64)
    take = np.isfinite(D[order])
    nt = int(take.sum())
    P_row[:nt] = D[order[:nt]]
    I_row[:nt] = order[:nt] + idx_offset
    return P_row, I_row


class GrowingStumpiState:
    """Incremental top-k matrix profile, growing mode (egress=False) —
    the reference's ``stumpi(egress=False)`` behavior
    (stumpy/stumpi.py:369-443): the history is retained, the profile
    gains one row per appended point, and indices are absolute stream
    positions.  After any number of appends, ``P_``/``I_`` equal the
    batch ``matrix_profile`` of the full series exactly (every (i, j)
    pair is offered as a candidate exactly once).

    Window stats (mean / std / isfinite / isconstant) are maintained
    incrementally — one window's stats appended per update — and all
    state arrays grow geometrically, so an n-point stream costs O(n) per
    update in compute and amortized O(1) in allocation (the round-2
    version recomputed ``preprocess`` over the whole history each append
    and ``np.append``-reallocated every array)."""

    def __init__(self, T: np.ndarray, m: int, k: int = 1, mp=None):
        """``mp``: optional precomputed ``(P, I, IL, IR, PL, PR)`` from
        ``kernels.matrix_profile(T, m, k=k, return_left_right_P=True)``
        — the reference's ``mp=`` resume shortcut
        (stumpy/stumpi.py:205-211) that skips the O(n^2) batch profile
        when resuming a stream from checkpointed state."""
        T = np.asarray(T, dtype=np.float64)
        self.m = m
        self.k = k
        n = len(T)
        l = n - m + 1
        self._n = n
        Tc, M_T, Sigma_T, finw, con = kernels.preprocess(T, m)
        if mp is not None:
            P, I, IL, IR, PL, PR = mp
            if np.asarray(P).reshape(l, -1).shape != (l, k):
                raise ValueError(
                    f"mp profile shape {np.asarray(P).shape} does not "
                    f"match (l={l}, k={k})")
            P = np.asarray(P, dtype=np.float64).reshape(l, k)
            I = np.asarray(I, dtype=np.int64).reshape(l, k)
            IL = np.asarray(IL, dtype=np.int64).reshape(l)
            PL = np.asarray(PL, dtype=np.float64).reshape(l)
        else:
            P, I, IL, IR, PL, PR = kernels.matrix_profile(
                T, m, k=k, return_left_right_P=True)
        cap = max(2 * n, n + 64)
        lcap = cap - m + 1
        self._T = _grow(Tc, cap)                      # zeroed series
        self._isfin = _grow(np.isfinite(T), cap)      # per-point mask
        self._M = _grow(M_T, lcap)
        self._Sig = _grow(Sigma_T, lcap)
        self._finw = _grow(finw, lcap)
        self._con = _grow(con, lcap)
        self._P = _grow(P.astype(np.float64), lcap)
        self._I = _grow(I.astype(np.int64), lcap)
        self._lP = _grow(PL, lcap)
        self._lI = _grow(IL, lcap)
        self._QT = kernels.sliding_dot_product(Tc[-m:], Tc)

    # -- accessors ----------------------------------------------------------
    @property
    def _l(self):
        return self._n - self.m + 1

    @property
    def P_(self):
        P = self._P[:self._l]
        return P[:, 0] if self.k == 1 else P

    @property
    def I_(self):
        I = self._I[:self._l]
        return I[:, 0] if self.k == 1 else I

    @property
    def left_P_(self):
        return self._lP[:self._l]

    @property
    def left_I_(self):
        return self._lI[:self._l]

    def update(self, t: float) -> None:
        """Append one point; the profile grows by one row
        (stumpy/stumpi.py:369-443 ``_update``)."""
        m, k = self.m, self.k
        n = self._n
        l = n - m + 1                       # window count before append
        finite = bool(np.isfinite(t))
        tz = float(t) if finite else 0.0
        # grow buffers (amortized O(1))
        self._T = _grow(self._T, n + 1)
        self._isfin = _grow(self._isfin, n + 1)
        for name in ("_M", "_Sig", "_finw", "_con", "_P", "_I",
                     "_lP", "_lI"):
            setattr(self, name, _grow(getattr(self, name), l + 1))
        self._T[n] = tz
        self._isfin[n] = finite
        self._n = n + 1
        T = self._T[:n + 1]
        # QT recurrence on the zeroed series (stumpi.py:427-428)
        QT_new = np.empty(l + 1)
        t_drop = T[l - 1]
        QT_new[1:] = self._QT[:l] - T[:l] * t_drop + T[m:n + 1] * tz
        QT_new[0] = float(T[:m] @ T[l:l + m])
        self._QT = QT_new
        # new window's stats, incrementally (stumpi.py:404-418)
        S = T[l:l + m]
        q_fin = bool(self._isfin[n + 1 - m:n + 1].all())
        if not q_fin:
            mu_Q, sig_Q, con_Q = np.inf, np.nan, False
        else:
            mu_Q = float(S.mean())
            sig_Q = float(S.std())
            con_Q = bool(np.ptp(S) == 0.0)
        self._M[l] = mu_Q
        self._Sig[l] = sig_Q
        self._finw[l] = q_fin
        self._con[l] = con_Q
        # distance profile of the new window vs all windows
        D = np.sqrt(kernels.squared_distance_profile(
            self._QT, mu_Q, sig_Q, self._M[:l + 1], self._Sig[:l + 1], m,
            con_Q, self._con[:l + 1], q_fin, self._finw[:l + 1]))
        kernels.apply_exclusion_zone(D, l, np.inf, kernels.excl_zone(m))
        # top-k merges (core.py:4448-4511, n_appended=0)
        _topk_insert_rows(self._P[:l + 1], self._I[:l + 1], D, l, l)
        P_row, I_row = _topk_last_row(D, k)
        self._P[l] = P_row
        self._I[l] = I_row
        self._lP[l] = P_row[0]
        self._lI[l] = I_row[0]


class StumpiState:
    """Incremental top-k matrix profile with egress over one sequence
    (stumpy/stumpi.py:266-367 ``_update_egress``).

    Internally indices are stored **absolute** (stream positions), exactly
    as the reference keeps them — they may point at already-egressed
    points.  Two accessor contracts:

    - ``absolute_indices=True``: ``I_``/``left_I_`` return the raw
      absolute indices (the reference's egress contract,
      stumpy/stumpi.py:290-303).
    - default: indices of egressed neighbors are reported as -1 so
      ``I_`` never references data the caller can no longer see (the
      engine's documented deviation, kept from round 2); valid neighbors
      are still absolute stream positions.

    Window stats / finite masks ring-shift with the window — no
    full-history recomputation per update.
    """

    def __init__(self, T: np.ndarray, m: int, k: int = 1,
                 absolute_indices: bool = False, mp=None):
        """``mp``: optional precomputed ``(P, I, IL, IR, PL, PR)`` from
        ``kernels.matrix_profile(T, m, k=k, return_left_right_P=True)``
        (or a prior run over the same window) — the reference's ``mp=``
        resume shortcut (stumpy/stumpi.py:205-211) that skips the O(n^2)
        batch profile on stream resume."""
        T = np.asarray(T, dtype=np.float64)
        self.m = m
        self.k = k
        self.absolute_indices = absolute_indices
        self.n = len(T)
        l = self.n - m + 1
        Tc, M_T, Sigma_T, finw, con = kernels.preprocess(T, m)
        self.T = Tc.copy()                    # zeroed series (ring)
        self.isfin = np.isfinite(T)           # per-point mask (ring)
        self.M = M_T.copy()
        self.Sig = Sigma_T.copy()
        self.finw = finw.copy()
        self.con = con.copy()
        if mp is not None:
            P, I, IL, IR, PL, PR = mp
            if np.asarray(P).reshape(l, -1).shape != (l, k):
                raise ValueError(
                    f"mp profile shape {np.asarray(P).shape} does not "
                    f"match (l={l}, k={k})")
            P = np.asarray(P, dtype=np.float64).reshape(l, k)
            I = np.asarray(I, dtype=np.int64).reshape(l, k)
            IL = np.asarray(IL, dtype=np.int64).reshape(l)
            PL = np.asarray(PL, dtype=np.float64).reshape(l)
        else:
            P, I, IL, IR, PL, PR = kernels.matrix_profile(
                T, m, k=k, return_left_right_P=True)
        self._P = P.astype(np.float64)        # (l, k), sorted rows
        self._I = I.astype(np.int64)          # absolute indices
        self.left_P = PL.copy()
        self.left_I = IL.copy()
        self.QT = kernels.sliding_dot_product(Tc[-m:], Tc)
        self.n_appended = 0

    # -- accessors ------------------------------------------------------
    @property
    def P(self):
        """Top-1 profile as a 1-D array (k=1 back-compat) or (l, k)."""
        return self._P[:, 0] if self.k == 1 else self._P

    @property
    def I(self):
        """Window-relative index view (dropped neighbors go negative),
        matching the incremental naive oracle's bookkeeping.  The -1
        'no neighbor' sentinel stays -1 (it is not a position, so it
        does not drift with the shift count)."""
        rel = np.where(self._I >= 0, self._I - self.n_appended, -1)
        return rel[:, 0] if self.k == 1 else rel

    @property
    def P_(self):
        return self.P

    @property
    def I_(self):
        if self.absolute_indices:
            return self._I[:, 0] if self.k == 1 else self._I
        rel = self._I - self.n_appended
        out = np.where((rel >= 0) & (self._I >= 0), self._I, -1)
        return out[:, 0] if self.k == 1 else out

    @property
    def left_P_(self):
        return self.left_P

    @property
    def left_I_(self):
        if self.absolute_indices:
            return self.left_I
        rel = self.left_I - self.n_appended
        return np.where((rel >= 0) & (self.left_I >= 0), self.left_I, -1)

    def update(self, t: float) -> None:
        """Ingress one point, egress the oldest
        (stumpy/stumpi.py:290-367)."""
        m, n, k = self.m, self.n, self.k
        l = n - m + 1
        finite = bool(np.isfinite(t))
        tz = float(t) if finite else 0.0
        T = self.T
        t_drop = T[l - 1]        # first element of the old query window
        # diagonal recurrence before the ring shift (same index — both
        # query and window shift by one)
        QT_new = np.empty(l)
        QT_new[:l - 1] = (self.QT[:l - 1] - T[:l - 1] * t_drop
                          + T[m:n] * tz)
        # ring-shift series + masks + stats + profiles
        T[:-1] = T[1:]
        T[-1] = tz
        self.isfin[:-1] = self.isfin[1:]
        self.isfin[-1] = finite
        self.M[:-1] = self.M[1:]
        self.Sig[:-1] = self.Sig[1:]
        self.finw[:-1] = self.finw[1:]
        self.con[:-1] = self.con[1:]
        self._P[:-1] = self._P[1:]
        self._I[:-1] = self._I[1:]
        self.left_P[:-1] = self.left_P[1:]
        self.left_I[:-1] = self.left_I[1:]
        self.n_appended += 1
        QT_new[l - 1] = float(T[-m:] @ T[-m:])
        self.QT = QT_new
        # new (query) window stats, incrementally (stumpi.py:316-334)
        S = T[-m:]
        q_fin = bool(self.isfin[-m:].all())
        if not q_fin:
            mu_Q, sig_Q, con_Q = np.inf, np.nan, False
        else:
            mu_Q = float(S.mean())
            sig_Q = float(S.std())
            con_Q = bool(np.ptp(S) == 0.0)
        self.M[-1] = mu_Q
        self.Sig[-1] = sig_Q
        self.finw[-1] = q_fin
        self.con[-1] = con_Q
        # distance profile of the new last window vs all visible windows
        D = np.sqrt(kernels.squared_distance_profile(
            self.QT, mu_Q, sig_Q, self.M, self.Sig, m,
            con_Q, self.con, q_fin, self.finw))
        kernels.apply_exclusion_zone(D, l - 1, np.inf,
                                     kernels.excl_zone(m))
        # top-k merge; the new window's absolute index
        new_j_abs = l - 1 + self.n_appended
        _topk_insert_rows(self._P, self._I, D, new_j_abs, l - 1)
        P_row, I_row = _topk_last_row(D, k, idx_offset=self.n_appended)
        self._P[l - 1] = P_row
        self._I[l - 1] = I_row
        # all neighbors of the last subsequence are on its left
        self.left_P[l - 1] = P_row[0]
        self.left_I[l - 1] = I_row[0]

    # -- serialization for applyInPandasWithState -----------------------
    def to_tuple(self):
        """M/Sig travel in the tuple (not recomputed on rehydration) so a
        roundtripped state is bit-identical to the live one — the
        incremental per-window mean/std are not reproducible from the
        whole-array cumsum formula at the last ulp."""
        return (self.m, self.n, self.n_appended,
                self.T.tolist(),
                self._P.ravel().tolist(),
                self._I.ravel().tolist(),
                self.left_P.tolist(), self.left_I.tolist(),
                self.QT.tolist(),
                [bool(x) for x in self.isfin],
                self.M.tolist(), self.Sig.tolist())

    @classmethod
    def from_tuple(cls, tup, absolute_indices: bool = False):
        obj = cls.__new__(cls)
        (obj.m, obj.n, obj.n_appended, T, P, I, lP, lI, QT, isfin,
         M, Sig) = tup
        obj.absolute_indices = absolute_indices
        l = obj.n - obj.m + 1
        obj.k = max(len(P) // l, 1)
        obj.T = np.asarray(T, dtype=np.float64)
        obj._P = np.asarray(P, dtype=np.float64).reshape(l, obj.k)
        obj._I = np.asarray(I, dtype=np.int64).reshape(l, obj.k)
        obj.left_P = np.asarray(lP, dtype=np.float64)
        obj.left_I = np.asarray(lI, dtype=np.int64)
        obj.QT = np.asarray(QT, dtype=np.float64)
        obj.isfin = np.asarray(isfin, dtype=bool)
        obj.M = np.asarray(M, dtype=np.float64)
        obj.Sig = np.asarray(Sig, dtype=np.float64)
        # finw/con are exact booleans, derivable from the zeroed series
        # and the point mask
        obj.finw = kernels.rolling_isfinite(
            np.where(obj.isfin, 0.0, np.nan), obj.m)
        obj.con = ((kernels.sliding_max(obj.T, obj.m)
                    - kernels.sliding_min(obj.T, obj.m)) == 0) & obj.finw
        return obj


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
    (``k`` is only supported on the normalized path).
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
        T.StructField("T", T.ArrayType(T.DoubleType())),
        T.StructField("P", T.ArrayType(T.DoubleType())),
        T.StructField("I", T.ArrayType(T.LongType())),
        T.StructField("left_P", T.ArrayType(T.DoubleType())),
        T.StructField("left_I", T.ArrayType(T.LongType())),
        T.StructField("QT", T.ArrayType(T.DoubleType())),
        T.StructField("isfin", T.ArrayType(T.BooleanType())),
        T.StructField("M", T.ArrayType(T.DoubleType())),
        T.StructField("Sig", T.ArrayType(T.DoubleType())),
        T.StructField("buf", T.ArrayType(T.DoubleType())),
    ])

    if normalize:
        state_cls = StumpiState
    else:
        from .floss import AampiState as state_cls  # noqa: N813

    def fn(key, pdfs, state: GroupState):
        doc_id = key[0]
        vals = []
        for pdf in pdfs:
            pdf = pdf.sort_values("pos")
            vals.extend(float(v) for v in pdf["value"])
        if state.exists:
            stored = state.get
            sT, buf = stored[3], stored[12]
            # an empty stored T is the pre-initialization placeholder
            # (first window still accumulating across micro-batches) —
            # rehydrating it as a live state would crash update()
            st = (state_cls.from_tuple(stored[:12])
                  if sT is not None and len(sT) else None)
            buf = list(buf)
        else:
            st, buf = None, []
        buf.extend(vals)
        if st is None and len(buf) >= window_n:
            if k > 1:
                st = state_cls(np.asarray(buf[:window_n]), m, k=k)
            else:
                st = state_cls(np.asarray(buf[:window_n]), m)
            buf = buf[window_n:]
        if st is not None:
            for v in buf:
                st.update(v)
            buf = []
        if st is not None:
            tup = st.to_tuple()
            state.update((tup[0], tup[1], tup[2], tup[3], tup[4],
                          [int(x) for x in tup[5]], tup[6],
                          [int(x) for x in tup[7]], tup[8], tup[9],
                          tup[10], tup[11], buf))
            n_seen = st.n + st.n_appended
            P_out = np.asarray(st.P_).ravel()
            I_out = np.asarray(st.I_).ravel()
            yield pd.DataFrame({"doc_id": [doc_id], "n_seen": [n_seen],
                                "P": [list(P_out)],
                                "I": [[int(x) for x in I_out]]})
        else:
            state.update((m, window_n, 0, [], [], [], [], [], [], [],
                          [], [], buf))
            yield pd.DataFrame({"doc_id": [doc_id], "n_seen": [len(buf)],
                                "P": [[]], "I": [[]]})

    return (stream_df.groupBy("doc_id")
            .applyInPandasWithState(
                fn, outputStructType=out_schema,
                stateStructType=state_schema,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))
