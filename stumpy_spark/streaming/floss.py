"""Streaming semantic segmentation (FLOSS) and the non-normalized
incremental profile (aampi).

- :class:`FlossState` — semantics of stumpy/floss.py:306-692: sliding
  window, one-directional (right) nearest-neighbor profile updated per
  point, corrected arc curve (CAC_1D) recomputed per update against a
  seeded simulated idealized arc curve (the reference fits the IAC by
  simulation too, floss.py:50-116).
- :class:`AampiState` — stumpy/aampi.py:11-388: the p=2 non-normalized
  twin of stumpi.  Each update is one matrix-vector product of the
  window matrix with the new window (O(l·m), no QT recurrence, so a
  pair's distance depends on its two windows only and exact repeats tie
  exactly) through the engine's one p = 2 expansion,
  ``kernels._sq_euclid``, on the series minus a fixed integer shift
  (``kernels._int_shift`` of the initial window, kept in the state).

Both plug into the same applyInPandasWithState wiring as
:func:`stumpy_spark.streaming.stumpi.stumpi_stream`.
"""

from __future__ import annotations

import numpy as np

from .. import kernels


def iac_1d(width: int, seed: int = 0, reps: int = 10) -> np.ndarray:
    """Idealized 1-D arc curve by seeded simulation (floss.py:50-116
    approach): right-NN indices uniform in (i, width), arcs accumulated,
    averaged over reps."""
    rs = np.random.RandomState(seed)
    acc = np.zeros(width)
    for _ in range(reps):
        mark = np.zeros(width + 1)
        for i in range(width - 1):
            j = rs.randint(i + 1, width)
            mark[i] += 1
            mark[j] -= 1
        acc += np.cumsum(mark[:width])
    return acc / reps


class FlossState:
    """Streaming right-profile + CAC over a sliding window.

    Non-finite appends are stored as 0 with a tracked per-point mask
    (the reference's stumpi contract, stumpy/stumpi.py:315-321), so one
    NaN cannot poison the QT recurrence for the rest of the stream;
    window stats / masks ring-shift with the buffer — only the newest
    window's stats are computed per update (the reference's incremental
    bookkeeping, floss.py:600-692), not a full-buffer recompute."""

    def __init__(self, T: np.ndarray, m: int, excl_factor: int = 5,
                 seed: int = 0):
        T = np.asarray(T, dtype=np.float64)
        self.m = m
        self.n = len(T)
        self.excl_factor = excl_factor
        Tc, M_T, Sigma_T, finw, con = kernels.preprocess(T, m)
        self.T = Tc.copy()                    # zeroed buffer (ring)
        self.isfin = np.isfinite(T)           # per-point mask (ring)
        self.M = M_T.copy()
        self.Sig = Sigma_T.copy()
        self.finw = finw.copy()
        self.con = con.copy()
        P, I, IL, IR, PL, PR = kernels.matrix_profile(
            T, m, return_left_right_P=True)
        self.PR = PR.copy()
        self.IR = IR.copy()
        self.QT = kernels.sliding_dot_product(Tc[-m:], Tc)
        self.n_appended = 0
        l = self.n - m + 1
        self._iac = iac_1d(l, seed=seed)

    def update(self, t: float) -> None:
        m, n = self.m, self.n
        l = n - m + 1
        finite = bool(np.isfinite(t))
        tz = float(t) if finite else 0.0
        T = self.T
        t_drop = T[n - m]
        QT_new = np.empty(l)
        QT_new[:l - 1] = (self.QT[:l - 1] - T[:l - 1] * t_drop
                          + T[m:n] * tz)
        T[:-1] = T[1:]
        T[-1] = tz
        self.isfin[:-1] = self.isfin[1:]
        self.isfin[-1] = finite
        QT_new[l - 1] = float(T[-m:] @ T[-m:])
        self.QT = QT_new
        self.n_appended += 1
        self.PR[:-1] = self.PR[1:]
        self.IR[:-1] = self.IR[1:] - 1
        # ring-shift window stats; compute only the newest window's
        for arr in (self.M, self.Sig, self.finw, self.con):
            arr[:-1] = arr[1:]
        w = T[-m:]
        wfin = bool(self.isfin[-m:].all())
        self.M[-1] = float(w.mean()) if wfin else np.inf
        self.Sig[-1] = float(w.std())
        self.finw[-1] = wfin
        self.con[-1] = wfin and (np.ptp(w) == 0)
        D = np.sqrt(kernels.squared_distance_profile(
            self.QT, self.M[-1], self.Sig[-1], self.M, self.Sig, m,
            bool(self.con[-1]), self.con, bool(self.finw[-1]), self.finw))
        kernels.apply_exclusion_zone(D, l - 1, np.inf,
                                     kernels.excl_zone(m))
        # the new window sits to the RIGHT of every existing one
        improved = D[:l - 1] < self.PR[:l - 1]
        self.PR[:l - 1] = np.where(improved, D[:l - 1], self.PR[:l - 1])
        self.IR[:l - 1] = np.where(improved, l - 1, self.IR[:l - 1])
        self.PR[l - 1] = np.inf
        self.IR[l - 1] = -1

    def cac_1d(self) -> np.ndarray:
        """Corrected (right-)arc curve over the current window."""
        l = self.n - self.m + 1
        mark = np.zeros(l + 1)
        idx = np.arange(l)
        valid = self.IR >= 0
        np.add.at(mark, idx[valid], 1)
        np.add.at(mark, self.IR[valid].astype(np.int64), -1)
        arcs = np.cumsum(mark[:l])
        iac = np.where(self._iac <= 0, 1.0, self._iac)
        out = np.minimum(arcs / iac, 1.0)
        ez = self.m * self.excl_factor
        out[:ez] = 1.0
        out[-ez:] = 1.0
        return out


class GrowingAampiState:
    """Incremental non-normalized (p-norm) matrix profile, growing mode —
    the reference's ``aampi(egress=False)``.  After any number of appends
    ``P_``/``I_`` equal the batch ``matrix_profile_absolute`` of the full
    series up to rounding, float input included.  Non-finite appends are
    zeroed with a tracked mask (same contract as GrowingStumpiState);
    state arrays grow geometrically.

    The stored series is the input minus the integer shift of the initial
    series (``kernels._int_shift``).  Each append computes the new
    window's distance profile in O(l·m): ``kernels._sq_euclid`` on one
    matrix-vector product for ``p == 2``, ``kernels._pnorm_direct`` for
    any other p.
    """

    def __init__(self, T: np.ndarray, m: int, k: int = 1, p: float = 2.0):
        from .stumpi import _grow
        T = np.asarray(T, dtype=np.float64)
        self.m = m
        self.k = k
        self.p = p
        n = len(T)
        self._n = n
        isfin = np.isfinite(T)
        self._shift = kernels._int_shift(T)
        Tz, w2, _ = kernels._preprocess_abs(T, m, self._shift)
        P, I, IL, IR = kernels.matrix_profile_absolute(T, m, p=p, k=k)
        # left profile values from the left indices (the reference's
        # stumpi-style left_P reconstruction), vectorized
        PL = np.full(n - m + 1, np.inf)
        valid = np.flatnonzero(IL >= 0)
        if len(valid):
            wins = np.lib.stride_tricks.sliding_window_view(Tz, m)
            PL[valid] = kernels._p_root(kernels._pnorm_direct(
                wins[valid], wins[IL[valid]], p), p)
        cap = max(2 * n, n + 64)
        lcap = cap - m + 1
        self._T = _grow(Tz, cap)
        self._isfin = _grow(isfin, cap)
        self._P = _grow(P.astype(np.float64), lcap)
        self._I = _grow(I.astype(np.int64), lcap)
        self._lP = _grow(PL, lcap)
        self._lI = _grow(IL, lcap)
        self._w2 = _grow(w2, lcap)

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
        from .stumpi import _grow, _topk_insert_rows, _topk_last_row
        m, k = self.m, self.k
        n = self._n
        l = n - m + 1
        finite = bool(np.isfinite(t))
        tz = float(t) - self._shift if finite else 0.0
        self._T = _grow(self._T, n + 1)
        self._isfin = _grow(self._isfin, n + 1)
        for name in ("_P", "_I", "_lP", "_lI", "_w2"):
            setattr(self, name, _grow(getattr(self, name), l + 1))
        self._T[n] = tz
        self._isfin[n] = finite
        self._n = n + 1
        T = self._T[:n + 1]
        fin_w = kernels.rolling_isfinite(
            np.where(self._isfin[:n + 1], 0.0, np.nan), m)
        W = np.lib.stride_tricks.sliding_window_view(T, m)
        S = W[l]
        self._w2[l] = kernels._sq_norms(W[l:])[0]
        if self.p == 2.0:
            D = np.sqrt(kernels._sq_euclid(W @ S, self._w2[:l + 1],
                                           self._w2[l], W, S))
        else:
            D = kernels._p_root(kernels._pnorm_direct(W, S, self.p), self.p)
        D[~fin_w] = np.inf
        if not fin_w[-1]:
            D[:] = np.inf
        kernels.apply_exclusion_zone(D, l, np.inf, kernels.excl_zone(m))
        _topk_insert_rows(self._P[:l + 1], self._I[:l + 1], D, l, l)
        P_row, I_row = _topk_last_row(D, k)
        self._P[l] = P_row
        self._I[l] = I_row
        self._lP[l] = P_row[0]
        self._lI[l] = I_row[0]


class AampiState:
    """Incremental non-normalized (p=2) matrix profile with egress
    (aampi semantics).

    Non-finite appends follow the reference contract (stumpy/aampi.py):
    the point is zeroed in the stored ring (so one NaN cannot poison the
    square sums or dot products after it egresses), a per-point finite
    mask is tracked, and distances of affected windows are forced to
    inf.

    Indices are stored **absolute** (stream positions), like
    :class:`~stumpy_spark.streaming.stumpi.StumpiState`, with the same
    two accessor contracts: ``absolute_indices=True`` returns raw
    absolute indices (the reference's egress contract — they may point
    at already-egressed points); the default reports egressed neighbors
    as -1.  ``I`` is the window-relative view kept for the incremental
    naive oracles.

    The ring holds the stream minus the integer shift of the initial
    window (``kernels._int_shift``); the shift rides in the stream
    tuple's otherwise unused ``M`` slot."""

    def __init__(self, T: np.ndarray, m: int,
                 absolute_indices: bool = False, mp=None):
        """``mp``: optional precomputed ``(P, I, ...)`` from
        ``kernels.matrix_profile_absolute(T, m)`` — the reference's
        ``mp=`` resume shortcut (stumpy/stumpi.py:205-211, shared by
        aampi), skipping the O(n^2) batch profile on stream resume."""
        T = np.asarray(T, dtype=np.float64)
        self.m = m
        self.n = len(T)
        l = self.n - m + 1
        self.absolute_indices = absolute_indices
        self.isfin = np.isfinite(T)
        self.shift = kernels._int_shift(T)
        self.T, self.w2, _ = kernels._preprocess_abs(T, m, self.shift)
        if mp is not None:
            P, I = np.asarray(mp[0]), np.asarray(mp[1])
            if P.reshape(l, -1).shape != (l, 1):
                raise ValueError(
                    f"mp profile shape {P.shape} does not match "
                    f"(l={l}, k=1)")
            P = P.reshape(l, 1).astype(np.float64)
            I = I.reshape(l, 1).astype(np.int64)
        else:
            P, I, _, _ = kernels.matrix_profile_absolute(T, m)
        self.P = P[:, 0].copy()
        self._I = I[:, 0].copy()              # absolute; -1 sentinel
        self.n_appended = 0

    @property
    def I(self):
        """Window-relative index view (dropped neighbors go negative);
        the -1 'no neighbor' sentinel stays -1."""
        return np.where(self._I >= 0, self._I - self.n_appended, -1)

    def update(self, t: float) -> None:
        m, n = self.m, self.n
        l = n - m + 1
        finite = bool(np.isfinite(t))
        T = self.T
        T[:-1] = T[1:]
        T[-1] = float(t) - self.shift if finite else 0.0
        self.isfin[:-1] = self.isfin[1:]
        self.isfin[-1] = finite
        W = np.lib.stride_tricks.sliding_window_view(T, m)
        # square sums slide with the windows
        self.w2[:-1] = self.w2[1:]
        self.w2[-1] = kernels._sq_norms(W[-1:])[0]
        self.n_appended += 1
        self.P[:-1] = self.P[1:]
        self._I[:-1] = self._I[1:]            # absolute: no drift
        D = np.sqrt(kernels._sq_euclid(W @ W[-1], self.w2, self.w2[-1], W,
                                       W[-1]))
        fin = kernels.rolling_isfinite(np.where(self.isfin, 0.0, np.nan),
                                       m)
        D[~fin] = np.inf
        if not fin[-1]:
            D[:] = np.inf
        kernels.apply_exclusion_zone(D, l - 1, np.inf,
                                     kernels.excl_zone(m))
        new_abs = l - 1 + self.n_appended     # the new window, absolute
        improved = D[:l - 1] < self.P[:l - 1]
        self.P[:l - 1] = np.where(improved, D[:l - 1], self.P[:l - 1])
        self._I[:l - 1] = np.where(improved, new_abs, self._I[:l - 1])
        finite_D = np.isfinite(D)
        if finite_D.any():
            j = int(np.argmin(np.where(finite_D, D, np.inf)))
            self.P[l - 1] = D[j]
            self._I[l - 1] = j + self.n_appended
        else:
            self.P[l - 1] = np.inf
            self._I[l - 1] = -1

    # -- accessors / serialization (same wiring contract as StumpiState) ---
    @property
    def P_(self):
        return self.P

    @property
    def I_(self):
        if self.absolute_indices:
            return self._I.copy()
        rel = self._I - self.n_appended
        return np.where((rel >= 0) & (self._I >= 0), self._I, -1)

    def to_tuple(self):
        # left_P slot carries the rolling ||W||^2 (w2) for aampi, the M
        # slot the shift; the QT and Sig slots of the shared stream tuple
        # are unused
        return (self.m, self.n, self.n_appended,
                self.T.tolist(), self.P.tolist(), self._I.tolist(),
                self.w2.tolist(), [], [],
                [bool(x) for x in self.isfin], [self.shift], [])

    @classmethod
    def from_tuple(cls, tup):
        obj = cls.__new__(cls)
        (obj.m, obj.n, obj.n_appended, T, P, I, w2, _unused, _QT,
         isfin, shift, _Sig) = tup
        obj.shift = float(shift[0]) if len(shift) else 0.0
        obj.T = np.asarray(T, dtype=np.float64)
        obj.P = np.asarray(P, dtype=np.float64)
        obj._I = np.asarray(I, dtype=np.int64)
        obj.w2 = np.asarray(w2, dtype=np.float64)
        obj.isfin = np.asarray(isfin, dtype=bool)
        obj.absolute_indices = False
        return obj
