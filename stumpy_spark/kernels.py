"""Pure-numpy sliding-window kernels (no Spark imports).

These are the vectorized building blocks that the engine's pandas/Arrow UDFs
close over.  Semantics reproduce the reference's numerical contracts
(citations refer to /root/reference/):

- sliding mean/std via the two-cumulative-sum trick
  (contract of stumpy/core.py:1018-1100 ``compute_mean_std``)
- sliding dot product, direct and FFT (core.py:652-715)
- z-normalized squared-distance formula with constant / non-finite special
  cases (core.py:1107-1168 ``_calculate_squared_distance``)
- exclusion zone (core.py:2047-2106), rolling isfinite (core.py:2522-2579),
  rolling isconstant (core.py:2583-2687)
- top-k merge rules (core.py:3325-3516)

Everything is vectorized or BLAS-backed; no per-element Python loops in any
hot path.  Implementations are written from scratch against the documented
semantics — this is not a copy of the reference's numba kernels (the
reference iterates diagonals with O(1) covariance updates; we compute exact
blocked GEMM dot-product matrices, which is the right shape for a columnar
Arrow batch and avoids recurrence drift).
"""

from __future__ import annotations

import math

import numpy as np

from . import config


# ---------------------------------------------------------------------------
# preprocessing / rolling predicates
# ---------------------------------------------------------------------------

def rolling_isfinite(T: np.ndarray, m: int) -> np.ndarray:
    """True where all m values of the window starting at i are finite.

    Contract of core.py:2522-2579; implemented as a prefix-sum of the
    non-finite indicator (the cumsum trick named in SURVEY §2.2).
    """
    bad = (~np.isfinite(T)).astype(np.int64)
    cs = np.concatenate(([0], np.cumsum(bad)))
    return (cs[m:] - cs[:-m]) == 0


def rolling_isconstant(T: np.ndarray, m: int) -> np.ndarray:
    """True where max(window) - min(window) == 0 (core.py:2583-2687).

    Non-finite windows are forced non-constant
    (core.py:2690-2734 ``fix_isconstant_isfinite_conflicts``).
    """
    mins = sliding_min(T, m)
    maxs = sliding_max(T, m)
    out = (maxs - mins) == 0
    out &= rolling_isfinite(T, m)
    return out


def sliding_min(T: np.ndarray, m: int) -> np.ndarray:
    """Rolling min over windows of length m (contract of core.py:900-1015)."""
    return _sliding_extreme(T, m, np.minimum)


def sliding_max(T: np.ndarray, m: int) -> np.ndarray:
    return _sliding_extreme(T, m, np.maximum)


def _sliding_extreme(T: np.ndarray, m: int, op) -> np.ndarray:
    # van Herk/Gil-Werman style two-pass scan: O(n) with numpy accumulate on
    # m-sized blocks.  NaN propagates (caller handles non-finite separately).
    n = T.shape[0]
    l = n - m + 1
    if l <= 0:
        return np.empty(0, dtype=np.float64)
    pad = (-n) % m
    Tp = np.concatenate([T, np.full(pad, T[-1])]) if pad else T
    blocks = Tp.reshape(-1, m)
    left = op.accumulate(blocks, axis=1).ravel()[:n]
    right = op.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()[:n]
    out = op(right[:l], left[m - 1:m - 1 + l])
    return out


def sliding_mean_std(T: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray]:
    """Sliding mean and population std for all n-m+1 windows.

    The cumulative-sum trick (contract of core.py:1018-1100):
    ``mean_i = (cs[i+m]-cs[i])/m``, ``var_i = (cs2[i+m]-cs2[i])/m - mean_i^2``.
    Caller must pass a finite array (NaNs zeroed by :func:`preprocess`).
    Negative variances from cancellation are clamped to 0.
    """
    T = np.asarray(T, dtype=np.float64)
    cs = np.concatenate(([0.0], np.cumsum(T)))
    cs2 = np.concatenate(([0.0], np.cumsum(T * T)))
    mean = (cs[m:] - cs[:-m]) / m
    var = (cs2[m:] - cs2[:-m]) / m - mean * mean
    np.maximum(var, 0.0, out=var)
    return mean, np.sqrt(var)


def welford_rolling_var(T: np.ndarray, m: int) -> np.ndarray:
    """Numerically-robust O(n) rolling population variance.

    Welford-style update contract of core.py:722-831: maintain the window
    mean and M2; used as a cross-check / fallback for very long windows where
    the cumsum trick loses precision.  Vectorized two-cumsum on *centered*
    data: subtracting the global mean first removes the catastrophic
    cancellation that motivates Welford, with identical O(n) cost.
    """
    T = np.asarray(T, dtype=np.float64)
    c = T - np.nanmean(T)
    cs = np.concatenate(([0.0], np.cumsum(c)))
    cs2 = np.concatenate(([0.0], np.cumsum(c * c)))
    mean = (cs[m:] - cs[:-m]) / m
    var = (cs2[m:] - cs2[:-m]) / m - mean * mean
    np.maximum(var, 0.0, out=var)
    return var


def preprocess(T: np.ndarray, m: int, T_subseq_isconstant=None):
    """NaN/inf handling + window stats (contract of core.py:2145-2214).

    Returns ``(T_clean, M_T, Sigma_T, isfinite, isconstant)`` where
    ``T_clean`` has non-finite values replaced by 0, stats are computed on
    the cleaned array, windows containing any non-finite are flagged.
    ``T_subseq_isconstant`` is the user hook (None | bool array |
    callable(T, m)) resolved by :func:`process_isconstant`.
    """
    T = np.asarray(T, dtype=np.float64).copy()
    fin_el = np.isfinite(T)
    if fin_el.all():
        # all-finite fast path (the common case for token sequences):
        # every window is finite, so the non-finite bookkeeping — the
        # indicator cumsum, the inf->nan->0 rewrite passes, and the
        # mean-inf overwrite — drops to a single ones() fill
        isfinite_w = np.ones(max(T.shape[0] - m + 1, 0), dtype=bool)
        if T_subseq_isconstant is None:
            isconstant = (sliding_max(T, m) - sliding_min(T, m)) == 0
        else:
            isconstant = process_isconstant(T, m, T_subseq_isconstant)
        M_T, Sigma_T = sliding_mean_std(T, m)
        return T, M_T, Sigma_T, isfinite_w, isconstant
    isfinite_w = rolling_isfinite(T, m)
    T[~fin_el] = np.nan
    if T_subseq_isconstant is None:
        isconstant = _rolling_isconstant_nan(T, m)
    else:
        isconstant = process_isconstant(T, m, T_subseq_isconstant)
    T[np.isnan(T)] = 0.0
    M_T, Sigma_T = sliding_mean_std(T, m)
    # Windows with any non-finite value get mean inf (core.py:1092-1093)
    M_T[~isfinite_w] = np.inf
    return T, M_T, Sigma_T, isfinite_w, isconstant


def _rolling_isconstant_nan(T: np.ndarray, m: int) -> np.ndarray:
    finite = rolling_isfinite(T, m)
    Tz = np.where(np.isnan(T), 0.0, T)
    out = (sliding_max(Tz, m) - sliding_min(Tz, m)) == 0
    out &= finite
    return out


def process_isconstant(T: np.ndarray, m: int,
                       T_subseq_isconstant=None) -> np.ndarray:
    """Resolve the user's constant-subsequence spec (contract of
    core.py:2612-2687 ``rolling_isconstant``/``process_isconstant``):
    ``None`` -> the default min==max rule; a boolean array -> used as-is
    (validated); a callable ``f(T, m) -> bool array`` -> invoked.  Windows
    containing non-finite values are never constant (the reference's
    ``fix_isconstant_isfinite_conflicts``)."""
    T = np.asarray(T, dtype=np.float64)
    l = len(T) - m + 1
    if T_subseq_isconstant is None:
        out = _rolling_isconstant_nan(np.where(np.isfinite(T), T, np.nan),
                                      m)
    elif callable(T_subseq_isconstant):
        out = np.asarray(T_subseq_isconstant(T, m))
        if out.dtype != np.bool_:
            raise ValueError(
                "`T_subseq_isconstant` callable must return a boolean "
                f"array, got dtype {out.dtype}")
    else:
        out = np.asarray(T_subseq_isconstant)
        if out.dtype != np.bool_:
            raise ValueError(
                "`T_subseq_isconstant` array must be boolean, got dtype "
                f"{out.dtype}")
        out = out.copy()
    if out.shape != (l,):
        raise ValueError(
            f"`T_subseq_isconstant` has shape {out.shape}; expected ({l},)")
    return out & rolling_isfinite(T, m)


def replace_distance(D: np.ndarray, search_val: float, replace_val: float,
                     epsilon: float = 0.0) -> None:
    """In-place D[D == search_val - epsilon] = replace_val
    (core.py:2335-2357)."""
    D[D == search_val - epsilon] = replace_val


def check_P(P: np.ndarray, threshold: float = 1e-6) -> None:
    """Validate a matrix profile array (contract of core.py ``_check_P``):
    must be 1-D; warns when suspiciously short."""
    P = np.asarray(P)
    if P.ndim != 1:
        raise ValueError("`P` must be a 1-D array")
    if P.size <= 2:
        import warnings
        warnings.warn("`P` is shorter than 3 values — results may be "
                      "unreliable")


def _z_norm_rows(X: np.ndarray) -> np.ndarray:
    mu = X.mean(axis=1, keepdims=True)
    sig = X.std(axis=1, keepdims=True)
    sig = np.where(sig == 0, 1.0, sig)
    return (X - mu) / sig


def idx_to_mp(I: np.ndarray, T: np.ndarray, m: int, normalize: bool = True,
              p: float = 2.0, T_subseq_isconstant=None,
              check_neg: bool = True) -> np.ndarray:
    """Matrix profile distances from neighbor indices (contract of
    core.py:2845-2916 ``_idx_to_mp``): d(T[i:i+m], T[I[i]:I[i]+m]) with
    the z-norm constant-window special cases, inf for non-finite windows
    and negative (null) indices."""
    I = np.asarray(I).astype(np.int64)
    T = np.asarray(T, dtype=np.float64).copy()
    if check_neg and (I < 0).any():
        import warnings
        warnings.warn("negative (null) index values found in `I`; their "
                      "distances are reported as inf")
    if normalize:
        con = process_isconstant(T, m, T_subseq_isconstant)
    fin_w = rolling_isfinite(T, m)
    T[~np.isfinite(T)] = 0.0
    subseqs = np.lib.stride_tricks.sliding_window_view(T, m)
    nn = subseqs[np.where(I >= 0, I, 0)]
    if normalize:
        P = np.linalg.norm(_z_norm_rows(subseqs) - _z_norm_rows(nn),
                           axis=1)
        nn_con = con[np.where(I >= 0, I, 0)]
        P[con & nn_con] = 0.0
        P[con ^ nn_con] = math.sqrt(m)
    else:
        P = np.linalg.norm(subseqs - nn, axis=1, ord=p)
    P[~fin_w] = np.inf
    P[I < 0] = np.inf
    return P


# ---------------------------------------------------------------------------
# sliding dot product
# ---------------------------------------------------------------------------

def sliding_dot_product(Q: np.ndarray, T: np.ndarray) -> np.ndarray:
    """QT[i] = Q . T[i:i+m] for all i (contract of core.py:652-715).

    Picks the FFT path for large m (the reference's O(n log n) vs O(nm)
    heuristic, SURVEY §4 row 2), else a strided BLAS matvec.
    """
    Q = np.asarray(Q, dtype=np.float64)
    T = np.asarray(T, dtype=np.float64)
    m = Q.shape[0]
    n = T.shape[0]
    if m > 128 and n > 4096:
        return _sliding_dot_product_fft(Q, T)
    windows = np.lib.stride_tricks.sliding_window_view(T, m)
    return windows @ Q


def _sliding_dot_product_fft(Q: np.ndarray, T: np.ndarray) -> np.ndarray:
    m = Q.shape[0]
    n = T.shape[0]
    size = 1 << (n + m - 1).bit_length()
    fq = np.fft.rfft(Q[::-1], size)
    ft = np.fft.rfft(T, size)
    conv = np.fft.irfft(fq * ft, size)
    return conv[m - 1:n]


# ---------------------------------------------------------------------------
# distance formula (the contract)
# ---------------------------------------------------------------------------

def squared_distance_profile(
    QT: np.ndarray,
    mu_Q: float,
    sigma_Q: float,
    M_T: np.ndarray,
    Sigma_T: np.ndarray,
    m: int,
    Q_isconstant: bool,
    T_isconstant: np.ndarray,
    Q_isfinite: bool = True,
    T_isfinite: np.ndarray | None = None,
) -> np.ndarray:
    """z-normalized squared distances of one query vs all windows.

    Vectorized restatement of core.py:1107-1168 ``_calculate_squared_distance``:
    ``rho = (QT - m mu_Q M_T) / (m sigma_Q Sigma_T)`` with the denominator
    clamped at DENOM_THRESHOLD, rho clamped <= 1, ``D^2 = |2m(1 - rho)|``;
    both-constant -> 0; exactly-one-constant -> m; non-finite -> inf.
    """
    denom = m * sigma_Q * Sigma_T
    denom = np.where(np.abs(denom) < config.DENOM_THRESHOLD,
                     config.DENOM_THRESHOLD, denom)
    rho = (QT - m * mu_Q * M_T) / denom
    np.minimum(rho, 1.0, out=rho)
    D2 = np.abs(2.0 * m * (1.0 - rho))
    both_const = T_isconstant & Q_isconstant
    one_const = T_isconstant ^ Q_isconstant
    D2 = np.where(both_const, 0.0, D2)
    D2 = np.where(one_const, float(m), D2)
    if T_isfinite is not None:
        D2 = np.where(~T_isfinite, np.inf, D2)
    if not Q_isfinite:
        D2 = np.full_like(D2, np.inf)
    return D2


def snap_to_zero(D2: np.ndarray) -> np.ndarray:
    """Squared distances < P_NORM_THRESHOLD -> 0 (stump.py:488-497)."""
    D2 = np.where(D2 < config.P_NORM_THRESHOLD, 0.0, D2)
    return D2


def apply_exclusion_zone(a: np.ndarray, idx: int, val, excl: int) -> None:
    """a[idx-excl : idx+excl+1] = val in-place (core.py:2047-2106)."""
    lo = max(0, idx - excl)
    hi = idx + excl + 1
    a[lo:hi] = val


def excl_zone(m: int) -> int:
    """ceil(m / 4) (config.py:19)."""
    return int(math.ceil(m / config.EXCL_ZONE_DENOM))


# ---------------------------------------------------------------------------
# MASS: one query vs a whole series
# ---------------------------------------------------------------------------

def mass(
    Q: np.ndarray,
    T: np.ndarray,
    M_T: np.ndarray | None = None,
    Sigma_T: np.ndarray | None = None,
    T_isconstant: np.ndarray | None = None,
    T_isfinite: np.ndarray | None = None,
    query_idx: int | None = None,
    T_subseq_isconstant=None,
) -> np.ndarray:
    """Distance profile of Q against T (contract of core.py:1651-1833).

    If ``query_idx`` is given, an exclusion zone around it is set to inf
    (self-join probe semantics).  ``T_subseq_isconstant`` is the user
    constant-window hook (None | bool array | callable(T, m)).
    """
    Q = np.asarray(Q, dtype=np.float64)
    m = Q.shape[0]
    if M_T is None:
        T_clean, M_T, Sigma_T, T_isfinite, T_isconstant = preprocess(
            T, m, T_subseq_isconstant)
    else:
        T_clean = np.nan_to_num(np.asarray(T, dtype=np.float64), nan=0.0,
                                posinf=0.0, neginf=0.0)
    Q_isfinite = bool(np.all(np.isfinite(Q)))
    Qc = np.nan_to_num(Q, nan=0.0, posinf=0.0, neginf=0.0)
    mu_Q = Qc.mean()
    sigma_Q = Qc.std()
    Q_isconstant = Q_isfinite and (np.ptp(Qc) == 0)
    QT = sliding_dot_product(Qc, T_clean)
    D2 = squared_distance_profile(
        QT, mu_Q, sigma_Q, M_T, Sigma_T, m,
        Q_isconstant, T_isconstant, Q_isfinite, T_isfinite)
    D2 = snap_to_zero(D2)
    D = np.sqrt(D2)
    if query_idx is not None:
        apply_exclusion_zone(D, query_idx, np.inf, excl_zone(m))
    return D


def mueen_calculate_distance_profile(Q: np.ndarray,
                                     T: np.ndarray) -> np.ndarray:
    """Mueen's cumulative-sum distance-profile algebra (the MASS
    precursor, DOI 10.1109/ICDM.2016.0179 Table II; contract of
    core.py:1502-1567, including its fixed off-by-one — the cumulative
    sums get an explicit leading 0 so window 0's sum is included).

    Expands the z-norm distance directly from prefix sums of T and T²
    plus one sliding dot product of the normalized query — no per-window
    mean/std arrays of T are formed first.  Faithful to the reference:
    NO constant-window or non-finite guards (a zero-variance window
    divides by 0, exactly as upstream); :func:`mass` is the production
    path with the full special-case contract.
    """
    Q = np.asarray(Q, dtype=np.float64)
    T = np.asarray(T, dtype=np.float64)
    n, m = len(T), len(Q)
    qn = (Q - Q.mean()) / Q.std()
    QT = sliding_dot_product(qn, T)
    cs = np.zeros(n + 1)
    np.cumsum(T, out=cs[1:])
    cs2 = np.zeros(n + 1)
    np.cumsum(T * T, out=cs2[1:])
    s1 = cs[m:] - cs[:n - m + 1]
    s2 = cs2[m:] - cs2[:n - m + 1]
    mu = s1 / m
    var = np.abs(s2 / m - mu * mu)
    with np.errstate(divide="ignore", invalid="ignore"):
        D2 = np.abs((s2 - 2.0 * s1 * mu + m * mu * mu) / var
                    - 2.0 * QT / np.sqrt(var) + m)
    return np.sqrt(D2)


# ---------------------------------------------------------------------------
# matrix profile (batch, one series pair, exact)
# ---------------------------------------------------------------------------

def _pearson_block(windows_A, windows_B, mu_A, sig_A, mu_B, sig_B, m):
    """QT block via GEMM -> rho block (clamped <= 1), all in-place on the
    GEMM output.

    Exact (no recurrence drift).  sigma==0 columns produce denom 0 →
    clamped to DENOM_THRESHOLD (callers overwrite constant/non-finite
    cells afterwards anyway)."""
    QT = windows_A @ windows_B.T            # (ba, lb) BLAS
    QT -= np.outer(m * mu_A, mu_B)
    denom = np.outer(m * sig_A, sig_B)
    np.maximum(denom, config.DENOM_THRESHOLD, out=denom)
    QT /= denom
    np.minimum(QT, 1.0, out=QT)
    return QT


#: matrices up to this many cells run as a single tile (no blocking
#: overhead); above it, 128-square cache tiles.  Tuned on the real
#: short-doc length mix (cost-weighted sweep over the sf0.01 n_tok
#: distribution): 65536 (l <= 256) beat 262144 by ~23%.
ONE_TILE_CELLS = 65536


def _qt_recurrence_ok(T: np.ndarray, m: int) -> bool:
    """True iff the STOMP QT recurrence is *bit-exact* for this series:
    all values integral and ``m * max(|T|)^2 < 2^52`` so every partial
    dot product stays an exactly-representable float64 integer.  Token
    sequences (int vocab ids) always qualify; arbitrary floats never do
    — they keep the drift-free GEMM path (the reference accepts the
    recurrence's float drift in stomp.py:146-149; this engine only takes
    the recurrence when it provably introduces none)."""
    if T.size == 0:
        return False
    mx = float(np.max(np.abs(T)))
    if not np.isfinite(mx) or mx > 2.0 ** 25:
        return False
    if m * mx * mx > 2.0 ** 52:
        return False
    return bool(np.all(T == np.floor(T)))


#: the row operand of every tile GEMM is padded with zero rows to a
#: multiple of this, the column operand to at least 2 rows.  OpenBLAS
#: sums a cell of a call's trailing partial row panel (and of each
#: thread's share of a threaded call) in a different order than a cell
#: of a full panel, and numpy sends a 1-row or 1-column product to
#: gemv/dot; without the padding a cell's value would depend on the tile
#: geometry, so a tiled plan could disagree with the single-task sweep
#: in the last ULP and flip a near-tie.  Observed bit-identical across
#: tile shapes, offsets and 1 vs 2 BLAS threads for m <= 256 (an
#: OpenBLAS 0.3.23 build); a threaded call with m > 256 splits the inner
#: dimension differently.
_GEMM_ROWS = 32


class _TileSource:
    """Tile-distance source: row windows ``rows = (r0, r1)`` of series A
    against column windows ``cols = (c0, c1)`` of series B, addressed by
    absolute window offsets.  Only the two window slices are
    materialized, so a source over tile-sized ranges costs O(tile * m),
    never O(l * m).

    :meth:`xdist` returns a tile in the source's root-deferred space
    (monotone in the distance, so min/argmin/top-k are unchanged) with
    every special case already applied — snap-to-zero, constant windows,
    and inf for non-finite rows/columns; :meth:`dist` maps finished
    values back to distances."""

    def __init__(self, fin_A, fin_B, rows, cols):
        self.r0, self.r1 = rows if rows else (0, len(fin_A))
        self.c0, self.c1 = cols if cols else (0, len(fin_B))
        self._fa = fin_A[self.r0:self.r1]
        self._fb = fin_B[self.c0:self.c1]
        self._all_fin = bool(self._fa.all()) and bool(self._fb.all())

    @staticmethod
    def _operand(W, lo, hi, pad):
        """Contiguous ``W[lo:hi]`` plus ``pad`` trailing zero rows (BLAS
        GEMM on strided sliding-window views is ~10x slower)."""
        out = np.zeros((hi - lo + pad, W.shape[1]))
        out[:hi - lo] = W[lo:hi]
        return out

    def _gemm(self, i0, i1, j0, j1):
        """``Ax[i0:i1] @ Bx[j0:j1].T`` (local offsets), shaped per
        :data:`_GEMM_ROWS` so every cell's value is independent of the
        tile geometry."""
        nr, nc = i1 - i0, j1 - j0
        X = (self._Ax[i0:i0 + -(-nr // _GEMM_ROWS) * _GEMM_ROWS]
             @ self._Bx[j0:j0 + max(nc, 2)].T)
        return X[:nr, :nc]

    def xdist(self, a0, a1, b0, b1):
        i0, i1 = a0 - self.r0, a1 - self.r0
        j0, j1 = b0 - self.c0, b1 - self.c0
        X = self._tile(i0, i1, j0, j1)
        if not self._all_fin:
            X[~self._fa[i0:i1], :] = np.inf
            X[:, ~self._fb[j0:j1]] = np.inf
        return X


class _QTProvider(_TileSource):
    """z-norm source over :func:`preprocess` tuples: tiles of the shifted
    squared distance ``D^2 - 2m``, one GEMM each on scaled-centered
    operands ``Ax[i] = (w_i - mu_i) * (-2/sig_i)``, ``Bx[j] = (w_j -
    mu_j) / sig_j`` so ``Ax @ Bx.T = -2m*rho = D^2 - 2m`` — the
    outer-subtract, outer-multiply and ``+2m`` per-tile passes all fold
    into the one GEMM.  Non-finite (``mu == inf``) and constant (``sig ==
    0``) windows become zero rows, a finite placeholder the masks
    overwrite.  Snap-to-zero runs in shifted space (``X < thr - 2m <=>
    D^2 < thr``); snapped cells land on exactly ``-2m``."""

    def __init__(self, prep_A, prep_B, m, rows=None, cols=None):
        TA, muA, sigA, finA, conA = prep_A
        TB, muB, sigB, finB, conB = prep_B
        super().__init__(finA, finB, rows, cols)
        self.m = m
        self._Ax = self._scaled(TA, muA, sigA, self.r0, self.r1, -2.0,
                                _GEMM_ROWS - 1)
        self._Bx = self._scaled(TB, muB, sigB, self.c0, self.c1, 1.0, 1)
        self._ca = conA[self.r0:self.r1]
        self._cb = conB[self.c0:self.c1]
        self._any_con = bool(self._ca.any()) or bool(self._cb.any())

    def _scaled(self, T, mu, sig, lo, hi, num, pad):
        W = np.lib.stride_tricks.sliding_window_view(T, self.m)
        mu, sig = mu[lo:hi], sig[lo:hi]
        with np.errstate(divide="ignore", invalid="ignore"):
            ok = np.isfinite(mu) & (sig > 0.0)
            fac = np.where(ok, num / sig, 0.0)
            out = self._operand(W, lo, hi, pad)
            out[:hi - lo] -= np.where(ok, mu, 0.0)[:, None]
            out[:hi - lo] *= fac[:, None]
        return out

    def _tile(self, i0, i1, j0, j1):
        m = self.m
        X = self._gemm(i0, i1, j0, j1)
        X[X < config.P_NORM_THRESHOLD - 2.0 * m] = -2.0 * m
        if self._any_con:
            ca = self._ca[i0:i1][:, None]
            cb = self._cb[j0:j1][None, :]
            X[ca & cb] = -2.0 * m         # D^2 == 0
            X[ca ^ cb] = -float(m)        # D^2 == m
        return X

    def dist(self, x):
        return np.sqrt(x + 2.0 * self.m)


def _preprocess_abs(T, m):
    """aamp preprocessing (aamp.py:38-55): ``(T_clean, sq, fin)`` —
    non-finite values zeroed (not nan_to_num, whose inf -> 1.8e308
    overflows the sums of masked cells), window square sums for the
    p == 2 GEMM expansion, and the finite-window mask."""
    T = np.asarray(T, dtype=np.float64)
    Tc = np.where(np.isfinite(T), T, 0.0)
    cs = np.concatenate(([0.0], np.cumsum(Tc * Tc)))
    return Tc, cs[m:] - cs[:-m], rolling_isfinite(T, m)


class _PNormSource(_TileSource):
    """p-norm (aamp) source over :func:`_preprocess_abs` tuples: tiles of
    ``D^p``.  p == 2 uses the GEMM expansion ``|a|^2 - 2 a.b + |b|^2``
    (``Ax = -2 * windows`` folds the factor into the GEMM) and recomputes
    the cells where it cancels catastrophically — near-duplicate pairs —
    directly, so exact repeats come out exactly 0; any other p
    accumulates ``|a_o - b_o|^p`` offset by offset, O(tile) memory."""

    def __init__(self, prep_A, prep_B, m, p=2.0, rows=None, cols=None):
        TA, a2, finA = prep_A
        TB, b2, finB = prep_B
        super().__init__(finA, finB, rows, cols)
        self.m, self.p = m, p
        self._TA, self._TB = TA, TB
        if p == 2.0:
            W = np.lib.stride_tricks.sliding_window_view
            self._Ax = self._operand(W(TA, m), self.r0, self.r1,
                                     _GEMM_ROWS - 1)
            self._Ax *= -2.0
            self._Bx = self._operand(W(TB, m), self.c0, self.c1, 1)
            self._a2 = a2[self.r0:self.r1]
            self._b2 = b2[self.c0:self.c1]

    def _tile(self, i0, i1, j0, j1):
        if self.p != 2.0:
            a0, b0 = self.r0 + i0, self.c0 + j0
            nr, nc = i1 - i0, j1 - j0
            X = np.zeros((nr, nc))
            for o in range(self.m):
                X += np.abs(self._TA[a0 + o:a0 + o + nr, None]
                            - self._TB[None, b0 + o:b0 + o + nc]) ** self.p
            return X
        a2 = self._a2[i0:i1][:, None]
        b2 = self._b2[j0:j1][None, :]
        X = self._gemm(i0, i1, j0, j1)
        X += a2
        X += b2
        np.maximum(X, 0.0, out=X)
        suspect = X <= 1e-8 * (a2 + b2)
        if suspect.any():
            si, sj = np.nonzero(suspect)
            diff = self._Ax[i0 + si] * -0.5 - self._Bx[j0 + sj]
            X[si, sj] = np.einsum("ij,ij->i", diff, diff)
        return X

    def dist(self, x):
        return np.sqrt(x) if self.p == 2.0 else x ** (1.0 / self.p)


def _mask_band(X, a0, b0, ez, lower=False):
    """inf on the exclusion band ``|j - i| <= ez`` of the tile whose
    first cell is (a0, b0); ``lower=True`` masks every ``j - i <= ez``
    (band plus lower triangle).  Only the columns the band reaches are
    touched."""
    nr, nc = X.shape
    lo = 0 if lower else max(0, a0 - ez - b0)
    hi = min(nc, a0 + nr + ez - b0)
    if lo < hi:
        d = np.arange(b0 + lo, b0 + hi)[None, :] \
            - np.arange(a0, a0 + nr)[:, None]
        X[:, lo:hi][(d if lower else np.abs(d)) <= ez] = np.inf


def _improve(pv, jv, lo, vals, js):
    """First-strictly-smaller running-min update of ``pv/jv[lo:...]`` —
    candidates arrive in ascending neighbor order, so this keeps the
    smallest neighbor index among exact ties."""
    sl_p = pv[lo:lo + len(vals)]
    sl_j = jv[lo:lo + len(vals)]
    better = vals < sl_p
    sl_p[better] = vals[better]
    sl_j[better] = js[better]


def _top1(pl, pr, il, ir, dist):
    """Top-1 ``(P, I)`` from left/right running minima in a source's
    root-deferred space: the left neighbor wins exact ties (ascending
    neighbor order), -1 where no finite neighbor exists."""
    I = np.where((pl <= pr) & np.isfinite(pl), il,
                 np.where(np.isfinite(pr), ir, -1))
    return dist(np.minimum(pl, pr)), I


def _top1_sweep(src, r0, r1, c0, c1, ez):
    """The top-1 GEMM matrix profile of rows r0:r1 against columns c0:c1
    of a tile-distance source; ``ez >= 0`` is a self-join (exclusion
    band ``|j - i| <= ez``, left/right profiles), ``ez < 0`` an AB-join.

    A self-join block is either diagonal (same row and column range) or
    strictly above the diagonal (``c0 >= r1``).  Every pair is evaluated
    once, in the orientation row < column, on the upper triangle of
    (``ONE_TILE_CELLS``-single, else 128-square) cache tiles: a tile's
    row minima are its rows' right neighbors, its column minima its
    columns' left neighbors, and cells with ``j - i <= ez`` are masked.
    Tiles run in ascending row, then column order, so each index sees
    its candidates in ascending neighbor order and strict-``<`` updates
    keep the first index among exact ties.

    Returns ``(rows, cols)``: ``rows = (P, I, PL, IL, PR, IR)`` for
    r0:r1 — on a diagonal block the column minima fold into the rows'
    left profile; ``cols`` is the same tuple for c0:c1 (left neighbors
    only) on a block strictly above the diagonal, else None.  AB-joins
    report PL/PR = inf, IL/IR = -1 (``ignore_trivial=False``)."""
    nr, nc = r1 - r0, c1 - c0
    br, bc = (nr, nc) if nr * nc <= ONE_TILE_CELLS else (128, 128)
    self_join = ez >= 0
    diag = self_join and (r0, r1) == (c0, c1)
    pr = np.full(nr, np.inf)
    ir = np.full(nr, -1, dtype=np.int64)
    pl = np.full(nc, np.inf)
    il = np.full(nc, -1, dtype=np.int64)
    for a0 in range(r0, r1, br):
        a1 = min(a0 + br, r1)
        rr = np.arange(a1 - a0)
        for b0 in range(a0 if diag else c0, c1, bc):
            b1 = min(b0 + bc, c1)
            X = src.xdist(a0, a1, b0, b1)
            if self_join and b0 <= a1 - 1 + ez:
                _mask_band(X, a0, b0, ez, lower=True)
            j = np.argmin(X, axis=1)
            _improve(pr, ir, a0 - r0, X[rr, j], j + b0)
            if self_join:
                i = np.argmin(X, axis=0)
                _improve(pl, il, b0 - c0, X[i, np.arange(b1 - b0)], i + a0)
    dist = src.dist
    none_p = np.full(nr, np.inf)
    none_i = np.full(nr, -1, dtype=np.int64)
    if not self_join:
        return (dist(pr), ir, none_p, none_i, none_p, none_i), None
    if diag:
        return (*_top1(pl, pr, il, ir, dist), dist(pl), il,
                dist(pr), ir), None
    PR, PL = dist(pr), dist(pl)
    none_pc = np.full(nc, np.inf)
    none_ic = np.full(nc, -1, dtype=np.int64)
    return ((PR, ir, none_p, none_i, PR, ir),
            (PL, il, PL, il, none_pc, none_ic))


def _topk_rows(src, k, ez, block_rows, left_right):
    """Top-k profile (``k > 1``) of a whole-series source over row blocks
    of ``block_rows`` x all columns, tie-aware (:func:`topk_tie_aware`);
    ``left_right`` adds the top-1 left/right profiles of a self-join.
    Returns ``(P, I, IL, IR, PL, PR)``."""
    la, lb = src.r1, src.c1
    P = np.full((la, k), np.inf)
    I = np.full((la, k), -1, dtype=np.int64)
    IL = np.full(la, -1, dtype=np.int64)
    IR = np.full(la, -1, dtype=np.int64)
    PL = np.full(la, np.inf)
    PR = np.full(la, np.inf)
    kk = min(k, lb)
    for start in range(0, la, block_rows):
        stop = min(start + block_rows, la)
        rows = np.arange(start, stop)
        D = src.xdist(start, stop, 0, lb)
        if ez >= 0:
            _mask_band(D, start, 0, ez)
        if left_right:
            r = np.arange(stop - start)
            left = np.arange(lb)[None, :] < rows[:, None]
            for keep, Pd, Id in ((left, PL, IL), (~left, PR, IR)):
                Dd = np.where(keep, D, np.inf)
                j = np.argmin(Dd, axis=1)
                v = Dd[r, j]
                Pd[rows] = src.dist(v)
                Id[rows] = np.where(np.isfinite(v), j, -1)
        vals, idxs = topk_tie_aware(D, kk)
        P[rows, :kk] = src.dist(vals)
        I[rows, :kk] = np.where(np.isfinite(vals), idxs, -1)
    return P, I, IL, IR, PL, PR


#: per-chunk cell budget for the diagonal kernel: B diagonals x L0 cells
#: of float64 working set ~1 MB so every elementwise pass runs at cache
#: bandwidth (immune to this host's DRAM steal; see BENCH/BASELINE.md)
DIAG_CHUNK_CELLS = 131072

#: pad length for the shifted-slice views (upper bound on chunk height)
_DIAG_B_CAP = 1024

#: below this many windows the single-tile GEMM path wins (chunk setup
#: overhead dominates very short series); tuned by microbench
DIAG_MIN_L = 64


def _use_diag(l: int, m: int) -> bool:
    """Empirical diag-vs-GEMM crossover (interleaved single-thread
    sweep, BENCH/BASELINE.md round 5).  After the diagonal kernel's
    min+lazy-argmin reductions and persistent chunk buffers, its rate
    is m-independent (~55-70 M pairs/s mid-regime) while GEMM falls
    off as O(m): after the lazy snap-to-zero the measured crossover is
    m ~ 72-80 (m=64: GEMM 68.5 vs diag 66.4; m=80: 65.4 vs 67.4;
    m=96: 55.0 vs 67.8; m=128: 43.6 vs 71.3 M pairs/s, interleaved
    single-thread at n=8000) and the diagonal kernel is the more
    cache-resident of the two in degraded DRAM regimes."""
    if l <= DIAG_MIN_L:
        return False
    return m >= 80


def _mp_top1_diag(T, mu, sig, m, con, fin, any_con, all_fin, ez,
                  P, I, IL, IR, PL, PR):
    """Self-join top-1 profile by vectorized diagonal STOMP.

    The reference walks each diagonal with an njit scalar recurrence
    (stomp.py:146-149); here a whole *chunk* of B consecutive diagonals
    is one numpy working set: QT along diagonal ``d`` is
    ``cumsum([QT[0,d], g_0, g_1, ...])`` with
    ``g_i = T[i+m] T[i+d+m] - T[i] T[i+d]`` — every partial sum is an
    integer below 2**53 when :func:`_qt_recurrence_ok` holds, so the
    whole profile is bit-exact (drift-free, stricter than the
    reference).  No window matrix is ever materialized: the factors are
    shifted strided views of the 1-D series, so the chunk's DRAM
    footprint is O(L0) regardless of m — O(n^2) total work with an
    O(cache) working set.

    Cells are laid out *skewed*: the physical buffer ``W`` stores
    diagonal ``b`` shifted right by ``b``, making column ``c`` hold all
    cells of profile column ``j = d0 + c`` — so BOTH the row-direction
    and column-direction minima are plain axis-0 reductions (no
    transpose, no gather), and the band ``|j - i| <= ez`` costs nothing
    because diagonals start at ``d = ez + 1``.

    Tie rule parity with the tile sweep: right-side candidates arrive
    in ascending ``j`` (strict ``<`` keeps the first), left-side
    candidates arrive in *descending* ``i`` across chunks (``<=`` keeps
    the last = smallest ``i``), and the final combine prefers the left
    neighbor on exact ties — the same "ascending neighbor order" rule
    :func:`_top1_sweep` implements.

    Minima are tracked in the shifted ``D^2 - 2m`` space of
    :meth:`_QTProvider.xdist` (snapped cells land on exactly ``-2m``;
    the ``+2m`` and the sqrt run once over the final l-vectors), and
    both reductions are ``min(axis=0)`` with *lazy index recovery*:
    ``np.argmin`` walks the reduced axis scalar-at-a-time (~10x the
    cost of the vectorized ``min`` on these wide chunks), so the
    argmin runs only over the columns whose chunk minimum actually
    improves the running best — a set that thins out harmonically
    (~ln(#chunks) record-breaks per column on non-degenerate data).
    """
    from numpy.lib.stride_tricks import as_strided

    l = mu.shape[0]
    pr_ = np.full(l, np.inf)
    ir_ = np.full(l, -1, dtype=np.int64)
    pl_ = np.full(l, np.inf)
    il_ = np.full(l, -1, dtype=np.int64)
    twom = 2.0 * m
    d0 = ez + 1
    if d0 < l:
        pad = _DIAG_B_CAP
        T_pad = np.concatenate([T, np.zeros(pad)])
        if any_con:
            con_pad = np.concatenate([con, np.zeros(pad, dtype=bool)])
        # QT[0, d] for every diagonal in one exact pass (sums of <= m
        # integer products, |sum| < 2**52 -> exact in any order)
        qt0 = np.correlate(T, T[:m], mode="valid")
        # fused scale: E = D^2 - 2m = QT*f_i*r_j + g_i*a_j with
        # f = -2/sig, r = 1/sig, g = -m*mu*f, a = mu*r — the per-chunk
        # outer-subtract of m*mu_i*mu_j folds into one multiply-add and
        # the f_i factor applies as an in-place row broadcast (one
        # fewer t2 round-trip per chunk than the subtract form).
        # sig == 0 (constant or all-NaN windows) maps to factor 0 ->
        # E = 0 (D^2 = 2m), a harmless finite placeholder always
        # overwritten by the con/fin masks below.
        with np.errstate(divide="ignore", invalid="ignore"):
            negfac = np.where(sig > 0.0, -2.0 / sig, 0.0)
            rsig = np.where(sig > 0.0, 1.0 / sig, 0.0)
            gvec = -(m * mu) * negfac
        rsig_pad = np.concatenate([rsig, np.zeros(pad)])
        with np.errstate(invalid="ignore"):
            murs_pad = np.concatenate([mu * rsig, np.zeros(pad)])
        thr = config.P_NORM_THRESHOLD - twom
        # persistent chunk buffers: a fresh np.empty per chunk pays
        # page-fault + first-touch cost on every iteration (~2x on the
        # elementwise passes); B*(L0+B) <= 2*chunk-cells except when a
        # single over-long diagonal (B == 1) exceeds the budget
        L0_max = l - d0
        wcap = max(2 * DIAG_CHUNK_CELLS, L0_max + _DIAG_B_CAP + 1)
        wbuf = np.empty(wcap)
        tbuf = np.empty(max(DIAG_CHUNK_CELLS, L0_max))
        while d0 < l:
            L0 = l - d0
            B = max(1, min(_DIAG_B_CAP, DIAG_CHUNK_CELLS // L0, L0))
            W = wbuf[:B * (L0 + B)].reshape(B, L0 + B)
            V = as_strided(W, shape=(B, L0),
                           strides=(W.strides[0] + 8, 8))
            t2 = tbuf[:B * L0].reshape(B, L0)
            V[:, 0] = qt0[d0:d0 + B]
            if L0 > 1:
                M1 = as_strided(T_pad[d0 + m:], (B, L0 - 1), (8, 8))
                M0 = as_strided(T_pad[d0:], (B, L0 - 1), (8, 8))
                np.multiply(M1, T[m:m + L0 - 1][None, :], out=V[:, 1:])
                np.multiply(M0, T[:L0 - 1][None, :], out=t2[:, 1:])
                V[:, 1:] -= t2[:, 1:]
            np.cumsum(V, axis=1, out=V)
            # QT -> shifted squared distance (D^2 - 2m, the xdist
            # convention): E = QT*f_i*r_j + g_i*a_j; sqrt is monotone
            # and the shift constant, so min/argmin and the snap
            # threshold are unchanged; +2m and sqrt run once over the
            # final l-vectors
            MrsB = as_strided(rsig_pad[d0:], (B, L0), (8, 8))
            MaB = as_strided(murs_pad[d0:], (B, L0), (8, 8))
            # non-finite windows (mu = inf) legitimately produce
            # inf/NaN cells here; the fin mask below overwrites them
            with np.errstate(invalid="ignore"):
                V *= negfac[:L0][None, :]
                V *= MrsB
                np.multiply(MaB, gvec[:L0][None, :], out=t2)
                V += t2
            # snap-to-zero is applied lazily (below) instead of as a
            # full-chunk pass here: min-then-clamp equals clamp-then-min
            # (cells below thr all map to -2m, and every unclamped cell
            # is >= thr > -2m), and the argmin subsets clamp their own
            # gathered copies so tie selection is bit-identical
            if any_con:
                McB = as_strided(con_pad[d0:], (B, L0), (1, 1))
                ca = con[:L0][None, :]
                V[ca & McB] = -twom          # D^2 == 0
                V[ca ^ McB] = -float(m)      # D^2 == m
            if not all_fin:
                V[:, ~fin[:L0]] = np.inf       # row i non-finite
                W[:, :L0][:, ~fin[d0:d0 + L0]] = np.inf   # col j
            # the padded tail i >= l - d0 - b of each diagonal lands
            # exactly in physical columns c >= L0 (one contiguous kill);
            # the never-written left triangle c < b must also be +inf so
            # the column-side argmin skips it
            if B > 1:
                W[:, L0:] = np.inf
                bi = np.arange(B)
                W[:, :B][bi[:, None] > np.arange(B)[None, :]] = np.inf
            # row side: cell (b, i) is row i's right neighbor j=i+d0+b;
            # first-argmin = smallest b = ascending-j tie rule; the
            # argmin runs lazily, only over improving columns
            vmin = V.min(axis=0)
            vmin[vmin < thr] = -twom          # lazy snap, L0-vector cost
            upd = vmin < pr_[:L0]
            if upd.any():
                cols = np.nonzero(upd)[0]
                pr_[cols] = vmin[upd]
                sub = V[:, cols]
                sub[sub < thr] = -twom        # clamp the gathered copy
                barg = np.argmin(sub, axis=0)
                ir_[cols] = cols + d0 + barg
            # col side: physical column c holds column j = d0 + c;
            # reversed argmin = largest b = smallest i; <= keeps the
            # later (smaller-i) candidate on cross-chunk ties
            Wv = W[:, :L0]
            wmin = Wv.min(axis=0)
            wmin[wmin < thr] = -twom          # lazy snap, L0-vector cost
            upd = wmin <= pl_[d0:d0 + L0]
            np.logical_and(upd, np.isfinite(wmin), out=upd)
            if upd.any():
                cols = np.nonzero(upd)[0]
                pl_[d0 + cols] = wmin[upd]
                sub = Wv[::-1][:, cols]
                sub[sub < thr] = -twom        # clamp the gathered copy
                bargr = np.argmin(sub, axis=0)
                il_[d0 + cols] = cols - (B - 1 - bargr)
            d0 += B
    P[:, 0], I[:, 0] = top1_from_shifted(pl_, pr_, il_, ir_, m)
    PL[:] = np.sqrt(pl_ + twom)
    PR[:] = np.sqrt(pr_ + twom)
    IL[:] = il_
    IR[:] = ir_


def top1_from_shifted(pl, pr, il, ir, m):
    """Top-1 epilogue of the diagonal kernels (numpy and compiled).

    ``pl``/``pr`` are the left/right running minima in the shifted
    ``D^2 - 2m`` space, ``il``/``ir`` their neighbor indices.  Returns
    the l-vectors ``P0 = sqrt(min(pl, pr) + 2m)`` and ``I0`` by the
    :func:`_top1` tie rule."""
    return _top1(pl, pr, il, ir, lambda x: np.sqrt(x + 2.0 * m))


def _mp_top1_c(A: np.ndarray, m: int):
    """Compiled-kernel wrapper: returns ``(P, I, IL, IR, PL, PR)`` or
    None when the C kernel is unavailable or the series is ineligible
    (non-integer values, constant windows, ...).  Same epilogue as
    :func:`_mp_top1_diag` (bit-identical outputs, asserted by
    tests/test_kernels.py::test_ckernel_bit_parity_with_diag)."""
    from . import cnative

    if A.shape[0] < m:
        return None
    res = cnative.mp_top1_self_int(A, m, excl_zone(m),
                                   config.P_NORM_THRESHOLD)
    if res is None or res[0] != 0:
        return None
    _, pr_, ir_, pl_, il_ = res
    P0, I0 = top1_from_shifted(pl_, pr_, il_, ir_, m)
    twom = 2.0 * m
    return (P0[:, None], I0[:, None], il_, ir_,
            np.sqrt(pl_ + twom), np.sqrt(pr_ + twom))


def matrix_profile(
    T_A: np.ndarray,
    m: int,
    T_B: np.ndarray | None = None,
    k: int = 1,
    block_rows: int = 1024,
    return_left_right_P: bool = False,
    compute_left_right: bool = True,
    T_A_subseq_isconstant=None,
    T_B_subseq_isconstant=None,
):
    """Exact top-k matrix profile, self-join or AB-join.

    Semantics of stumpy/stump.py:513-753: for every subsequence of ``T_A``
    return the k nearest subsequences of ``T_B`` (z-normalized Euclidean),
    plus top-1 left/right neighbors for self-joins.  Routes, first match
    wins (all exact and memory-bounded):

    1. compiled diagonal STOMP (:func:`_mp_top1_c`): top-1 self-join of
       an integer series without constant windows or a constant hook;
    2. numpy diagonal STOMP (:func:`_mp_top1_diag`): top-1 self-join of
       an integer series where :func:`_use_diag` says it beats GEMM
       (bit-identical to route 1);
    3. the GEMM tile sweep (:func:`_top1_sweep` over a
       :class:`_QTProvider`): any other top-1 profile;
    4. GEMM row blocks of ``block_rows`` with a tie-aware top-k
       (:func:`_topk_rows`, same source): ``k > 1``.

    Routes 2 and 3 may differ by an ULP on a pair: the GEMM folds the
    normalization into its operands, the diagonal kernel applies it per
    cell.  The 6-decimal rounding of the correctness oracle absorbs it.
    ``compute_left_right=False`` saves work on route 4 only; the other
    routes get left/right neighbors for free.

    Returns ``(P, I, IL, IR)``: P (l, k) float64, I (l, k) int64,
    IL/IR (l,) int64 (-1 where absent; IL/IR are meaningless for AB-joins,
    returned as -1, matching ignore_trivial=False semantics).
    """
    self_join = T_B is None
    # compiled fast path (self-join top-1, integer series, no user
    # constant hook): the fused C diagonal-STOMP kernel mirrors
    # _mp_top1_diag's arithmetic bit-for-bit and checks its own
    # eligibility (integral, finite, magnitude-bounded, no constant
    # windows) — any other series falls through to the numpy paths
    if self_join and k == 1 and T_A_subseq_isconstant is None:
        A0 = np.ascontiguousarray(T_A, dtype=np.float64)
        res = _mp_top1_c(A0, m)
        if res is not None:
            if return_left_right_P:
                return res
            return res[:4]
    prep_A = preprocess(np.asarray(T_A, np.float64), m,
                        T_A_subseq_isconstant)
    prep_B = prep_A if self_join else preprocess(
        np.asarray(T_B, np.float64), m, T_B_subseq_isconstant)
    A, mu_A, sig_A, fin_A, con_A = prep_A
    la = A.shape[0] - m + 1
    ez = excl_zone(m) if self_join else -1
    # diagonal fast path (self-join top-1): O(n^2) exact cumsum-STOMP
    # with an O(cache) working set and no window matrix at all — taken
    # for any m when provably drift-free (integer series)
    if (self_join and k == 1 and _use_diag(la, m)
            and _qt_recurrence_ok(A, m)):
        P = np.full((la, 1), np.inf)
        I = np.full((la, 1), -1, dtype=np.int64)
        IL = np.full(la, -1, dtype=np.int64)
        IR = np.full(la, -1, dtype=np.int64)
        PL = np.full(la, np.inf)
        PR = np.full(la, np.inf)
        _mp_top1_diag(A, mu_A, sig_A, m, con_A, fin_A, bool(con_A.any()),
                      bool(fin_A.all()), ez, P, I, IL, IR, PL, PR)
    else:
        src = _QTProvider(prep_A, prep_B, m)
        if k == 1:
            (P0, I0, PL, IL, PR, IR), _ = _top1_sweep(src, 0, la, 0,
                                                      src.c1, ez)
            P, I = P0[:, None], I0[:, None]
        else:
            P, I, IL, IR, PL, PR = _topk_rows(
                src, k, ez, block_rows, self_join and compute_left_right)
    if return_left_right_P:
        return P, I, IL, IR, PL, PR
    return P, I, IL, IR


# ---------------------------------------------------------------------------
# p-norm (non-normalized / aamp) variants
# ---------------------------------------------------------------------------

def mass_absolute(Q: np.ndarray, T: np.ndarray, p: float = 2.0,
                  query_idx: int | None = None) -> np.ndarray:
    """Non-normalized distance profile (contract of core.py:1369-1462)."""
    Q = np.asarray(Q, dtype=np.float64)
    T = np.asarray(T, dtype=np.float64)
    m = Q.shape[0]
    T_isfinite = rolling_isfinite(T, m)
    Q_isfinite = bool(np.all(np.isfinite(Q)))
    # zero (not clamp-to-1.8e308) non-finite values: the distances at
    # those positions are masked to inf below anyway, and clamped infs
    # overflow |diff|**p (same contract as the aamp kernels)
    Qc = np.nan_to_num(Q, nan=0.0, posinf=0.0, neginf=0.0)
    Tc = np.nan_to_num(T, nan=0.0, posinf=0.0, neginf=0.0)
    windows = np.lib.stride_tricks.sliding_window_view(Tc, m)
    if p == 2.0:
        # direct (w - Q)^2 sum: O(n m) but cancellation-free, exact at the
        # query's own position (the GEMM expansion loses ~sqrt(eps)·scale)
        diff = windows - Qc
        D = np.sqrt(np.einsum("ij,ij->i", diff, diff))
    else:
        D = np.power(np.sum(np.abs(windows - Qc) ** p, axis=1), 1.0 / p)
    D[~T_isfinite] = np.inf
    if not Q_isfinite:
        D[:] = np.inf
    if query_idx is not None:
        apply_exclusion_zone(D, query_idx, np.inf, excl_zone(m))
    return D


def mass_distance_matrix(Q_mat: np.ndarray, T: np.ndarray,
                         normalize: bool = True, p: float = 2.0,
                         T_subseq_isconstant=None) -> np.ndarray:
    """All-queries × all-subsequences distance matrix — the reference's
    ``core._mass_distance_matrix`` (core.py:1836-2005, a loop of MASS
    rows) and its p-norm twin, as one blocked GEMM / offset accumulation.

    ``Q_mat``: (nq, m) query rows.  Returns (nq, l), l = len(T) − m + 1,
    with every per-row MASS special case: constant windows (both → 0,
    one → √m), non-finite query rows / T windows → inf, snap-to-zero.
    Row q equals ``mass(Q_mat[q], T)`` / ``mass_absolute(Q_mat[q], T)``.
    """
    Q_mat = np.atleast_2d(np.asarray(Q_mat, dtype=np.float64))
    nq, m = Q_mat.shape
    q_fin = np.isfinite(Q_mat).all(axis=1)
    Qc = np.nan_to_num(Q_mat, nan=0.0, posinf=0.0, neginf=0.0)
    if normalize:
        Tc, M_T, Sigma_T, T_fin, T_con = preprocess(
            T, m, T_subseq_isconstant)
        mu_q = Qc.mean(axis=1)
        sig_q = Qc.std(axis=1)
        q_con = q_fin & (np.ptp(Qc, axis=1) == 0)
        wT = np.ascontiguousarray(
            np.lib.stride_tricks.sliding_window_view(Tc, m))
        rho = _pearson_block(Qc, wT, mu_q, sig_q, M_T, Sigma_T, m)
        D2 = np.abs(2.0 * m * (1.0 - rho))
        ca = q_con[:, None]
        cb = T_con[None, :]
        D2 = np.where(ca & cb, 0.0, D2)
        D2 = np.where(ca ^ cb, float(m), D2)
        D2[~q_fin, :] = np.inf
        D2[:, ~T_fin] = np.inf
        return np.sqrt(snap_to_zero(D2))
    T = np.asarray(T, dtype=np.float64)
    T_fin = rolling_isfinite(T, m)
    Tc = np.nan_to_num(T)
    l = len(T) - m + 1
    # per-offset accumulation: memory-safe (no (nq, l, m) cube) and the
    # same element order as mass_absolute's per-row sum — no GEMM
    # expansion, so no catastrophic cancellation at near-duplicates
    acc = np.zeros((nq, l))
    for o in range(m):
        d = np.abs(Qc[:, o][:, None] - Tc[None, o:o + l])
        if p == 2.0:
            acc += d * d
        else:
            acc += d ** p
    D = np.sqrt(acc) if p == 2.0 else acc ** (1.0 / p)
    D[~q_fin, :] = np.inf
    D[:, ~T_fin] = np.inf
    return D


def matrix_profile_absolute(
    T_A: np.ndarray,
    m: int,
    T_B: np.ndarray | None = None,
    p: float = 2.0,
    k: int = 1,
    block_rows: int = 512,
):
    """Non-normalized (aamp) matrix profile (stumpy/aamp.py:334-441).

    Same join/topk/left-right semantics as :func:`matrix_profile`, distance
    ``(sum |a-b|^p)^(1/p)`` from a :class:`_PNormSource`: the
    :func:`_top1_sweep` for ``k == 1``, row blocks of ``block_rows`` for
    ``k > 1``.
    """
    self_join = T_B is None
    prep_A = _preprocess_abs(T_A, m)
    prep_B = prep_A if self_join else _preprocess_abs(T_B, m)
    src = _PNormSource(prep_A, prep_B, m, p)
    ez = excl_zone(m) if self_join else -1
    if k == 1:
        (P0, I0, _, IL, _, IR), _ = _top1_sweep(src, 0, src.r1, 0, src.c1,
                                                ez)
        return P0[:, None], I0[:, None], IL, IR
    return _topk_rows(src, k, ez, block_rows, self_join)[:4]


def topk_tie_aware(D: np.ndarray, kk: int):
    """Per-row ``kk`` smallest entries of ``D`` with exact ties at the
    k-th boundary broken toward the smaller column index.

    ``argpartition`` alone keeps an *arbitrary* subset of exactly-tied
    values at the boundary, so a tied smaller-j candidate can be dropped
    before any later (value, j) sort — visible with constant windows,
    where many distances are exactly 0 (the reference's ascending-j scan
    keeps earlier columns, core.py:3325-3516 merge rule).  This selector
    is O(nr*nc): threshold at the per-row k-th smallest value, keep all
    strictly-smaller entries plus the smallest-j tied ones via an
    ascending-j cumulative count.  Returns ``(vals, cols)`` sorted by
    (value, col) per row; rows with fewer than ``kk`` comparable entries
    are padded with ``(inf, -1)``.
    """
    nr, nc = D.shape
    if kk >= nc:
        order = np.argsort(D, axis=1, kind="stable")
        vals = np.take_along_axis(D, order, axis=1)
        return vals, order.astype(np.int64)
    kth = np.partition(D, kk - 1, axis=1)[:, kk - 1:kk]
    lt = D < kth
    eq = D == kth
    n_lt = lt.sum(axis=1, keepdims=True)
    keep = lt | (eq & (np.cumsum(eq, axis=1) <= kk - n_lt))
    r_idx, c_idx = np.nonzero(keep)
    pos = (np.cumsum(keep, axis=1) - 1)[r_idx, c_idx]
    vals = np.full((nr, kk), np.inf)
    cols = np.full((nr, kk), -1, dtype=np.int64)
    vals[r_idx, pos] = D[r_idx, c_idx]
    cols[r_idx, pos] = c_idx
    # entries are already in ascending-j order per row, so a stable sort
    # by value yields (value, j) order
    order = np.argsort(vals, axis=1, kind="stable")
    return (np.take_along_axis(vals, order, axis=1),
            np.take_along_axis(cols, order, axis=1))


# ---------------------------------------------------------------------------
# top-k merge (partial -> final aggregation contract)
# ---------------------------------------------------------------------------

def merge_topk(PA, IA, PB, IB):
    """Merge two sorted top-k (P, I) row sets; A wins ties, dedup by index.

    Contract of core.py:3325-3394 ``_merge_topk_PI`` — the partial/final
    aggregation rule used when partition-local top-k results are combined.
    Inputs/outputs: (l, k) arrays, rows sorted ascending by P.
    """
    l, k = PA.shape
    P_out = np.empty_like(PA)
    I_out = np.empty_like(IA)
    for i in range(l):
        # mask B entries whose index already appears in A (dedup-by-index)
        dup = np.isin(IB[i], IA[i]) & (IB[i] != -1)
        pb = np.where(dup, np.inf, PB[i])
        cat_p = np.concatenate([PA[i], pb])
        cat_i = np.concatenate([IA[i], IB[i]])
        # stable sort → A entries (listed first) win ties
        order = np.argsort(cat_p, kind="stable")[:k]
        P_out[i] = cat_p[order]
        I_out[i] = np.where(np.isfinite(cat_p[order]), cat_i[order], -1)
    return P_out, I_out
