"""Pure-numpy sliding-window kernels (no Spark imports).

These are the vectorized building blocks that the engine's pandas/Arrow UDFs
close over.  Semantics reproduce the reference's numerical contracts
(citations refer to /root/reference/):

- sliding mean/std via the two-cumulative-sum trick
  (contract of stumpy/core.py:1018-1100 ``compute_mean_std``)
- sliding dot product, direct and FFT (core.py:652-715)
- one z-normalized squared-distance formula with constant / non-finite
  special cases and snap-to-zero (core.py:1107-1168
  ``_calculate_squared_distance``), :func:`squared_distance_profile`
- one direct p-norm accumulator, :func:`_pnorm_direct`, and one p = 2
  expansion ``|a|^2 + |b|^2 - 2 a.b``, :func:`_sq_euclid`, which
  recomputes its cancellation-suspect cells directly and runs on the
  series minus one integer shift per join (:func:`_int_shift`)
- exclusion zone (core.py:2047-2106), rolling isfinite (core.py:2522-2579),
  rolling isconstant (core.py:2583-2687)
- top-k merge rules (core.py:3325-3516)

Every numpy distance except the folded :class:`_QTProvider` tile,
:func:`idx_to_mp` and :func:`mueen_calculate_distance_profile` comes
from those three routines: ``mass``, ``mass_absolute``,
``mass_distance_matrix``, the Pearson and p-norm tiles, the anytime
states of :mod:`stumpy_spark.anytime` and the one incremental state of
:mod:`stumpy_spark.streaming` (one matrix-vector product per appended
point).  Everything is vectorized or BLAS-backed; no per-element Python
loops in any hot path.  Implementations are written from scratch
against the documented semantics — this is not a copy of the
reference's numba kernels.  The numpy matrix profiles compute blocked
GEMM dot-product tiles, the right shape for a columnar Arrow batch.
The reference's diagonal recurrence (an O(1) covariance update per
cell) exists only as the compiled kernel of :mod:`stumpy_spark.cnative`,
which takes only top-1 self-joins and AB-joins of integer series, one
block at a time behind :func:`_top1_sweep`, where every partial dot
product is an exact float64 integer.
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
    (core.py:2690-2734 ``fix_isconstant_isfinite_conflicts``); their
    values are zeroed before the min/max scan, so it raises no warning.
    """
    fin = np.isfinite(T)
    if fin.all():
        return (sliding_max(T, m) - sliding_min(T, m)) == 0
    Tz = np.where(fin, T, 0.0)
    out = (sliding_max(Tz, m) - sliding_min(Tz, m)) == 0
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
        isconstant = process_isconstant(T, m, T_subseq_isconstant)
        M_T, Sigma_T = sliding_mean_std(T, m)
        return T, M_T, Sigma_T, isfinite_w, isconstant
    isfinite_w = rolling_isfinite(T, m)
    T[~fin_el] = np.nan
    isconstant = process_isconstant(T, m, T_subseq_isconstant)
    T[~fin_el] = 0.0
    M_T, Sigma_T = sliding_mean_std(T, m)
    # Windows with any non-finite value get mean inf (core.py:1092-1093)
    M_T[~isfinite_w] = np.inf
    return T, M_T, Sigma_T, isfinite_w, isconstant


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
        return rolling_isconstant(T, m)
    if callable(T_subseq_isconstant):
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


def _z_norm_rows(a: np.ndarray) -> np.ndarray:
    """Per-row z-norm with the reference's constant-row contract:
    sigma below STDDEV_THRESHOLD acts as 1 (core.py:359-383), and fully
    constant rows are zeroed afterwards (mstump.py:418-427)."""
    mu = a.mean(axis=1, keepdims=True)
    sig = a.std(axis=1, keepdims=True)
    sig = np.where(sig < config.STDDEV_THRESHOLD, 1.0, sig)
    z = (a - mu) / sig
    z[np.ptp(a, axis=1) == 0] = 0.0
    return z


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
    heuristic, SURVEY §4 row 2), else a direct ``np.correlate`` (numpy
    cannot hand the overlapping window view to BLAS, so a window matvec
    runs its slow generic loop).
    """
    Q = np.asarray(Q, dtype=np.float64)
    T = np.asarray(T, dtype=np.float64)
    m = Q.shape[0]
    n = T.shape[0]
    if m > 128 and n > 4096:
        return _sliding_dot_product_fft(Q, T)
    if m > n:   # np.correlate would swap its operands
        raise ValueError(f"window {m} longer than series {n}")
    return np.correlate(T, Q, "valid")


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
    """z-normalized squared distances from sliding dot products — the one
    Pearson per-cell formula of the engine.

    Vectorized restatement of core.py:1107-1168 ``_calculate_squared_distance``:
    ``rho = (QT - m mu_Q M_T) / (m sigma_Q Sigma_T)`` with the denominator
    clamped at DENOM_THRESHOLD, rho clamped <= 1, ``D^2 = 2m(1 - rho)``,
    snapped to 0 below P_NORM_THRESHOLD (stump.py:488-497);
    both-constant -> 0; exactly-one-constant -> m; non-finite -> inf.
    The query-side arguments broadcast against the series-side ones, so
    one query (scalars), a column of queries against a row of windows
    (a GEMM tile) and aligned pairs (a diagonal) all run here; ``QT`` is
    left untouched.
    """
    D2 = (m * mu_Q) * M_T
    np.subtract(QT, D2, out=D2)
    denom = (m * sigma_Q) * Sigma_T
    np.maximum(denom, config.DENOM_THRESHOLD, out=denom)
    D2 /= denom
    np.minimum(D2, 1.0, out=D2)
    np.subtract(1.0, D2, out=D2)
    D2 *= 2.0 * m
    D2[D2 < config.P_NORM_THRESHOLD] = 0.0
    # count_nonzero: the any()/all() test that stays cheap on a GEMM
    # tile's short flag slices and on plain bools alike
    if np.count_nonzero(Q_isconstant) or np.count_nonzero(T_isconstant):
        np.copyto(D2, 0.0, where=Q_isconstant & T_isconstant)
        np.copyto(D2, float(m), where=Q_isconstant ^ T_isconstant)
    if T_isfinite is not None:
        np.copyto(D2, np.inf, where=~T_isfinite)
    if np.count_nonzero(Q_isfinite) < np.size(Q_isfinite):
        np.copyto(D2, np.inf, where=~np.asarray(Q_isfinite))
    return D2


def _int_shift(T: np.ndarray) -> float:
    """The integer a p-norm join subtracts from both of its series:
    ``round(median)`` of the finite values (0 if there are none).
    p-norm distances do not change under a common shift, but the p = 2
    expansion (:func:`_sq_euclid`) cancels in proportion to the window
    norms, so offset series (values near 1e6 that vary by 100) lose
    most of their digits unshifted.  An integer shift keeps integer
    series integer, so their sums stay exact."""
    T = np.asarray(T, dtype=np.float64)
    fin = T[np.isfinite(T)]
    return float(np.round(np.median(fin))) if fin.size else 0.0


def _pnorm_direct(WA: np.ndarray, WB: np.ndarray, p: float) -> np.ndarray:
    """``sum_o |WA[..., o] - WB[..., o]|^p`` accumulated offset by offset
    — the one direct p-norm accumulator.  The window axis is last and
    the other axes broadcast: one query against a window matrix, a
    column of windows against a row of windows (a tile), or aligned
    pairs.  Memory is O(result), and no expansion means no cancellation:
    exact repeats come out exactly 0."""
    X = np.zeros(np.broadcast_shapes(WA.shape[:-1], WB.shape[:-1]))
    for o in range(WA.shape[-1]):
        d = WA[..., o] - WB[..., o]
        X += d * d if p == 2.0 else np.abs(d) ** p
    return X


def _p_root(X: np.ndarray, p: float) -> np.ndarray:
    """Distances from accumulated ``D^p``."""
    return np.sqrt(X) if p == 2.0 else X ** (1.0 / p)


def _sq_euclid(QT, a2, b2, WA, WB) -> np.ndarray:
    """Squared Euclidean distances by the p = 2 expansion
    ``|a|^2 + |b|^2 - 2 QT`` — the one expansion of the engine — from dot
    products ``QT`` and window square sums ``a2``/``b2`` (broadcasting
    like ``QT``); ``QT`` is left untouched.  The expansion cancels
    catastrophically at near-duplicate pairs (and can go negative), so
    every cell at most ``1e-8 * (a2 + b2)`` is recomputed directly, as
    the :func:`_sq_norms` of its window difference ``WA - WB`` (window
    axis last, broadcasting like ``QT``): exact repeats come out exactly
    0.  Callers pass series shifted by :func:`_int_shift`."""
    s = a2 + b2
    D2 = QT * -2.0
    D2 += s
    s *= 1e-8
    suspect = D2 <= s
    if suspect.any():
        idx = np.nonzero(suspect)
        shape = D2.shape + WA.shape[-1:]
        D2[idx] = _sq_norms(np.broadcast_to(WA, shape)[idx]
                            - np.broadcast_to(WB, shape)[idx])
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
    D = np.sqrt(squared_distance_profile(
        QT, mu_Q, sigma_Q, M_T, Sigma_T, m,
        Q_isconstant, T_isconstant, Q_isfinite, T_isfinite))
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

#: matrices up to this many cells run as a single tile (no blocking
#: overhead); above it, 128-square cache tiles.  Tuned on the real
#: short-doc length mix (cost-weighted sweep over the sf0.01 n_tok
#: distribution): 65536 (l <= 256) beat 262144 by ~23%.
ONE_TILE_CELLS = 65536


#: both operands of every tile GEMM are padded with zero rows to whole
#: panels of this many rows, the column operand to at least two panels.
#: OpenBLAS sums a cell of a partial panel in a different order than a
#: cell of a full panel, and numpy sends a 1-row or 1-column product to
#: gemv/dot.  Two shapes were seen to disagree with the full-square
#: product on OpenBLAS 0.3.23's SapphireRapids core (a DYNAMIC_ARCH
#: build), at 1 and 2 threads: a trailing partial column panel, and a
#: 32 x 32 product with an inner dimension of 32 or more.  Without the
#: padding a cell's value would depend on the tile geometry, so a tiled
#: plan could disagree with the single-task sweep in the last ULP and
#: flip a near-tie.  Observed bit-identical across tile shapes, offsets
#: and 1 vs 2 BLAS threads for m <= 256; a threaded call with m > 256
#: splits the inner dimension differently.
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
    values back to distances.  ``lead`` is the shape a tile carries
    before its (row, column) axes (see :func:`_top1_sweep`)."""

    lead = ()

    def __init__(self, fin_A, fin_B, rows, cols):
        self.r0, self.r1 = rows if rows else (0, len(fin_A))
        self.c0, self.c1 = cols if cols else (0, len(fin_B))
        self._fa = fin_A[self.r0:self.r1]
        self._fb = fin_B[self.c0:self.c1]
        self._all_fin = bool(self._fa.all()) and bool(self._fb.all())

    @staticmethod
    def _operand(W, lo, hi, pad):
        """Contiguous ``W[lo:hi]`` plus ``pad`` trailing zero rows (BLAS
        GEMM on strided sliding-window views is ~10x slower): a row
        operand takes ``_GEMM_ROWS - 1`` of them, a column operand ``2 *
        _GEMM_ROWS - 1``, so :meth:`_gemm` can cut whole panels at any
        offset."""
        out = np.zeros((hi - lo + pad, W.shape[1]))
        out[:hi - lo] = W[lo:hi]
        return out

    def _gemm(self, i0, i1, j0, j1):
        """``Ax[i0:i1] @ Bx[j0:j1].T`` (local offsets), run on whole
        :data:`_GEMM_ROWS` panels of both operands — at least two of the
        column operand, so the product is never 32 x 32 — so every
        cell's value is independent of the tile geometry."""
        nr, nc = i1 - i0, j1 - j0
        X = (self._Ax[i0:i0 + -(-nr // _GEMM_ROWS) * _GEMM_ROWS]
             @ self._Bx[j0:j0 + max(-(-nc // _GEMM_ROWS), 2)
                        * _GEMM_ROWS].T)
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
    D^2 < thr``); snapped cells land on exactly ``-2m``.

    ``pearson=True`` gives up the folding for the reference's per-cell
    formula: tiles of ``D^2`` itself, :func:`squared_distance_profile` of
    a GEMM on the raw windows.  On integer series with a power-of-two m
    every step up to the division is exact, so pairs whose z-normalized
    windows coincide — offset or mirrored copies — tie exactly, as they
    do in the SQL oracles; the folded form rounds them apart.  It costs
    about five more passes per tile."""

    def __init__(self, prep_A, prep_B, m, rows=None, cols=None,
                 pearson=False):
        TA, muA, sigA, finA, conA = prep_A
        TB, muB, sigB, finB, conB = prep_B
        super().__init__(finA, finB, rows, cols)
        self.m = m
        self._pearson = pearson
        self._shift = 0.0 if pearson else 2.0 * m
        self._Ax, mu_a = self._side(TA, muA, sigA, self.r0, self.r1,
                                    -2.0, _GEMM_ROWS - 1)
        self._Bx, self._mu_b = self._side(TB, muB, sigB, self.c0, self.c1,
                                          1.0, 2 * _GEMM_ROWS - 1)
        self._mu_a = mu_a[:, None]
        self._sig_a = sigA[self.r0:self.r1, None]
        self._sig_b = sigB[self.c0:self.c1]
        self._ca = conA[self.r0:self.r1]
        self._cb = conB[self.c0:self.c1]
        self._any_con = bool(self._ca.any()) or bool(self._cb.any())

    def _side(self, T, mu, sig, lo, hi, num, pad):
        """GEMM operand of windows lo:hi and their means (0 for
        non-finite and constant windows); unless ``pearson`` the operand
        is centered and scaled by ``num/sig`` (zero rows for those)."""
        mu, sig = mu[lo:hi], sig[lo:hi]
        with np.errstate(divide="ignore", invalid="ignore"):
            ok = np.isfinite(mu) & (sig > 0.0)
            fac = np.where(ok, num / sig, 0.0)
        mu = np.where(ok, mu, 0.0)
        W = np.lib.stride_tricks.sliding_window_view(T, self.m)
        out = self._operand(W, lo, hi, pad)
        if not self._pearson:
            out[:hi - lo] -= mu[:, None]
            out[:hi - lo] *= fac[:, None]
        return out, mu

    def _tile(self, i0, i1, j0, j1):
        m, shift = self.m, self._shift
        X = self._gemm(i0, i1, j0, j1)
        ca = self._ca[i0:i1, None]
        cb = self._cb[j0:j1]
        if self._pearson:
            return squared_distance_profile(
                X, self._mu_a[i0:i1], self._sig_a[i0:i1], self._mu_b[j0:j1],
                self._sig_b[j0:j1], m, ca, cb)
        X[X < config.P_NORM_THRESHOLD - shift] = -shift
        if self._any_con:
            X[ca & cb] = -shift                # D^2 == 0
            X[ca ^ cb] = float(m) - shift      # D^2 == m
        return X

    def dist(self, x):
        return np.sqrt(x + self._shift)


def _preprocess_abs(T, m, shift=None):
    """aamp preprocessing (aamp.py:38-55): ``(T_clean, sq, fin)`` —
    the series minus ``shift`` (default: its own :func:`_int_shift`; an
    AB-join passes one shift for both sides) with non-finite values
    zeroed (not nan_to_num, whose inf -> 1.8e308 overflows the sums of
    masked cells), window square sums for the p == 2 expansion, and the
    finite-window mask.  The square sums are :func:`_sq_norms`, not
    cumsum differences, so equal windows get equal sums wherever they
    sit and exact repeats tie exactly."""
    T = np.asarray(T, dtype=np.float64)
    if shift is None:
        shift = _int_shift(T)
    Tc = np.where(np.isfinite(T), T - shift, 0.0)
    return (Tc, _sq_norms(np.lib.stride_tricks.sliding_window_view(Tc, m)),
            rolling_isfinite(T, m))


def _sq_norms(W: np.ndarray) -> np.ndarray:
    """Square sums of the window rows of ``W``, one fixed summation order
    per row, so equal windows get equal sums."""
    return np.einsum("ij,ij->i", W, W)


class _PNormSource(_TileSource):
    """p-norm (aamp) source over :func:`_preprocess_abs` tuples: tiles of
    ``D^p``.  p == 2 runs :func:`_sq_euclid` on one GEMM of the windows;
    any other p runs :func:`_pnorm_direct`, O(tile) memory."""

    def __init__(self, prep_A, prep_B, m, p=2.0, rows=None, cols=None):
        TA, a2, finA = prep_A
        TB, b2, finB = prep_B
        super().__init__(finA, finB, rows, cols)
        self.m, self.p = m, p
        W = np.lib.stride_tricks.sliding_window_view
        if p == 2.0:
            self._Ax = self._operand(W(TA, m), self.r0, self.r1,
                                     _GEMM_ROWS - 1)
            self._Bx = self._operand(W(TB, m), self.c0, self.c1,
                                     2 * _GEMM_ROWS - 1)
            self._a2 = a2[self.r0:self.r1, None]
            self._b2 = b2[self.c0:self.c1]
        else:
            self._Ax = W(TA, m)[self.r0:self.r1]
            self._Bx = W(TB, m)[self.c0:self.c1]

    def _tile(self, i0, i1, j0, j1):
        WA, WB = self._Ax[i0:i1, None], self._Bx[j0:j1]
        if self.p != 2.0:
            return _pnorm_direct(WA, WB, self.p)
        return _sq_euclid(self._gemm(i0, i1, j0, j1), self._a2[i0:i1],
                          self._b2[j0:j1], WA, WB)

    def dist(self, x):
        return _p_root(x, self.p)


def _apply_include_rows(D, include):
    """Row-swap so ``include`` dimensions occupy the first rows (the
    in-place swap of core.py:3893-3960 ``_apply_include``, applied to
    axis 0 of a (d, ...) distance tensor)."""
    r = include.shape[0]
    restricted = include[include < r]
    unrestricted = include[include >= r]
    mask = np.ones(r, dtype=bool)
    mask[restricted] = False
    tmp = D[:r].copy()
    D[:r] = D[include]
    D[unrestricted] = tmp[mask]


class _MultiSource:
    """Multi-dimensional self-join source (mstump semantics,
    mstump.py:534-546) over one :func:`preprocess` (``normalize``) or
    :func:`_preprocess_abs` tuple per dimension.  A tile is the
    ``(d, nr, nc)`` stack of the per-dimension distances — one
    :class:`_QTProvider` or :class:`_PNormSource` per dimension, each
    mapped through its own ``dist`` — with the ``include`` dimensions
    pinned to the front, the rest sorted over axis 0 (descending with
    ``discords``), then cumulatively averaged: plane k holds the mean of
    the k+1 best- (worst-) aligned dimensions.  Tiles are distances
    already, so :meth:`dist` is the identity.

    The z-norm dimensions use the ``pearson`` form, so pairs that tie in
    exact arithmetic — offset copies of a window, or one dimension
    mirroring another — tie in every level's mean too; the folded form's
    rounding breaks those ties and the profile's indices drift from the
    reference formula's."""

    def __init__(self, preps, m, normalize=True, p=2.0, include=None,
                 discords=False, rows=None, cols=None):
        if normalize:
            self._srcs = [_QTProvider(x, x, m, rows, cols, pearson=True)
                          for x in preps]
        else:
            self._srcs = [_PNormSource(x, x, m, p, rows, cols)
                          for x in preps]
        self.lead = (len(preps),)
        self._include = (None if include is None
                         else np.asarray(include, dtype=np.int64))
        self._discords = discords

    def xdist(self, a0, a1, b0, b1):
        D = np.stack([s.dist(s.xdist(a0, a1, b0, b1)) for s in self._srcs])
        free = D
        if self._include is not None:
            _apply_include_rows(D, self._include)
            free = D[len(self._include):]
        (free[::-1] if self._discords else free).sort(axis=0)
        D = np.cumsum(D, axis=0)
        D /= np.arange(1, len(D) + 1)[:, None, None]
        return D

    @staticmethod
    def dist(x):
        return x


class _CSource:
    """Integer z-norm source for the compiled block kernel: whole series
    A (rows) and B (columns) with the window stats
    ``cnative.window_stats`` computed once per series (see
    :func:`_c_source`).  It has no tiles: :func:`_top1_sweep` asks it
    for a block's running minima (:meth:`minima`) in the shifted ``D^2 -
    2m`` space of :class:`_QTProvider`.  QT heads are exact integers, so
    a block's minima are bit-identical whatever the blocking."""

    lead = ()

    def __init__(self, A, sa, B, sb, m):
        self.A, self.sa, self.B, self.sb, self.m = A, sa, B, sb, m
        self.r0, self.r1 = 0, sa.shape[1]
        self.c0, self.c1 = 0, sb.shape[1]

    def minima(self, r0, r1, c0, c1, ez):
        from . import cnative
        return cnative.top1_block(self.A, self.sa, self.B, self.sb,
                                  self.m, r0, r1, c0, c1, ez,
                                  config.P_NORM_THRESHOLD)

    def dist(self, x):
        return np.sqrt(x + 2.0 * self.m)


def _c_source(T_A, m, T_B=None):
    """A :class:`_CSource` over ``T_A`` (and ``T_B`` for an AB-join), or
    None when the compiled kernel is unavailable or declines a series:
    non-integral, non-finite or over-magnitude values, a constant
    window, shorter than ``m`` — decided once per series, so every
    block of it takes the same route."""
    from . import cnative

    sides = []
    for T in (T_A,) if T_B is None else (T_A, T_B):
        T = np.ascontiguousarray(T, dtype=np.float64)
        res = cnative.window_stats(T, m)
        if res is None or res[0] != 0:
            return None
        sides.append((T, res[1]))
    (A, sa), (B, sb) = sides[0], sides[-1]
    return _CSource(A, sa, B, sb, m)


def _mask_band(X, a0, b0, ez, lower=False):
    """inf on the exclusion band ``|j - i| <= ez`` of the tile whose
    first cell is (a0, b0), on every leading plane; ``lower=True`` masks
    every ``j - i <= ez`` (band plus lower triangle).  Only the columns
    the band reaches are touched."""
    nr, nc = X.shape[-2:]
    lo = 0 if lower else max(0, a0 - ez - b0)
    hi = min(nc, a0 + nr + ez - b0)
    if lo < hi:
        d = np.arange(b0 + lo, b0 + hi)[None, :] \
            - np.arange(a0, a0 + nr)[:, None]
        X[..., lo:hi][..., (d if lower else np.abs(d)) <= ez] = np.inf


def _improve(pv, jv, lo, vals, js):
    """First-strictly-smaller running-min update of ``pv/jv[..., lo:...]``
    — candidates arrive in ascending neighbor order, so this keeps the
    smallest neighbor index among exact ties."""
    n = vals.shape[-1]
    sl_p = pv[..., lo:lo + n]
    sl_j = jv[..., lo:lo + n]
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


def _sweep_minima(src, r0, r1, c0, c1, ez, diag, L):
    """Running minima ``(pr, ir, pl, il)`` of the GEMM tile walk that
    :func:`_top1_sweep` describes, each of shape (L, n) in the source's
    root-deferred space."""
    nr, nc = r1 - r0, c1 - c0
    br, bc = (nr, nc) if nr * nc <= ONE_TILE_CELLS else (128, 128)
    self_join = ez >= 0
    lz = np.arange(L)[:, None]
    pr = np.full((L, nr), np.inf)
    ir = np.full((L, nr), -1, dtype=np.int64)
    pl = np.full((L, nc), np.inf)
    il = np.full((L, nc), -1, dtype=np.int64)
    for a0 in range(r0, r1, br):
        a1 = min(a0 + br, r1)
        rr = np.arange(a1 - a0)
        for b0 in range(a0 if diag else c0, c1, bc):
            b1 = min(b0 + bc, c1)
            X = src.xdist(a0, a1, b0, b1).reshape(L, a1 - a0, b1 - b0)
            if self_join and b0 <= a1 - 1 + ez:
                _mask_band(X, a0, b0, ez, lower=True)
            j = np.argmin(X, axis=2)
            _improve(pr, ir, a0 - r0, X[lz, rr, j], j + b0)
            if self_join:
                i = np.argmin(X, axis=1)
                _improve(pl, il, b0 - c0, X[lz, i, np.arange(b1 - b0)],
                         i + a0)
    return pr, ir, pl, il


def _top1_sweep(src, r0, r1, c0, c1, ez):
    """The top-1 matrix profile of rows r0:r1 against columns c0:c1 of a
    tile-distance source; ``ez >= 0`` is a self-join (exclusion band
    ``|j - i| <= ez``, left/right profiles), ``ez < 0`` an AB-join.

    A self-join block is either diagonal (same row and column range) or
    strictly above the diagonal (``c0 >= r1``).  Every pair is evaluated
    once, in the orientation row < column, on the upper triangle of
    (``ONE_TILE_CELLS``-single, else 128-square) cache tiles: a tile's
    row minima are its rows' right neighbors, its column minima its
    columns' left neighbors, and cells with ``j - i <= ez`` are masked.
    Tiles run in ascending row, then column order, so each index sees
    its candidates in ascending neighbor order and strict-``<`` updates
    keep the first index among exact ties.  A :class:`_CSource` has no
    tiles: the compiled kernel walks the block's diagonals itself, with
    the same cells, value space and tie rule (``_native/mp_top1.c``),
    and only the epilogue below runs here.

    A source's tiles carry its leading shape ``src.lead`` before the
    (row, column) axes: ``()`` for one distance, ``(d,)`` for the d
    dimensionality levels of a :class:`_MultiSource`.  Each leading
    plane is an independent profile over the same tiles and band, and
    every returned array has shape ``src.lead + (rows,)``.

    Returns ``(rows, cols)``: ``rows = (P, I, PL, IL, PR, IR)`` for
    r0:r1 — on a diagonal block the column minima fold into the rows'
    left profile; ``cols`` is the same tuple for c0:c1 (left neighbors
    only) on a block strictly above the diagonal, else None.  AB-joins
    report PL/PR = inf, IL/IR = -1 (``ignore_trivial=False``)."""
    nr, nc = r1 - r0, c1 - c0
    self_join = ez >= 0
    diag = self_join and (r0, r1) == (c0, c1)
    # state is (planes, n) whatever the leading shape; reshaped on return
    L = math.prod(src.lead)
    if isinstance(src, _CSource):
        pr, ir, pl, il = (x[None] for x in src.minima(r0, r1, c0, c1, ez))
    else:
        pr, ir, pl, il = _sweep_minima(src, r0, r1, c0, c1, ez, diag, L)

    def out(*arrays):
        return tuple(x.reshape(src.lead + x.shape[1:]) for x in arrays)

    dist = src.dist
    if diag:
        return out(*_top1(pl, pr, il, ir, dist), dist(pl), il,
                   dist(pr), ir), None
    none_p = np.full((L, nr), np.inf)
    none_i = np.full((L, nr), -1, dtype=np.int64)
    if not self_join:
        return out(dist(pr), ir, none_p, none_i, none_p, none_i), None
    PR, PL = dist(pr), dist(pl)
    none_pc = np.full((L, nc), np.inf)
    none_ic = np.full((L, nc), -1, dtype=np.int64)
    return (out(PR, ir, none_p, none_i, PR, ir),
            out(PL, il, PL, il, none_pc, none_ic))


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

    1. the compiled diagonal-STOMP kernel: top-1 profile of integer
       series without constant windows or a constant hook, by
       :func:`_top1_sweep` over a :class:`_CSource` (one block, the
       whole square);
    2. the GEMM tile sweep (:func:`_top1_sweep` over a
       :class:`_QTProvider`): any other top-1 profile;
    3. GEMM row blocks of ``block_rows`` with a tie-aware top-k
       (:func:`_topk_rows`, same source): ``k > 1``.

    Routes 1 and 2 may differ in the last bits of a distance: the GEMM
    folds the normalization into its operands, the compiled kernel
    applies it per cell.  The kernel tests hold them within 1e-8, or
    within 1e-12 in squared distance at exact repeats, whose ``D^2``
    either route can leave a few ULPs of 2m above the snap; the
    oracle compares at 5 decimals.
    ``compute_left_right=False`` saves work on route 3 only; the other
    routes get left/right neighbors for free.

    Returns ``(P, I, IL, IR)``: P (l, k) float64, I (l, k) int64,
    IL/IR (l,) int64 (-1 where absent; IL/IR are meaningless for AB-joins,
    returned as -1, matching ignore_trivial=False semantics).
    """
    self_join = T_B is None
    src = None
    if (k == 1 and T_A_subseq_isconstant is None
            and T_B_subseq_isconstant is None):
        src = _c_source(T_A, m, T_B)
    if src is None:
        prep_A = preprocess(np.asarray(T_A, np.float64), m,
                            T_A_subseq_isconstant)
        prep_B = prep_A if self_join else preprocess(
            np.asarray(T_B, np.float64), m, T_B_subseq_isconstant)
        src = _QTProvider(prep_A, prep_B, m)
    ez = excl_zone(m) if self_join else -1
    if k == 1:
        (P0, I0, PL, IL, PR, IR), _ = _top1_sweep(src, 0, src.r1, 0,
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
    """Non-normalized distance profile (contract of core.py:1369-1462):
    the one-query row of :func:`mass_distance_matrix`."""
    D = mass_distance_matrix(Q, T, normalize=False, p=p)[0]
    if query_idx is not None:
        apply_exclusion_zone(D, query_idx, np.inf, excl_zone(len(Q)))
    return D


def mass_distance_matrix(Q_mat: np.ndarray, T: np.ndarray,
                         normalize: bool = True, p: float = 2.0,
                         T_subseq_isconstant=None) -> np.ndarray:
    """All-queries × all-subsequences distance matrix — the reference's
    ``core._mass_distance_matrix`` (core.py:1836-2005, a loop of MASS
    rows) and its p-norm twin: z-norm is one GEMM of dot products through
    :func:`squared_distance_profile`, p-norm one :func:`_pnorm_direct`
    accumulation over every (query, window) pair.

    ``Q_mat``: (nq, m) query rows.  Returns (nq, l), l = len(T) − m + 1,
    with every per-row MASS special case: constant windows (both → 0,
    one → √m), non-finite query rows / T windows → inf, snap-to-zero.
    Row q equals ``mass(Q_mat[q], T)`` / ``mass_absolute(Q_mat[q], T)``
    up to rounding, float input included.
    """
    Q_mat = np.atleast_2d(np.asarray(Q_mat, dtype=np.float64))
    m = Q_mat.shape[1]
    q_fin = np.isfinite(Q_mat).all(axis=1)[:, None]
    Qc = np.nan_to_num(Q_mat, nan=0.0, posinf=0.0, neginf=0.0)
    if normalize:
        Tc, M_T, Sigma_T, T_fin, T_con = preprocess(
            T, m, T_subseq_isconstant)
        wT = np.ascontiguousarray(
            np.lib.stride_tricks.sliding_window_view(Tc, m))
        q_con = q_fin & (np.ptp(Qc, axis=1) == 0)[:, None]
        return np.sqrt(squared_distance_profile(
            Qc @ wT.T, Qc.mean(axis=1)[:, None], Qc.std(axis=1)[:, None],
            M_T, Sigma_T, m, q_con, T_con, q_fin, T_fin))
    T = np.asarray(T, dtype=np.float64)
    T_fin = rolling_isfinite(T, m)
    # zero (not clamp-to-1.8e308) non-finite values: their distances are
    # masked to inf below anyway, and clamped infs overflow |diff|**p
    Tc = np.where(np.isfinite(T), T, 0.0)
    D = _p_root(_pnorm_direct(
        Qc[:, None], np.lib.stride_tricks.sliding_window_view(Tc, m), p), p)
    D[~q_fin[:, 0], :] = np.inf
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
    shift = _int_shift(T_A)
    prep_A = _preprocess_abs(T_A, m, shift)
    prep_B = prep_A if self_join else _preprocess_abs(T_B, m, shift)
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
