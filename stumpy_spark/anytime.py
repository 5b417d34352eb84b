"""Anytime / approximate matrix profiles (scrump, prescrump) and the
multi-dimensional profile (mstump).

Semantics follow the reference:

- :func:`prescrump` — PRESCRIMP sampling every s-th query subsequence
  (stumpy/scrump.py:507-649): each sampled query contributes its full
  distance profile, updating P symmetrically (elementwise min).
- :class:`Scrump` — SCRIMP++ diagonal-subset rounds
  (stumpy/scrump.py:650-1139): each ``update()`` processes a random subset
  of diagonals; P converges monotonically to the exact profile and equals
  it at 100%.
- :func:`multi_matrix_profile` — mstump / maamp (stumpy/mstump.py:
  1114-1287): per-pair per-dimension distances (z-norm or p-norm),
  column-sorted, cumulative-mean over the k smallest dims; returns one
  profile per dimensionality level.  It is a thin caller of the
  single-dimension tile sweep (``kernels._top1_sweep`` over a
  ``kernels._MultiSource``), the same sweep ``plans.longseq.mstumped``
  runs per tile.

All approximations are **upper bounds** of the exact profile (distances
only ever decrease as more entries are computed) — that invariant is what
the tests assert.
"""

from __future__ import annotations

import numpy as np

from . import kernels
from .kernels import _z_norm_rows


def prescrump(T, m: int, s: int | None = None, normalize: bool = True,
              p: float = 2.0):
    """Sampled-query approximate MP (prescraamp when normalize=False).
    Returns (P, I)."""
    T = np.asarray(T, dtype=np.float64)
    l = len(T) - m + 1
    ez = kernels.excl_zone(m)
    if s is None:
        s = ez if ez > 0 else 1
    if normalize:
        Tc, M_T, Sigma_T, fin, con = kernels.preprocess(T, m)
    P = np.full(l, np.inf)
    I = np.full(l, -1, dtype=np.int64)
    for i in range(0, l, s):
        if normalize:
            D = np.sqrt(kernels.squared_distance_profile(
                kernels.sliding_dot_product(Tc[i:i + m], Tc), M_T[i],
                Sigma_T[i], M_T, Sigma_T, m, con[i], con, fin[i], fin))
            kernels.apply_exclusion_zone(D, i, np.inf, ez)
        else:
            D = kernels.mass_absolute(T[i:i + m], T, p=p, query_idx=i)
        j = int(np.argmin(D))
        if D[j] < P[i]:
            P[i] = D[j]
            I[i] = j
        upd = D < P
        P[upd] = D[upd]
        I[upd] = i
    return P, I


class Scrump:
    """Anytime SCRIMP-style MP over random diagonal subsets.

    Each diagonal's distances come from the engine's shared formulas:
    :func:`kernels.squared_distance_profile` (z-norm), the p = 2
    expansion :func:`kernels._sq_euclid` on the series minus its
    :func:`kernels._int_shift`, or :func:`kernels._pnorm_direct` (other
    p).  At 100% the profile equals the batch ``matrix_profile`` /
    ``matrix_profile_absolute`` up to rounding, float input included."""

    def __init__(self, T, m: int, percentage: float = 0.01,
                 pre_scrump: bool = False, s: int | None = None,
                 seed: int = 42, normalize: bool = True, p: float = 2.0):
        T = np.asarray(T, dtype=np.float64)
        self.m = m
        self.normalize = normalize
        self.p = p
        self.l = len(T) - m + 1
        self.ez = kernels.excl_zone(m)
        if normalize:
            (self.T, self.M_T, self.Sigma_T,
             self.fin, self.con) = kernels.preprocess(T, m)
        else:
            self.T, self.w2, self.fin = kernels._preprocess_abs(T, m)
        self.windows = np.lib.stride_tricks.sliding_window_view(self.T, m)
        self.P = np.full(self.l, np.inf)
        self.I = np.full(self.l, -1, dtype=np.int64)
        if pre_scrump:
            self.P, self.I = prescrump(T, m, s, normalize=normalize, p=p)
        diags = np.arange(self.ez + 1, self.l)
        rs = np.random.RandomState(seed)
        self._diags = rs.permutation(diags)
        self._pos = 0
        self._chunk = max(1, int(np.ceil(percentage * len(diags))))

    @property
    def P_(self):
        return self.P

    @property
    def I_(self):
        return self.I

    def update(self) -> None:
        """Process the next chunk of diagonals (one anytime round)."""
        take = self._diags[self._pos:self._pos + self._chunk]
        self._pos += self._chunk
        m, l = self.m, self.l
        for g in take:
            k = l - g
            ii = np.arange(k)
            jj = ii + g
            A, B = self.windows[:k], self.windows[g:]
            if self.normalize:
                D = np.sqrt(kernels.squared_distance_profile(
                    np.einsum("ij,ij->i", A, B), self.M_T[:k],
                    self.Sigma_T[:k], self.M_T[g:], self.Sigma_T[g:], m,
                    self.con[:k], self.con[g:], self.fin[:k],
                    self.fin[g:]))
            elif self.p == 2.0:
                D = np.sqrt(kernels._sq_euclid(
                    np.einsum("ij,ij->i", A, B), self.w2[:k], self.w2[g:],
                    A, B))
            else:
                D = kernels._p_root(kernels._pnorm_direct(A, B, self.p),
                                    self.p)
            D[~(self.fin[:k] & self.fin[g:])] = np.inf
            upd = D < self.P[ii]
            self.P[ii[upd]] = D[upd]
            self.I[ii[upd]] = jj[upd]
            upd = D < self.P[jj]
            self.P[jj[upd]] = D[upd]
            self.I[jj[upd]] = ii[upd]

    def run_to_completion(self) -> None:
        while self._pos < len(self._diags):
            self.update()


def multi_matrix_profile(Ts, m: int, normalize: bool = True,
                         p: float = 2.0, include=None,
                         discords: bool = False):
    """Multi-dimensional matrix profile (mstump semantics; maamp with
    ``normalize=False``, any ``p``).

    ``Ts``: (d, n) array — rows are dimensions.  Returns (P, I) of shape
    (d, l): row k is the profile using the k+1 best-aligned dimensions
    (column-sorted cumulative mean, mstump.py:538-546 / core.py:4049-4097).

    ``include`` pins dimensions to the front of the per-column sort
    (constrained search, mstump.py:534-536 / ICDM'17 §IV-D);
    ``discords=True`` sorts the remaining rows descending so row k
    aggregates the k+1 *worst*-aligned dimensions (mstump.py:538-541).
    The profile itself stays the elementwise min over pairs in both
    modes, exactly as the reference.

    One diagonal-block :func:`kernels._top1_sweep` over a
    :class:`kernels._MultiSource`: every pair is evaluated once, each
    dimension's distance from a single-dimension tile source.
    """
    Ts = np.asarray(Ts, dtype=np.float64)
    prep = kernels.preprocess if normalize else kernels._preprocess_abs
    src = kernels._MultiSource([prep(X, m) for X in Ts], m, normalize, p,
                               include, discords)
    l = Ts.shape[1] - m + 1
    (P, I, *_), _ = kernels._top1_sweep(src, 0, l, 0, l,
                                        kernels.excl_zone(m))
    return P, I


def subspace(Ts, m: int, idx: int, nn_idx: int, k: int):
    """Which k+1 dimensions form the motif (mstump.py:96-245): the dims
    with smallest per-dim z-norm distance between windows idx and nn_idx."""
    Ts = np.asarray(Ts, dtype=np.float64)
    d = Ts.shape[0]
    dists = np.empty(d)
    for dim in range(d):
        a = Ts[dim, idx:idx + m]
        b = Ts[dim, nn_idx:nn_idx + m]
        sa = a.std()
        sb = b.std()
        sa = 1.0 if sa < kernels.config.STDDEV_THRESHOLD else sa
        sb = 1.0 if sb < kernels.config.STDDEV_THRESHOLD else sb
        az = (a - a.mean()) / sa
        bz = (b - b.mean()) / sb
        dists[dim] = np.sqrt(np.sum((az - bz) ** 2))
    return np.argsort(dists, kind="stable")[:k + 1]


def _norm_ppf(p: np.ndarray) -> np.ndarray:
    """Inverse standard-normal CDF via Acklam's rational approximation
    (public-domain algorithm; max relative error ~1.15e-9).  scipy isn't
    available in this environment; at 8-bit discretization of z-normed
    data the bin edges are indistinguishable from scipy's at this
    precision."""
    p = np.asarray(p, dtype=np.float64)
    a = [-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00]
    b = [-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00]
    dd = [7.784695709041462e-03, 3.224671290700398e-01,
          2.445134137142996e+00, 3.754408661907416e+00]
    plow, phigh = 0.02425, 1 - 0.02425
    out = np.empty_like(p)
    lo = p < plow
    hi = p > phigh
    mid = ~(lo | hi)
    if mid.any():
        q = p[mid] - 0.5
        r = q * q
        out[mid] = ((((((a[0]*r+a[1])*r+a[2])*r+a[3])*r+a[4])*r+a[5])*q /
                    (((((b[0]*r+b[1])*r+b[2])*r+b[3])*r+b[4])*r+1))
    if lo.any():
        q = np.sqrt(-2.0 * np.log(p[lo]))
        out[lo] = ((((((c[0]*q+c[1])*q+c[2])*q+c[3])*q+c[4])*q+c[5]) /
                   ((((dd[0]*q+dd[1])*q+dd[2])*q+dd[3])*q+1))
    if hi.any():
        q = np.sqrt(-2.0 * np.log(1.0 - p[hi]))
        out[hi] = -((((((c[0]*q+c[1])*q+c[2])*q+c[3])*q+c[4])*q+c[5]) /
                    ((((dd[0]*q+dd[1])*q+dd[2])*q+dd[3])*q+1))
    return out


def _inverse_norm_bins(bits: int = 8) -> np.ndarray:
    """Inverse-normal bin edges for z-normed data (mstump.py:253-263
    ``_inverse_norm``)."""
    return _norm_ppf(np.arange(1, 2 ** bits) / (2 ** bits))


def _discretize(a: np.ndarray, bins: np.ndarray) -> np.ndarray:
    """``np.digitize(a, bins, right=True)`` (mstump.py:265-291)."""
    return np.digitize(a, bins, right=True)


def _subspace_from_D(D: np.ndarray, k: int, include=None,
                     discords: bool = False) -> np.ndarray:
    """k+1 dimension indices from a per-dim distance vector
    (core.py:3963-4008 ``_subspace``): stable mergesort order, reversed
    for discords, ``include`` indices swapped to the front."""
    if discords:
        sorted_idx = D[::-1].argsort(axis=0, kind="mergesort")
    else:
        sorted_idx = D.argsort(axis=0, kind="mergesort")
    if include is not None:
        include = np.asarray(include, dtype=np.int64)
        mask = np.isin(sorted_idx, include)
        inc_idx = mask.nonzero()[0]
        exc_idx = (~mask).nonzero()[0]
        sorted_idx[:inc_idx.shape[0]], sorted_idx[inc_idx.shape[0]:] = (
            sorted_idx[inc_idx], sorted_idx[exc_idx])
    return sorted_idx[:k + 1]


def mdl(Ts, m: int, subseq_idx: np.ndarray, nn_idx: np.ndarray,
        bits: int = 8, include=None, discords: bool = False):
    """Minimum description length over dimensionality levels —
    reference-exact (mstump.py:292-441 ``mdl`` + core.py:4011-4042
    ``_mdl``).

    For each k: z-norm + inverse-normal-discretize the full d×m
    subsequence matrices at ``subseq_idx[k]`` / ``nn_idx[k]``, pick the
    k+1-dim subspace from the discretized row distances, and charge

        bit_size = n_bit·(2·d·m − (k+1)·m)
                 + (k+1)·m·log2(n_val) + n_val·n_bit

    where n_val = #unique residuals over the subspace rows.  The first
    term (uncompressed cost of the dimensions *outside* the subspace)
    varies with k — dropping it changes which dimensionality argmin
    selects (the round-2 defect).  Returns (bit_sizes, subspaces).
    """
    Ts = np.asarray(Ts, dtype=np.float64)
    d = Ts.shape[0]
    bins = _inverse_norm_bins(bits)
    bit_sizes = np.empty(d)
    subspaces = []
    for k in range(d):
        si, ni = int(subseq_idx[k]), int(nn_idx[k])
        disc_sub = _discretize(_z_norm_rows(Ts[:, si:si + m]), bins)
        disc_nn = _discretize(_z_norm_rows(Ts[:, ni:ni + m]), bins)
        D = np.linalg.norm(disc_sub - disc_nn, axis=1)
        S = _subspace_from_D(D, k, include=include, discords=discords)
        subspaces.append(S)
        sub_dims = k + 1
        n_val = len(np.unique(disc_sub[S] - disc_nn[S]))
        bit_sizes[k] = (bits * (2 * d * m - sub_dims * m)
                        + sub_dims * m * np.log2(n_val) + n_val * bits)
    return bit_sizes, subspaces


def mmotifs(Ts, m: int, max_motifs: int = 1, include=None,
            discords: bool = False):
    """Multi-dimensional motif discovery (mmotifs.py:22-265 semantics,
    simplified to the default parameters): find the motif pair on the
    MDL-optimal dimensionality, apply exclusion, repeat.

    Returns list of (motif_idx, nn_idx, kdim, subspace_dims).
    """
    Ts = np.asarray(Ts, dtype=np.float64)
    d, n = Ts.shape
    P, I = multi_matrix_profile(Ts, m, include=include, discords=discords)
    P = P.copy()
    ez = kernels.excl_zone(m)
    out = []
    for _ in range(max_motifs):
        motif_idx = np.argmin(P, axis=1)
        motif_val = P[np.arange(d), motif_idx]
        if not np.isfinite(motif_val).any():
            break
        nn_idx = I[np.arange(d), motif_idx]
        bit_sizes, subspaces = mdl(Ts, m, motif_idx, nn_idx,
                                   include=include, discords=discords)
        k = int(np.argmin(bit_sizes))
        if not np.isfinite(P[k, motif_idx[k]]):
            break
        out.append((int(motif_idx[k]), int(nn_idx[k]), k + 1,
                    [int(x) for x in subspaces[k]]))
        for kk in range(d):
            kernels.apply_exclusion_zone(P[kk], int(motif_idx[k]),
                                         np.inf, ez)
            kernels.apply_exclusion_zone(P[kk], int(nn_idx[k]),
                                         np.inf, ez)
    return out
