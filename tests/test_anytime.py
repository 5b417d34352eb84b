"""scrump/prescrump anytime invariants + mstump vs brute force."""

import numpy as np
import numpy.testing as npt

import naive_oracle as naive
from stumpy_spark import kernels
from stumpy_spark.anytime import (Scrump, multi_matrix_profile, prescrump,
                                  subspace)

PRECISION = 5


def test_prescrump_upper_bound_and_sampled_exact():
    rs = np.random.RandomState(42)
    T = rs.uniform(-1000, 1000, 200)
    m = 10
    P_exact = kernels.matrix_profile(T, m)[0][:, 0]
    P, I = prescrump(T, m, s=3)
    assert np.all(P >= P_exact - 1e-9)
    # sampled rows are exact
    assert np.allclose(P[::3], P_exact[::3], atol=1e-9)


def test_scrump_converges_to_exact():
    rs = np.random.RandomState(7)
    T = rs.uniform(-1000, 1000, 150)
    m = 8
    P_exact, I_exact, _, _ = kernels.matrix_profile(T, m)
    sc = Scrump(T, m, percentage=0.25)
    prev_inf = np.inf
    for _ in range(4):
        sc.update()
        assert np.all(sc.P_ >= P_exact[:, 0] - 1e-9)   # upper bound
        cur = np.nansum(np.where(np.isfinite(sc.P_), sc.P_, 0))
        # monotone non-increasing approximation
        assert cur <= prev_inf + 1e-9 or not np.isfinite(prev_inf)
        prev_inf = cur
    sc.run_to_completion()
    npt.assert_almost_equal(P_exact[:, 0], sc.P_, decimal=PRECISION)
    npt.assert_array_equal(I_exact[:, 0], sc.I_)


def test_scrump_with_prescrump():
    rs = np.random.RandomState(11)
    T = rs.uniform(-1000, 1000, 120)
    m = 6
    sc = Scrump(T, m, percentage=1.0, pre_scrump=True)
    sc.run_to_completion()
    P_exact = kernels.matrix_profile(T, m)[0][:, 0]
    npt.assert_almost_equal(P_exact, sc.P_, decimal=PRECISION)


def test_mstump_matches_naive():
    rs = np.random.RandomState(13)
    Ts = rs.uniform(-100, 100, (3, 40))
    _check_mstump(Ts, 5)


def test_subspace():
    rs = np.random.RandomState(17)
    Ts = rs.uniform(-100, 100, (4, 60))
    m = 6
    # plant a motif in dims 0 and 2 only
    pat = rs.uniform(-100, 100, m)
    for dim in (0, 2):
        Ts[dim, 10:16] = pat
        Ts[dim, 40:46] = pat
    dims = subspace(Ts, m, 10, 40, k=1)
    assert set(dims) == {0, 2}


def test_mdl_and_mmotifs():
    rs = np.random.RandomState(29)
    Ts = rs.uniform(-100, 100, (4, 80))
    m = 6
    pat = rs.uniform(-100, 100, m)
    for dim in (0, 2):
        Ts[dim, 10:16] = pat
        Ts[dim, 50:56] = pat + rs.normal(0, 0.001, m)
    from stumpy_spark.anytime import mmotifs
    res = mmotifs(Ts, m, max_motifs=1)
    assert len(res) == 1
    motif_idx, nn_idx, kdim, dims = res[0]
    assert {motif_idx, nn_idx} == {10, 50}
    assert set(dims) <= {0, 2}


def test_non_normalized_twins():
    """The normalize=False reroute (reference @non_normalized decorator
    parity, tests/test_non_normalized_decorator.py analog).  The
    scraamp/prescraamp checks also run on an offset float series
    (values near 1e6) with one planted exact repeat."""
    m = 6
    for offset in (0.0, 1e6):
        rs = np.random.RandomState(31)
        T = rs.uniform(-100, 100, 100) + offset
        if offset:
            T[70:70 + m] = T[20:20 + m]
        P_exact = kernels.matrix_profile_absolute(T, m)[0][:, 0]
        # scraamp: converges to the exact aamp profile
        sc = Scrump(T, m, percentage=1.0, normalize=False)
        sc.run_to_completion()
        npt.assert_almost_equal(P_exact, sc.P_, decimal=PRECISION)
        # prescraamp: upper bound, sampled rows exact
        P, I = prescrump(T, m, s=3, normalize=False)
        assert np.all(P >= P_exact - 1e-9)
        npt.assert_almost_equal(P[::3], P_exact[::3], decimal=PRECISION)
    # maamp
    Ts = rs.uniform(-100, 100, (2, 40))
    Pm, Im = multi_matrix_profile(Ts, 5, normalize=False)
    # 1-dim level equals min over per-dim aamp? level k uses sorted means;
    # check level-0 against brute force
    ez = 2
    for i in range(Pm.shape[1]):
        ds = []
        for j in range(Pm.shape[1]):
            if abs(i - j) <= ez:
                continue
            per = sorted(
                float(np.sqrt(np.sum((Ts[d, i:i+5] - Ts[d, j:j+5])**2)))
                for d in range(2))
            ds.append(per[0])
        npt.assert_almost_equal(Pm[0, i], min(ds), decimal=PRECISION)


def test_ostinato_snippets_non_normalized():
    import naive_oracle as naive
    from stumpy_spark import mining
    rs = np.random.RandomState(33)
    Ts = [rs.uniform(-100, 100, 30) for _ in range(3)]
    m = 5
    best = (np.inf, -1, -1)
    for j, Tj in enumerate(Ts):
        for q in range(len(Tj) - m + 1):
            Q = Tj[q:q + m]
            radius = 0.0
            for g, Tg in enumerate(Ts):
                if g == j:
                    continue
                dmin = min(naive.pnorm_dist(Q, Tg[x:x + m])
                           for x in range(len(Tg) - m + 1))
                radius = max(radius, dmin)
            if radius < best[0]:
                best = (radius, j, q)
    rad, ts_i, idx = mining.ostinato(Ts, m, normalize=False)
    npt.assert_almost_equal(rad, best[0], decimal=PRECISION)
    assert (ts_i, idx) == (best[1], best[2])
    # aampdist_snippets smoke: runs and covers the series
    T = rs.uniform(-100, 100, 96)
    idxs, fracs, areas = mining.snippets(T, 16, 2, normalize=False)
    assert len(idxs) == 2 and abs(fracs.sum() - 1.0) < 1e-9


def test_norm_ppf_sanity():
    from stumpy_spark.anytime import _norm_ppf
    # known quantiles of the standard normal
    npt.assert_allclose(_norm_ppf(np.array([0.5])), [0.0], atol=1e-12)
    npt.assert_allclose(_norm_ppf(np.array([0.975])), [1.959963985],
                        rtol=1e-8)
    npt.assert_allclose(_norm_ppf(np.array([0.0013498980316300933])),
                        [-3.0], rtol=1e-7)
    # symmetry
    p = np.linspace(0.01, 0.99, 53)
    npt.assert_allclose(_norm_ppf(p), -_norm_ppf(1 - p), atol=1e-9)


def _ref_mdl_bit_size(disc_sub, disc_nn, S, n_bit=8):
    """The reference bit-cost equation, transcribed independently from
    core.py:4011-4042 (docstring formula) for parity checking."""
    ndim = disc_sub.shape[0]
    sub_dims, m = disc_sub[S].shape
    n_val = len(np.unique(disc_sub[S] - disc_nn[S]))
    return (n_bit * (2 * ndim * m - sub_dims * m)
            + sub_dims * m * np.log2(n_val) + n_val * n_bit)


def test_mdl_matches_reference_formula():
    """Round-2 defect: the old formula dropped the n_bit*(2dm - (k+1)m)
    term, which varies with k and can flip the argmin.  Assert the new
    bit sizes equal the reference equation applied to the same
    discretized arrays, and include a hand-computed case."""
    from stumpy_spark.anytime import (mdl, _discretize, _inverse_norm_bins,
                                      _z_norm_rows, _subspace_from_D)
    rs = np.random.RandomState(7)
    d, m = 4, 8
    Ts = rs.normal(0, 10, (d, 64))
    sub_idx = np.array([3, 10, 22, 40])
    nn_idx = np.array([30, 44, 2, 15])
    bit_sizes, subspaces = mdl(Ts, m, sub_idx, nn_idx)
    bins = _inverse_norm_bins(8)
    for k in range(d):
        si, ni = int(sub_idx[k]), int(nn_idx[k])
        dsub = _discretize(_z_norm_rows(Ts[:, si:si + m]), bins)
        dnn = _discretize(_z_norm_rows(Ts[:, ni:ni + m]), bins)
        D = np.linalg.norm(dsub - dnn, axis=1)
        S = _subspace_from_D(D, k)
        npt.assert_array_equal(S, subspaces[k])
        assert bit_sizes[k] == _ref_mdl_bit_size(dsub, dnn, S)
    # hand-computed: two identical dims -> residuals all zero over S
    Ts2 = np.vstack([np.arange(32, dtype=float), np.arange(32, dtype=float)])
    bs2, ss2 = mdl(Ts2, 4, np.array([0, 0]), np.array([8, 8]))
    # k=0: n_val=1 -> 8*(2*2*4 - 4) + 4*0 + 1*8 = 96 + 8 = 104
    assert bs2[0] == 104.0
    # k=1: n_val=1 -> 8*(16 - 8) + 8*0 + 8 = 72
    assert bs2[1] == 72.0
    # the k-dependent first term makes full-dim cheaper here (identical
    # dims compress perfectly) -- the old formula tied them at argmin 0
    assert int(np.argmin(bs2)) == 1


#: (multi_matrix_profile keywords, the naive per-dimension distance)
_DISTANCES = [
    ({}, naive.znorm_dist),
    ({"normalize": False}, naive.pnorm_dist),
    ({"normalize": False, "p": 3.0},
     lambda a, b: naive.pnorm_dist(a, b, p=3.0)),
]


def _naive_mstump_cube(Ts, m, include=None, discords=False,
                       dist=naive.znorm_dist):
    """Naive mstump cell values with include/discords over the
    per-dimension distance ``dist``, mirroring the reference's naive
    oracle (tests/naive.py:555-630 semantics): a (d, l, l) array whose
    [kdim, i, j] is the mean of the kdim+1 pinned-then-sorted per-dim
    distances of windows i and j, inf on the exclusion band."""
    d, n = Ts.shape
    l = n - m + 1
    ez = naive.excl_zone(m)
    cube = np.full((d, l, l), np.inf)
    inc = list(include) if include is not None else []
    for i in range(l):
        for j in range(l):
            if abs(i - j) <= ez:
                continue
            per_dim = np.array([
                dist(Ts[dim, i:i + m], Ts[dim, j:j + m])
                for dim in range(d)])
            front = [per_dim[x] for x in inc]
            rest = sorted((per_dim[x] for x in range(d) if x not in inc),
                          reverse=discords)
            ordered = front + rest
            c = 0.0
            for kdim in range(d):
                c += ordered[kdim]
                cube[kdim, i, j] = c / (kdim + 1)
    return cube


def _naive_mstump_opts(Ts, m, include=None, discords=False,
                       dist=naive.znorm_dist):
    """(P, I) of the naive cube: the first minimum of every row."""
    cube = _naive_mstump_cube(Ts, m, include, discords, dist)
    I = np.argmin(cube, axis=2)
    P = np.take_along_axis(cube, I[:, :, None], axis=2)[:, :, 0]
    return P, np.where(np.isfinite(P), I, -1)


def _check_mstump(Ts, m, include=None, discords=False, ties=False):
    """multi_matrix_profile == the naive oracle for every distance.
    ``ties=True`` (inputs with exact repeats, whose neighbors tie up to
    rounding) accepts any I at which the naive cell equals P."""
    for kw, dist in _DISTANCES:
        cube = _naive_mstump_cube(Ts, m, include, discords, dist)
        ref_I = np.argmin(cube, axis=2)
        ref_P = np.take_along_axis(cube, ref_I[:, :, None], axis=2)[:, :, 0]
        P, I = multi_matrix_profile(
            Ts, m, include=None if include is None else np.array(include),
            discords=discords, **kw)
        msg = f"{kw} include={include} discords={discords}"
        npt.assert_almost_equal(ref_P, P, decimal=PRECISION, err_msg=msg)
        if ties:
            at_I = np.take_along_axis(cube, np.where(I < 0, 0, I)[:, :, None],
                                      axis=2)[:, :, 0]
            npt.assert_almost_equal(np.where(I < 0, np.inf, at_I), ref_P,
                                    decimal=PRECISION, err_msg=msg)
        else:
            npt.assert_array_equal(np.where(np.isfinite(ref_P), ref_I, -1),
                                   I, err_msg=msg)


def test_mstump_discords_matches_naive():
    rs = np.random.RandomState(41)
    Ts = rs.uniform(-100, 100, (3, 36))
    _check_mstump(Ts, 5, discords=True)


def test_mstump_include_matches_naive():
    rs = np.random.RandomState(43)
    Ts = rs.uniform(-100, 100, (4, 36))
    for include in ([2], [1, 3], [3, 0]):
        _check_mstump(Ts, 5, include=include)


def test_mstump_include_discords_combined():
    rs = np.random.RandomState(47)
    Ts = rs.uniform(-100, 100, (4, 32))
    _check_mstump(Ts, 4, include=[1], discords=True)


def test_mstump_planted_repeat_constant_nan():
    """An exact repeat planted in every dimension, a constant run in one
    and one NaN in another, for z-norm and p-norm (p=2, p=3).  The
    repeat makes every other window's two candidates tie, so I is only
    held to a naive minimum.  The p-norm repeat is exactly 0 at every
    kdim (the p=2 source recomputes near-duplicate cells directly).  The
    z-norm repeat is held to 1e-6: its GEMM form cancels to D^2 ~ 1e-14
    on an exact repeat, which the 1e-14 snap does not always catch — the
    same on every single-dimension z-norm route."""
    rs = np.random.RandomState(59)
    Ts = rs.uniform(-1000, 1000, (3, 72))
    m = 8
    Ts[:, 40:40 + m] = Ts[:, 5:5 + m]
    Ts[2, 20:32] = 7.0
    Ts[1, 55] = np.nan
    _check_mstump(Ts, m, ties=True)
    for kw, _ in _DISTANCES:
        P, I = multi_matrix_profile(Ts, m, **kw)
        npt.assert_array_equal(I[:, 5], 40)
        npt.assert_array_equal(I[:, 40], 5)
        if kw:
            npt.assert_array_equal(P[:, [5, 40]], 0.0, err_msg=str(kw))
        else:
            assert np.all(P[:, [5, 40]] < 1e-6)
