"""Kernel-vs-oracle tests (mirrors the reference test strategy, SURVEY §5).

Fixtures follow /root/reference/tests/test_stump.py:12-24: a small fixed
pair plus seeded uniform(-1000, 1000) arrays, window m=3 (and larger), with
NaN/inf substitution and constant-run edge cases.
"""

import numpy as np
import numpy.testing as npt
import pytest

import naive_oracle as naive
from stumpy_spark import kernels

PRECISION = 5

T_A_FIXED = np.array([9.0, 8100.0, -60.0, 7.0])
T_B_FIXED = np.array([584.0, -11.0, 23.0, 79.0, 1001.0, 0.0, -19.0])

rng = np.random.RandomState(42)
CASES = [
    (T_A_FIXED, T_B_FIXED, 3),
    (rng.uniform(-1000, 1000, 8), rng.uniform(-1000, 1000, 8), 3),
    (rng.uniform(-1000, 1000, 64), rng.uniform(-1000, 1000, 64), 3),
    (rng.uniform(-1000, 1000, 64), rng.uniform(-1000, 1000, 64), 10),
    (rng.uniform(-1000, 1000, 256), rng.uniform(-1000, 1000, 256), 25),
]

SUBST_VALUES = [np.nan, np.inf]
SUBST_LOCS = [0, -1, slice(1, 3), [0, 3]]


@pytest.mark.parametrize("T_A,T_B,m", CASES)
def test_sliding_mean_std(T_A, T_B, m):
    for T in (T_A, T_B):
        mean, std = kernels.sliding_mean_std(T, m)
        ref_mean, ref_std = naive.rolling_mean_std(T, m)
        npt.assert_almost_equal(ref_mean, mean, decimal=PRECISION)
        npt.assert_almost_equal(ref_std, std, decimal=PRECISION)


@pytest.mark.parametrize("T_A,T_B,m", CASES)
def test_sliding_dot_product(T_A, T_B, m):
    Q = T_A[:m]
    ref = np.array([float(Q @ T_B[j:j + m])
                    for j in range(len(T_B) - m + 1)])
    npt.assert_almost_equal(ref, kernels.sliding_dot_product(Q, T_B),
                            decimal=PRECISION)


def test_sliding_dot_product_fft_path():
    rs = np.random.RandomState(7)
    T = rs.uniform(-1, 1, 8192)
    Q = rs.uniform(-1, 1, 256)
    direct = np.lib.stride_tricks.sliding_window_view(T, 256) @ Q
    fft = kernels._sliding_dot_product_fft(Q, T)
    npt.assert_almost_equal(direct, fft, decimal=PRECISION)


def test_sliding_min_max():
    rs = np.random.RandomState(3)
    T = rs.uniform(-100, 100, 301)
    for m in (3, 10, 77):
        l = len(T) - m + 1
        ref_min = np.array([T[i:i + m].min() for i in range(l)])
        ref_max = np.array([T[i:i + m].max() for i in range(l)])
        npt.assert_array_equal(ref_min, kernels.sliding_min(T, m))
        npt.assert_array_equal(ref_max, kernels.sliding_max(T, m))


def test_rolling_isfinite_isconstant():
    T = np.array([1.0, 1.0, 1.0, np.nan, 5.0, 5.0, 5.0, 6.0, np.inf, 2.0])
    m = 3
    fin = kernels.rolling_isfinite(T, m)
    ref_fin = np.array([np.all(np.isfinite(T[i:i + m]))
                        for i in range(len(T) - m + 1)])
    npt.assert_array_equal(ref_fin, fin)
    con = kernels.rolling_isconstant(T, m)
    assert con[0]           # [1,1,1]
    assert not con[1]       # contains nan -> forced non-constant
    assert con[4]           # [5,5,5]
    assert not con[5]


@pytest.mark.parametrize("T_A,T_B,m", CASES)
def test_mass(T_A, T_B, m):
    Q = T_A[:m]
    ref = naive.mass(Q, T_B)
    comp = kernels.mass(Q, T_B)
    npt.assert_almost_equal(ref, comp, decimal=PRECISION)


@pytest.mark.parametrize("T_A,T_B,m", CASES)
def test_matrix_profile_self_join(T_A, T_B, m):
    for T in (T_A, T_B):
        if len(T) < 2 * m:
            continue
        ref_P, ref_I, ref_IL, ref_IR = naive.stump(T, m)
        P, I, IL, IR = kernels.matrix_profile(T, m)
        npt.assert_almost_equal(ref_P[:, 0], P[:, 0], decimal=PRECISION)
        npt.assert_array_equal(ref_I[:, 0], I[:, 0])
        npt.assert_array_equal(ref_IL, IL)
        npt.assert_array_equal(ref_IR, IR)


@pytest.mark.parametrize("T_A,T_B,m", CASES)
def test_matrix_profile_ab_join(T_A, T_B, m):
    ref_P, ref_I, _, _ = naive.stump(T_A, m, T_B=T_B)
    P, I, _, _ = kernels.matrix_profile(T_A, m, T_B=T_B)
    npt.assert_almost_equal(ref_P[:, 0], P[:, 0], decimal=PRECISION)
    npt.assert_array_equal(ref_I[:, 0], I[:, 0])


@pytest.mark.parametrize("sub", SUBST_VALUES)
@pytest.mark.parametrize("loc", SUBST_LOCS)
def test_matrix_profile_nan_inf(sub, loc):
    rs = np.random.RandomState(11)
    T = rs.uniform(-1000, 1000, 64)
    T[loc] = sub
    ref_P, ref_I, ref_IL, ref_IR = naive.stump(T, 3)
    P, I, IL, IR = kernels.matrix_profile(T, 3)
    npt.assert_almost_equal(ref_P[:, 0], P[:, 0], decimal=PRECISION)
    npt.assert_array_equal(ref_I[:, 0], I[:, 0])


@pytest.mark.parametrize("sub", SUBST_VALUES)
@pytest.mark.parametrize("loc", SUBST_LOCS)
def test_matrix_profile_ab_nan_inf_constant(sub, loc):
    """AB-join masking parity under non-finite punctures on either side
    plus a constant run in T_A: the blocked AB kernel overwrites its
    xdist placeholder cells (sig == 0 -> D^2 = 2m) with the con/fin
    masks; every such cell must match the naive oracle exactly."""
    rs = np.random.RandomState(17)
    T_A = rs.uniform(-1000, 1000, 48)
    T_A[10:16] = 42.0                       # constant run (sig == 0)
    T_B = rs.uniform(-1000, 1000, 40)
    for side in ("A", "B"):
        Ta, Tb = T_A.copy(), T_B.copy()
        (Ta if side == "A" else Tb)[loc] = sub
        ref_P, ref_I, _, _ = naive.stump(Ta, 3, T_B=Tb)
        P, I, _, _ = kernels.matrix_profile(Ta, 3, T_B=Tb)
        npt.assert_almost_equal(ref_P[:, 0], P[:, 0], decimal=PRECISION)
        npt.assert_array_equal(ref_I[:, 0], I[:, 0])


def test_matrix_profile_constant_runs():
    T = np.concatenate([np.zeros(20), np.ones(5)])
    ref_P, ref_I, _, _ = naive.stump(T, 3)
    P, I, _, _ = kernels.matrix_profile(T, 3)
    npt.assert_almost_equal(ref_P[:, 0], P[:, 0], decimal=PRECISION)

    rs = np.random.RandomState(5)
    T_B = rs.uniform(-1000, 1000, 25)
    ref_P, ref_I, _, _ = naive.stump(T, 3, T_B=T_B)
    P, I, _, _ = kernels.matrix_profile(T, 3, T_B=T_B)
    npt.assert_almost_equal(ref_P[:, 0], P[:, 0], decimal=PRECISION)


def test_matrix_profile_identical_motif():
    """Planted identical subsequences -> snap-to-zero (test_stump.py:134+)."""
    rs = np.random.RandomState(17)
    T = rs.uniform(-1000, 1000, 64)
    motif = rs.uniform(-1000, 1000, 8)
    T[10:18] = motif
    T[40:48] = motif
    P, I, _, _ = kernels.matrix_profile(T, 8)
    assert P[10, 0] == 0.0
    assert I[10, 0] == 40
    assert P[40, 0] == 0.0
    assert I[40, 0] == 10


@pytest.mark.parametrize("k", [2, 3])
def test_matrix_profile_topk(k):
    rs = np.random.RandomState(23)
    T = rs.uniform(-1000, 1000, 64)
    ref_P, ref_I, _, _ = naive.stump(T, 3, k=k)
    P, I, _, _ = kernels.matrix_profile(T, 3, k=k)
    npt.assert_almost_equal(ref_P, P, decimal=PRECISION)
    npt.assert_array_equal(ref_I, I)


@pytest.mark.parametrize("p", [1.0, 2.0, 3.0])
def test_matrix_profile_absolute(p):
    rs = np.random.RandomState(29)
    T = rs.uniform(-1000, 1000, 64)
    ref_P, ref_I, _, _ = naive.stump(T, 3, normalize=False, p=p)
    P, I, _, _ = kernels.matrix_profile_absolute(T, 3, p=p)
    npt.assert_almost_equal(ref_P[:, 0], P[:, 0], decimal=PRECISION)
    npt.assert_array_equal(ref_I[:, 0], I[:, 0])


def test_mass_absolute():
    rs = np.random.RandomState(31)
    T = rs.uniform(-1000, 1000, 64)
    Q = T[5:15]
    ref = np.array([naive.pnorm_dist(Q, T[j:j + 10])
                    for j in range(len(T) - 9)])
    comp = kernels.mass_absolute(Q, T)
    npt.assert_almost_equal(ref, comp, decimal=PRECISION)


def test_merge_topk():
    rs = np.random.RandomState(37)
    l, k = 20, 3
    PA = np.sort(rs.uniform(0, 10, (l, k)), axis=1)
    PB = np.sort(rs.uniform(0, 10, (l, k)), axis=1)
    IA = np.array([rs.choice(50, k, replace=False) for _ in range(l)],
                  dtype=np.int64)
    IB = np.array([rs.choice(50, k, replace=False) for _ in range(l)],
                  dtype=np.int64)
    P, I = kernels.merge_topk(PA, IA, PB, IB)
    for i in range(l):
        # result sorted, size k, no duplicate indices
        assert np.all(np.diff(P[i]) >= 0)
        vals = I[i][I[i] != -1]
        assert len(np.unique(vals)) == len(vals)
        # every output value exists in one of the inputs
        for v in P[i]:
            assert np.isclose(np.concatenate([PA[i], PB[i]]), v).any()


def test_welford_rolling_var():
    rs = np.random.RandomState(41)
    T = rs.uniform(-1000, 1000, 200) + 1e6   # offset stresses cancellation
    m = 50
    ref = np.array([T[i:i + m].var() for i in range(len(T) - m + 1)])
    comp = kernels.welford_rolling_var(T, m)
    npt.assert_allclose(ref, comp, rtol=1e-9)


def test_sliding_dot_product_fft_dispatch(monkeypatch):
    """The FFT path must actually be dispatched for m>128, n>4096 (the
    shape the kernel_internals driver query relies on) and must agree
    with the direct strided matvec to < 0.5 absolute on integer data
    (the rint-exactness contract of that query's oracle)."""
    rs = np.random.RandomState(7)
    T = rs.randint(0, 50257, 8192).astype(np.float64)
    Q = T[:192]
    calls = []
    orig = kernels._sliding_dot_product_fft

    def spy(q, t):
        calls.append(1)
        return orig(q, t)

    monkeypatch.setattr(kernels, "_sliding_dot_product_fft", spy)
    qt = kernels.sliding_dot_product(Q, T)
    assert calls, "FFT path not dispatched for m=192, n=8192"
    direct = np.lib.stride_tricks.sliding_window_view(T, 192) @ Q
    assert np.abs(qt - direct).max() < 0.5
    npt.assert_array_equal(np.rint(qt), direct)


def test_process_isconstant_hooks():
    from stumpy_spark import kernels
    rs = np.random.RandomState(3)
    T = rs.uniform(-10, 10, 40)
    T[5:10] = 7.0                       # a genuinely constant window (m=5)
    m = 5
    default = kernels.process_isconstant(T, m)
    assert default[5] and not default[0]
    # array form
    arr = np.zeros(len(T) - m + 1, dtype=bool)
    arr[2] = True
    got = kernels.process_isconstant(T, m, arr)
    assert got[2] and not got[5]
    # callable form
    got2 = kernels.process_isconstant(
        T, m, lambda a, w: np.ones(len(a) - w + 1, dtype=bool))
    assert got2.all()
    # non-finite windows are never constant, even when the user says so
    T2 = T.copy()
    T2[2] = np.nan
    got3 = kernels.process_isconstant(
        T2, m, lambda a, w: np.ones(len(a) - w + 1, dtype=bool))
    assert not got3[0] and not got3[2] and got3[10]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        kernels.process_isconstant(T, m, np.zeros(3, dtype=bool))
    with _pytest.raises(ValueError):
        kernels.process_isconstant(T, m, np.zeros(len(T) - m + 1))


def test_matrix_profile_isconstant_hook():
    from stumpy_spark import kernels
    rs = np.random.RandomState(5)
    T = rs.uniform(-10, 10, 60)
    m = 8
    l = len(T) - m + 1
    mark = np.zeros(l, dtype=bool)
    mark[10] = True                     # force window 10 "constant"
    P, I, _, _ = kernels.matrix_profile(T, m, T_A_subseq_isconstant=mark)
    # exactly-one-constant pairs have distance sqrt(m): window 10's best
    # neighbor distance is sqrt(m) since no other window is constant
    assert abs(P[10, 0] - np.sqrt(m)) < 1e-12


def test_replace_distance_and_check_P():
    from stumpy_spark import kernels
    D = np.array([1.0, np.inf, 3.0, np.inf])
    kernels.replace_distance(D, np.inf, -1.0)
    assert (D == np.array([1.0, -1.0, 3.0, -1.0])).all()
    import pytest as _pytest
    with _pytest.raises(ValueError):
        kernels.check_P(np.zeros((2, 2)))
    kernels.check_P(np.zeros(10))       # no raise


def test_idx_to_mp_roundtrip():
    from stumpy_spark import kernels
    rs = np.random.RandomState(7)
    T = rs.uniform(-100, 100, 80)
    m = 10
    P, I, _, _ = kernels.matrix_profile(T, m)
    got = kernels.idx_to_mp(I[:, 0], T, m)
    npt.assert_almost_equal(got, P[:, 0], decimal=8)
    Pa, Ia, _, _ = kernels.matrix_profile_absolute(T, m)
    got_a = kernels.idx_to_mp(Ia[:, 0], T, m, normalize=False)
    npt.assert_almost_equal(got_a, Pa[:, 0], decimal=8)
    # negative (null) indices -> inf
    I2 = I[:, 0].copy()
    I2[3] = -1
    got2 = kernels.idx_to_mp(I2, T, m, check_neg=False)
    assert np.isinf(got2[3])


def test_mass_distance_matrix_rows_equal_mass():
    """Each row of the matrix kernel equals the per-row MASS profile
    (reference core._mass_distance_matrix contract, core.py:1836-2005),
    including constant / non-finite special cases."""
    import numpy as np
    import numpy.testing as npt
    from stumpy_spark import kernels
    rs = np.random.RandomState(11)
    T = rs.uniform(-1000, 1000, 300)
    T[40] = np.nan
    m = 12
    Q = np.vstack([
        rs.uniform(-1000, 1000, m),
        np.full(m, 3.0),                      # constant query
        np.concatenate([[np.inf], rs.uniform(-1, 1, m - 1)]),  # non-finite
        T[100:100 + m],                        # exact T window
    ])
    got = kernels.mass_distance_matrix(Q, T)
    for qi in range(len(Q)):
        npt.assert_almost_equal(got[qi], kernels.mass(Q[qi], T),
                                decimal=10)
    got_p = kernels.mass_distance_matrix(Q, T, normalize=False, p=3.0)
    for qi in range(len(Q)):
        npt.assert_almost_equal(got_p[qi],
                                kernels.mass_absolute(Q[qi], T, p=3.0),
                                decimal=8)
    got_2 = kernels.mass_distance_matrix(Q, T, normalize=False)
    for qi in range(len(Q)):
        npt.assert_almost_equal(got_2[qi],
                                kernels.mass_absolute(Q[qi], T),
                                decimal=10)


def test_qt_recurrence_gates():
    """Recurrence only engages when provably exact: integral values,
    magnitude bounded so every partial sum stays under 2^53."""
    import numpy as np
    from stumpy_spark import kernels

    rs = np.random.RandomState(6)
    assert not kernels._qt_recurrence_ok(rs.normal(size=100), 256)
    assert not kernels._qt_recurrence_ok(np.array([2.0 ** 26] * 10), 256)
    assert not kernels._qt_recurrence_ok(
        np.array([np.nan, 1.0, 2.0]), 256)
    big = np.full(10, 2.0 ** 24)
    assert not kernels._qt_recurrence_ok(big, 1024)  # m*max^2 > 2^52
    assert kernels._qt_recurrence_ok(
        np.arange(100, dtype=np.float64), 256)


def test_topk_ties_constant_windows():
    """Top-k with exact-zero tied distances (constant windows) must keep
    the smallest-j tied candidates — argpartition alone kept an
    arbitrary tied subset."""
    import numpy as np
    import numpy.testing as npt
    from stumpy_spark import kernels

    T = np.tile(np.array([1, 1, 1, 1, 5, 2, 2, 2, 2, 7.0]), 5)
    m, k = 4, 3
    P, I, _, _ = kernels.matrix_profile(T, m, k=k)
    l = len(T) - m + 1
    ez = kernels.excl_zone(m)
    for i in range(l):
        D = kernels.mass(T[i:i + m], T)
        D[max(0, i - ez):i + ez + 1] = np.inf
        order = np.lexsort((np.arange(l), D))[:k]
        npt.assert_allclose(P[i], D[order], atol=1e-9)
        exp_idx = np.where(np.isfinite(D[order]), order, -1)
        npt.assert_array_equal(I[i], exp_idx)


def _gemm_top1_self(T, m):
    """Top-1 self-join profile by the GEMM tile sweep (_top1_sweep over a
    _QTProvider), whatever matrix_profile would dispatch to."""
    prep = kernels.preprocess(T, m)
    src = kernels._QTProvider(prep, prep, m)
    (P, I, PL, IL, PR, IR), _ = kernels._top1_sweep(
        src, 0, src.r1, 0, src.r1, kernels.excl_zone(m))
    return P[:, None], I[:, None], IL, IR, PL, PR


def test_diag_kernel_parity_randomized():
    """The vectorized diagonal-STOMP path (_mp_top1_diag) must agree
    with the blocked GEMM path across lengths, window sizes, vocab
    skews, constant runs, and NaN punctures.  Values may differ by
    <=1 ULP (per-cell vs operand-folded normalization, see the
    matrix_profile docstring), so P/PL/PR compare at 1e-8."""
    rng = np.random.default_rng(42)
    for trial in range(18):
        n = [150, 300, 700, 1500, 3000][trial % 5]
        m = int(rng.choice([8, 64, 128, 192, 257]))
        if n < 2 * m:
            m = max(3, n // 4)
        T = rng.integers(0, int(rng.choice([3, 56, 1000])),
                         n).astype(float)
        if rng.random() < 0.4:
            i0 = rng.integers(0, n - m)
            T[i0:i0 + m + 3] = 7.0
        if rng.random() < 0.4:
            T[rng.integers(0, n, 3)] = np.nan
        l = n - m + 1
        if not kernels._use_diag(l, m):
            m = 192 if n >= 2 * 192 else m
            if not kernels._use_diag(n - m + 1, m):
                continue
        r_diag = kernels.matrix_profile(T, m, return_left_right_P=True)
        r_gemm = _gemm_top1_self(T, m)
        for nm, a, b in zip(["P", "I", "IL", "IR", "PL", "PR"],
                            r_diag, r_gemm):
            if nm in ("P", "PL", "PR"):
                af = np.asarray(a, float).ravel()
                bf = np.asarray(b, float).ravel()
                with np.errstate(invalid="ignore"):  # inf - inf below
                    d = np.abs(af - bf)
                d[np.isinf(af) & np.isinf(bf)] = 0.0
                assert np.nanmax(d) < 1e-8, (trial, nm, np.nanmax(d))


def test_mueen_distance_profile_equals_mass():
    """Mueen's cumulative-sum algebra (core.py:1502-1567) must equal the
    production MASS profile wherever no special case fires (random data
    has no constant or non-finite windows)."""
    rs = np.random.RandomState(53)
    for n, m in [(64, 8), (200, 25), (128, 3)]:
        T = rs.uniform(-100, 100, n)
        Q = rs.uniform(-100, 100, m)
        ref = kernels.mass(Q, T)
        comp = kernels.mueen_calculate_distance_profile(Q, T)
        npt.assert_almost_equal(ref, comp, decimal=PRECISION)
    # integer tokens (the workload dtype) — same equality
    T = rs.randint(0, 50257, 150).astype(np.float64)
    Q = T[10:22].copy()
    npt.assert_almost_equal(
        kernels.mass(Q, T),
        kernels.mueen_calculate_distance_profile(Q, T), decimal=PRECISION)


def test_xdist_matches_pearson_shifted():
    """_QTProvider.xdist (scaled-centered GEMM operands, shifted
    D^2 - 2m space) must equal -2m * rho from the unfolded Pearson
    tile (_pearson_block), snapped the same way — including
    NaN-punctured, constant, and sig==0 placeholder cells.  The operand
    fold changes the rounding route (per-element scaling vs per-cell
    outer), so values compare at 1e-9 absolute, and snapped cells must
    land on exactly -2m."""
    rng = np.random.default_rng(7)
    for trial in range(8):
        n = [120, 400, 900][trial % 3]
        m = int(rng.choice([8, 25, 200]))
        if n < 2 * m:
            m = max(3, n // 4)
        T = rng.integers(0, 50, n).astype(float)
        T[10:10 + m + 2] = 4.0                      # constant run
        if trial % 2:
            T[-2:] = np.nan     # tail punctures (kill only the last
            # m windows, so the probed block keeps live rows/cols)
        prep = kernels.preprocess(T, m)
        A, mu, sig, fin, con = prep
        w = np.ascontiguousarray(
            np.lib.stride_tricks.sliding_window_view(A, m))
        qtp = kernels._QTProvider(prep, prep, m)
        l = w.shape[0]
        r0, r1 = 3, min(l, 90)
        c0, c1 = 1, min(l, 77)
        X = qtp.xdist(r0, r1, c0, c1)
        ref = kernels._pearson_block(
            w[r0:r1], w[c0:c1], mu[r0:r1], sig[r0:r1], mu[c0:c1],
            sig[c0:c1], m) * (-2.0 * m)
        ref[ref < kernels.config.P_NORM_THRESHOLD - 2.0 * m] = -2.0 * m
        # compare only rows/cols both paths treat as live: xdist masks
        # non-finite windows to inf and constant ones to -2m / -m, the
        # unfolded tile leaves NaN/inf or placeholder values there
        live_r = fin[r0:r1] & (sig[r0:r1] > 0)
        live_c = fin[c0:c1] & (sig[c0:c1] > 0)
        both = live_r[:, None] & live_c[None, :]
        assert both.any(), trial
        assert np.nanmax(np.abs(X[both] - ref[both])) < 1e-9, trial
        # the shifted snap guarantees X >= -2m exactly, so the caller's
        # final sqrt(X + 2m) can never see a negative operand
        assert np.all(X[np.isfinite(X)] >= -2.0 * m), trial


def test_ckernel_bit_parity_with_diag():
    """The compiled kernel (cnative / _native/mp_top1.c) must be
    BIT-IDENTICAL to the numpy diagonal kernel (_mp_top1_diag) on every
    eligible integer series: same exact-integer QT recurrence, same
    float op order (compiled with -ffp-contract=off), same tie rules.
    Covers planted exact-duplicate windows (ties on both sides) and the
    full m range the engine dispatches."""
    import numpy as np
    from stumpy_spark import cnative, kernels

    if cnative.load() is None:
        import pytest
        pytest.skip("compiled kernel unavailable (no gcc?)")
    rng = np.random.default_rng(17)
    checked = 0
    for trial in range(30):
        n = int(rng.choice([52, 150, 300, 700, 1500, 3000]))
        m = int(rng.choice([3, 8, 16, 25, 64, 80, 128, 192, 256]))
        if n < 2 * m:
            m = max(3, n // 4)
        vocab = int(rng.choice([5, 56, 1000, 50257]))
        T = rng.integers(0, vocab, n).astype(float)
        if rng.random() < 0.4:       # exact duplicate windows -> ties
            i0 = int(rng.integers(0, n - 2 * m))
            j0 = int(rng.integers(0, n - m))
            T[j0:j0 + m] = T[i0:i0 + m]
        got = kernels._mp_top1_c(np.ascontiguousarray(T), m)
        if got is None:              # constant window -> fallback
            continue
        A, mu, sig, fin, con = kernels.preprocess(T, m)
        l = n - m + 1
        P = np.full((l, 1), np.inf)
        I = np.full((l, 1), -1, dtype=np.int64)
        IL = np.full(l, -1, dtype=np.int64)
        IR = np.full(l, -1, dtype=np.int64)
        PL = np.full(l, np.inf)
        PR = np.full(l, np.inf)
        kernels._mp_top1_diag(A, mu, sig, m, con, fin,
                              bool(con.any()), bool(fin.all()),
                              kernels.excl_zone(m), P, I, IL, IR, PL, PR)
        for nm, a, b in zip(["P", "I", "IL", "IR", "PL", "PR"],
                            got, (P, I, IL, IR, PL, PR)):
            assert np.array_equal(np.asarray(a), np.asarray(b)), (
                trial, nm, n, m, vocab)
        checked += 1
    assert checked >= 20


def test_ckernel_fallback_gates():
    """Non-integer, non-finite, over-magnitude, constant-window and
    hooked series must skip the compiled kernel (status fallback), and
    matrix_profile must agree with the numpy dispatch at oracle
    precision either way."""
    import numpy as np
    import numpy.testing as npt
    from stumpy_spark import cnative, kernels

    rs = np.random.RandomState(3)
    assert kernels._mp_top1_c(rs.normal(size=100), 8) is None
    assert kernels._mp_top1_c(np.ones(100), 8) is None
    bad = rs.randint(0, 50, 100).astype(float)
    bad[7] = np.inf
    assert kernels._mp_top1_c(bad, 8) is None
    assert kernels._mp_top1_c(np.full(100, 2.0 ** 26), 8) is None
    # hook forces the numpy path inside matrix_profile (C path is gated
    # on T_subseq_isconstant is None)
    T = rs.randint(0, 1000, 400).astype(float)
    hook = np.zeros(400 - 25 + 1, dtype=bool)
    hook[5] = True
    P_h, I_h, _, _ = kernels.matrix_profile(
        T, 25, T_A_subseq_isconstant=hook)
    assert np.isclose(P_h[5, 0], np.sqrt(25.0)) or np.isfinite(P_h[5, 0])
    # C dispatch output equals the numpy dispatch output at oracle
    # precision (values can differ only in the last float digits:
    # different-but-equivalent arithmetic routes)
    if cnative.load() is not None:
        got = kernels.matrix_profile(T, 25, return_left_right_P=True)
        orig = cnative._fn
        try:
            cnative._fn = None
            cnative._failed = True
            ref = kernels.matrix_profile(T, 25, return_left_right_P=True)
        finally:
            cnative._fn = orig
            cnative._failed = False
        for nm, a, b in zip(["P", "I", "IL", "IR", "PL", "PR"],
                            got, ref):
            if nm in ("P", "PL", "PR"):
                af = np.asarray(a, float).ravel()
                bf = np.asarray(b, float).ravel()
                with np.errstate(invalid="ignore"):
                    d = np.abs(af - bf)
                d[np.isinf(af) & np.isinf(bf)] = 0.0
                npt.assert_array_less(np.nanmax(d), 1e-8, nm)


def test_c_sliding_stats_bit_parity():
    """The compiled single-pass sliding-stats kernel must be
    bit-identical to the numpy flat path (and therefore to the original
    per-document cumsum arithmetic) across short docs, boundary lengths
    and extreme values."""
    import numpy as np
    from stumpy_spark import cnative
    from stumpy_spark.operators import profile as OP

    if cnative.load() is None:
        import pytest
        pytest.skip("compiled kernel unavailable (no gcc?)")
    rng = np.random.default_rng(5)
    docs = []
    for _ in range(300):
        n = int(rng.choice([1, 3, 24, 25, 26, 150, 2048]))
        docs.append(rng.integers(0, 50257, n).astype(np.int32))
    docs.append(np.full(100, 2 ** 31 - 1, dtype=np.int32))
    flat = np.concatenate(docs)
    off = np.concatenate(
        [[0], np.cumsum([len(d) for d in docs])]).astype(np.int64)
    for m in (1, 8, 25):
        got = cnative.sliding_stats_int32(flat, off, m)
        assert got is not None
        ref = OP._flat_sliding_stats(flat.astype(np.int64), off, m)
        elig = ref[0]
        packed = [got[0][elig].astype(np.int64), got[1][elig],
                  got[2][elig], got[3][elig], got[4][elig],
                  got[5][elig]]
        for i, (a, b) in enumerate(zip(packed, ref[1:])):
            assert np.array_equal(a, b), (m, i)


def _fresh_cnative(monkeypatch, cache_dir):
    """Point cnative at ``cache_dir`` with no kernel loaded yet (state is
    restored by monkeypatch after the test)."""
    from stumpy_spark import cnative

    monkeypatch.setenv("STUMPY_SPARK_CKERNEL_DIR", str(cache_dir))
    monkeypatch.delenv("STUMPY_SPARK_NO_CKERNEL", raising=False)
    monkeypatch.setattr(cnative, "_fn", None)
    monkeypatch.setattr(cnative, "_failed", False)
    monkeypatch.setattr(cnative, "_reason", None)
    return cnative


def test_cnative_build_failure_reason(tmp_path, monkeypatch):
    """A failed compile disables the kernel and keeps gcc's stderr in
    status() instead of swallowing it."""
    import shutil

    if shutil.which("gcc") is None:
        pytest.skip("no gcc")
    cnative = _fresh_cnative(monkeypatch, tmp_path / "ck")
    bad = tmp_path / "broken.c"
    bad.write_text("int mp_top1_self_int(void) { return 0 }\n")
    monkeypatch.setattr(cnative, "_SRC", str(bad))
    assert cnative.load() is None
    st = cnative.status()
    assert st["loaded"] is False
    assert "gcc exited" in st["reason"] and "error" in st["reason"]
    assert cnative.mp_top1_self_int(np.arange(40.0), 8, 2, 1e-14) is None


def test_cnative_refuses_writable_cache_dir(tmp_path, monkeypatch):
    """A group/world-writable kernel cache dir is refused before any
    build or dlopen; a private 0755 dir owned by the user loads."""
    import os

    shared = tmp_path / "shared"
    shared.mkdir()
    os.chmod(shared, 0o777)
    cnative = _fresh_cnative(monkeypatch, shared)
    assert cnative.load() is None
    reason = cnative.status()["reason"]
    assert f"refusing {shared}" in reason and "writable" in reason
    assert os.listdir(shared) == []

    own = tmp_path / "own"
    own.mkdir()
    os.chmod(own, 0o755)
    cnative = _fresh_cnative(monkeypatch, own)
    if cnative.load() is None:
        pytest.skip(f"compiled kernel unavailable: {cnative.status()}")
    assert cnative.status() == {"loaded": True, "reason": None}
    so, = os.listdir(own)
    assert not os.stat(own / so).st_mode & 0o022


def test_tile_source_geometry_independent():
    """A cell's value from a tile source does not depend on the tile
    that computes it — its shape, its offset, or the source's window
    ranges (the tiled long-series plan builds one source per tile) — so
    tiled and single-task sweeps agree bit for bit."""
    rng = np.random.default_rng(11)
    T = rng.uniform(-100, 100, 700)
    T[300:340] = T[100:140]
    m = 12
    l = len(T) - m + 1
    for normalize in (True, False):
        if normalize:
            prep = kernels.preprocess(T, m)
            make = lambda rows, cols: kernels._QTProvider(  # noqa: E731
                prep, prep, m, rows, cols)
        else:
            prep = kernels._preprocess_abs(T, m)
            make = lambda rows, cols: kernels._PNormSource(  # noqa: E731
                prep, prep, m, 2.0, rows, cols)
        full = make(None, None).xdist(0, l, 0, l)
        for a0, a1, b0, b1 in [(0, 128, 0, 128), (3, 104, 5, 6),
                               (101, 102, 0, l), (301, 602, 301, 602),
                               (97, 300, 301, 428), (600, l, 1, 46)]:
            for src in (make(None, None), make((a0, a1), (b0, b1))):
                npt.assert_array_equal(src.xdist(a0, a1, b0, b1),
                                       full[a0:a1, b0:b1])
