"""Distributed-tile matrix profile must equal the single-task kernel
exactly (the reference's distributed-parity methodology,
tests/test_stumped.py analog)."""

import numpy as np
import numpy.testing as npt

from stumpy_spark import kernels
from stumpy_spark.plans.longseq import distributed_matrix_profile


def test_distributed_equals_single_task(spark):
    rs = np.random.RandomState(42)
    T = rs.uniform(-1000, 1000, 3000)
    m = 25
    got = (distributed_matrix_profile(spark, T, m, tile=512)
           .toPandas().sort_values("i").reset_index(drop=True))
    P, I, IL, IR, PL, PR = kernels.matrix_profile(
        T, m, return_left_right_P=True)
    npt.assert_almost_equal(P[:, 0], got.P.to_numpy(), decimal=10)
    npt.assert_array_equal(I[:, 0], got.I.to_numpy())
    npt.assert_array_equal(IL, got.IL.to_numpy())
    npt.assert_array_equal(IR, got.IR.to_numpy())
    npt.assert_almost_equal(PL, got.PL.to_numpy(), decimal=10)


def test_distributed_with_nans(spark):
    rs = np.random.RandomState(7)
    T = rs.uniform(-1000, 1000, 1200)
    T[100] = np.nan
    T[700] = np.inf
    m = 10
    got = (distributed_matrix_profile(spark, T, m, tile=256)
           .toPandas().sort_values("i").reset_index(drop=True))
    P, I, _, _ = kernels.matrix_profile(T, m)
    npt.assert_almost_equal(P[:, 0], got.P.to_numpy(), decimal=10)
    npt.assert_array_equal(I[:, 0], got.I.to_numpy())


def test_distributed_ab_join(spark):
    rs = np.random.RandomState(9)
    T_A = rs.uniform(-1000, 1000, 1500)
    T_B = rs.uniform(-1000, 1000, 900)
    m = 20
    got = (distributed_matrix_profile(spark, T_A, m, tile=256, T_B=T_B)
           .toPandas().sort_values("i").reset_index(drop=True))
    P, I, _, _ = kernels.matrix_profile(T_A, m, T_B=T_B)
    npt.assert_almost_equal(P[:, 0], got.P.to_numpy(), decimal=10)
    npt.assert_array_equal(I[:, 0], got.I.to_numpy())
    # AB-join left/right contract: inf / -1 (ignore_trivial=False)
    assert (got.IL == -1).all() and (got.IR == -1).all()
    assert np.isinf(got.PL.to_numpy()).all()
    assert np.isinf(got.PR.to_numpy()).all()


def test_distributed_topk_equals_single_task(spark):
    """k=4 distributed merge vs kernels.matrix_profile(k=4)
    (tests/test_stumped.py top-k analog)."""
    rs = np.random.RandomState(17)
    T = rs.uniform(-1000, 1000, 1500)
    m, k = 16, 4
    got = (distributed_matrix_profile(spark, T, m, tile=256, k=k)
           .toPandas().sort_values("i").reset_index(drop=True))
    P, I, _, _ = kernels.matrix_profile(T, m, k=k)
    gotP = np.stack(got.P.to_numpy())
    gotI = np.stack(got.I.to_numpy())
    npt.assert_almost_equal(P, gotP, decimal=10)
    npt.assert_array_equal(I, gotI)


def test_distributed_topk_ab_join(spark):
    rs = np.random.RandomState(19)
    T_A = rs.uniform(-1000, 1000, 900)
    T_B = rs.uniform(-1000, 1000, 700)
    m, k = 12, 3
    got = (distributed_matrix_profile(spark, T_A, m, tile=128, T_B=T_B,
                                      k=k)
           .toPandas().sort_values("i").reset_index(drop=True))
    P, I, _, _ = kernels.matrix_profile(T_A, m, T_B=T_B, k=k)
    npt.assert_almost_equal(P, np.stack(got.P.to_numpy()), decimal=10)
    npt.assert_array_equal(I, np.stack(got.I.to_numpy()))


def test_distributed_pnorm_self_and_ab(spark):
    """normalize=False distributed plan vs kernels.matrix_profile_absolute
    (aamped.py:334-441 parity), self- and AB-join."""
    rs = np.random.RandomState(23)
    T_A = rs.uniform(-1000, 1000, 1200)
    T_B = rs.uniform(-1000, 1000, 800)
    m = 15
    got = (distributed_matrix_profile(spark, T_A, m, tile=256,
                                      normalize=False)
           .toPandas().sort_values("i").reset_index(drop=True))
    P, I, IL, IR = kernels.matrix_profile_absolute(T_A, m)
    npt.assert_almost_equal(P[:, 0], got.P.to_numpy(), decimal=8)
    npt.assert_array_equal(I[:, 0], got.I.to_numpy())
    npt.assert_array_equal(IL, got.IL.to_numpy())
    npt.assert_array_equal(IR, got.IR.to_numpy())
    got_ab = (distributed_matrix_profile(spark, T_A, m, tile=256,
                                         T_B=T_B, normalize=False)
              .toPandas().sort_values("i").reset_index(drop=True))
    P2, I2, _, _ = kernels.matrix_profile_absolute(T_A, m, T_B=T_B)
    npt.assert_almost_equal(P2[:, 0], got_ab.P.to_numpy(), decimal=8)
    npt.assert_array_equal(I2[:, 0], got_ab.I.to_numpy())


def test_distributed_pnorm_p3(spark):
    rs = np.random.RandomState(29)
    T = rs.uniform(-10, 10, 600)
    m = 8
    got = (distributed_matrix_profile(spark, T, m, tile=128,
                                      normalize=False, p=3.0)
           .toPandas().sort_values("i").reset_index(drop=True))
    P, I, _, _ = kernels.matrix_profile_absolute(T, m, p=3.0)
    npt.assert_almost_equal(P[:, 0], got.P.to_numpy(), decimal=8)
    npt.assert_array_equal(I[:, 0], got.I.to_numpy())


def test_mpdisted_matches_single_node(spark):
    """Distributed MPdist over tiled AB-joins == mining.mpdist, on a
    pair long enough to span many tiles."""
    from stumpy_spark.mining import mpdist
    from stumpy_spark.plans.longseq import mpdisted
    rs = np.random.RandomState(61)
    T_A = rs.uniform(-100, 100, 900)
    T_B = rs.uniform(-100, 100, 700)
    m = 12
    exp = mpdist(T_A, T_B, m)
    got = mpdisted(spark, T_A, T_B, m, tile=256)
    assert abs(exp - got) < 1e-9


def test_mpdisted_nonfinite_fallback(spark):
    from stumpy_spark.mining import mpdist
    from stumpy_spark.plans.longseq import mpdisted
    rs = np.random.RandomState(67)
    T_A = rs.uniform(-10, 10, 300)
    T_B = rs.uniform(-10, 10, 200)
    T_A[50:260] = np.nan          # most AB rows go inf -> fallback path
    m = 8
    exp = mpdist(T_A, T_B, m, percentage=0.9)
    got = mpdisted(spark, T_A, T_B, m, percentage=0.9, tile=128)
    assert (np.isinf(exp) and np.isinf(got)) or abs(exp - got) < 1e-9


def test_mpdisted_explicit_k_and_pnorm(spark):
    from stumpy_spark.mining import mpdist
    from stumpy_spark.plans.longseq import mpdisted
    rs = np.random.RandomState(71)
    T_A = rs.uniform(-100, 100, 400)
    T_B = rs.uniform(-100, 100, 500)
    m = 9
    exp = mpdist(T_A, T_B, m, k=17, normalize=False)
    got = mpdisted(spark, T_A, T_B, m, k=17, tile=200, normalize=False)
    assert abs(exp - got) < 1e-9


def test_stimped_matches_single_node(spark):
    from stumpy_spark.mining import stimp_pan
    from stumpy_spark.plans.longseq import stimped
    rs = np.random.RandomState(73)
    T = rs.uniform(-100, 100, 600)
    m_values = [4, 8, 16]
    exp = stimp_pan(T, m_values)
    got = stimped(spark, T, m_values, tile=128).toPandas()
    assert set(got.m) == set(exp)
    for m, P in exp.items():
        sub = got[got.m == m].sort_values("i")
        assert len(sub) == len(P)
        np.testing.assert_allclose(sub.P.to_numpy(), P, atol=1e-9)


def _mstumped_pdf(spark, Ts, m, **kw):
    from stumpy_spark.plans.longseq import mstumped
    got = (mstumped(spark, Ts, m, **kw).toPandas()
           .sort_values(["kdim", "i"]).reset_index(drop=True))
    d = Ts.shape[0]
    l = Ts.shape[1] - m + 1
    P = got.p.to_numpy().reshape(d, l)
    I = got.j.to_numpy().reshape(d, l)
    return P, I


def test_mstumped_equals_single_node(spark):
    """Distributed multi-dim profile == anytime.multi_matrix_profile
    (the reference's tests/test_mstumped.py parity bar)."""
    from stumpy_spark.anytime import multi_matrix_profile
    rs = np.random.RandomState(21)
    Ts = rs.uniform(-1000, 1000, (3, 900))
    m = 12
    P, I = multi_matrix_profile(Ts, m)
    gP, gI = _mstumped_pdf(spark, Ts, m, tile=256)
    npt.assert_almost_equal(P, gP, decimal=10)
    npt.assert_array_equal(I, gI)


def test_mstumped_include_discords(spark):
    from stumpy_spark.anytime import multi_matrix_profile
    rs = np.random.RandomState(33)
    Ts = rs.uniform(-1000, 1000, (4, 700))
    m = 10
    for kw in ({"discords": True}, {"include": [1, 3]},
               {"include": [2], "discords": True}):
        P, I = multi_matrix_profile(Ts, m, **kw)
        gP, gI = _mstumped_pdf(spark, Ts, m, tile=200, **kw)
        npt.assert_almost_equal(P, gP, decimal=10)
        npt.assert_array_equal(I, gI)


def test_mstumped_nonnormalized_and_nans(spark):
    """maamped twin + non-finite handling parity."""
    from stumpy_spark.anytime import multi_matrix_profile
    rs = np.random.RandomState(5)
    Ts = rs.uniform(-1000, 1000, (3, 600))
    Ts[0, 77] = np.nan
    Ts[2, 401] = np.inf
    m = 8
    P, I = multi_matrix_profile(Ts, m, normalize=False)
    gP, gI = _mstumped_pdf(spark, Ts, m, tile=150, normalize=False)
    npt.assert_almost_equal(P, gP, decimal=10)
    npt.assert_array_equal(I, gI)
    # z-norm path with the same non-finite points
    P2, I2 = multi_matrix_profile(Ts, m)
    gP2, gI2 = _mstumped_pdf(spark, Ts, m, tile=150)
    npt.assert_almost_equal(P2, gP2, decimal=10)
    npt.assert_array_equal(I2, gI2)


def test_mpdisted_custom_func_matches_single_node(spark):
    """custom_func selector parity with mining.mpdist (reference
    mpdist.py:28,75-80): the distributed path must hand the same sorted
    ABBA profile to the user selector."""
    from stumpy_spark.mining import mpdist
    from stumpy_spark.plans.longseq import mpdisted
    rs = np.random.RandomState(62)
    T_A = rs.uniform(-100, 100, 600)
    T_B = rs.uniform(-100, 100, 500)
    m = 10

    def selector(abba):
        # a non-trivial selector: mean of the middle tercile
        n = len(abba)
        return float(np.mean(abba[n // 3:2 * n // 3]))

    exp = mpdist(T_A, T_B, m, custom_func=selector)
    got = mpdisted(spark, T_A, T_B, m, tile=200, custom_func=selector)
    assert abs(exp - got) < 1e-9


def _planted_series(n, seed):
    """Uniform floats with a constant run, two planted exact repeats and
    one NaN: exact ties (constant windows, repeat pairs) and masked
    windows in every tile."""
    rs = np.random.RandomState(seed)
    T = rs.uniform(-100, 100, n)
    T[200:260] = 3.0
    T[700:760] = T[100:160]
    T[1100:1130] = T[400:430]
    T[950] = np.nan
    return T


def _single_task(T, m, normalize, p, k):
    if normalize:
        return kernels.matrix_profile(T, m, k=k)
    return kernels.matrix_profile_absolute(T, m, p=p, k=k)


def test_distributed_parity_planted_top1(spark):
    """Top-1 tiles of a size that is not a multiple of the 128-square
    cache tile (tile=300) equal the single-task sweep: I/IL/IR exactly,
    P within 1e-10, for z-norm and p-norm at p=2 and p=3."""
    T = _planted_series(1400, 83)
    m = 12
    for normalize, p in ((True, 2.0), (False, 2.0), (False, 3.0)):
        got = (distributed_matrix_profile(spark, T, m, tile=300,
                                          normalize=normalize, p=p)
               .toPandas().sort_values("i").reset_index(drop=True))
        P, I, IL, IR = _single_task(T, m, normalize, p, 1)
        npt.assert_allclose(got.P.to_numpy(), P[:, 0], rtol=0, atol=1e-10)
        npt.assert_array_equal(got.I.to_numpy(), I[:, 0])
        npt.assert_array_equal(got.IL.to_numpy(), IL)
        npt.assert_array_equal(got.IR.to_numpy(), IR)


def test_distributed_parity_planted_topk(spark):
    """k=3 tiles (tile=300) equal the single-task row-block top-k: I
    exactly, P within 1e-10, for z-norm and p-norm at p=2 and p=3."""
    T = _planted_series(1400, 89)
    m, k = 12, 3
    for normalize, p in ((True, 2.0), (False, 2.0), (False, 3.0)):
        got = (distributed_matrix_profile(spark, T, m, tile=300, k=k,
                                          normalize=normalize, p=p)
               .toPandas().sort_values("i").reset_index(drop=True))
        P, I, _, _ = _single_task(T, m, normalize, p, k)
        npt.assert_allclose(np.stack(got.P.to_numpy()), P, rtol=0,
                            atol=1e-10)
        npt.assert_array_equal(np.stack(got.I.to_numpy()), I)


def test_pnorm_p3_sweep_matches_naive():
    """The p=3 tile sweep (per-offset accumulation) against the
    brute-force oracle, on the planted constant run / repeats / NaN."""
    import naive_oracle
    T = _planted_series(1400, 97)[80:480]
    m = 10
    P, I, IL, IR = kernels.matrix_profile_absolute(T, m, p=3.0)
    eP, eI, eIL, eIR = naive_oracle.stump(T, m, normalize=False, p=3.0)
    npt.assert_allclose(P, eP, rtol=1e-12, atol=1e-12)
    npt.assert_array_equal(I, eI)
    npt.assert_array_equal(IL, eIL)
    npt.assert_array_equal(IR, eIR)
