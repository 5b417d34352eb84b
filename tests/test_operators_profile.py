"""Spark operator parity vs naive oracles (distributed-parity analog of the
reference's tests/test_stumped.py: Spark output must equal single-node naive
output exactly, SURVEY §5.6)."""

import numpy as np
import numpy.testing as npt
import pandas as pd
import pytest

import naive_oracle as naive
from stumpy_spark.operators import profile as ops

PRECISION = 5


@pytest.fixture(scope="module")
def seq_df(spark):
    rs = np.random.RandomState(42)
    rows = []
    for i in range(12):
        n = rs.randint(20, 120)
        rows.append((f"doc{i}", rs.randint(0, 1000, n).astype(np.int32)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "tokens"])
    return spark.createDataFrame(pdf).repartition(4), {
        d: np.asarray(t, dtype=np.float64) for d, t in rows}


def test_stump_matches_naive(spark, seq_df):
    df, raw = seq_df
    m = 5
    result = ops.stump(df, m).toPandas()
    for doc_id, T in raw.items():
        if len(T) < 2 * m:
            continue
        got = result[result.doc_id == doc_id].sort_values("i")
        ref_P, ref_I, ref_IL, ref_IR = naive.stump(T, m)
        npt.assert_almost_equal(
            ref_P[:, 0], np.array([p[0] for p in got.P]), decimal=PRECISION)
        npt.assert_array_equal(ref_I[:, 0],
                               np.array([i[0] for i in got.I]))
        npt.assert_array_equal(ref_IL, got.IL.to_numpy())
        npt.assert_array_equal(ref_IR, got.IR.to_numpy())


def test_aamp_matches_naive(spark, seq_df):
    df, raw = seq_df
    m = 4
    result = ops.aamp(df, m).toPandas()
    for doc_id, T in raw.items():
        if len(T) < 2 * m:
            continue
        got = result[result.doc_id == doc_id].sort_values("i")
        ref_P, ref_I, _, _ = naive.stump(T, m, normalize=False)
        npt.assert_almost_equal(
            ref_P[:, 0], np.array([p[0] for p in got.P]), decimal=PRECISION)


def test_mass_matches_naive(spark, seq_df):
    df, raw = seq_df
    Q = raw["doc0"][:8]
    result = ops.mass(df, Q).toPandas().set_index("doc_id")
    for doc_id, T in raw.items():
        if len(T) < 8:
            continue
        D = naive.mass(Q, T)
        finite = np.isfinite(D)
        row = result.loc[doc_id]
        assert int(row.min_idx) == int(np.argmin(np.where(finite, D, np.inf)))
        npt.assert_almost_equal(row.min_d, D[int(row.min_idx)],
                                decimal=PRECISION)
        npt.assert_almost_equal(row.max_d, D[finite].max(), decimal=PRECISION)


def test_profile_summary(spark, seq_df):
    df, raw = seq_df
    m = 5
    result = ops.profile_summary(df, m).toPandas().set_index("doc_id")
    for doc_id, T in raw.items():
        if len(T) < 2 * m:
            continue
        ref_P, ref_I, _, _ = naive.stump(T, m)
        p0 = ref_P[:, 0]
        row = result.loc[doc_id]
        npt.assert_almost_equal(row.min_p, p0.min(), decimal=PRECISION)
        npt.assert_almost_equal(row.max_p, p0[np.isfinite(p0)].max(),
                                decimal=PRECISION)
        # a motif pair (i, j) ties exactly (P[i] == P[j]); either member
        # may win the global argmin depending on fp rounding order
        near_min = set(np.nonzero(p0 <= p0.min() + 1e-5)[0])
        assert int(row.motif_i) in near_min
        npt.assert_almost_equal(p0[int(row.motif_i)], p0.min(),
                                decimal=PRECISION)
        assert ref_I[int(row.motif_i), 0] == row.motif_j


def test_sliding_stats_exact(spark, seq_df):
    df, raw = seq_df
    m = 7
    result = ops.sliding_stats(df, m).toPandas().set_index("doc_id")
    for doc_id, T in raw.items():
        if len(T) < m:
            continue
        means, stds = naive.rolling_mean_std(T, m)
        row = result.loc[doc_id]
        assert row.n_windows == len(means)
        npt.assert_almost_equal(row.min_mean, means.min(), decimal=PRECISION)
        npt.assert_almost_equal(row.max_mean, means.max(), decimal=PRECISION)
        npt.assert_almost_equal(row.min_std, stds.min(), decimal=PRECISION)
        npt.assert_almost_equal(row.max_std, stds.max(), decimal=PRECISION)
        # exact integer invariant
        wsum = sum(int(T[i:i + m].sum()) for i in range(len(T) - m + 1))
        assert row.sum_window_sums == wsum


def _planted_batch(m, seed):
    """Flat int32 batch (values, offsets) of mixed-length token docs:
    too short, boundary lengths, planted exact-duplicate windows (motif
    ties) and leading constant runs (compiled-kernel fallback)."""
    rng = np.random.default_rng(seed)
    docs = []
    for k in range(60):
        n = int(rng.choice([m, 2 * m - 1, 2 * m, 3 * m, 300, 700]))
        t = rng.integers(0, int(rng.choice([5, 56, 1000, 50257])), n)
        if n >= 3 * m and k % 3:
            i0 = int(rng.integers(0, n // 2 - m))
            j0 = int(rng.integers(n // 2, n - m))
            t[j0:j0 + m] = t[i0:i0 + m]
        if k % 7 == 0 and n >= 2 * m:
            t[:m + 2] = 9
        docs.append(t.astype(np.int32))
    flat = np.concatenate(docs)
    off = np.concatenate(
        [[0], np.cumsum([len(d) for d in docs])]).astype(np.int64)
    return flat, off


def test_profile_summary_fast_path_parity(monkeypatch):
    """The per-batch profile summary gives the same rows with the
    compiled kernel loaded and without it.  m=96 falls back to the
    numpy diagonal kernel: bit-identical, motif indices included.  m=8
    falls back to GEMM tiles, whose squared distances differ from the
    diagonal kernel's in the last bits (~1e-14): discords match at
    1e-9, motif values at 1e-12 in squared space (sqrt magnifies
    near-zero differences), and every reported motif pair lies outside
    the exclusion zone at distance ``min_p``."""
    from stumpy_spark import cnative, kernels

    if cnative.load() is None:
        pytest.skip("compiled kernel unavailable")
    for m in (96, 8):
        flat, off = _planted_batch(m, seed=m)
        on = ops._flat_profile_summary(flat, off, m)
        with monkeypatch.context() as mp:
            mp.setattr(cnative, "_fn", None)
            mp.setattr(cnative, "_failed", True)
            fb = ops._flat_profile_summary(flat, off, m)
        keep = on[0]
        assert keep.sum() >= 30 and (~keep).sum() >= 5
        assert (on[2][keep] == 0).sum() >= 5        # planted repeats
        if m == 96:
            for a, b in zip(on, fb):
                assert np.array_equal(a, b, equal_nan=True)
            continue
        for a, b in zip(on[:2], fb[:2]):
            assert np.array_equal(a, b)
        npt.assert_allclose(on[3][keep], fb[3][keep], rtol=0, atol=1e-9)
        npt.assert_allclose(on[2][keep] ** 2, fb[2][keep] ** 2, rtol=0,
                            atol=1e-12)
        for r in np.flatnonzero(keep):
            T = flat[off[r]:off[r + 1]].astype(np.float64)
            for _, _, minp, _, mi, mj in (on, fb):
                assert abs(mi[r] - mj[r]) > kernels.excl_zone(m)
                d = naive.znorm_dist(T[mi[r]:mi[r] + m], T[mj[r]:mj[r] + m])
                assert abs(d * d - minp[r] ** 2) < 1e-9, (r, mi[r], mj[r])


def test_fused_tier_profile_matches_profile_summary(spark):
    """The fused raw tier's min_p/max_p are profile_summary's values,
    and NULL exactly where profile_summary drops the sequence."""
    from stumpy_spark.rollup import tiers
    from stumpy_spark.sources import tokseq

    df = tokseq.tokseq_df(spark, 300, partitions=2)
    m = 8
    summ = ops.profile_summary(df, m).toPandas().set_index("doc_id")
    raw = (tiers.per_sequence_stats_fused(df, m, include_profile=True)
           .toPandas().set_index("doc_id"))
    assert len(raw) == 300 and 0 < len(summ) < len(raw)
    kept = raw.index.isin(summ.index)
    assert raw.min_p[~kept].isna().all() and raw.max_p[~kept].isna().all()
    got = raw.loc[summ.index]
    assert np.array_equal(got.min_p.to_numpy(), summ.min_p.to_numpy())
    assert np.array_equal(got.max_p.to_numpy(), summ.max_p.to_numpy())
