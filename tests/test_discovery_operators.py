"""Spark discovery-operator smoke + parity tests."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from stumpy_spark import kernels, mining
from stumpy_spark.operators import discovery as D


@pytest.fixture(scope="module")
def seq_df(spark):
    rs = np.random.RandomState(42)
    rows = []
    for i in range(8):
        n = rs.randint(60, 150)
        T = rs.uniform(-1000, 1000, n)
        motif = rs.uniform(-1000, 1000, 8)
        T[5:13] = motif
        T[40:48] = motif
        rows.append((f"doc{i}", T.astype(np.float64)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "tokens"])
    return spark.createDataFrame(pdf).repartition(3), dict(rows)


def test_motifs_operator(spark, seq_df):
    df, raw = seq_df
    res = D.motifs(df, 8, max_motifs=1).toPandas()
    assert set(res.doc_id) == set(raw)
    for r in res.itertuples():
        # planted motif pair found
        assert {5, 40} <= set(r.match_idxs)
        assert r.match_dists[0] == 0.0


def test_fluss_operator(spark, seq_df):
    df, raw = seq_df
    res = D.fluss(df, 5, n_regimes=2).toPandas()
    assert len(res) == len(raw)
    for r in res.itertuples():
        assert len(r.regimes) == 1
        assert 0 <= r.cac_min <= 1


def test_mpdist_pairs_operator(spark, seq_df):
    df, raw = seq_df
    pairs = spark.createDataFrame(
        pd.DataFrame([("doc0", "doc1"), ("doc2", "doc3")],
                     columns=["id_a", "id_b"]))
    res = D.mpdist_pairs(df, pairs, 8).toPandas().set_index(
        ["id_a", "id_b"])
    for (a, b) in [("doc0", "doc1"), ("doc2", "doc3")]:
        exp = mining.mpdist(raw[a], raw[b], 8)
        np.testing.assert_almost_equal(res.loc[(a, b)].mpdist, exp,
                                       decimal=5)


def test_mpdist_pairs_hook_threading(spark, seq_df):
    """custom_func / mp_func reach mining.mpdist through the operator
    (core.py:3276-3312 / 2737-2774 hooks): the selector must see the
    UNSORTED AB-first P_ABBA, and the injected non-normalized kernel
    must reproduce aampdist."""
    from stumpy_spark import kernels
    df, raw = seq_df
    pairs = spark.createDataFrame(
        pd.DataFrame([("doc0", "doc1")], columns=["id_a", "id_b"]))
    sel = lambda abba: float(np.sort(abba)[len(abba) // 2])  # noqa: E731
    res = D.mpdist_pairs(df, pairs, 8, custom_func=sel).toPandas()
    exp = mining.mpdist(raw["doc0"], raw["doc1"], 8, custom_func=sel)
    np.testing.assert_almost_equal(res.mpdist[0], exp, decimal=5)

    mpf = lambda T, m, T_B: kernels.matrix_profile_absolute(  # noqa: E731
        T, m, T_B=T_B)[0][:, 0]
    res = D.mpdist_pairs(df, pairs, 8, mp_func=mpf).toPandas()
    exp = mining.mpdist(raw["doc0"], raw["doc1"], 8, normalize=False)
    np.testing.assert_almost_equal(res.mpdist[0], exp, decimal=5)


def test_snippets_operator(spark, seq_df):
    df, _ = seq_df
    res = D.snippets(df, 16, k=2).toPandas()
    assert res.groupby("doc_id").size().eq(2).all()
    assert (res.fraction >= 0).all() and (res.fraction <= 1).all()


def test_longest_chain_operator(spark, seq_df):
    df, raw = seq_df
    res = D.longest_chain(df, 8).toPandas().set_index("doc_id")
    for did, T in raw.items():
        _, _, IL, IR = kernels.matrix_profile(T, 8)
        _, longest = mining.allc(IL, IR)
        assert list(res.loc[did].chain) == [int(x) for x in longest]


def test_ostinato_operator(spark):
    rs = np.random.RandomState(11)
    motif = rs.uniform(-1000, 1000, 8)
    rows = []
    for g, grp in enumerate(["g1", "g2"]):
        for i in range(3):
            T = rs.uniform(-1000, 1000, 50)
            T[10:18] = motif + rs.normal(0, 0.01, 8)
            rows.append((grp, f"{grp}_doc{i}", T))
    pdf = pd.DataFrame(rows, columns=["source", "doc_id", "tokens"])
    df = spark.createDataFrame(pdf)
    res = D.ostinato(df, 8, group_col="source").toPandas()
    assert set(res.group) == {"g1", "g2"}
    assert (res.radius < 1.0).all()


def test_ostinato_skewed_group_capped(spark):
    """A zipf-hot group larger than max_group_size must be subsampled
    deterministically (bounded task memory), with the truncation reported
    in n_used/n_group rather than silently applied."""
    rs = np.random.RandomState(13)
    motif = rs.uniform(-1000, 1000, 8)
    rows = []
    for i in range(40):                      # hot group, 40 >> cap of 8
        T = rs.uniform(-1000, 1000, 40)
        T[5:13] = motif + rs.normal(0, 0.01, 8)
        rows.append(("hot", f"hot_doc{i:03d}", T))
    for i in range(3):
        T = rs.uniform(-1000, 1000, 40)
        T[5:13] = motif + rs.normal(0, 0.01, 8)
        rows.append(("cold", f"cold_doc{i}", T))
    pdf = pd.DataFrame(rows, columns=["source", "doc_id", "tokens"])
    df = spark.createDataFrame(pdf)
    res = D.ostinato(df, 8, group_col="source",
                     max_group_size=8).toPandas().set_index("group")
    assert res.loc["hot"].n_group == 40 and res.loc["hot"].n_used <= 8
    assert res.loc["cold"].n_used == 3
    assert (res.radius < 1.0).all()
    # deterministic under different partitioning
    res2 = D.ostinato(df.repartition(7), 8, group_col="source",
                      max_group_size=8).toPandas().set_index("group")
    assert res.loc["hot"].doc_id == res2.loc["hot"].doc_id
    assert res.loc["hot"].subseq_idx == res2.loc["hot"].subseq_idx


def test_stimp_operator(spark, seq_df):
    df, raw = seq_df
    res = D.stimp(df, [8, 16]).toPandas()
    for did, T in raw.items():
        for m in (8, 16):
            P = kernels.matrix_profile(T, m)[0][:, 0]
            finite = P[np.isfinite(P)]
            row = res[(res.doc_id == did) & (res.m == m)].iloc[0]
            np.testing.assert_almost_equal(row.min_p, finite.min(),
                                           decimal=5)


def test_mstump_operator(spark):
    rs = np.random.RandomState(21)
    rows = []
    for i in range(3):
        dims = rs.uniform(-100, 100, (3, 50))
        rows.append((f"md{i}", [list(d) for d in dims]))
    # ragged dimensions are skipped without failing the other docs
    ragged = ("ragged", [list(rs.uniform(-100, 100, n)) for n in (50, 40)])
    pdf = pd.DataFrame(rows + [ragged], columns=["doc_id", "dims"])
    res = D.mstump(spark.createDataFrame(pdf), 5).toPandas()
    assert set(res.kdim) == {1, 2, 3}
    assert set(res.doc_id) == {did for did, _ in rows}
    from stumpy_spark.anytime import multi_matrix_profile
    for did, dims in rows:
        Ts = np.asarray(dims)
        P, I = multi_matrix_profile(Ts, 5)
        for kdim in range(3):
            row = res[(res.doc_id == did) & (res.kdim == kdim + 1)].iloc[0]
            np.testing.assert_almost_equal(row.min_p, P[kdim].min(),
                                           decimal=5)


def test_scrump_operator(spark, seq_df):
    df, raw = seq_df
    res = D.scrump(df, 8, percentage=1.0, pre_scrump=False,
                   rounds=1).toPandas()
    # percentage=1.0 + 1 round == exact
    from stumpy_spark import kernels
    for did, T in raw.items():
        P = kernels.matrix_profile(T, 8)[0][:, 0]
        row = res[res.doc_id == did].iloc[0]
        np.testing.assert_almost_equal(row.approx_min_p,
                                       P[np.isfinite(P)].min(), decimal=5)


def test_mmotifs_operator(spark):
    rs = np.random.RandomState(53)
    rows = []
    for i in range(3):
        dims = rs.uniform(-100, 100, (3, 60))
        # plant a 2-dim motif in dims 0 and 2
        pat = rs.uniform(-100, 100, 6)
        for d in (0, 2):
            dims[d, 10:16] = pat
            dims[d, 40:46] = pat + rs.normal(0, 0.001, 6)
        rows.append((f"mm{i}", [list(d) for d in dims]))
    ragged = ("ragged", [list(rs.uniform(-100, 100, n)) for n in (60, 59)])
    pdf = pd.DataFrame(rows + [ragged], columns=["doc_id", "dims"])
    res = D.mmotifs(spark.createDataFrame(pdf), 6).toPandas()
    from stumpy_spark.anytime import mmotifs as ref
    assert len(res) == 3
    for did, dims in rows:
        exp = ref(np.asarray(dims), 6, max_motifs=1)[0]
        row = res[res.doc_id == did].iloc[0]
        assert (row.motif_i, row.nn_i, row.kdim) == exp[:3]
        assert list(row.dims) == exp[3]
