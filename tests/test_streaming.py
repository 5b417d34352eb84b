"""Streaming parity tests (reference methodology: incremental updates must
equal the incremental oracle after every append — tests/test_stumpi.py
analog)."""

import os

import numpy as np
import numpy.testing as npt
import pandas as pd
import pytest

import naive_oracle as naive
from stumpy_spark.streaming.stumpi import StumpiState, stumpi_stream

PRECISION = 5


class NaiveStumpiEgress:
    """Brute-force incremental oracle (same contract as the reference's
    tests/naive.py stumpi_egress class): sliding window, elementwise-min
    profile updates, no recurrences."""

    def __init__(self, T, m):
        self.m = m
        self.T = np.asarray(T, dtype=np.float64).copy()
        P, I, _, _ = naive.stump(self.T, m)
        self.P = P[:, 0].copy()
        self.I = I[:, 0].copy()
        self.n_appended = 0

    def update(self, t):
        m = self.m
        self.T = np.append(self.T[1:], t)
        l = len(self.T) - m + 1
        Q = self.T[-m:]
        D = naive.mass(Q, self.T, query_idx=l - 1)
        self.P[:-1] = self.P[1:]
        self.I[:-1] = self.I[1:] - 1
        self.n_appended += 1
        improved = D[:l - 1] < self.P[:l - 1]
        self.P[:l - 1] = np.where(improved, D[:l - 1], self.P[:l - 1])
        self.I[:l - 1] = np.where(improved, l - 1, self.I[:l - 1])
        if np.isfinite(D).any():
            j = int(np.nanargmin(np.where(np.isfinite(D), D, np.inf)))
            self.P[-1] = D[j]
            self.I[-1] = j
        else:
            self.P[-1] = np.inf
            self.I[-1] = -1


@pytest.mark.parametrize("seed,n,m,updates", [
    (1, 30, 3, 40),
    (2, 64, 10, 50),
    (3, 40, 5, 120),
])
def test_stumpi_state_matches_incremental_oracle(seed, n, m, updates):
    rs = np.random.RandomState(seed)
    T0 = rs.uniform(-1000, 1000, n)
    stream = rs.uniform(-1000, 1000, updates)
    st = StumpiState(T0, m)
    ora = NaiveStumpiEgress(T0, m)
    for step, t in enumerate(stream):
        st.update(t)
        ora.update(t)
        npt.assert_almost_equal(ora.P, st.P, decimal=PRECISION,
                                err_msg=f"step {step}")
        npt.assert_array_equal(ora.I, st.I, err_msg=f"step {step}")


@pytest.mark.parametrize("seed,n,m,updates", [
    (4, 30, 3, 30),
    (5, 50, 8, 40),
])
def test_growing_stumpi_equals_batch_profile(seed, n, m, updates):
    """egress=False: after every append the growing profile must equal
    the batch matrix profile of the full series (absolute indices)."""
    from stumpy_spark import kernels
    from stumpy_spark.streaming.stumpi import GrowingStumpiState
    rs = np.random.RandomState(seed)
    T0 = rs.uniform(-1000, 1000, n)
    stream = rs.uniform(-1000, 1000, updates)
    st = GrowingStumpiState(T0, m)
    full = list(T0)
    for step, t in enumerate(stream):
        st.update(t)
        full.append(t)
        P, I, _, _ = kernels.matrix_profile(np.asarray(full), m)
        npt.assert_almost_equal(P[:, 0], st.P_, decimal=PRECISION,
                                err_msg=f"step {step}")
        npt.assert_array_equal(I[:, 0], st.I_, err_msg=f"step {step}")


def test_stumpi_state_roundtrip_serialization():
    rs = np.random.RandomState(7)
    st = StumpiState(rs.uniform(-10, 10, 30), 3)
    st.update(1.5)
    st2 = StumpiState.from_tuple(st.to_tuple())
    st.update(2.5)
    st2.update(2.5)
    npt.assert_array_equal(st.P, st2.P)
    npt.assert_array_equal(st.I, st2.I)


def test_stumpi_streaming_window_split_across_batches(spark, tmp_path):
    """The initial window arriving over multiple micro-batches must not
    rehydrate the empty placeholder state as a live StumpiState (which
    would crash update() on an empty T)."""
    import time
    rs = np.random.RandomState(23)
    n, m, extra = 25, 3, 8
    series = {f"doc{d}": rs.uniform(-100, 100, n + extra)
              for d in range(2)}
    indir = tmp_path / "in"
    indir.mkdir()

    def write_batch(name, lo, hi):
        rows = [(did, pos, float(v))
                for did, vals in series.items()
                for pos, v in enumerate(vals) if lo <= pos < hi]
        pd.DataFrame(rows, columns=["doc_id", "pos", "value"]).to_parquet(
            indir / name)

    write_batch("batch0.parquet", 0, 10)      # less than window_n
    time.sleep(1.1)                           # distinct file mtimes
    write_batch("batch1.parquet", 10, 20)     # still less than window_n
    time.sleep(1.1)
    write_batch("batch2.parquet", 20, n + extra)

    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("pos", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(indir)))
    out = stumpi_stream(stream, m=m, window_n=n)
    q = (out.writeStream.format("memory").queryName("stumpi_split_out")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_split"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    res = spark.sql("SELECT * FROM stumpi_split_out").toPandas()
    for did, vals in series.items():
        ora = NaiveStumpiEgress(vals[:n], m)
        for t in vals[n:]:
            ora.update(t)
        rows = res[res.doc_id == did].sort_values("n_seen")
        assert rows.n_seen.iloc[0] < n          # placeholder batch emitted
        row = rows.iloc[-1]
        assert row.n_seen == n + extra
        npt.assert_almost_equal(ora.P, np.array(row.P), decimal=PRECISION)


def test_stumpi_structured_streaming(spark, tmp_path):
    """End-to-end applyInPandasWithState smoke + parity test."""
    rs = np.random.RandomState(11)
    n, m, extra = 25, 3, 10
    series = {f"doc{d}": rs.uniform(-100, 100, n + extra) for d in range(3)}
    indir = tmp_path / "in"
    indir.mkdir()
    rows = []
    for did, vals in series.items():
        for pos, v in enumerate(vals):
            rows.append((did, pos, float(v)))
    pd.DataFrame(rows, columns=["doc_id", "pos", "value"]).to_parquet(
        indir / "batch0.parquet")

    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("pos", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])
    stream = spark.readStream.schema(schema).parquet(str(indir))
    out = stumpi_stream(stream, m=m, window_n=n)
    q = (out.writeStream.format("memory").queryName("stumpi_out")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    res = spark.sql("SELECT * FROM stumpi_out").toPandas()
    assert set(res.doc_id) == set(series)
    for did, vals in series.items():
        ora = NaiveStumpiEgress(vals[:n], m)
        for t in vals[n:]:
            ora.update(t)
        row = res[res.doc_id == did].sort_values("n_seen").iloc[-1]
        assert row.n_seen == n + extra
        npt.assert_almost_equal(ora.P, np.array(row.P), decimal=PRECISION)
        exp_abs = np.where(ora.I >= 0, ora.I + ora.n_appended, -1)
        got = np.array(row.I)
        npt.assert_array_equal(exp_abs[ora.I >= 0], got[ora.I >= 0])


# -- round-3 additions: non-finite contract, top-k, absolute indices --------

def test_growing_stumpi_nonfinite_appends_equal_batch():
    """ADVICE r2 (medium): a NaN/inf append must not poison the QT
    recurrence — after the bad point, windows not containing it must
    still match the batch profile exactly."""
    from stumpy_spark import kernels
    from stumpy_spark.streaming.stumpi import GrowingStumpiState
    rs = np.random.RandomState(11)
    T0 = rs.uniform(-100, 100, 40)
    stream = list(rs.uniform(-100, 100, 30))
    stream[5] = np.nan
    stream[12] = np.inf
    m = 5
    st = GrowingStumpiState(T0, m)
    full = list(T0)
    for step, t in enumerate(stream):
        st.update(t)
        full.append(t)
        P, I, _, _ = kernels.matrix_profile(np.asarray(full), m)
        npt.assert_almost_equal(P[:, 0], st.P_, decimal=PRECISION,
                                err_msg=f"step {step}")
        npt.assert_array_equal(I[:, 0], st.I_, err_msg=f"step {step}")


def test_growing_stumpi_topk_equals_batch():
    from stumpy_spark import kernels
    from stumpy_spark.streaming.stumpi import GrowingStumpiState
    rs = np.random.RandomState(19)
    T0 = rs.uniform(-100, 100, 36)
    stream = rs.uniform(-100, 100, 25)
    m, k = 4, 3
    st = GrowingStumpiState(T0, m, k=k)
    full = list(T0)
    for step, t in enumerate(stream):
        st.update(t)
        full.append(t)
        P, I, _, _ = kernels.matrix_profile(np.asarray(full), m, k=k)
        npt.assert_almost_equal(P, st.P_, decimal=PRECISION,
                                err_msg=f"step {step}")
        npt.assert_array_equal(I, st.I_, err_msg=f"step {step}")


def test_growing_stumpi_linear_update_cost(monkeypatch):
    """The O(n^2)-allocation regression guard, checked structurally (a
    wall-clock ratio flakes on hosts with variable memory-bandwidth
    steal): updates must never recompute ``preprocess``/batch
    ``matrix_profile`` over the history, and buffer reallocations must
    be geometric (O(log n) over n appends), not per-append."""
    from stumpy_spark.streaming import stumpi as SM
    rs = np.random.RandomState(23)
    base = rs.uniform(-1, 1, 64)
    st = SM.GrowingStumpiState(base, 8)

    calls = {"preprocess": 0, "matrix_profile": 0, "grow": 0}
    real_pre = SM.kernels.preprocess
    real_mp = SM.kernels.matrix_profile
    real_grow = SM._grow

    def count(name, real):
        def wrapper(*a, **kw):
            calls[name] += 1
            return real(*a, **kw)
        return wrapper

    def counting_grow(arr, need):
        out = real_grow(arr, need)
        if out is not arr:               # an actual reallocation
            calls["grow"] += 1
        return out

    monkeypatch.setattr(SM.kernels, "preprocess",
                        count("preprocess", real_pre))
    monkeypatch.setattr(SM.kernels, "matrix_profile",
                        count("matrix_profile", real_mp))
    monkeypatch.setattr(SM, "_grow", counting_grow)

    n_updates = 1000
    for v in rs.uniform(-1, 1, n_updates):
        st.update(v)
    assert calls["preprocess"] == 0, calls
    assert calls["matrix_profile"] == 0, calls
    # geometric growth: 64 -> ~1064 points doubles capacity ~4x across
    # ~10 buffers; per-append reallocation would be ~10 * n_updates
    assert calls["grow"] <= 96, calls


class NaiveStumpiEgressRef:
    """Literal (loop-level) transcription of the reference's egress
    update contract — core.py:4448-4511 ``_update_incremental_PI`` with
    absolute indices, non-finite masking per stumpi.py:316-334."""

    def __init__(self, T, m, k=1):
        T = np.asarray(T, dtype=np.float64)
        self.m, self.k = m, k
        self.isfin = np.isfinite(T)
        self.T = np.where(self.isfin, T, 0.0)
        P, I, _, _ = naive.stump(T, m, k=k)
        self.P = P.astype(np.float64).copy()
        self.I = I.astype(np.int64).copy()
        self.n_appended = 0

    def update(self, t):
        m, k = self.m, self.k
        finite = np.isfinite(t)
        tz = float(t) if finite else 0.0
        self.T = np.append(self.T[1:], tz)
        self.isfin = np.append(self.isfin[1:], finite)
        self.n_appended += 1
        l = len(self.T) - m + 1
        self.P = np.vstack([self.P[1:], np.full(k, np.inf)])
        self.I = np.vstack([self.I[1:], np.full(k, -1, dtype=np.int64)])
        # distance profile of last window vs all, with non-finite masking
        D = np.empty(l)
        for i in range(l):
            D[i] = naive.znorm_dist(self.T[i:i + m], self.T[-m:])
        for i in range(l):
            if not self.isfin[i:i + m].all():
                D[i] = np.inf
        if not self.isfin[-m:].all():
            D[:] = np.inf
        ez = naive.excl_zone(m)
        D[max(0, l - 1 - ez):] = np.inf
        for i in range(l - 1):
            if D[i] < self.P[i, -1]:
                pos = np.searchsorted(self.P[i], D[i], side="right")
                self.P[i] = np.insert(self.P[i], pos, D[i])[:k]
                self.I[i] = np.insert(self.I[i], pos,
                                      l - 1 + self.n_appended)[:k]
        self.P[-1] = np.inf
        self.I[-1] = -1
        for i, d in enumerate(D):
            if d < self.P[-1, -1]:
                pos = np.searchsorted(self.P[-1], d, side="right")
                self.P[-1] = np.insert(self.P[-1], pos, d)[:k]
                self.I[-1] = np.insert(self.I[-1], pos,
                                       i + self.n_appended)[:k]


@pytest.mark.parametrize("k", [1, 3])
def test_stumpi_egress_absolute_indices_and_topk(k):
    """absolute_indices=True must reproduce the reference's egress
    contract (absolute stream positions, possibly already egressed),
    for k=1 and k>1, including non-finite appends."""
    rs = np.random.RandomState(31)
    T0 = rs.uniform(-100, 100, 40)
    stream = list(rs.uniform(-100, 100, 60))
    stream[7] = np.nan
    m = 4
    st = StumpiState(T0, m, k=k, absolute_indices=True)
    ora = NaiveStumpiEgressRef(T0, m, k=k)
    for step, t in enumerate(stream):
        st.update(t)
        ora.update(t)
        got_P = st.P_ if k > 1 else st.P_.reshape(-1, 1)[:, :1]
        exp_P = ora.P if k > 1 else ora.P[:, :1]
        npt.assert_almost_equal(exp_P[:, :1] if k == 1 else exp_P,
                                got_P if k > 1 else got_P,
                                decimal=PRECISION, err_msg=f"step {step}")
        got_I = st.I_ if k > 1 else st.I_.reshape(-1, 1)
        exp_I = ora.I if k > 1 else ora.I[:, :1]
        npt.assert_array_equal(exp_I, got_I, err_msg=f"step {step}")


def test_stumpi_egress_nonfinite_recovers():
    """One NaN append must stop poisoning the profile once every window
    containing it has egressed: compare against a fresh batch profile of
    the visible window restricted to co-visible candidates (= the
    incremental oracle with non-finite handling)."""
    rs = np.random.RandomState(37)
    T0 = rs.uniform(-100, 100, 30)
    stream = list(rs.uniform(-100, 100, 50))
    stream[3] = np.inf
    m = 3
    st = StumpiState(T0, m)
    ora = NaiveStumpiEgressRef(T0, m, k=1)
    for step, t in enumerate(stream):
        st.update(t)
        ora.update(t)
        npt.assert_almost_equal(ora.P[:, 0], st.P, decimal=PRECISION,
                                err_msg=f"step {step}")
    # after the bad point fully egresses the profile must be all-finite
    assert np.isfinite(st.P).all()


def test_stumpi_state_roundtrip_with_nonfinite_and_topk():
    rs = np.random.RandomState(41)
    T = rs.uniform(-10, 10, 30)
    T[4] = np.nan
    st = StumpiState(T, 3, k=2)
    st.update(1.5)
    st2 = StumpiState.from_tuple(st.to_tuple())
    st.update(np.nan)
    st2.update(np.nan)
    st.update(2.5)
    st2.update(2.5)
    npt.assert_array_equal(st.P_, st2.P_)
    npt.assert_array_equal(st.I_, st2.I_)


def test_stumpi_mp_resume_equals_cold_init():
    """The reference's ``mp=`` shortcut (stumpy/stumpi.py:205-211):
    initializing from a precomputed batch profile must equal the cold
    init exactly, before and after further updates — for both egress
    and growing modes."""
    from stumpy_spark import kernels
    from stumpy_spark.streaming.stumpi import (GrowingStumpiState,
                                               StumpiState)
    rs = np.random.RandomState(31)
    T = rs.uniform(-1, 1, 120)
    m, k = 8, 2
    mp = kernels.matrix_profile(T, m, k=k, return_left_right_P=True)

    for cls in (StumpiState, GrowingStumpiState):
        cold = cls(T, m, k=k)
        warm = cls(T, m, k=k, mp=mp)
        for v in rs.uniform(-1, 1, 40):
            cold.update(v)
            warm.update(v)
        npt.assert_array_equal(cold.P_, warm.P_)
        npt.assert_array_equal(cold.I_, warm.I_)
        npt.assert_array_equal(cold.left_I_, warm.left_I_)

    with pytest.raises(ValueError):
        StumpiState(T, m, k=3, mp=mp)        # k mismatch rejected


def test_stumpi_egress_left_profile_after_compaction():
    """An appended window's left neighbour is its top-1 among the windows
    co-resident when it arrived; the egress state must keep it through
    more appends than the window holds (buffer compaction included)."""
    rs = np.random.RandomState(47)
    n, m = 30, 4
    full = rs.uniform(-100, 100, n + 75)
    st = StumpiState(full[:n], m, absolute_indices=True)
    for t in full[n:]:
        st.update(t)
    l, ez = n - m + 1, naive.excl_zone(m)
    total_l = len(full) - m + 1
    for r, a in enumerate(range(total_l - l, total_l)):
        js = np.arange(a - l + 1, a - ez)
        d = [naive.znorm_dist(full[a:a + m], full[j:j + m]) for j in js]
        j = int(np.argmin(d))
        assert st.left_I_[r] == js[j], r
        npt.assert_almost_equal(st.left_P_[r], d[j], decimal=PRECISION)
