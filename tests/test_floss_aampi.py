"""FLOSS / aampi streaming state tests."""

import numpy as np
import pytest
import numpy.testing as npt

import naive_oracle as naive
from stumpy_spark import kernels
from stumpy_spark.streaming.floss import AampiState, FlossState

PRECISION = 5


class NaiveAampiEgress:
    def __init__(self, T, m):
        self.m = m
        self.T = np.asarray(T, dtype=np.float64).copy()
        P, I, _, _ = naive.stump(self.T, m, normalize=False)
        self.P = P[:, 0].copy()
        self.I = I[:, 0].copy()

    def update(self, t):
        m = self.m
        self.T = np.append(self.T[1:], t)
        l = len(self.T) - m + 1
        Q = self.T[-m:]
        D = np.array([naive.pnorm_dist(Q, self.T[j:j + m])
                      for j in range(l)])
        ez = naive.excl_zone(m)
        D[max(0, l - 1 - ez):] = np.inf
        self.P[:-1] = self.P[1:]
        self.I[:-1] = self.I[1:] - 1
        improved = D[:l - 1] < self.P[:l - 1]
        self.P[:l - 1] = np.where(improved, D[:l - 1], self.P[:l - 1])
        self.I[:l - 1] = np.where(improved, l - 1, self.I[:l - 1])
        if np.isfinite(D).any():
            j = int(np.argmin(np.where(np.isfinite(D), D, np.inf)))
            self.P[-1] = D[j]
            self.I[-1] = j
        else:
            self.P[-1] = np.inf
            self.I[-1] = -1


def test_aampi_matches_incremental_oracle():
    """Also on an offset float series (values near 1e6) whose stream
    replays one window exactly."""
    for offset in (0.0, 1e6):
        rs = np.random.RandomState(5)
        T0 = rs.uniform(-100, 100, 40) + offset
        stream = rs.uniform(-100, 100, 60) + offset
        if offset:
            stream[:5] = T0[20:25]
        st = AampiState(T0, 5)
        ora = NaiveAampiEgress(T0, 5)
        for step, t in enumerate(stream):
            st.update(t)
            ora.update(t)
            npt.assert_almost_equal(ora.P, st.P, decimal=PRECISION,
                                    err_msg=f"step {step}")
            npt.assert_array_equal(ora.I, st.I, err_msg=f"step {step}")


def test_floss_right_profile_correct():
    """After updates, PR/IR equal the incremental right-NN oracle."""
    rs = np.random.RandomState(9)
    T0 = rs.uniform(-100, 100, 40)
    m = 5
    st = FlossState(T0, m)
    # oracle: incremental right profile
    T = T0.copy()
    PR = kernels.matrix_profile(T, m, return_left_right_P=True)[5].copy()
    IR = kernels.matrix_profile(T, m)[3].copy()
    for t in rs.uniform(-100, 100, 30):
        T = np.append(T[1:], t)
        l = len(T) - m + 1
        D = naive.mass(T[-m:], T, query_idx=l - 1)
        PR = np.append(PR[1:], np.inf)
        IR = np.append(np.where(IR[1:] >= 0, IR[1:] - 1, -1), -1)
        improved = D[:l - 1] < PR[:l - 1]
        PR[:l - 1] = np.where(improved, D[:l - 1], PR[:l - 1])
        IR[:l - 1] = np.where(improved, l - 1, IR[:l - 1])
        st.update(t)
    npt.assert_almost_equal(PR, st.PR, decimal=PRECISION)
    npt.assert_array_equal(IR, st.IR)


def test_floss_cac_detects_regime_change():
    rs = np.random.RandomState(3)
    m = 8
    # start with pure sine regime, stream in a noise regime
    t = np.arange(200, dtype=np.float64)
    sine = np.sin(2 * np.pi * t / 16) * 100 + rs.normal(0, 0.5, 200)
    st = FlossState(sine, m, excl_factor=2)
    cac_before = st.cac_1d()
    for v in rs.uniform(-100, 100, 100):
        st.update(v)
    cac_after = st.cac_1d()
    # a regime boundary inside the window → CAC dips well below 1
    assert cac_after.min() < 0.4
    assert cac_after.min() <= cac_before.min() + 1e-9


def test_aampi_structured_streaming(spark, tmp_path):
    """aampi through the same applyInPandasWithState wiring."""
    import pandas as pd
    from stumpy_spark.streaming.stumpi import stumpi_stream
    rs = np.random.RandomState(21)
    n, m, extra = 25, 3, 8
    series = {f"doc{d}": rs.uniform(-100, 100, n + extra)
              for d in range(2)}
    indir = tmp_path / "in"
    indir.mkdir()
    rows = [(did, pos, float(v)) for did, vals in series.items()
            for pos, v in enumerate(vals)]
    pd.DataFrame(rows, columns=["doc_id", "pos", "value"]).to_parquet(
        indir / "b0.parquet")
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("pos", T.LongType()),
        T.StructField("value", T.DoubleType())])
    stream = spark.readStream.schema(schema).parquet(str(indir))
    out = stumpi_stream(stream, m=m, window_n=n, normalize=False)
    q = (out.writeStream.format("memory").queryName("aampi_out")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    res = spark.sql("SELECT * FROM aampi_out").toPandas()
    for did, vals in series.items():
        ora = NaiveAampiEgress(vals[:n], m)
        for t in vals[n:]:
            ora.update(t)
        row = res[res.doc_id == did].sort_values("n_seen").iloc[-1]
        npt.assert_almost_equal(ora.P, np.array(row.P), decimal=PRECISION)


@pytest.mark.parametrize("k,p", [(1, 2.0), (3, 2.0), (1, 1.0)])
def test_growing_aampi_equals_batch(k, p):
    """aampi(egress=False): after every append the growing profile must
    equal the batch non-normalized matrix profile of the full series,
    including across NaN appends and for top-k — also on an offset
    float series (values near 1e6) whose stream replays one window
    exactly."""
    from stumpy_spark import kernels
    from stumpy_spark.streaming.floss import GrowingAampiState
    m = 5
    for offset in (0.0, 1e6):
        rs = np.random.RandomState(83)
        T0 = rs.uniform(-100, 100, 40) + offset
        stream = list(rs.uniform(-100, 100, 25) + offset)
        stream[6] = np.nan
        if offset:
            stream[10:15] = T0[20:25]
        st = GrowingAampiState(T0, m, k=k, p=p)
        full = list(T0)
        for step, t in enumerate(stream):
            st.update(t)
            full.append(t)
            P, I, _, _ = kernels.matrix_profile_absolute(
                np.asarray(full), m, p=p, k=k)
            exp_P = P[:, 0] if k == 1 else P
            exp_I = I[:, 0] if k == 1 else I
            npt.assert_almost_equal(exp_P, st.P_, decimal=PRECISION,
                                    err_msg=f"step {step}")
            npt.assert_array_equal(exp_I, st.I_, err_msg=f"step {step}")


def test_floss_nonfinite_append_recovers():
    """A NaN / inf append must not poison the QT recurrence: windows
    containing the bad point get inf right-distances, and once it
    egresses, later updates match the incremental naive oracle exactly
    (the stumpi non-finite contract applied to floss)."""
    rs = np.random.RandomState(17)
    T0 = rs.uniform(-100, 100, 40)
    m = 5
    st = FlossState(T0, m)
    stream = rs.uniform(-100, 100, 60)
    stream[5] = np.nan
    stream[20] = np.inf
    T = T0.copy()
    PR = kernels.matrix_profile(T, m, return_left_right_P=True)[5].copy()
    IR = kernels.matrix_profile(T, m)[3].copy()
    for t in stream:
        T = np.append(T[1:], t)
        l = len(T) - m + 1
        D = naive.mass(T[-m:], T, query_idx=l - 1)
        PR = np.append(PR[1:], np.inf)
        IR = np.append(np.where(IR[1:] >= 0, IR[1:] - 1, -1), -1)
        improved = D[:l - 1] < PR[:l - 1]
        PR[:l - 1] = np.where(improved, D[:l - 1], PR[:l - 1])
        IR[:l - 1] = np.where(improved, l - 1, IR[:l - 1])
        st.update(t)
    npt.assert_almost_equal(PR, st.PR, decimal=PRECISION)
    npt.assert_array_equal(IR, st.IR)


def test_aampi_mp_resume_equals_cold_init():
    """aampi twin of the stumpi mp= resume shortcut: init from a
    precomputed non-normalized profile must equal cold init exactly."""
    import numpy as np
    import numpy.testing as npt
    from stumpy_spark import kernels
    from stumpy_spark.streaming.floss import AampiState

    rs = np.random.RandomState(41)
    T = rs.uniform(-50, 50, 100)
    m = 6
    mp = kernels.matrix_profile_absolute(T, m)
    cold = AampiState(T, m)
    warm = AampiState(T, m, mp=mp)
    for v in rs.uniform(-50, 50, 30):
        cold.update(v)
        warm.update(v)
    npt.assert_array_equal(cold.P, warm.P)
    npt.assert_array_equal(cold.I, warm.I)


def test_aampi_state_roundtrip_across_nan():
    """The stream state's to_tuple/from_tuple mid-stream, across a NaN
    append, on an offset float series (a nonzero integer shift): the
    rehydrated state must stay bit-identical to the live one through
    more updates than the window holds (both buffers compact, at
    different appends)."""
    rs = np.random.RandomState(43)
    T = rs.uniform(-10, 10, 30) + 1e3
    st = AampiState(T, 4)
    for v in (1.005e3, np.nan, 998.5):
        st.update(v)
    st2 = AampiState.from_tuple(st.to_tuple())
    npt.assert_array_equal(st.P_, st2.P_)
    npt.assert_array_equal(st.I_, st2.I_)
    stream = rs.uniform(-10, 10, 45) + 1e3
    stream[[2, 10]] = np.nan
    for step, v in enumerate(stream):
        st.update(v)
        st2.update(v)
        npt.assert_array_equal(st.P_, st2.P_, err_msg=f"step {step}")
        npt.assert_array_equal(st.I_, st2.I_, err_msg=f"step {step}")
    assert np.isfinite(st.P_).all()
