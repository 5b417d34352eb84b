"""Rollup cascade / gap-fill / retention / checkpoint tests.

Oracle = pure pandas recomputation from the same tokseq fixture (FIXTURES.md
F3): tier values must match exactly (integer aggregates use ``==``, float
min/max are exact too since they're order-insensitive selections).
"""

import datetime

import numpy as np
import pandas as pd
import pytest

from stumpy_spark.rollup import tiers as RT
from stumpy_spark.rollup import checkpoint as CK
from stumpy_spark.rollup.gapfill import gapfill
from stumpy_spark.rollup.retention import TierStore, apply_retention
from stumpy_spark.sources import tokseq

M = 25


@pytest.fixture(scope="module")
def raw(spark):
    df = tokseq.tokseq_df(spark, 400, partitions=4)
    raw = RT.per_sequence_stats_fused(df, m=M)
    raw.cache().count()
    return raw


@pytest.fixture(scope="module")
def raw_pdf(raw):
    return raw.toPandas()


def _oracle_rollup(pdf, freq):
    g = pdf.assign(bucket=pdf.event_ts.dt.floor(freq)).groupby(
        ["source", "bucket"])
    return g.agg(
        n_seq=("doc_id", "count"),
        sum_n_tok=("n_tok", "sum"),
        min_n_tok=("n_tok", "min"),
        max_n_tok=("n_tok", "max"),
        sum_window_sums=("sum_window_sums", "sum"),
        min_mean=("min_mean", "min"),
        max_mean=("max_mean", "max"),
    ).reset_index()


def _check_tier(tier_df, pdf, freq):
    got = tier_df.toPandas().sort_values(["source", "bucket"]).reset_index(
        drop=True)
    exp = _oracle_rollup(pdf, freq).sort_values(
        ["source", "bucket"]).reset_index(drop=True)
    assert len(got) == len(exp)
    for c in ["n_seq", "sum_n_tok", "min_n_tok", "max_n_tok",
              "sum_window_sums"]:
        assert (got[c].to_numpy() == exp[c].to_numpy()).all(), c
    for c in ["min_mean", "max_mean"]:
        np.testing.assert_array_equal(got[c].to_numpy(), exp[c].to_numpy())


def test_cascade_matches_oracle(raw, raw_pdf):
    tiers = RT.cascade(raw)
    _check_tier(tiers["1m"], raw_pdf, "min")
    _check_tier(tiers["1h"], raw_pdf, "h")
    _check_tier(tiers["1d"], raw_pdf, "D")


def test_salted_rollup_identical(raw):
    plain = RT.rollup_tier(raw, "1h").toPandas().sort_values(
        ["source", "bucket"]).reset_index(drop=True)
    salted = RT.rollup_tier(raw, "1h", salt_buckets=8).toPandas().sort_values(
        ["source", "bucket"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(plain, salted)


def test_cascade_equals_direct(raw):
    """Tier composed from the tier below == tier computed from raw."""
    tiers = RT.cascade(raw)
    direct_1d = RT.rollup_tier(raw, "1d").toPandas().sort_values(
        ["source", "bucket"]).reset_index(drop=True)
    cascaded_1d = tiers["1d"].toPandas().sort_values(
        ["source", "bucket"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(direct_1d, cascaded_1d)


def test_gapfill(raw, raw_pdf):
    t1h = RT.rollup_tier(raw, "1h")
    filled = gapfill(t1h, "1h").toPandas()
    for src, grp in filled.groupby("source"):
        grp = grp.sort_values("bucket")
        deltas = grp.bucket.diff().dropna().dt.total_seconds()
        assert (deltas == 3600).all()          # dense spine
    # zero-filled gaps, observed rows unchanged
    obs = _oracle_rollup(raw_pdf, "h")
    merged = filled.merge(obs, on=["source", "bucket"], how="left",
                          suffixes=("", "_exp"))
    gaps = merged[merged.n_seq_exp.isna()]
    assert (gaps.n_seq == 0).all() and (gaps.sum_n_tok == 0).all()
    hits = merged[~merged.n_seq_exp.isna()]
    assert (hits.n_seq == hits.n_seq_exp).all()


def test_gapfill_locf(raw):
    t1h = RT.rollup_tier(raw, "1h")
    filled = gapfill(t1h, "1h", locf=True).toPandas()
    assert filled.sort_values(["source", "bucket"]).groupby(
        "source").max_mean.apply(lambda s: s.isna().sum()).max() == 0


def test_gapfill_broadcast_conditional(raw):
    """The explicit-bounds (spine-join) path: broadcast=False must
    shuffle-join (no BroadcastHashJoin in the plan) and still produce
    identical rows; broadcast=True must broadcast.  (The default
    no-bounds path is single-pass and join-free — see
    test_gapfill_single_pass.)"""
    t1h = RT.rollup_tier(raw, "1h")
    lo, hi = t1h.selectExpr("min(bucket)", "max(bucket)").first()

    def plan_str(df):
        jvm = df.sparkSession._jvm
        return jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")

    spark = t1h.sparkSession
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # with auto-broadcast off, broadcast=False must have NO broadcast
        # hint anywhere (at 100x the size estimate alone disables it)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        no_bc = gapfill(t1h, "1h", start=lo, end=hi, broadcast=False)
        assert "BroadcastHashJoin" not in plan_str(no_bc)
        bc = gapfill(t1h, "1h", start=lo, end=hi, broadcast=True)
        assert "BroadcastHashJoin" in plan_str(bc)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    a = no_bc.toPandas().sort_values(["source", "bucket"]) \
        .reset_index(drop=True)
    b = bc.toPandas().sort_values(["source", "bucket"]) \
        .reset_index(drop=True)
    assert (a.n_seq == b.n_seq).all() and len(a) == len(b)


def test_gapfill_single_pass(raw):
    """The default (no start/end) gapfill must equal the legacy
    per-source spine join row-for-row, with NO join in its plan and the
    tier lineage consumed exactly once (the spine join ran the upstream
    Python kernel scan twice per query)."""
    from pyspark.sql import functions as F

    from stumpy_spark.rollup.gapfill import _ZERO_FILL, bucket_spine

    t1h = RT.rollup_tier(raw, "1h")
    sp = gapfill(t1h, "1h")
    # the pre-round-6 default: per-source bounds spine + broadcast join
    legacy = bucket_spine(t1h, "1h").join(
        F.broadcast(t1h), ["source", "bucket"], "left")
    for c in _ZERO_FILL:
        if c in t1h.columns:
            legacy = legacy.withColumn(
                c, F.coalesce(F.col(c), F.lit(0)))

    def plan_str(df):
        return df._jdf.queryExecution().executedPlan().toString()

    plan = plan_str(sp)
    assert "Join" not in plan
    # the cached raw fixture makes lineage consumers visible as
    # InMemoryTableScans: the spine join had two, single-pass has one
    assert plan.count("InMemoryTableScan") == 1
    assert plan_str(legacy).count("InMemoryTableScan") == 2
    a = sp.toPandas().sort_values(["source", "bucket"]) \
        .reset_index(drop=True)
    b = legacy.toPandas().sort_values(["source", "bucket"]) \
        .reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_distinct_tokens(spark, raw_pdf):
    df = tokseq.tokseq_df(spark, 400, partitions=4)
    got = RT.distinct_tokens_per_bucket(df, "1d").toPandas()
    pdf = df.toPandas()
    pdf["bucket"] = pdf.event_ts.dt.floor("D")
    exp = (pdf.explode("tokens").groupby(["source", "bucket"]).tokens
           .nunique().reset_index(name="distinct_tokens"))
    merged = got.merge(exp, on=["source", "bucket"],
                       suffixes=("", "_exp"))
    assert len(merged) == len(got) == len(exp)
    assert (merged.distinct_tokens == merged.distinct_tokens_exp).all()


def test_read_time_means(raw):
    t = RT.with_read_time_means(RT.rollup_tier(raw, "1d")).toPandas()
    np.testing.assert_allclose(t.avg_n_tok, t.sum_n_tok / t.n_seq)


def test_tier_store_and_retention(spark, raw, tmp_path):
    t1d = RT.rollup_tier(raw, "1d")
    store = TierStore(str(tmp_path), "1d")
    store.write(t1d)
    back = store.read(spark)
    assert back.count() == t1d.count()
    parts = store.partitions()
    assert len(parts) >= 7
    # expire everything older than 2 days from the last day present
    last_day = datetime.datetime.strptime(parts[-1].split("=")[1],
                                          "%Y-%m-%d")
    now = last_day + datetime.timedelta(days=1)
    cutoff = (now - datetime.timedelta(days=3)).date()
    expect_drop = [p for p in parts
                   if datetime.datetime.strptime(
                       p.split("=")[1], "%Y-%m-%d").date() < cutoff]
    dropped = apply_retention({"1d": store}, now, {"1d": 3 * 86400})["1d"]
    assert dropped == expect_drop and len(dropped) > 0
    assert store.partitions() == [p for p in parts if p not in expect_drop]


def test_checkpoint_resume(spark, tmp_path):
    df = tokseq.tokseq_df(spark, 120, partitions=4).cache()
    slices = {s: df.where(f"pmod(xxhash64(doc_id), 3) = {s}")
              for s in range(3)}
    manifest = CK.Manifest(str(tmp_path / "manifest"))
    calls = []

    def process(slice_id, sdf):
        n = sdf.count()
        calls.append(n)
        return n, {"n": n}

    ran = CK.run_with_checkpoints(spark, manifest, "job1", slices, process)
    assert sorted(ran) == [0, 1, 2]
    # second run: everything checkpointed, nothing re-runs
    ran2 = CK.run_with_checkpoints(spark, manifest, "job1", slices, process)
    assert ran2 == []
    assert len(calls) == 3
    # lineage rows recorded with counts
    man = manifest.read(spark).toPandas()
    assert len(man) == 3
    assert man.row_count.sum() == 120


def _tiny_tier(spark, buckets):
    rows = [("s0", datetime.datetime(2024, 1, 1) + d, 1, 10)
            for d in buckets]
    return spark.createDataFrame(
        rows, "source string, bucket timestamp, n_seq long, max_n_tok long")


def test_gapfill_rejects_duplicate_bucket(spark):
    """Default-bounds gapfill fails loudly on a repeated (source,
    bucket) instead of a sequence-boundary error deep in the plan."""
    h = datetime.timedelta(hours=1)
    t = _tiny_tier(spark, [0 * h, 1 * h, 1 * h, 3 * h])
    with pytest.raises(Exception, match="duplicate \\(source, bucket\\)"):
        gapfill(t, "1h").collect()
    # explicit bounds (spine join) are unaffected by the fast-path guard
    assert len(gapfill(t, "1h", start=datetime.datetime(2024, 1, 1),
                       end=datetime.datetime(2024, 1, 1, 3)).collect()) == 5


def test_gapfill_rejects_off_grid_bucket(spark):
    """A gap that is not a positive multiple of the tier step would drop
    the observed row silently (NULL metrics at the wrong bucket), so the
    query fails instead."""
    h = datetime.timedelta(hours=1)
    good = _tiny_tier(spark, [0 * h, 1 * h, 4 * h])
    assert len(gapfill(good, "1h").collect()) == 5
    bad = _tiny_tier(spark, [0 * h, 1 * h, 2.5 * h])
    with pytest.raises(Exception, match="not on the 1h step grid"):
        gapfill(bad, "1h").collect()


def test_gapfill_interpolate(raw):
    """Linear interpolation: gap values lie on the line between the
    neighboring observed buckets (time-weighted); observed rows are
    untouched; edges (before first / after last observation) stay NULL;
    locf+interpolate together is rejected."""
    t1h = RT.rollup_tier(raw, "1h")
    plain = gapfill(t1h, "1h").toPandas()
    filled = gapfill(t1h, "1h", interpolate=True).toPandas()
    merged = filled.merge(
        plain[["source", "bucket", "max_mean"]].rename(
            columns={"max_mean": "obs"}),
        on=["source", "bucket"])
    for src, grp in merged.sort_values("bucket").groupby("source"):
        obs = grp[~grp.obs.isna()]
        if len(obs) < 2:
            continue
        # observed rows unchanged
        pd.testing.assert_series_equal(
            obs.max_mean, obs.obs, check_names=False)
        ts = grp.bucket.map(pd.Timestamp.timestamp)
        o_ts = obs.bucket.map(pd.Timestamp.timestamp).to_numpy()
        o_v = obs.obs.to_numpy()
        inside = grp[(ts >= o_ts[0]) & (ts <= o_ts[-1])]
        exp = np.interp(inside.bucket.map(pd.Timestamp.timestamp),
                        o_ts, o_v)
        np.testing.assert_allclose(inside.max_mean.to_numpy(), exp,
                                   rtol=1e-12)
        # no extrapolation outside the observed range
        outside = grp[(ts < o_ts[0]) | (ts > o_ts[-1])]
        assert outside.max_mean.isna().all()
    import pytest as _pytest
    with _pytest.raises(ValueError, match="mutually exclusive"):
        gapfill(t1h, "1h", locf=True, interpolate=True)
