"""Late-data upsert: partition-level re-aggregation equals full recompute."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from stumpy_spark.rollup import tiers as RT
from stumpy_spark.rollup.incremental import upsert_late_rows
from stumpy_spark.rollup.retention import TierStore
from stumpy_spark.sources import tokseq


def _norm(pdf):
    return pdf.sort_values(["source", "bucket"]).reset_index(drop=True)


def test_upsert_equals_full_recompute(spark, tmp_path):
    root = str(tmp_path)
    base = tokseq.tokseq_df(spark, 300, partitions=4)
    late = tokseq.tokseq_df(spark, 340, partitions=2).where(
        "doc_id >= 'doc00000300'")   # 40 new docs, arbitrary buckets

    # initial build
    raw = RT.per_sequence_stats_fused(base, m=25).withColumn(
        "day", F.to_date("event_ts"))
    (raw.repartition("day", "source").write.mode("overwrite")
     .partitionBy("day", "source").parquet(str(tmp_path / "raw")))
    for tier, tdf in RT.cascade(
            spark.read.parquet(str(tmp_path / "raw")).drop("day")).items():
        TierStore(root, tier).write(tdf)

    res = upsert_late_rows(spark, root, late, m=25)
    assert len(res["affected"]) > 0

    # every tier must now equal a from-scratch rollup over base+late
    both = base.unionByName(late)
    expect = RT.cascade(RT.per_sequence_stats_fused(both, m=25))
    for tier in ("1m", "1h", "1d"):
        got = _norm(TierStore(root, tier).read(spark).toPandas())
        exp = _norm(expect[tier].toPandas())
        got = got[exp.columns]
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_upsert_idempotent_retry(spark, tmp_path):
    """Re-running the tier refresh after the raw append is durable gives
    identical tiers (crash-retry safety)."""
    root = str(tmp_path)
    base = tokseq.tokseq_df(spark, 200, partitions=2)
    late = tokseq.tokseq_df(spark, 220, partitions=1).where(
        "doc_id >= 'doc00000200'")
    raw = RT.per_sequence_stats_fused(base, m=25).withColumn(
        "day", F.to_date("event_ts"))
    (raw.repartition("day", "source").write.mode("overwrite")
     .partitionBy("day", "source").parquet(str(tmp_path / "raw")))
    for tier, tdf in RT.cascade(
            spark.read.parquet(str(tmp_path / "raw")).drop("day")).items():
        TierStore(root, tier).write(tdf)

    upsert_late_rows(spark, root, late, m=25)
    snap = {t: _norm(TierStore(root, t).read(spark).toPandas())
            for t in ("1m", "1h", "1d")}
    # retry the tier-refresh step only (raw already has the late rows):
    # an empty late batch touching the same partitions must be a no-op,
    # and re-upserting the tiers from raw yields identical results
    from stumpy_spark.rollup import incremental as INC
    raw_all = spark.read.parquet(str(tmp_path / "raw"))
    for tier, tdf in RT.cascade(raw_all.drop("day")).items():
        part = tdf.withColumn("day", F.to_date("bucket"))
        (part.repartition("day", "source").write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("day", "source")
         .parquet(TierStore(root, tier).path))
    for t in ("1m", "1h", "1d"):
        again = _norm(TierStore(root, t).read(spark).toPandas())
        pd.testing.assert_frame_equal(snap[t], again[snap[t].columns],
                                      check_dtype=False)


def test_upsert_keeps_session_overwrite_mode(spark, tmp_path):
    """The upsert's dynamic partition overwrite is an option of its own
    writes, not a session setting: a later full overwrite in the same
    session still replaces the whole directory."""
    conf = "spark.sql.sources.partitionOverwriteMode"
    root = str(tmp_path)
    base = tokseq.tokseq_df(spark, 60, partitions=1)
    late = tokseq.tokseq_df(spark, 70, partitions=1).where(
        "doc_id >= 'doc00000060'")
    raw = RT.per_sequence_stats_fused(base, m=25).withColumn(
        "day", F.to_date("event_ts"))
    (raw.write.mode("overwrite").partitionBy("day", "source")
     .parquet(str(tmp_path / "raw")))
    RT.write_tiers(raw, root)

    before = spark.conf.get(conf)
    assert upsert_late_rows(spark, root, late, m=25)["affected"]
    assert spark.conf.get(conf) == before
    out = str(tmp_path / "full")
    for p in (1, 2):
        (spark.range(1).withColumn("p", F.lit(p)).write.mode("overwrite")
         .partitionBy("p").parquet(out))
    assert sorted(x.name for x in tmp_path.joinpath("full").glob("p=*")) \
        == ["p=2"]
