"""End-to-end rollup job: run, interrupt-resume, verify tiers.

The first job run is shared (module fixture); each test works on its own
copy of that output with the same job id."""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = ["--input", os.path.join(REPO, ".fixtures", "tokseq_sf0.001"),
       "--slices", "4", "--job-id", "t1", "--cpus", "4"]


def _run(args):
    r = subprocess.run([sys.executable, "jobs/rollup_job.py"] + args,
                       capture_output=True, text=True, cwd=REPO)
    assert r.returncode == 0, r.stderr[-2000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def first_run(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("rollup_first") / "rollup_out")
    return out, _run(JOB + ["--output", out])


def _copy_of(first_run, tmp_path):
    out = str(tmp_path / "rollup_out")
    shutil.copytree(first_run[0], out)
    return out, first_run[1]


def test_rollup_job_end_to_end_and_resume(first_run, tmp_path):
    out, m1 = _copy_of(first_run, tmp_path)
    assert m1["n_docs"] == 1000
    assert len(m1["slices_run"]) == 4
    assert m1["tier_rows"]["1m"] > m1["tier_rows"]["1h"] > \
        m1["tier_rows"]["1d"]
    # resume: all slices checkpointed → none re-run, tiers unchanged
    m2 = _run(JOB + ["--output", out])
    assert m2["slices_run"] == []
    assert m2["slices_skipped"] == 4
    assert m2["n_docs"] == 1000
    assert m2["tier_rows"] == m1["tier_rows"]


def test_rollup_job_rerun_after_lost_manifest_is_idempotent(first_run,
                                                            tmp_path):
    """Simulates a crash between the slice data write and the manifest
    commit: wiping the manifest forces every slice to re-run, and the
    slice-keyed overwrite layout must leave row counts unchanged (the old
    append layout would double them)."""
    out, m1 = _copy_of(first_run, tmp_path)
    assert m1["n_docs"] == 1000
    shutil.rmtree(f"{out}/_manifest")          # lose all commit records
    m2 = _run(JOB + ["--output", out])
    assert len(m2["slices_run"]) == 4          # everything re-ran
    assert m2["n_docs"] == 1000                # ...but no duplicate rows
    assert m2["tier_rows"] == m1["tier_rows"]


def test_upsert_late_rows_on_job_store(first_run, tmp_path, spark):
    """Late rows on a job-written store (raw/slice=N/day=/source=) land
    as one more slice: the 1h n_seq total grows by exactly the late
    docs, and a retry of the same batch leaves every tier unchanged."""
    import pandas as pd

    from stumpy_spark.rollup.incremental import upsert_late_rows
    from stumpy_spark.rollup.retention import TierStore
    from stumpy_spark.sources import tokseq

    out, _ = _copy_of(first_run, tmp_path)
    late = tokseq.tokseq_df(spark, 1005, partitions=1).where(
        "doc_id >= 'doc00001000'")       # the fixture holds doc 0..999

    def tiers():
        return {t: TierStore(out, t).read(spark).toPandas()
                .sort_values(["source", "bucket"]).reset_index(drop=True)
                for t in ("1m", "1h", "1d")}

    before = tiers()
    upsert_late_rows(spark, out, late, m=25)
    after = tiers()
    assert after["1h"].n_seq.sum() == before["1h"].n_seq.sum() + 5
    upsert_late_rows(spark, out, late, m=25)
    again = tiers()
    for t in after:
        pd.testing.assert_frame_equal(after[t], again[t])


def test_run_rollup_empty_slices(spark, tmp_path):
    """Slices with no rows still commit, with row_count 0; the commits
    sum to the job's n_docs, and a second call runs no slice."""
    from pyspark.sql import functions as F

    from stumpy_spark.rollup.checkpoint import Manifest
    from stumpy_spark.rollup.job import run_rollup
    from stumpy_spark.sources import tokseq

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    tokseq.tokseq_df(spark, 3, partitions=1).write.parquet(inp)
    want = {r[0]: r[1] for r in spark.read.parquet(inp).groupBy(
        F.pmod(F.xxhash64("doc_id"), F.lit(8))).count().collect()}
    assert len(want) < 8
    m1 = run_rollup(spark, inp, out, 8, "e")
    assert m1["slices_run"] == list(range(8)) and m1["n_docs"] == 3
    man = Manifest(f"{out}/_manifest").read().to_pydict()
    assert dict(zip(man["slice_id"], man["row_count"])) == \
        {s: want.get(s, 0) for s in range(8)}
    assert sum(man["row_count"]) == m1["n_docs"]
    m2 = run_rollup(spark, inp, out, 8, "e")
    assert m2["slices_run"] == [] and m2["tier_rows"] == m1["tier_rows"]


def test_resume_from_spark_written_manifest(first_run, tmp_path, spark):
    """A manifest of Spark-written commit-<uuid> directories (the layout
    of earlier versions) resumes without re-running its slices."""
    import uuid

    from stumpy_spark.rollup.checkpoint import Manifest
    from stumpy_spark.rollup.job import run_rollup

    out, m1 = _copy_of(first_run, tmp_path)
    manifest = Manifest(f"{out}/_manifest")
    rows = manifest.read().sort_by("slice_id").to_pylist()
    shutil.rmtree(manifest.path)
    for row in rows:
        (spark.createDataFrame([row]).coalesce(1).write
         .parquet(f"{manifest.path}/commit-{uuid.uuid4().hex}"))
    assert manifest.read().sort_by("slice_id").to_pylist() == rows
    m2 = run_rollup(spark, JOB[1], out, 4, "t1")
    assert m2["slices_run"] == []
    assert m2["tier_rows"] == m1["tier_rows"]


def test_run_rollup_spark_job_count(spark, tmp_path):
    """A fresh 4-slice rollup of tokseq_sf0.001 runs a fixed number of
    Spark jobs: the slice fingerprints are one action, and no action
    exists only to count rows or to commit a manifest row."""
    from stumpy_spark.rollup.job import run_rollup

    sc = spark.sparkContext
    group = f"rollup-{tmp_path.name}"
    sc.setJobGroup(group, "job count")
    try:
        run_rollup(spark, JOB[1], str(tmp_path / "out"), 4, "t1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 26


def test_package_builds():
    r = subprocess.run([sys.executable, "jobs/rollup_job.py", "--package"],
                       capture_output=True, text=True, cwd=REPO)
    assert r.returncode == 0
    assert r.stdout.strip().endswith("stumpy_spark.zip")
