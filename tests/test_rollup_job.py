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


def test_package_builds():
    r = subprocess.run([sys.executable, "jobs/rollup_job.py", "--package"],
                       capture_output=True, text=True, cwd=REPO)
    assert r.returncode == 0
    assert r.stdout.strip().endswith("stumpy_spark.zip")
