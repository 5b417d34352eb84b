"""Checks on the benchmark itself (not part of the engine's test suite).

Run from the repository root::

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]

import gen  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
from workloads import Context, RollupJob, read_tier  # noqa: E402


def test_generator_is_pinned():
    """Same seed, same bytes: the inputs do not depend on the program."""
    d = gen.make_docs(1, 1000)
    assert gen.fingerprint(d) == gen.fingerprint(gen.make_docs(1, 1000))
    assert gen.fingerprint(d) == "77c9c1d00987359b"
    assert gen.fingerprint(gen.make_docs(2, 1000)) != gen.fingerprint(d)
    assert d.n_tok.min() >= gen.LEN_MIN and d.n_tok.max() <= gen.LEN_MAX


def test_benchmark_json_matches_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in
            spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in
            spec["per_layer"]] == run.PER_LAYER
    from workloads import WORKLOADS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    harness.prepare_env(work)
    spark, _ = harness.start_spark()
    yield Context(spark, harness.Tracer(enabled=False), 3, work)
    harness.stop_spark(spark)


def test_distinct_1d_plan_keeps_distinct_aggregate(ctx):
    """The noop sink must not let Catalyst prune the count_distinct."""
    from stumpy_spark.rollup import tiers as RT

    path = gen.write_parquet(gen.make_docs(3, 200),
                             os.path.join(ctx.work, "distinct_in"), files=2)
    df = ctx.spark.read.parquet(path)
    harness.noop(RT.distinct_tokens_per_bucket(df, "1d"))
    plan = harness.SparkCounters(ctx.spark).last_plan()
    assert "count(distinct" in plan


def test_rollup_sequence_writes_same_tiers_as_job(ctx):
    """The benchmark's call sequence and jobs/rollup_job.py agree."""
    w = RollupJob(ctx)
    w.n_docs = 300
    w.build()
    job_out = os.path.join(ctx.work, "job_out")
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "rollup_job.py"),
         "--input", w.input, "--output", job_out, "--slices",
         str(w.slices), "--job-id", "t", "--cpus", str(harness.nproc())],
        capture_output=True, text=True, cwd=ROOT)
    assert r.returncode == 0, r.stderr[-2000:]
    bench_out = os.path.join(ctx.work, "bench_out")
    res = w.run_job(w.input, bench_out)
    assert w.verify(bench_out, res)
    for tier in ("1h", "1d"):
        assert sorted(read_tier(os.path.join(job_out, tier))) == \
            sorted(read_tier(os.path.join(bench_out, tier)))
    # the benchmark also applies retention, which drops old 1m days
    kept = sorted(read_tier(os.path.join(bench_out, "1m")))
    cutoff = w.retention_now_s - 7 * 86400
    assert kept == sorted(r for r in read_tier(os.path.join(job_out, "1m"))
                          if r[1] >= cutoff)
