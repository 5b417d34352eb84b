#!/usr/bin/env python
"""Round-6 optimization measurement harness (guide §1).

``bench.py`` is frozen for the driver's measurement; this file carries the
extra instrumentation the optimization round needs:

- ``--isolate``: time each headline query against the noop sink
  (``df.write.format("noop")``) so the computation is measured without the
  count()-vs-write ambiguity, with job descriptions set per query.
- ``--plans [outdir]``: capture ``.explain("formatted")`` for every headline
  query into ``plans/r06/<query>_{before,after}.txt``.
- ``--kernel``: single-thread kernel microbench on the real sf0.1 doc mix
  (C kernel vs numpy GEMM dispatch), with DRAM probes.
- ``--worker [N] [ROUNDS]``: the fixed Python-worker cost of one task.  An
  identity ``mapInArrow`` over N one-row partitions (default 16), run
  ROUNDS times (default 4); each task reports the Python CPU its worker
  spent since that worker's previous task ended, the share of it spent
  in garbage collection, and the zip-archive directory reads
  (``zipimport._read_directory`` calls) in between.  Quartiles over the
  tasks of reused workers, plus the CPU of each worker's first task.

Usage::

    python bench_extra.py --isolate
    python bench_extra.py --plans plans/r06 --tag after
    python bench_extra.py --kernel
    python bench_extra.py --worker 16 4
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_v] = "1"

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
M = 25


def _spark():
    from stumpy_spark.session import get_spark
    return get_spark(app_name="bench-extra", cpus=CPUS)


def _headline_dfs(spark, sf_dir):
    """The headline queries as *DataFrames* (for noop-sink timing and
    plan capture).  Mirrors bench.py's thunks; the count()/collect()
    epilogues there are tiny row-count actions over these frames."""
    from pyspark.sql import functions as F

    from stumpy_spark.operators import profile_summary, sliding_stats
    from stumpy_spark.rollup import tiers as RT
    from stumpy_spark.rollup.compress import compress_tier
    from stumpy_spark.rollup.gapfill import gapfill
    from stumpy_spark.sources.tokseq import read_tokseq

    df = read_tokseq(spark, sf_dir)
    raw = RT.per_sequence_stats_fused(df, m=M)
    out = {}
    out["rollup_cascade_1m"] = RT.cascade(raw)["1m"]
    out["gapfill_1h"] = gapfill(
        RT.rollup_tier(RT.per_sequence_stats_fused(df, m=M), "1h"), "1h",
        broadcast=True)
    out["sliding_stats_m25"] = sliding_stats(df, M)
    out["distinct_tokens_1d"] = RT.distinct_tokens_per_bucket(df, "1d")
    out["matrix_profile_m25"] = profile_summary(
        df.where(F.col("n_tok") >= 2 * M), M)
    out["gorilla_compress_1m"] = compress_tier(
        RT.rollup_tier(RT.per_sequence_stats_fused(df, m=M), "1m"),
        ["n_seq", "sum_n_tok"])
    return out


def isolate():
    import bench
    spark = _spark()
    try:
        from stumpy_spark.sources.tokseq import ensure_tokseq, read_tokseq
        ensure_tokseq(spark, SF_DIR)
        dfw = read_tokseq(spark, SF_DIR)
        dfw.mapInPandas(lambda it: it, dfw.schema).count()   # warmup
        probe_before = bench.mem_probe_gbs()
        res = {}
        for name, df in _headline_dfs(spark, SF_DIR).items():
            spark.sparkContext.setJobDescription(f"isolate:{name}")
            best = None
            for _ in range(2):
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                wall = time.time() - t0
                best = wall if best is None else min(best, wall)
            res[name] = round(best, 3)
            spark.sparkContext.setJobDescription(None)
        print(json.dumps({
            "metric": "noop_isolated", "queries": res,
            "value": round(sum(res.values()), 3), "unit": "sec",
            "sf": os.path.basename(os.path.normpath(SF_DIR)),
            "cpus": CPUS,
            "mem_probe_gbs_before": probe_before,
            "mem_probe_gbs_after": bench.mem_probe_gbs()}))
    finally:
        spark.stop()


def plans(outdir: str, tag: str):
    os.makedirs(outdir, exist_ok=True)
    spark = _spark()
    try:
        from stumpy_spark.sources.tokseq import ensure_tokseq
        ensure_tokseq(spark, SF_DIR)
        for name, df in _headline_dfs(spark, SF_DIR).items():
            p = os.path.join(outdir, f"{name}_{tag}.txt")
            with open(p, "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString("formatted")))
            print("wrote", p)
    finally:
        spark.stop()


def kernel():
    import numpy as np
    import pyarrow.parquet as pq

    import bench
    from stumpy_spark import cnative, kernels

    fdir = os.path.join(REPO, ".fixtures", "tokseq_sf0.1")
    files = sorted(os.path.join(fdir, f) for f in os.listdir(fdir)
                   if f.endswith(".parquet"))
    tbl = pq.read_table(files[0], columns=["tokens", "n_tok"])
    toks = tbl.column("tokens").combine_chunks()
    n_tok = tbl.column("n_tok").to_numpy()
    sel = np.nonzero(n_tok >= 2 * M)[0][:3000]
    docs = [np.ascontiguousarray(toks[int(i)].values, dtype=np.float64)
            for i in sel]
    pairs = sum((len(d) - M + 1) ** 2 / 2 for d in docs)
    out = {"metric": "kernel_mix_m25", "n_docs": len(docs),
           "pairs_M": round(pairs / 1e6, 1),
           "ckernel": cnative.load() is not None,
           "mem_probe_gbs_before": bench.mem_probe_gbs()}
    for d in docs[:50]:
        kernels.matrix_profile(d, M, compute_left_right=False)
    for label, disable in [("c_path", False), ("numpy_path", True)]:
        if disable:
            cnative._failed, saved = True, cnative._fn
            cnative._fn = None
        t0 = time.perf_counter()
        for d in docs:
            kernels.matrix_profile(d, M, compute_left_right=False)
        wall = time.perf_counter() - t0
        if disable:
            cnative._failed, cnative._fn = False, saved
        out[label] = {"wall_s": round(wall, 3),
                      "M_pairs_per_s": round(pairs / wall / 1e6, 1)}
    out["mem_probe_gbs_after"] = bench.mem_probe_gbs()
    print(json.dumps(out))


def _worker_task(batches):
    """Identity ``mapInArrow`` body that reports its worker's cost since
    the worker's previous task ended (None on a worker's first task):
    Python CPU, the part of it spent in garbage collection (the daemon's
    worker runs ``gc.collect()`` after every task) and zip-archive
    directory reads."""
    import gc
    import time
    import zipimport

    import pyarrow as pa

    import stumpy_spark  # noqa: F401  (what unpickling an engine UDF does)

    read = zipimport._read_directory
    if not hasattr(read, "calls"):
        def counted(archive, _read=read):
            counted.calls += 1
            return _read(archive)

        def timed_gc(phase, info):
            if phase == "start":
                counted.gc_t0 = time.process_time()
            else:
                counted.gc_s += time.process_time() - counted.gc_t0

        counted.calls, counted.gc_s, counted.mark = 0, 0.0, None
        zipimport._read_directory = read = counted
        gc.callbacks.append(timed_gc)
    for _ in batches:
        pass
    mark = (time.process_time(), read.gc_s, read.calls)
    prev, read.mark = read.mark, mark
    hooked = (zipimport.zipimporter.invalidate_caches.__module__
              == "stumpy_spark._worker")
    yield pa.RecordBatch.from_pylist([{
        "pid": os.getpid(), "hook": hooked,
        "cpu_s": mark[0] - prev[0] if prev else mark[0],
        "gc_s": mark[1] - prev[1] if prev else None,
        "reads": mark[2] - prev[2] if prev else None}])


def worker(n: int = 16, rounds: int = 4):
    import statistics

    spark = _spark()
    try:
        df = spark.range(n, numPartitions=n)
        schema = ("pid long, hook boolean, cpu_s double, gc_s double, "
                  "reads long")
        rows = [r for _ in range(rounds)
                for r in df.mapInArrow(_worker_task, schema).collect()]
    finally:
        spark.stop()
    reused = [r for r in rows if r.reads is not None]

    def quartiles(xs):
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else xs * 3
        return [round(v, 4) for v in q]

    print(json.dumps({
        "metric": "python_worker_task", "cpus": CPUS, "partitions": n,
        "rounds": rounds, "tasks": len(rows),
        "workers": len({r.pid for r in rows}),
        "hook": all(r.hook for r in rows),
        "first_task_cpu_s": quartiles([r.cpu_s for r in rows
                                       if r.reads is None]),
        "reused_tasks": len(reused),
        "cpu_per_task_s": quartiles([r.cpu_s for r in reused]),
        "gc_per_task_s": quartiles([r.gc_s for r in reused]),
        "rereads_per_task": quartiles([float(r.reads) for r in reused]),
    }))


def main():
    args = sys.argv[1:]
    if args and args[0] == "--isolate":
        isolate()
    elif args and args[0] == "--plans":
        outdir = args[1] if len(args) > 1 else "plans/r06"
        tag = args[args.index("--tag") + 1] if "--tag" in args else "after"
        plans(outdir, tag)
    elif args and args[0] == "--kernel":
        kernel()
    elif args and args[0] == "--worker":
        worker(*[int(a) for a in args[1:3]])
    else:
        print(__doc__)


if __name__ == "__main__":
    main()
