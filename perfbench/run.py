#!/usr/bin/env python3
"""Benchmark of the stumpy_spark engine.

Run from the root of a checkout::

    python3 perfbench/run.py --workload rollup_job --seed 1 --seconds 10 \
        --trace 0

It generates the workload's inputs from ``--seed``, sets up a local Spark
session with one executor slot per CPU, repeats the workload's timed unit
for ``--seconds`` seconds, checks every output against an oracle computed
outside the program and prints one JSON result line last.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same loop with spans
around every call into a layer, then the workload's probes, and reports
the per-layer metrics.  See perfbench/README.md for what each metric
means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from statistics import median, quantiles

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import ROOT, timed  # noqa: E402

SETUP_REPEATS = 3

#: (name, unit, better) — the order BENCHMARK.json lists them in
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("job_cpu_s", "s", "lower"),
    ("work_per_cpu_s", "1/s", "higher"),
    ("peak_pss_gb", "GB", "lower"),
    ("cnative_loaded", "bool", "higher"),
]

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("scan.arrow_identity_s", "s", "lower"),
    ("tiers.raw_stats_s", "s", "lower"),
    ("tiers.raw_write_s", "s", "lower"),
    ("tiers.cascade_write_s", "s", "lower"),
    ("tiers.distinct_1d_s", "s", "lower"),
    ("compress.pack_s", "s", "lower"),
    ("compress.bytes_per_point", "B", "lower"),
    ("store.bytes_per_seq", "B", "lower"),
    ("retention.expire_s", "s", "lower"),
    ("retention.partitions_dropped", "count", "higher"),
    ("checkpoint.fingerprint_s", "s", "lower"),
    ("checkpoint.commit_s", "s", "lower"),
    ("checkpoint.resume_s", "s", "lower"),
    ("profile.summary_s", "s", "lower"),
    ("profile.raw_with_profile_s", "s", "lower"),
    ("profile.pairs_total", "count", "higher"),
    ("kernels.mp_pairs_per_s", "1/s", "higher"),
    ("kernels.ab_pairs_per_s", "1/s", "higher"),
    ("cnative.loaded", "bool", "higher"),
    ("cnative.c_route_share", "ratio", "higher"),
    ("cnative.sliding_tok_per_s", "1/s", "higher"),
    ("longseq.prep_s", "s", "lower"),
    ("longseq.exec_s", "s", "lower"),
    ("longseq.tiles", "count", "lower"),
    ("gapfill.dash_1h_s", "s", "lower"),
    ("gapfill.range_1m_s", "s", "lower"),
    ("compress.decode_s", "s", "lower"),
    ("tiers.means_1d_s", "s", "lower"),
    ("serve.read_p50_s", "s", "lower"),
    ("serve.read_p75_s", "s", "lower"),
    ("incremental.upsert_s", "s", "lower"),
    ("incremental.partitions_rewritten", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("plan.scans", "count", "lower"),
    ("plan.exchanges", "count", "lower"),
    ("plan.python_nodes", "count", "lower"),
    ("host.mem_probe_gbs", "GB/s", "higher"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.job_s", "s", "lower"),
    ("trace.job_cpu_s", "s", "lower"),
]

#: spans whose metric is the median duration of one call, not the summed
#: self time per unit
PER_CALL = {"gapfill.dash_1h", "gapfill.range_1m", "compress.decode",
            "tiers.means_1d", "incremental.upsert"}
READS = ("dash_1h", "range_1m", "points_1m", "means_1d")


def measure(w, seconds: float, tracer, label: str, counters=None,
            min_units: int = 1):
    """Call ``w.unit()`` until ``seconds`` have passed and it ran at least
    ``min_units`` times; an exception counts as one failed operation."""
    from workloads import Op

    ops = []
    deadline = time.perf_counter() + seconds
    n = 0
    while True:
        tracer.run_id = f"{label}{n}"
        t0 = time.perf_counter()
        try:
            if counters is not None and n == 0:
                with counters.group(f"{label}{n}"):
                    ops += w.unit()
                w.ctx.layer.update(counters.counts())
            else:
                ops += w.unit()
        except Exception:                           # noqa: BLE001
            traceback.print_exc()
            ops.append(Op("unit", time.perf_counter() - t0, False, work=1))
        n += 1
        if n >= min_units and time.perf_counter() >= deadline:
            return ops


def end_to_end(ops, setup_s: float, peak_pss: int, loaded: bool) -> dict:
    units = [o for o in ops if o.kind == "unit"]
    return {
        "setup_s": setup_s,
        "job_cpu_s": median(o.cpu for o in units),
        "work_per_cpu_s": sum(o.work for o in units)
        / sum(o.cpu for o in units),
        "peak_pss_gb": peak_pss / 1e9,
        "cnative_loaded": float(loaded),
    }


def per_layer(tracer, ops, layer: dict) -> dict:
    out = {name: 0.0 for name, _, _ in PER_LAYER}
    units: dict[str, list[float]] = {}
    run_ids = sorted({s[4] for s in tracer.spans})
    for run_id in run_ids:
        for name, t in tracer.self_times(run_id).items():
            units.setdefault(name, []).append(t)
    for name, vals in units.items():
        key = name + "_s"
        if key in out:
            out[key] = median(tracer.durations(name)) if name in PER_CALL \
                else median(vals)
    reads = [o.seconds for o in ops if o.kind in READS]
    if len(reads) > 1:
        out["serve.read_p50_s"] = median(reads)
        out["serve.read_p75_s"] = quantiles(reads, n=4,
                                            method="inclusive")[2]
    out.update({k: float(v) for k, v in layer.items() if k in out})
    # spans per timed unit times the measured cost of one span
    spans = [sum(s[4] == r for s in tracer.spans) for r in run_ids
             if r.startswith("unit")]
    out["trace.overhead_s"] = median(spans) * harness.span_cost_s()
    # wall time of the unit, traced; its CPU time is job_cpu_s
    unit_ops = [o for o in ops if o.kind == "unit"]
    out["trace.job_s"] = median(o.seconds for o in unit_ops)
    out["trace.job_cpu_s"] = median(o.cpu for o in unit_ops)
    return out


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "stumpy_spark", "session.py")):
        print(f"stumpy_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    work = os.path.join(harness.WORK_ROOT,
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    harness.prepare_env(work)
    time.tzset()

    from workloads import Context

    tracer = harness.Tracer(enabled=False)
    ctx = Context(None, tracer, args.seed, work)
    spark = None
    with harness.PssSampler() as mem:
        try:
            # set-up is measured in CPU seconds, like the unit
            (spark, loaded), session_s, session_cpu = timed(
                harness.start_spark)
            ctx.spark = spark
            w = WORKLOADS[args.workload](ctx)
            builds = [timed(w.build)[1:] for _ in range(SETUP_REPEATS)]
            _, warm_s, warm_cpu = timed(w.warm)
            setup_s = session_cpu + median(c for _, c in builds) + warm_cpu
            print(f"input fingerprint {w.fingerprint}; set-up (wall s, CPU "
                  f"s): session {session_s:.2f}, {session_cpu:.2f}; builds "
                  f"{builds}; warm-up {warm_s:.2f}, {warm_cpu:.2f}",
                  flush=True)

            tracer.enabled = bool(args.trace)
            counters = harness.SparkCounters(spark) if args.trace else None
            ops = measure(w, args.seconds, tracer, "unit", counters,
                          w.min_units)
            if args.trace:
                tracer.run_id = "probe"
                ops += w.probes()
                ctx.layer["session.start_s"] = session_s
                ctx.layer["cnative.loaded"] = float(loaded)
                ctx.layer["host.mem_probe_gbs"] = harness.mem_probe_gbs()
                metrics = per_layer(tracer, ops, ctx.layer)
                tracer.write(os.path.join(
                    harness.WORK_ROOT, "traces",
                    f"{args.workload}-s{args.seed}.json"))
            else:
                metrics = end_to_end(ops, setup_s, mem.peak, loaded)
        finally:
            if spark is not None:
                harness.stop_spark(spark)
            harness.reap_children()
            shutil.rmtree(work, ignore_errors=True)

    units = {n: u for n, u, _ in END_TO_END + PER_LAYER}
    checked = [o for o in ops if o.work > 0]
    failed = sum(not o.ok for o in checked)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
