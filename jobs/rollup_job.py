#!/usr/bin/env python
"""Production rollup job: tokseq table → tiered, gap-fillable, Gorilla-
compressed continuous aggregates, resumable from per-slice checkpoints.

Run locally::

    python jobs/rollup_job.py --input .fixtures/tokseq_sf0.01 \
        --output /tmp/rollup_out --slices 8 --job-id demo

or on a cluster::

    spark-submit --py-files stumpy_spark.zip jobs/rollup_job.py ...

(`make package` / ``python jobs/rollup_job.py --package`` builds
``stumpy_spark.zip``.)

Pipeline per slice (slice = doc-id hash bucket; on Iceberg it would be a
partition/file-scan task):

1. per-sequence kernel stats (fused mapInArrow, zero shuffle)
2. append to the raw tier store, partitioned (day, source)
3. manifest commit: (job_id, slice, input_fingerprint, row_count,
   metrics json, wall) — resume skips committed slices whose fingerprint
   still matches.

After all slices: cascade 1m → 1h → 1d tiers from the raw store, write
Gorilla-compressed chunks per tier, apply retention, emit one JSON metrics
line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def build_package() -> str:
    """Zip stumpy_spark for spark-submit --py-files."""
    import zipfile
    out = os.path.join(REPO, "stumpy_spark.zip")
    with zipfile.ZipFile(out, "w") as z:
        pkg = os.path.join(REPO, "stumpy_spark")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="tokseq parquet path")
    ap.add_argument("--output", help="tier store root")
    ap.add_argument("--slices", type=int, default=16)
    ap.add_argument("--job-id", default="rollup")
    ap.add_argument("--m", type=int, default=25)
    ap.add_argument("--salt-buckets", type=int, default=0,
                    help="salt hot (source,bucket) groups")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--package", action="store_true",
                    help="just build stumpy_spark.zip and exit")
    args = ap.parse_args()

    if args.package:
        print(build_package())
        return

    from pyspark.sql import functions as F

    from stumpy_spark.session import get_spark
    from stumpy_spark.rollup import tiers as RT
    from stumpy_spark.rollup.checkpoint import Manifest, run_with_checkpoints
    from stumpy_spark.rollup.compress import compress_tier
    from stumpy_spark.rollup.retention import TierStore

    t_start = time.time()
    spark = get_spark(app_name=f"rollup-{args.job_id}", cpus=args.cpus)
    df = spark.read.parquet(args.input)

    raw_store = TierStore(args.output, "raw")
    manifest = Manifest(os.path.join(args.output, "_manifest"))

    slices = {
        s: df.where(F.pmod(F.xxhash64("doc_id"), args.slices) == s)
        for s in range(args.slices)
    }

    def process(slice_id, sdf):
        raw = RT.per_sequence_stats_fused(sdf, m=args.m)
        raw = raw.withColumn("bucket", F.date_trunc("minute", "event_ts"))
        out = raw.withColumn("day", F.to_date("bucket"))
        # idempotent slice write: deterministic slice-keyed subdirectory
        # with overwrite — a crash between this write and the manifest
        # commit makes the resumed re-run rewrite the same directory
        # instead of appending duplicate raw rows
        path = os.path.join(raw_store.path, f"slice={slice_id}")
        (out.repartition("day", "source")
            .write.mode("overwrite").partitionBy("day", "source")
            .parquet(path))
        n = sdf.count()
        per_source = {r["source"]: r["cnt"] for r in
                      sdf.groupBy("source").agg(
                          F.count("*").alias("cnt")).collect()}
        return n, {"rows": n, "per_source": per_source}

    ran = run_with_checkpoints(spark, manifest, args.job_id, slices,
                               process)

    # tier cascade from the materialized raw store ("slice" is the
    # partition-discovery column of the slice-keyed layout)
    raw = spark.read.parquet(raw_store.path).drop("day", "bucket", "slice")
    tiers = RT.cascade(raw, salt_buckets=args.salt_buckets)
    tier_rows = {}
    for tier, tdf in tiers.items():
        store = TierStore(args.output, tier)
        store.write(tdf)
        tier_rows[tier] = spark.read.parquet(store.path).count()
        chunks = compress_tier(spark.read.parquet(store.path).drop("day"),
                               ["n_seq", "sum_n_tok"])
        (chunks.write.mode("overwrite")
         .parquet(os.path.join(args.output, f"{tier}_gorilla")))

    metrics = {
        "job_id": args.job_id,
        "slices_run": ran,
        "slices_skipped": args.slices - len(ran),
        "tier_rows": tier_rows,
        "wall_sec": round(time.time() - t_start, 1),
        "n_docs": raw.count(),
    }
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
