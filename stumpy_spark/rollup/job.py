"""Production rollup job: tokseq table → tiered, gap-fillable, Gorilla-
compressed continuous aggregates, resumable from per-slice checkpoints.

``jobs/rollup_job.py`` is its command line.  Pipeline per slice (slice =
doc-id hash bucket; on Iceberg it would be a partition/file-scan task):

1. per-sequence kernel stats (fused mapInArrow, zero shuffle)
2. overwrite the slice's directory of the raw tier store
   (``raw/slice=N/day=/source=``), counting its rows on the write
3. manifest commit: (job_id, slice, input_fingerprint, row_count,
   metrics json, wall) — resume skips committed slices whose fingerprint
   still matches.

After all slices: the 1m → 1h → 1d tiers from the raw store
(:func:`~stumpy_spark.rollup.tiers.write_tiers`) and Gorilla-compressed
chunks per tier; the result is the job's metrics as one dict.  Retention
is the caller's: :func:`~stumpy_spark.rollup.retention.apply_retention`
over the tier stores.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from . import tiers as RT
from .checkpoint import Manifest, run_with_checkpoints
from .compress import compress_tier
from .retention import TierStore, observed


def run_rollup(spark: SparkSession, input: str, output: str, slices: int,
               job_id: str, m: int = 25, salt_buckets: int = 0) -> dict:
    """Roll ``input`` (tokseq parquet) up into tier stores under
    ``output``; returns the job's metrics."""
    t_start = time.time()
    df = spark.read.parquet(input)
    raw_path = TierStore(output, "raw").path

    def raw_of(sdf):
        return RT.per_sequence_stats_fused(sdf, m=m).withColumn(
            "bucket", F.date_trunc("minute", "event_ts"))

    def process(slice_id, sdf):
        # idempotent slice write: deterministic slice-keyed subdirectory
        # with overwrite — a crash between this write and the manifest
        # commit makes the resumed re-run rewrite the same directory
        # instead of appending duplicate raw rows
        n = TierStore(raw_path, f"slice={slice_id}").write(raw_of(sdf))
        return n, {"rows": n}

    ran = run_with_checkpoints(
        spark, Manifest(os.path.join(output, "_manifest")), job_id,
        {s: df.where(F.pmod(F.xxhash64("doc_id"), slices) == s)
         for s in range(slices)}, process)

    # "slice" is the partition-discovery column of the slice-keyed layout
    docs = Observation()
    raw = (spark.read.schema(TierStore.schema(raw_of(df), "slice"))
           .parquet(raw_path).drop("day", "bucket", "slice")
           .observe(docs, F.count(F.lit(1)).alias("n")))
    tier_rows, stored = RT.write_tiers(raw, output,
                                       salt_buckets=salt_buckets)
    for tier, tdf in stored.items():
        (compress_tier(tdf.drop("day"), ["n_seq", "sum_n_tok"])
         .write.mode("overwrite")
         .parquet(os.path.join(output, f"{tier}_gorilla")))
    return {
        "job_id": job_id,
        "slices_run": ran,
        "slices_skipped": slices - len(ran),
        "tier_rows": tier_rows,
        "wall_sec": round(time.time() - t_start, 1),
        "n_docs": observed(docs, n=0)["n"],
    }
