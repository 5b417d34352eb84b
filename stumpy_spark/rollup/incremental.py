"""Late-data handling: idempotent partition-level rollup upsert.

The north rule's contract: a late sequence re-aggregates the bucket it
lands in; nothing else is touched.  On Iceberg this is a MERGE; on the
plain-parquet tier stores here it's **dynamic partition overwrite**,
asked for on the upsert's own tier writes (the session's overwrite mode is
left alone): the affected (day, source) partitions of each tier are
recomputed and swapped in, untouched partitions keep their files.

Flow (:func:`upsert_late_rows`):

1. kernel stats for the late rows (same fused mapInArrow as the batch
   path — one code path, no divergence),
2. append them to the raw store (partitioned day/source); on a store
   written by :func:`~stumpy_spark.rollup.job.run_rollup`
   (``raw/slice=N/day=/source=``) they become one more slice, named by
   the late batch's content hash and written with overwrite.  The same
   write observes the affected (day, source) set — driver-side metadata,
   a handful of tuples, never data, and no second kernel pass,
3. :func:`~stumpy_spark.rollup.tiers.write_tiers` over ONLY those
   partitions: 1m from their raw rows, 1h from the 1m just written, 1d
   from that 1h — the batch job's tier writer, restricted.

Idempotence: re-running the same late batch after step 2 has been made
durable recomputes identical tier partitions (aggregation is
deterministic), so a retry after a crash between steps is safe — the same
guarantee an Iceberg MERGE gives, at partition granularity.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import tiers as RT
from .checkpoint import slice_fingerprint
from .retention import TierStore, observed


def _with_partition_cols(raw: DataFrame) -> DataFrame:
    return raw.withColumn("day", F.to_date("event_ts"))


def upsert_late_rows(spark: SparkSession, root: str, late_df: DataFrame,
                     m: int = 25, include_profile: bool = False) -> dict:
    """Apply late tokseq rows to the raw store + all tiers.

    Returns {'affected': [(day, source), ...], 'tiers': {tier: rows}}.
    """
    raw_store = TierStore(root, "raw")

    late_raw = _with_partition_cols(
        RT.per_sequence_stats_fused(late_df, m=m,
                                    include_profile=include_profile))
    hit = Observation()
    writer = (late_raw.observe(hit, F.collect_set(
        F.struct("day", "source")).alias("parts"))
        .repartition("day", "source").write.partitionBy("day", "source"))
    if any(Path(raw_store.path).glob("slice=*")):
        # a run_rollup store (raw/slice=N/day=/source=): the late batch
        # is one more slice, keyed by its content and overwritten, so a
        # retry rewrites it instead of appending duplicates
        fp = slice_fingerprint({0: late_df})[0] & (2 ** 64 - 1)
        writer.mode("overwrite").parquet(
            str(Path(raw_store.path) / f"slice=late{fp:016x}"))
    else:
        writer.mode("append").parquet(raw_store.path)

    affected = sorted((str(r.day), r.source)
                      for r in observed(hit, parts=[])["parts"])
    if not affected:
        return {"affected": [], "tiers": {}}
    cond = F.lit(False)
    for day, source in affected:
        cond = cond | ((F.col("day") == F.lit(day)) &
                       (F.col("source") == F.lit(source)))
    # read as the job does: "slice" is the partition column of its
    # layout, "bucket" a column only its slices carry
    raw = spark.read.parquet(raw_store.path).drop("slice", "bucket")
    return {"affected": affected, "tiers": RT.write_tiers(raw, root, cond)[0]}
