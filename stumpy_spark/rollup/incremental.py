"""Late-data handling: idempotent partition-level rollup upsert.

The north rule's contract: a late sequence re-aggregates the bucket it
lands in; nothing else is touched.  On Iceberg this is a MERGE; on the
plain-parquet tier stores here it's **dynamic partition overwrite**: the
affected (day, source) partitions of each tier are recomputed from the raw
store and swapped in atomically, untouched partitions keep their files.

Flow (:func:`upsert_late_rows`):

1. kernel stats for the late rows (same fused mapInArrow as the batch
   path — one code path, no divergence),
2. append them to the raw store (partitioned day/source); on a store
   written by ``jobs/rollup_job.py`` (``raw/slice=N/day=/source=``) they
   become one more slice, named by the late batch's content hash and
   written with overwrite,
3. collect the affected (day, source) set — this is driver-side metadata,
   a handful of tuples, never data,
4. re-aggregate ONLY those raw partitions into each tier and
   partition-overwrite them.

Idempotence: re-running the same late batch after step 2 has been made
durable recomputes identical tier partitions (aggregation is
deterministic), so a retry after a crash between steps is safe — the same
guarantee an Iceberg MERGE gives, at partition granularity.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import tiers as RT
from .checkpoint import slice_fingerprint
from .retention import TierStore


def _with_partition_cols(raw: DataFrame) -> DataFrame:
    return raw.withColumn("day", F.to_date("event_ts"))


def upsert_late_rows(spark: SparkSession, root: str, late_df: DataFrame,
                     m: int = 25, include_profile: bool = False) -> dict:
    """Apply late tokseq rows to the raw store + all tiers.

    Returns {'affected': [(day, source), ...], 'tiers': {tier: rows}}.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    raw_store = TierStore(root, "raw")

    late_raw = _with_partition_cols(
        RT.per_sequence_stats_fused(late_df, m=m,
                                    include_profile=include_profile))
    writer = (late_raw.repartition("day", "source")
              .write.partitionBy("day", "source"))
    if any(Path(raw_store.path).glob("slice=*")):
        # a jobs/rollup_job.py store (raw/slice=N/day=/source=): the late
        # batch is one more slice, keyed by its content and overwritten,
        # so a retry rewrites it instead of appending duplicates
        fp = slice_fingerprint(late_df) & (2 ** 64 - 1)
        writer.mode("overwrite").parquet(
            str(Path(raw_store.path) / f"slice=late{fp:016x}"))
    else:
        writer.mode("append").parquet(raw_store.path)

    affected = [(str(r.day), r.source) for r in
                late_raw.select("day", "source").distinct().collect()]
    if not affected:
        return {"affected": [], "tiers": {}}

    # read as the job does: "slice" is the partition column of its
    # layout, "bucket" a column only its slices carry
    raw_all = spark.read.parquet(raw_store.path).drop("slice", "bucket")
    cond = F.lit(False)
    for day, source in affected:
        cond = cond | ((F.col("day") == F.lit(day)) &
                       (F.col("source") == F.lit(source)))
    raw_hit = raw_all.where(cond).drop("day")

    out_rows = {}
    tiers = RT.cascade(raw_hit)
    for tier, tdf in tiers.items():
        store = TierStore(root, tier)
        part = tdf.withColumn("day", F.to_date("bucket"))
        (part.repartition("day", "source")
         .write.mode("overwrite")         # dynamic → only touched parts
         .partitionBy("day", "source")
         .parquet(store.path))
        out_rows[tier] = part.count()
    return {"affected": affected, "tiers": out_rows}
