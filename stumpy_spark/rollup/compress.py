"""Gorilla-compressed storage of rolled-up points.

``compress_tier`` groups a tier by (source, day) and packs each group's
(bucket_ts, value) stream into one Gorilla-encoded ``binary`` cell via
``applyInArrow`` — encoding happens executor-side on the group's Arrow
table; the driver never sees point data.  ``decompress_tier`` is the
inverse, one ``mapInArrow`` pass (used by reads and the roundtrip
tests).  Timestamps are the buckets' epoch seconds (UTC).

The (source, day) chunk key mirrors the tier partitioning, so the shuffle
that feeds compression is the same one the tier write already performs —
compression adds no extra exchange at scale.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import gorilla

_CHUNK_SCHEMA = T.StructType([
    T.StructField("source", T.StringType()),
    T.StructField("day", T.DateType()),
    T.StructField("metric", T.StringType()),
    T.StructField("n_points", T.IntegerType()),
    T.StructField("raw_bytes", T.LongType()),
    T.StructField("encoded_bytes", T.LongType()),
    T.StructField("blob", T.BinaryType()),
])

_POINT_SCHEMA = T.StructType([
    T.StructField("source", T.StringType()),
    T.StructField("metric", T.StringType()),
    T.StructField("bucket", T.TimestampType()),
    T.StructField("value", T.DoubleType()),
])


def compress_tier(tier_df: DataFrame, metrics: list[str]) -> DataFrame:
    """Pack each (source, day, metric) series into one Gorilla blob."""
    def pack(table):
        import pyarrow as pa

        table = table.sort_by("bucket")
        ts = table.column("bucket").cast(pa.int64()).to_numpy() // 10 ** 6
        n = len(ts)
        blobs = [gorilla.encode(ts, table.column(metric).cast(
            pa.float64()).to_numpy()) for metric in metrics]
        k = len(metrics)
        return pa.table([
            pa.repeat(table.column("source")[0], k),
            pa.repeat(table.column("day")[0], k),
            pa.array(metrics, type=pa.string()),
            pa.array([n] * k, type=pa.int32()),
            pa.array([16 * n] * k, type=pa.int64()),
            pa.array([len(b) for b in blobs], type=pa.int64()),
            pa.array(blobs, type=pa.binary()),
        ], names=_CHUNK_SCHEMA.fieldNames())

    keyed = tier_df.withColumn("day", F.to_date("bucket"))
    return keyed.groupBy("source", "day").applyInArrow(
        pack, schema=_CHUNK_SCHEMA)


def decompress_tier(chunks: DataFrame) -> DataFrame:
    """Inverse of :func:`compress_tier`: explode blobs back into points."""
    def unpack(batches):
        import pyarrow as pa

        for rb in batches:
            source, metric, blob = rb.columns
            decoded = [gorilla.decode(b) for b in blob.to_pylist()]
            counts = [len(ts) for ts, _ in decoded]
            if not sum(counts):
                continue
            take = pa.array(np.repeat(np.arange(rb.num_rows), counts))
            yield pa.RecordBatch.from_arrays([
                source.take(take),
                metric.take(take),
                pa.array(np.concatenate([ts for ts, _ in decoded]) * 10 ** 6,
                         type=pa.timestamp("us", tz="UTC")),
                pa.array(np.concatenate([v for _, v in decoded]),
                         type=pa.float64()),
            ], names=_POINT_SCHEMA.fieldNames())

    return chunks.select("source", "metric", "blob").mapInArrow(
        unpack, schema=_POINT_SCHEMA)
