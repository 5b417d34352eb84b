"""Structured Streaming tier aggregation with event-time watermark.

The streaming twin of :func:`tiers.rollup_tier`: a streaming tokseq source
flows through the same fused kernel stage (``mapInArrow`` is stateless,
so it composes with streaming scans), then an event-time window aggregate
with a watermark bounds state for late data.  Within the watermark a late
sequence re-aggregates its bucket (exactly the
:mod:`rollup.incremental` contract, enforced by the engine instead of a
batch upsert job); beyond it the row is dropped and the bucket stays
final.

Semantics parity: the window starts are epoch-aligned, so
``window(event_ts, '1 minute').start == date_trunc('minute', event_ts)``
and a complete-mode streaming run over the same rows equals the batch
tier bit-for-bit (asserted in tests/test_streaming_rollup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import tiers as RT

_WINDOW = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}


def streaming_rollup(stream_df: DataFrame, tier: str = "1m", m: int = 25,
                     watermark: str = "10 minutes") -> DataFrame:
    """Streaming tier aggregate over a streaming tokseq DataFrame.

    Returns an unresolved streaming DataFrame with the same columns as
    :func:`tiers.rollup_tier` — start it with ``writeStream`` (append
    mode emits finalized buckets once the watermark passes; update /
    complete modes re-emit buckets as late rows arrive).
    """
    raw = RT.per_sequence_stats_fused(stream_df, m=m)
    specs = RT._aggs_for(raw)
    win = F.window("event_ts", _WINDOW[tier]).alias("_win")
    out = (raw.withWatermark("event_ts", watermark)
           .groupBy(F.col("source"), win)
           .agg(*[a[1]().alias(a[0]) for a in specs]))
    return (out.withColumn("bucket", F.col("_win.start"))
            .drop("_win")
            .select("source", "bucket",
                    *[a[0] for a in specs]))
