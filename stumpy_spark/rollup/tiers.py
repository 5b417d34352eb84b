"""Tiered continuous aggregates: raw → 1m → 1h → 1d.

The engine's rollup contract (BASELINE.json north_rule):

- **raw** tier: one row per sequence with its per-sequence kernel stats
  (:func:`per_sequence_stats` — integer-exact sliding-window stats from
  :mod:`stumpy_spark.operators.profile`).
- each higher tier **re-aggregates the tier below it** (never the raw data):
  counts/sums add, mins/mins, maxs/maxs — the compositional set, so a 1d
  point is bit-identical whether computed from raw or from 1h.  Means are
  derived at read time from (sum, count), never stored.
- bucketing uses ``date_trunc`` on the event-time axis; partitioning of
  materialized tiers is ``(source, bucket)`` — the explicit range
  partitioning named in the north rule.  Hot sources (zipf `web`) are
  handled by AQE skew-join/partition-coalescing plus optional salting in
  :func:`rollup_tier` (``salt_buckets``): the partial aggregate runs on
  ``(source, bucket, salt)`` then re-reduces, bounding any single reducer's
  input — the classic two-stage combine.  With ``spark.sql.adaptive`` on,
  Catalyst already does partial aggregation map-side; salting matters when a
  single (source, bucket) group's *final* combine is the straggler at
  100 TB.

All aggregates here are Catalyst built-ins over integer columns — exact,
order-insensitive, and whole-stage-codegen'd; no UDF anywhere in the rollup
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.profile import sliding_stats

TIER_SECONDS = {"raw": 1, "1m": 60, "1h": 3600, "1d": 86400}
_TRUNC = {"1m": "minute", "1h": "hour", "1d": "day"}
TIER_ORDER = ["1m", "1h", "1d"]

#: compositional aggregate spec: output column -> (agg from raw,
#: re-agg from previous tier)
_AGGS = [
    ("n_seq", lambda: F.count(F.lit(1)), lambda c: F.sum(c)),
    ("sum_n_tok", lambda: F.sum("n_tok"), lambda c: F.sum(c)),
    ("min_n_tok", lambda: F.min("n_tok"), lambda c: F.min(c)),
    ("max_n_tok", lambda: F.max("n_tok"), lambda c: F.max(c)),
    ("sum_window_sums", lambda: F.sum("sum_window_sums"),
     lambda c: F.sum(c)),
    ("min_mean", lambda: F.min("min_mean"), lambda c: F.min(c)),
    ("max_mean", lambda: F.max("max_mean"), lambda c: F.max(c)),
]

#: optional kernel-profile aggregates (present when the raw tier was built
#: with include_profile=True)
_OPT_AGGS = [
    ("min_p", lambda: F.min("min_p"), lambda c: F.min(c)),
    ("max_p", lambda: F.max("max_p"), lambda c: F.max(c)),
]


def _aggs_for(df: DataFrame):
    aggs = list(_AGGS)
    cols = set(df.columns)
    for spec in _OPT_AGGS:
        if spec[0] in cols:
            aggs.append(spec)
    return aggs


def per_sequence_stats(df: DataFrame, m: int = 25) -> DataFrame:
    """Raw tier: tokseq rows joined with their sliding-stat summaries.

    The kernel output joins back on doc_id; both sides keep their original
    partitioning and the join is a cheap shuffle on the (high-cardinality,
    unskewed) doc_id.  At 10^12 scale this would instead be a single
    mapInArrow pass emitting the combined row — provided here as the
    default ``fused=True`` path.
    """
    stats = sliding_stats(df, m)
    base = df.select("doc_id", "source", "event_ts", "n_tok")
    return base.join(stats.drop("n_windows"), "doc_id")


def per_sequence_stats_fused(df: DataFrame, m: int = 25,
                             include_profile: bool = False) -> DataFrame:
    """Zero-shuffle raw tier: carry source/event_ts through the kernel UDF.

    Equivalent to :func:`per_sequence_stats` but emits the combined row in
    one mapInArrow pass over the batch's flat tokens — the 100 TB-scale
    default (no join, no shuffle).

    ``include_profile=True`` additionally carries the top-1 matrix-profile
    min/max per sequence (FIXTURES.md F3's per-sequence kernel outputs)
    from the same per-batch summary as
    :func:`~stumpy_spark.operators.profile.profile_summary`: ``min_p``/
    ``max_p`` are NULL exactly where ``profile_summary`` drops the row.
    It's the compute-heavy path used by the scaling benchmark; the cheap
    variant is what the SQL-oracle-checked rollup queries use.
    """
    import numpy as np
    from pyspark.sql import types as T

    from ..operators.profile import (_flat_profile_summary,
                                     _flat_sliding_stats, _flat_tokens)

    fields = [
        T.StructField("doc_id", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("event_ts", T.TimestampType()),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("sum_window_sums", T.LongType()),
        T.StructField("min_mean", T.DoubleType()),
        T.StructField("max_mean", T.DoubleType()),
        T.StructField("min_std", T.DoubleType()),
        T.StructField("max_std", T.DoubleType()),
    ]
    if include_profile:
        fields += [T.StructField("min_p", T.DoubleType()),
                   T.StructField("max_p", T.DoubleType())]
    schema = T.StructType(fields)

    def run(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            flat, off = _flat_tokens(rb, "tokens")
            # flat vectorized sliding stats across the whole batch (no
            # per-document Python loop; bit-identical arithmetic —
            # see _flat_sliding_stats)
            (elig, _, sum_e, mn_e, mx_e, mns_e,
             mxs_e) = _flat_sliding_stats(flat, off, m)
            sws = np.zeros(n, dtype=np.int64)
            mins = np.full(n, np.nan)
            maxs = np.full(n, np.nan)
            minstd = np.full(n, np.nan)
            maxstd = np.full(n, np.nan)
            if elig.any():
                sws[elig] = sum_e
                mins[elig] = mn_e
                maxs[elig] = mx_e
                minstd[elig] = mns_e
                maxstd[elig] = mxs_e
            stat_cols = [mins, maxs, minstd, maxstd]
            if include_profile:
                stat_cols += _flat_profile_summary(flat, off, m)[2:4]
            gi = rb.schema.get_field_index
            arrays = [rb.column(gi("doc_id")), rb.column(gi("source")),
                      rb.column(gi("event_ts")), rb.column(gi("n_tok")),
                      pa.array(sws, type=pa.int64())]
            # short sequences (n < m) must yield NULL, not NaN: Spark's
            # min/max treat NaN as the largest double (poisoning max),
            # while NULLs are skipped — and the SQL oracle yields NULL
            for arr in stat_cols:
                arrays.append(pa.array(arr, type=pa.float64(),
                                       from_pandas=True))
            yield pa.RecordBatch.from_arrays(
                arrays, names=[f.name for f in fields])

    cols = ["doc_id", "tokens", "source", "event_ts", "n_tok"]
    return df.select(*cols).mapInArrow(run, schema=schema)


def rollup_tier(raw: DataFrame, tier: str,
                salt_buckets: int = 0) -> DataFrame:
    """Aggregate the raw (per-sequence) tier into a time tier directly.

    Used for tier `1m` (the first materialized tier) and as the oracle
    cross-check for higher tiers.  ``salt_buckets > 0`` splits each
    (source, bucket) group into that many salted partials first — use for
    hot-key sources when a single group exceeds one reducer.
    """
    bucket = F.date_trunc(_TRUNC[tier], F.col("event_ts")).alias("bucket")
    specs = _aggs_for(raw)
    aggs = [a[1]().alias(a[0]) for a in specs]
    if salt_buckets > 0:
        salt = (F.crc32(F.col("doc_id")) % salt_buckets).alias("_salt")
        partial = (raw.groupBy(F.col("source"), bucket, salt)
                   .agg(*aggs))
        return (partial.groupBy("source", "bucket")
                .agg(*[a[2](F.col(a[0])).alias(a[0]) for a in specs]))
    return raw.groupBy(F.col("source"), bucket).agg(*aggs)


def rollup_from_previous(prev: DataFrame, tier: str) -> DataFrame:
    """Re-aggregate tier N-1 into tier N (the cascade contract)."""
    bucket = F.date_trunc(_TRUNC[tier], F.col("bucket")).alias("bucket")
    return (prev.groupBy(F.col("source"), bucket)
            .agg(*[a[2](F.col(a[0])).alias(a[0]) for a in _aggs_for(prev)]))


def cascade(raw: DataFrame, salt_buckets: int = 0) -> dict[str, DataFrame]:
    """Build all tiers: 1m from raw, 1h from 1m, 1d from 1h."""
    tiers: dict[str, DataFrame] = {}
    tiers["1m"] = rollup_tier(raw, "1m", salt_buckets=salt_buckets)
    tiers["1h"] = rollup_from_previous(tiers["1m"], "1h")
    tiers["1d"] = rollup_from_previous(tiers["1h"], "1d")
    return tiers


def with_read_time_means(tier_df: DataFrame) -> DataFrame:
    """Derive means from (sum, count) at read time (never stored)."""
    return tier_df.withColumn(
        "avg_n_tok",
        F.col("sum_n_tok").cast("double") / F.col("n_seq"))


def distinct_tokens_per_bucket(df: DataFrame, tier: str) -> DataFrame:
    """Exact distinct-token count per (source, bucket).

    Exact path (explode + count_distinct) is for test scale and oracle
    parity; at 100 TB use :func:`approx_distinct_tokens_per_bucket` (HLL
    sketches compose across tiers, exact counts do not).
    """
    bucket = F.date_trunc(_TRUNC[tier], F.col("event_ts")).alias("bucket")
    return (df.select("source", bucket, F.explode("tokens").alias("tok"))
            .groupBy("source", "bucket")
            .agg(F.count_distinct("tok").alias("distinct_tokens")))


def approx_distinct_tokens_per_bucket(df: DataFrame, tier: str,
                                      rsd: float = 0.05) -> DataFrame:
    bucket = F.date_trunc(_TRUNC[tier], F.col("event_ts")).alias("bucket")
    return (df.select("source", bucket, F.explode("tokens").alias("tok"))
            .groupBy("source", "bucket")
            .agg(F.approx_count_distinct("tok", rsd)
                 .alias("approx_distinct_tokens")))
