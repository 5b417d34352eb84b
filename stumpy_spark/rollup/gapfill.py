"""Gap-filled continuous aggregates.

Missing (source, bucket) combinations get explicit rows: zeros for additive
columns, NULL (or last-observation-carried-forward, or linear
interpolation) for the others.  Built entirely from Catalyst ops:

- default bounds (each source's first to last observed bucket): one pass.
  A ``lag`` window gives each observed row its predecessor, and
  ``sequence()`` + ``explode`` emit the missing buckets between them
  together with the row itself — no spine, no join.  The input must be
  an aggregated tier: a repeated (source, bucket) or a gap that is not a
  positive multiple of the tier step fails the query (``raise_error``
  in the same projection) instead of silently dropping rows;
- explicit ``start``/``end``: a dense per-source bucket spine
  (``sequence()`` + ``explode``) left-joined with the tier, which is
  broadcast when Catalyst estimates it small, else shuffle-joined on the
  unskewed (source, bucket) key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .tiers import TIER_SECONDS

_ZERO_FILL = ["n_seq", "sum_n_tok", "sum_window_sums"]


def bucket_spine(tier_df: DataFrame, tier: str,
                 start=None, end=None) -> DataFrame:
    """Dense (source, bucket) grid covering [start, end] per source."""
    step = TIER_SECONDS[tier]
    bounds = tier_df.groupBy("source").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    if start is not None:
        bounds = bounds.withColumn("lo", F.lit(start).cast("timestamp"))
    if end is not None:
        bounds = bounds.withColumn("hi", F.lit(end).cast("timestamp"))
    return bounds.select(
        "source",
        F.explode(F.sequence(
            F.col("lo"), F.col("hi"),
            F.expr(f"interval {step} seconds"))).alias("bucket"))


# Above this estimated row count the aggregated tier is no longer safely
# broadcastable (multi-year 1m tiers x many sources); fall back to a plain
# shuffle join on (source, bucket) — an unskewed high-cardinality key.
BROADCAST_ROW_LIMIT = 2_000_000


def _tier_rows_estimate(tier_df: DataFrame) -> float:
    """Catalyst's row estimate for the tier plan (no job is triggered)."""
    try:
        stats = tier_df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return float(str(rc.get()))
        return float(str(stats.sizeInBytes())) / 64.0
    except Exception:
        return float("inf")


def gapfill(tier_df: DataFrame, tier: str, start=None, end=None,
            locf: bool = False, interpolate: bool = False,
            broadcast: bool | None = None) -> DataFrame:
    """Fill missing buckets: zeros for additive cols; NULL, LOCF, or
    linear interpolation for the others.

    ``interpolate=True`` fills a gap linearly between the previous and
    next *observed* values (time-weighted by bucket position); buckets
    before the first / after the last observation stay NULL — no
    extrapolation.  Mutually exclusive with ``locf``.

    ``broadcast`` applies only with explicit ``start``/``end`` (the
    default bounds need no join): force (True/False) the broadcast of the
    aggregated tier side; default auto — broadcast only when Catalyst's
    size estimate is under ``BROADCAST_ROW_LIMIT`` rows, else shuffle-join
    on the unskewed (source, bucket) key and let AQE pick the strategy at
    runtime.

    Default bounds require one row per (source, bucket) on the tier's
    step grid; anything else raises when the query runs.
    """
    if locf and interpolate:
        raise ValueError("locf and interpolate are mutually exclusive")
    if start is None and end is None:
        # Single-pass spine (guide §2.4 — remove shuffles/passes
        # outright): the legacy spine-join consumed ``tier_df`` twice
        # (once for the per-source bounds aggregate, once as the join
        # right side), so the whole upstream lineage — including the
        # Python kernel scan that feeds rollup tiers — executed twice
        # per query.  Here every output row is generated from ONE pass:
        # each observed row explodes the bucket run
        # ``(prev_bucket, bucket]`` so the gaps between consecutive
        # observations (all NULL metrics, zero-filled below) and the
        # observed row itself come out of the same window+explode.
        # Bucket sets and values are identical to the spine join as
        # long as buckets are unique and step-aligned (date_trunc), so
        # the sequence lands exactly on each observed bucket; the same
        # projection fails the query otherwise — a repeat would be a
        # sequence boundary error, a misaligned gap a silently dropped
        # row.  ``broadcast`` is meaningless here (no join) and ignored.
        step = TIER_SECONDS[tier]
        step_iv = F.expr(f"interval {step} seconds")
        w = Window.partitionBy("source").orderBy("bucket")
        prev = F.lag("bucket").over(w)
        gap = F.unix_micros("bucket") - F.unix_micros(prev)
        where = F.concat(F.lit(" at source="), F.col("source").cast("string"),
                         F.lit(", bucket="), F.col("bucket").cast("string"))
        seq_start = (
            F.when(gap == 0, F.raise_error(F.concat(
                F.lit("gapfill: duplicate (source, bucket)"), where)))
            .when(gap % (step * 1_000_000) != 0, F.raise_error(F.concat(
                F.lit(f"gapfill: bucket not on the {tier} step grid"),
                where)))
            .otherwise(F.coalesce(prev + step_iv, F.col("bucket"))))
        fill_cols = [c for c in tier_df.columns
                     if c not in ("source", "bucket")]
        exploded = (tier_df
                    .withColumn("_sb", seq_start)
                    .select(F.col("source"),
                            F.col("bucket").alias("_ob"), *fill_cols,
                            F.explode(F.sequence(
                                F.col("_sb"), F.col("bucket"),
                                step_iv)).alias("bucket")))
        observed = F.col("bucket") == F.col("_ob")
        filled = exploded.select(
            "source", "bucket",
            *[F.when(observed, F.col(c)).alias(c) for c in fill_cols])
    else:
        spine = bucket_spine(tier_df, tier, start=start, end=end)
        if broadcast is None:
            broadcast = _tier_rows_estimate(tier_df) <= BROADCAST_ROW_LIMIT
        # left-outer: only the right (aggregated, post-rollup) side can
        # be broadcast; the dense spine stays partitioned by source
        right = F.broadcast(tier_df) if broadcast else tier_df
        filled = spine.join(right, ["source", "bucket"], "left")
    for c in _ZERO_FILL:
        if c in tier_df.columns:
            filled = filled.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    if locf:
        w = (Window.partitionBy("source").orderBy("bucket")
             .rowsBetween(Window.unboundedPreceding, 0))
        for c in tier_df.columns:
            if c in ("source", "bucket") or c in _ZERO_FILL:
                continue
            filled = filled.withColumn(
                c, F.last(F.col(c), ignorenulls=True).over(w))
    elif interpolate:
        wp = (Window.partitionBy("source").orderBy("bucket")
              .rowsBetween(Window.unboundedPreceding, 0))
        wn = (Window.partitionBy("source").orderBy("bucket")
              .rowsBetween(0, Window.unboundedFollowing))
        eb = F.unix_timestamp("bucket")
        for c in tier_df.columns:
            if c in ("source", "bucket") or c in _ZERO_FILL:
                continue
            col = F.col(c)
            obs_b = F.when(col.isNotNull(), eb)
            pv = F.last(col, ignorenulls=True).over(wp)
            pb = F.last(obs_b, ignorenulls=True).over(wp)
            nv = F.first(col, ignorenulls=True).over(wn)
            nb = F.first(obs_b, ignorenulls=True).over(wn)
            interp = pv + (nv - pv) * ((eb - pb) / (nb - pb))
            filled = filled.withColumn(
                c,
                F.when(col.isNotNull(), col)
                .when(pv.isNotNull() & nv.isNotNull(), interp))
    return filled
