"""Distributed matrix profile for a single long sequence.

The scale path for series too long for one task — the Spark restatement
of the reference's distributed plans (stumpy/stumped.py:13-203 z-norm,
stumpy/aamped.py:334-441 p-norm):
*scatter* the series + stats once (``sc.broadcast``), split the
distance-matrix workload into **tiles**, and reduce partial per-row
results with a commutative merge (Catalyst partial/final aggregation).

Differences from the reference's decomposition, on purpose:

- the reference chunks *diagonals* weighted by per-diagonal work
  (core.py:2424-2466 ``_get_array_ranges``); a Spark stage wants
  coarse-grained independent tasks, so we tile the (row, col) index plane.
  Upper-triangle tiles are enumerated only once and each tile emits
  contributions for both its row range and its col range (the symmetric
  update the reference does per diagonal cell, stump.py:219-230).
- a top-1 tile is one ``kernels._top1_sweep`` — the same sweep the
  single-task ``kernels.matrix_profile(_absolute)`` runs — over a tile
  source built on the tile's row and column windows only, so per-task
  memory is O(tile × m) operands plus one 128-square cache tile (a
  128 × tile strip for top-k); AQE coalesces the small final merge.

Top-k (``k > 1``): each tile emits its per-row k smallest (p, j)
candidates; because the tiles partition the column space for any row, a
(i, j) cell is produced exactly once, so the global top-k is simply the k
smallest candidates per row — an ``array_sort`` + ``slice`` over the
collected partials (the Catalyst form of the reference's
``core._merge_topk_PI``, core.py:3325-3394 / stumped.py:184-197; ties
break to the smaller j, deterministic under any merge order).

The shuffle is O(l × n_col_tiles × k) small rows; for very long series
raise ``tile`` accordingly (tile 65536 → 153 partials per row at n=10^7).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import kernels

_PARTIAL_SCHEMA = T.StructType([
    T.StructField("i", T.LongType()),
    T.StructField("p", T.DoubleType()),
    T.StructField("j", T.LongType()),
    T.StructField("pl", T.DoubleType()),
    T.StructField("jl", T.LongType()),
    T.StructField("pr", T.DoubleType()),
    T.StructField("jr", T.LongType()),
])

_PARTIAL_SCHEMA_TOPK = T.StructType([
    T.StructField("i", T.LongType()),
    T.StructField("p", T.DoubleType()),
    T.StructField("j", T.LongType()),
])


def _profile_frame(i0, prof) -> pd.DataFrame:
    """Partial top-1 rows from a ``kernels._top1_sweep`` profile tuple."""
    P, I, PL, IL, PR, IR = prof
    return pd.DataFrame({"i": np.arange(i0, i0 + len(P)), "p": P, "j": I,
                         "pl": PL, "jl": IL, "pr": PR, "jr": IR})


def _topk_frame(src, i0, vals, js) -> pd.DataFrame:
    """Partial top-k rows: per-row candidates in root-deferred space."""
    nr, kk = vals.shape
    return pd.DataFrame({
        "i": np.repeat(np.arange(i0, i0 + nr), kk),
        "p": src.dist(vals.ravel()),
        "j": np.where(np.isfinite(vals.ravel()), js.ravel(), -1),
    })


def _binned_tiles_df(spark: SparkSession, tiles, work) -> DataFrame:
    """LPT-bin (tr, tc) tiles by the given work function onto an identity
    partitioner, as a DataFrame (tr long, tc long).

    Greedy longest-processing-time binning over actual per-tile work is
    the Spark analog of the reference's per-diagonal work weighting
    (core.py:2424-2466): every stage partition carries near-equal work —
    no straggler tail at 100x.  The identity partitioner maps bin b to
    Spark partition b exactly; a hash repartition would collide balanced
    bins into uneven partitions.
    """
    import heapq
    sc = spark.sparkContext
    n_bins = min(len(tiles), sc.defaultParallelism * 4)
    order = sorted(range(len(tiles)), key=lambda t: -work(*tiles[t]))
    heap = [(0, bi) for bi in range(n_bins)]
    heapq.heapify(heap)
    bins = [0] * len(tiles)
    for t in order:
        load, bi = heapq.heappop(heap)
        bins[t] = bi
        heapq.heappush(heap, (load + work(*tiles[t]), bi))
    pairs = sc.parallelize(
        [(bins[t], tiles[t]) for t in range(len(tiles))], n_bins)
    binned = pairs.partitionBy(n_bins, lambda b: b).map(
        lambda kv: (int(kv[1][0]), int(kv[1][1])))
    return spark.createDataFrame(binned, schema="tr long, tc long")


def distributed_matrix_profile(spark: SparkSession, T_arr, m: int,
                               tile: int = 8192, T_B=None, k: int = 1,
                               normalize: bool = True,
                               p: float = 2.0) -> DataFrame:
    """Exact matrix profile of one long series, tiled across the cluster.

    Self-join when ``T_B is None`` (with exclusion zone and, for k == 1,
    left/right profiles), AB-join otherwise (``ignore_trivial=False``
    semantics: no exclusion, PL/PR = inf and IL/IR = -1, matching
    ``kernels.matrix_profile``).  ``normalize=False`` computes the p-norm
    (aamp/aamped) profile instead — same tiling, non-normalized distances.

    Returns DataFrame (i, P, I, PL, IL, PR, IR) for k == 1, else
    (i, P: array<double>, I: array<long>) with rows sorted ascending by
    distance (ties to the smaller index).
    """
    T_arr = np.asarray(T_arr, dtype=np.float64)
    self_join = T_B is None
    l = len(T_arr) - m + 1
    lb = l if self_join else len(T_B) - m + 1
    ez = kernels.excl_zone(m) if self_join else -1

    # z-norm (stumped) or aamp (aamped.py:38-55) preprocessing, once
    # before the tiles fan out: O(n) arrays, broadcast to every task
    prep = kernels.preprocess if normalize else kernels._preprocess_abs
    prepA = prep(T_arr, m)
    prepB = prepA if self_join else prep(
        np.asarray(T_B, dtype=np.float64), m)
    b = spark.sparkContext.broadcast((prepA, prepB))

    n_tiles = (l + tile - 1) // tile
    nb_tiles = (lb + tile - 1) // tile
    if self_join:
        tiles = [(r, c) for r in range(n_tiles)
                 for c in range(r, n_tiles)]
    else:
        tiles = [(r, c) for r in range(n_tiles) for c in range(nb_tiles)]

    # weighted work assignment (the Spark analog of the reference's
    # per-diagonal work weighting, core.py:2424-2466): tile work = actual
    # cell count (remainder tiles are smaller; a diagonal tile evaluates
    # its upper triangle only), greedily LPT-binned so every stage
    # partition carries near-equal work — no straggler tail at 100x
    def _work(r, c):
        h = min(tile, l - r * tile)
        w = min(tile, lb - c * tile)
        cells = h * w
        if self_join and r == c:
            cells = max(cells // 2, 1)
        return cells

    tiles_df = _binned_tiles_df(spark, tiles, _work)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pa, pb = b.value

        def source(r0, r1, c0, c1):
            """Tile-distance source over this tile's row and column
            windows only: O(tile * m) per task."""
            if normalize:
                return kernels._QTProvider(pa, pb, m, (r0, r1), (c0, c1))
            return kernels._PNormSource(pa, pb, m, p, (r0, r1), (c0, c1))

        def tile_top1(src, r0, r1, c0, c1):
            rows, cols = kernels._top1_sweep(src, r0, r1, c0, c1, ez)
            frames = [_profile_frame(r0, rows)]
            if cols is not None:
                frames.append(_profile_frame(c0, cols))
            return frames

        def tile_topk(src, r0, r1, c0, c1):
            # 128-row strips x the whole tile width: a strip's row top-k
            # is already the tile's; column candidates (left neighbors of
            # a tile strictly above the diagonal) merge across strips
            emit_cols = ez >= 0 and c0 >= r1
            frames, col_v, col_j = [], [], []
            for a0 in range(r0, r1, 128):
                a1 = min(a0 + 128, r1)
                D = src.xdist(a0, a1, c0, c1)
                if ez >= 0:
                    kernels._mask_band(D, a0, c0, ez)
                vals, js = kernels.topk_tie_aware(D, min(k, c1 - c0))
                frames.append(_topk_frame(src, a0, vals, js + c0))
                if emit_cols:
                    vals, js = kernels.topk_tie_aware(D.T, min(k, a1 - a0))
                    col_v.append(vals)
                    col_j.append(js + a0)
            if emit_cols:
                # per-column top-k of the strips' candidates: they lie in
                # ascending i among equal values, so the tie-aware
                # selection keeps the smaller i
                vals = np.concatenate(col_v, axis=1)
                js = np.concatenate(col_j, axis=1)
                top, pos = kernels.topk_tie_aware(vals,
                                                  min(k, vals.shape[1]))
                frames.append(_topk_frame(
                    src, c0, top, np.take_along_axis(js, pos, axis=1)))
            return frames

        eval_tile = tile_topk if k > 1 else tile_top1
        for pdf in batches:
            out = []
            for tr, tc in zip(pdf["tr"], pdf["tc"]):
                r0, r1 = tr * tile, min((tr + 1) * tile, l)
                c0, c1 = tc * tile, min((tc + 1) * tile, lb)
                out.extend(eval_tile(source(r0, r1, c0, c1),
                                     r0, r1, c0, c1))
            if out:
                yield pd.concat(out, ignore_index=True)

    if k > 1:
        partial = tiles_df.mapInPandas(run, schema=_PARTIAL_SCHEMA_TOPK)
        # global top-k per row: every (i, j) candidate is emitted exactly
        # once, so sort + slice is the complete merge (ties -> smaller j)
        pad = F.array_repeat(
            F.struct(F.lit(float("inf")).alias("p"),
                     F.lit(-1).cast("long").alias("j")), k)
        topk = (partial.groupBy("i")
                .agg(F.slice(F.concat(F.array_sort(F.collect_list(
                    F.struct("p", "j"))), pad), 1, k).alias("_tk")))
        return topk.select(
            "i",
            F.transform("_tk", lambda x: x["p"]).alias("P"),
            F.transform("_tk", lambda x: F.when(
                x["p"] != float("inf"), x["j"]).otherwise(F.lit(-1)))
            .alias("I"))

    partial = tiles_df.mapInPandas(run, schema=_PARTIAL_SCHEMA)
    # final commutative merge (the reference's gather + _merge_topk_PI,
    # stumped.py:181-197, as a Catalyst aggregation)
    return (partial.groupBy("i").agg(
        F.min("p").alias("P"),
        F.min_by("j", F.struct(F.col("p"), F.col("j"))).alias("I"),
        F.min("pl").alias("PL"),
        F.min_by("jl", F.struct(F.col("pl"), F.col("jl"))).alias("IL"),
        F.min("pr").alias("PR"),
        F.min_by("jr", F.struct(F.col("pr"), F.col("jr"))).alias("IR"),
    ))


def mpdisted(spark: SparkSession, T_A, T_B, m: int,
             percentage: float = 0.05, k: int | None = None,
             tile: int = 8192, normalize: bool = True,
             p: float = 2.0, custom_func=None) -> float:
    """Distributed MPdist between two over-limit series — the Spark
    restatement of the reference's ``mpdisted`` (mpdist.py:134-254 with
    the ``stumped`` distributed profile, mpdist.py:257-379): two tiled
    AB-joins, union of the per-row top-1 profiles, k-th smallest selected
    with Catalyst.

    The selection is ``orderBy(P).limit(k+1) -> max`` — Spark plans the
    limit as a distributed TakeOrdered (per-partition top-(k+1) merge),
    so only k+1 rows cross a single task and nothing is collected; the
    max of the k+1 smallest is the k-th smallest (0-based), exactly the
    reference's ``P_ABBA[k]``.  Non-finite selection falls back to the
    largest finite value (core.py:3276-3312 semantics).

    ``custom_func(P_ABBA) -> float`` replaces the selection, matching
    the single-node :func:`stumpy_spark.mining.mpdist` hook
    (mpdist.py:28,75-80).  It receives the UNSORTED concatenation with
    the P_AB half first in positional order — the reference contract
    (core.py:3276-3312) is position-sensitive — so it collects
    O(n_A + n_B) values to the driver, linear in series length (the
    profiles, never the n^2 pair matrix), same contract as the
    reference's distributed selector.
    """
    import math

    T_A = np.asarray(T_A, dtype=np.float64)
    T_B = np.asarray(T_B, dtype=np.float64)
    # positional rename: the profile DF carries both `i` and `I`, which
    # Spark's case-insensitive resolver refuses to select by name
    _names = ["row_i", "P", "I_", "PL", "IL", "PR", "IR"]
    pab = distributed_matrix_profile(
        spark, T_A, m, tile=tile, T_B=T_B, normalize=normalize,
        p=p).toDF(*_names).select("row_i", "P")
    pba = distributed_matrix_profile(
        spark, T_B, m, tile=tile, T_B=T_A, normalize=normalize,
        p=p).toDF(*_names).select("row_i", "P")
    if custom_func is not None:
        va = pab.orderBy("row_i").toPandas()["P"].to_numpy(
            dtype=np.float64)
        vb = pba.orderBy("row_i").toPandas()["P"].to_numpy(
            dtype=np.float64)
        return float(custom_func(np.concatenate([va, vb])))
    abba = pab.select("P").unionByName(pba.select("P"))
    la = len(T_A) - m + 1
    lb = len(T_B) - m + 1
    total = la + lb
    n = len(T_A) + len(T_B)
    if k is None:
        k = min(int(math.ceil(percentage * n)), total - 1)
    k = min(int(k), total - 1)
    row = (abba.orderBy("P").limit(k + 1)
           .agg(F.max("P").alias("kth"),
                F.max(F.when(F.col("P") != float("inf"), F.col("P")))
                .alias("max_finite_prefix")).collect()[0])
    kth = row.kth
    if kth is not None and np.isfinite(kth):
        return float(kth)
    # k-th value is inf: every finite value necessarily sits inside the
    # k+1-row TakeOrdered prefix, so the fallback is already in hand —
    # no second pass over the (expensive) AB-join jobs
    if row.max_finite_prefix is not None:
        return float(row.max_finite_prefix)
    return float("inf")


def stimped(spark: SparkSession, T_arr, m_values, tile: int = 8192,
            normalize: bool = True, p: float = 2.0) -> DataFrame:
    """Distributed pan matrix profile for one over-limit series — the
    Spark restatement of the reference's ``stimped`` (stimp.py:372-520):
    one tiled self-join per window size, window sizes submitted in BFS
    order (core.py:3072-3211, the anytime convergence order — early rows
    of the pan are the most informative, so a consumer reading results
    incrementally sees the same refinement sequence as the reference).

    Returns DataFrame (m, i, P) — the pan rows, one per (window size,
    position).
    """
    from ..mining import bfs_order
    T_arr = np.asarray(T_arr, dtype=np.float64)
    out = None
    for m in bfs_order(list(m_values)):
        if len(T_arr) < 2 * m:
            continue
        prof = distributed_matrix_profile(
            spark, T_arr, int(m), tile=tile, normalize=normalize, p=p)
        # positional rename: "i" and "I" collide under Spark's
        # case-insensitive column resolution
        prof = prof.toDF("i", "P", "I_nn", "PL", "IL", "PR", "IR")
        row = prof.select(F.lit(int(m)).alias("m"), "i", "P")
        out = row if out is None else out.unionByName(row)
    if out is None:
        raise ValueError("no window size fits the series (need n >= 2m)")
    return out


def mstumped(spark: SparkSession, Ts, m: int, tile: int = 2048,
             include=None, discords: bool = False,
             normalize: bool = True) -> DataFrame:
    """Distributed multi-dimensional matrix profile for one over-limit
    multi-dim series — the Spark restatement of the reference's
    ``mstumped`` (mstumped.py:131-181 scatters per-worker QT slices; here
    the (i, j) plane is tiled exactly like ``distributed_matrix_profile``
    and the per-dimension distances are combined inside each task).

    ``Ts``: (d, n) array, rows are dimensions.  Per cell the d distances
    are include-pinned / directionally sorted and cumulatively averaged
    (mstump.py:534-546 semantics via ``anytime.multi_matrix_profile``'s
    exact formulas), then reduced to a per-row top-1 per dimensionality
    level.  Returns DataFrame (kdim, i, p, j): row kdim uses the kdim+1
    best- (or worst-, ``discords=True``) aligned dimensions.

    ``normalize=False`` is the maamped twin (p = 2 only on this path —
    the general-p maamped stays in ``anytime.multi_matrix_profile``).

    The multi-dim cell value is symmetric in (i, j), so tiles cover the
    upper triangle only and each off-diagonal tile also emits column
    candidates — the same halved-work plan as the single-dim path.
    """
    from ..anytime import _apply_include_rows

    Ts = np.asarray(Ts, dtype=np.float64)
    d, n = Ts.shape
    l = n - m + 1
    ez = kernels.excl_zone(m)
    if include is not None:
        include = np.asarray(include, dtype=np.int64)

    prep_fn = kernels.preprocess if normalize else kernels._preprocess_abs
    prep = [prep_fn(X, m) for X in Ts]
    sc = spark.sparkContext
    b = sc.broadcast((prep, include, discords, normalize))

    n_tiles = (l + tile - 1) // tile
    tiles = [(r, c) for r in range(n_tiles) for c in range(r, n_tiles)]

    def _work(r, c):
        h = min(tile, l - r * tile)
        w = min(tile, l - c * tile)
        cells = h * w
        if r == c:
            cells = max(cells // 2, 1)
        return cells * d

    tiles_df = _binned_tiles_df(spark, tiles, _work)

    schema = T.StructType([
        T.StructField("kdim", T.LongType()),
        T.StructField("i", T.LongType()),
        T.StructField("p", T.DoubleType()),
        T.StructField("j", T.LongType()),
    ])
    # smaller sub-blocks than the single-dim path: the strip holds d
    # distance planes at once and must stay cache-resident
    BR, BC = 256, 512

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prep_w, inc, disc, norm = b.value
        dd_ = len(prep_w)
        windows = [np.lib.stride_tricks.sliding_window_view(pw[0], m)
                   for pw in prep_w]

        def dcum_sub(wr_list, wc_list, a0, a1, b0, b1):
            """(d, br, bc) include-pinned sorted cumulative-mean distance
            sub-block for absolute rows a0:a1 x cols b0:b1 — exactly
            anytime.multi_matrix_profile's per-cell formulas."""
            Dd = np.empty((dd_, a1 - a0, b1 - b0))
            for dim in range(dd_):
                if norm:
                    Tc, mu, sig, fin, con = prep_w[dim]
                    rho = kernels._pearson_block(
                        wr_list[dim], wc_list[dim], mu[a0:a1], sig[a0:a1],
                        mu[b0:b1], sig[b0:b1], m)
                    D2 = np.abs(2.0 * m * (1.0 - rho))
                    ca = con[a0:a1][:, None]
                    cb = con[b0:b1][None, :]
                    D2 = np.where(ca & cb, 0.0, D2)
                    D2 = np.where(ca ^ cb, float(m), D2)
                else:
                    Tc, w2, fin = prep_w[dim]
                    QT = wr_list[dim] @ wc_list[dim].T
                    D2 = w2[a0:a1][:, None] - 2.0 * QT + w2[b0:b1][None, :]
                    np.maximum(D2, 0.0, out=D2)
                D2[~fin[a0:a1], :] = np.inf
                D2[:, ~fin[b0:b1]] = np.inf
                Dd[dim] = np.sqrt(kernels.snap_to_zero(D2))
            # exclusion band (same cells across every dim, so masking
            # before the sort is equivalent to the single-node order)
            if b0 <= a1 - 1 + ez and a0 - ez <= b1 - 1:
                for ra in range(a0, a1):
                    lo = max(b0, ra - ez) - b0
                    hi = min(b1, ra + ez + 1) - b0
                    if lo < hi:
                        Dd[:, ra - a0, lo:hi] = np.inf
            start_row = 0
            if inc is not None:
                _apply_include_rows(Dd, inc)
                start_row = len(inc)
            if disc:
                Dd[start_row:][::-1].sort(axis=0)
            else:
                Dd[start_row:].sort(axis=0)
            return np.cumsum(Dd, axis=0) / np.arange(
                1, dd_ + 1)[:, None, None]

        def upd(pv, jv, lo, vals, js):
            sl_p = pv[:, lo:lo + vals.shape[1]]
            sl_j = jv[:, lo:lo + vals.shape[1]]
            better = vals < sl_p
            sl_p[better] = vals[better]
            sl_j[better] = js[better]

        def eval_tile(r0, r1, c0, c1, emit_cols):
            nr, nc = r1 - r0, c1 - c0
            wr = [np.ascontiguousarray(w[r0:r1]) for w in windows]
            wc_ = wr if r0 == c0 else \
                [np.ascontiguousarray(w[c0:c1]) for w in windows]
            bp = np.full((dd_, nr), np.inf)
            bj = np.full((dd_, nr), -1, dtype=np.int64)
            if emit_cols:
                cp = np.full((dd_, nc), np.inf)
                cj = np.full((dd_, nc), -1, dtype=np.int64)
            for sr0 in range(0, nr, BR):
                sr1 = min(sr0 + BR, nr)
                a0, a1 = r0 + sr0, r0 + sr1
                for sc0 in range(0, nc, BC):
                    sc1 = min(sc0 + BC, nc)
                    b0, b1 = c0 + sc0, c0 + sc1
                    Dc = dcum_sub([w[sr0:sr1] for w in wr],
                                  [w[sc0:sc1] for w in wc_],
                                  a0, a1, b0, b1)
                    j = np.argmin(Dc, axis=2)               # (d, br)
                    v = np.take_along_axis(
                        Dc, j[:, :, None], axis=2)[:, :, 0]
                    upd(bp, bj, sr0, v, j + b0)
                    if emit_cols:
                        i2 = np.argmin(Dc, axis=1)          # (d, bc)
                        v2 = np.take_along_axis(
                            Dc, i2[:, None, :], axis=1)[:, 0, :]
                        upd(cp, cj, sc0, v2, i2 + a0)
            frames = []
            for kd in range(dd_):
                frames.append(pd.DataFrame({
                    "kdim": kd, "i": np.arange(r0, r1), "p": bp[kd],
                    "j": np.where(np.isfinite(bp[kd]), bj[kd], -1),
                }))
                if emit_cols:
                    frames.append(pd.DataFrame({
                        "kdim": kd, "i": np.arange(c0, c1), "p": cp[kd],
                        "j": np.where(np.isfinite(cp[kd]), cj[kd], -1),
                    }))
            return frames

        for pdf in batches:
            out = []
            for tr, tc in zip(pdf["tr"], pdf["tc"]):
                r0, r1 = tr * tile, min((tr + 1) * tile, l)
                c0, c1 = tc * tile, min((tc + 1) * tile, l)
                out.extend(eval_tile(r0, r1, c0, c1, tr != tc))
            if out:
                yield pd.concat(out, ignore_index=True)

    partial = tiles_df.mapInPandas(run, schema=schema)
    return (partial.groupBy("kdim", "i").agg(
        F.min("p").alias("p"),
        F.min_by("j", F.struct(F.col("p"), F.col("j"))).alias("j"),
    ))
