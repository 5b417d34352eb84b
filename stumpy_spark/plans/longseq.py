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
- a top-1 tile is one ``kernels._top1_sweep`` — the same call the
  single-task ``kernels.matrix_profile(_absolute)`` and
  ``anytime.multi_matrix_profile`` make.  The route is decided once per
  series on the driver: a top-1 z-norm plan over integer series the
  compiled kernel takes (``kernels._c_source``: integral, finite,
  magnitude-bounded, no constant window) broadcasts the series and
  their window stats, and every tile runs the kernel's diagonal
  recurrence over its block — bit-identical to the single-task profile
  whatever the tiling.  Any other plan (floats, NaN, p-norm, top-k,
  ``mstumped``) runs the numpy GEMM sweep over a tile source built on
  the tile's row and column windows only (``mstumped``: one per
  dimension, combined by ``kernels._MultiSource``), so per-task memory
  is O(tile × m) operands plus one 128-square cache tile (a 128 × tile
  strip for top-k); AQE coalesces the small final merge.
- the plan carries no rows through Python but Arrow batches: the tile
  bins are the rows of a ``spark.range`` (one per partition) and each
  partition's ``mapInArrow`` returns its tiles' partials as one Arrow
  batch built from numpy arrays (see :func:`_tile_plan`).

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

import functools

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import kernels

_PARTIAL_SCHEMA = ("idx long, p double, j long, pl double, jl long, "
                   "pr double, jr long")

_PARTIAL_SCHEMA_TOPK = "idx long, p double, j long"


def _profile_part(i0, prof) -> dict:
    """Partial top-1 columns from a ``kernels._top1_sweep`` profile
    tuple."""
    P, I, PL, IL, PR, IR = prof
    return {"idx": np.arange(i0, i0 + len(P)), "p": P, "j": I,
            "pl": PL, "jl": IL, "pr": PR, "jr": IR}


def _topk_part(src, i0, vals, js) -> dict:
    """Partial top-k columns: per-row candidates in root-deferred
    space."""
    nr, kk = vals.shape
    return {"idx": np.repeat(np.arange(i0, i0 + nr), kk),
            "p": src.dist(vals.ravel()),
            "j": np.where(np.isfinite(vals.ravel()), js.ravel(), -1)}


def _tile_plan(spark: SparkSession, tiles, work, eval_tile,
               schema: str) -> DataFrame:
    """Partial rows of ``eval_tile(tr, tc)`` over every (tr, tc) tile,
    run across the cluster, as a DataFrame of ``schema``.

    Greedy longest-processing-time binning over actual per-tile work
    (``work(tr, tc)``) is the Spark analog of the reference's
    per-diagonal work weighting (core.py:2424-2466): every stage
    partition carries near-equal work — no straggler tail at 100x.  Bin
    b is row b of ``spark.range(n_bins, numPartitions=n_bins)``, whose
    partition b holds exactly that row, so each partition runs one bin;
    a hash repartition would collide balanced bins into uneven
    partitions.  ``eval_tile`` returns a list of column-name → numpy
    array dicts, and each partition's ``mapInArrow`` yields its bin's
    partials as one Arrow batch built from them.
    """
    import heapq
    n_bins = min(len(tiles), spark.sparkContext.defaultParallelism * 4)
    order = sorted(range(len(tiles)), key=lambda t: -work(*tiles[t]))
    heap = [(0, bi) for bi in range(n_bins)]
    heapq.heapify(heap)
    bins = [[] for _ in range(n_bins)]
    for t in order:
        load, bi = heapq.heappop(heap)
        bins[bi].append(tiles[t])
        heapq.heappush(heap, (load + work(*tiles[t]), bi))

    def run(batches):
        import pyarrow as pa
        for batch in batches:
            for b in batch.column(0).to_pylist():
                parts = [part for tr, tc in bins[b]
                         for part in eval_tile(tr, tc)]
                yield pa.RecordBatch.from_pydict(
                    {c: np.concatenate([part[c] for part in parts])
                     for c in parts[0]})

    return spark.range(n_bins, numPartitions=n_bins).mapInArrow(run, schema)


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

    Returns DataFrame (idx, P, I, PL, IL, PR, IR) for k == 1, else
    (idx, P: array<double>, I: array<long>) with rows sorted ascending by
    distance (ties to the smaller index).  ``idx`` is the row position:
    Spark resolves column names case-insensitively, so a column ``i``
    beside ``I`` could be neither selected by name nor written to
    parquet.
    """
    T_arr = np.asarray(T_arr, dtype=np.float64)
    self_join = T_B is None
    l = len(T_arr) - m + 1
    lb = l if self_join else len(T_B) - m + 1
    ez = kernels.excl_zone(m) if self_join else -1

    # the route, decided once before the tiles fan out: the compiled
    # kernel's source (the series and their window stats) when it takes
    # a top-1 z-norm plan, else the z-norm (stumped) or aamp
    # (aamped.py:38-55) preprocessing; O(n) arrays, broadcast to every
    # task
    shared = kernels._c_source(T_arr, m, T_B) if normalize and k == 1 \
        else None
    if shared is None:
        # both sides of a p-norm AB-join take the same shift
        prep = kernels.preprocess if normalize else functools.partial(
            kernels._preprocess_abs, shift=kernels._int_shift(T_arr))
        prepA = prep(T_arr, m)
        prepB = prepA if self_join else prep(
            np.asarray(T_B, dtype=np.float64), m)
        shared = (prepA, prepB)
    b = spark.sparkContext.broadcast(shared)

    n_tiles = (l + tile - 1) // tile
    nb_tiles = (lb + tile - 1) // tile
    if self_join:
        tiles = [(r, c) for r in range(n_tiles)
                 for c in range(r, n_tiles)]
    else:
        tiles = [(r, c) for r in range(n_tiles) for c in range(nb_tiles)]

    # tile work = actual cell count (remainder tiles are smaller; a
    # diagonal tile evaluates its upper triangle only)
    def _work(r, c):
        h = min(tile, l - r * tile)
        w = min(tile, lb - c * tile)
        cells = h * w
        if self_join and r == c:
            cells = max(cells // 2, 1)
        return cells

    def source(r0, r1, c0, c1):
        """The compiled kernel's whole-series source, or a tile-distance
        source over this tile's row and column windows only: O(tile * m)
        per task."""
        src = b.value
        if isinstance(src, kernels._CSource):
            return src
        prep_a, prep_b = src
        if normalize:
            return kernels._QTProvider(prep_a, prep_b, m, (r0, r1),
                                       (c0, c1))
        return kernels._PNormSource(prep_a, prep_b, m, p, (r0, r1),
                                    (c0, c1))

    def bounds(tr, tc):
        return (tr * tile, min((tr + 1) * tile, l),
                tc * tile, min((tc + 1) * tile, lb))

    def tile_top1(tr, tc):
        r0, r1, c0, c1 = bounds(tr, tc)
        rows, cols = kernels._top1_sweep(source(r0, r1, c0, c1),
                                         r0, r1, c0, c1, ez)
        parts = [_profile_part(r0, rows)]
        if cols is not None:
            parts.append(_profile_part(c0, cols))
        return parts

    def tile_topk(tr, tc):
        # 128-row strips x the whole tile width: a strip's row top-k is
        # already the tile's; column candidates (left neighbors of a tile
        # strictly above the diagonal) merge across strips
        r0, r1, c0, c1 = bounds(tr, tc)
        src = source(r0, r1, c0, c1)
        emit_cols = ez >= 0 and c0 >= r1
        parts, col_v, col_j = [], [], []
        for a0 in range(r0, r1, 128):
            a1 = min(a0 + 128, r1)
            D = src.xdist(a0, a1, c0, c1)
            if ez >= 0:
                kernels._mask_band(D, a0, c0, ez)
            vals, js = kernels.topk_tie_aware(D, min(k, c1 - c0))
            parts.append(_topk_part(src, a0, vals, js + c0))
            if emit_cols:
                vals, js = kernels.topk_tie_aware(D.T, min(k, a1 - a0))
                col_v.append(vals)
                col_j.append(js + a0)
        if emit_cols:
            # per-column top-k of the strips' candidates: they lie in
            # ascending i among equal values, so the tie-aware selection
            # keeps the smaller i
            vals = np.concatenate(col_v, axis=1)
            js = np.concatenate(col_j, axis=1)
            top, pos = kernels.topk_tie_aware(vals, min(k, vals.shape[1]))
            parts.append(_topk_part(
                src, c0, top, np.take_along_axis(js, pos, axis=1)))
        return parts

    if k > 1:
        partial = _tile_plan(spark, tiles, _work, tile_topk,
                             _PARTIAL_SCHEMA_TOPK)
        # global top-k per row: every (i, j) candidate is emitted exactly
        # once, so sort + slice is the complete merge (ties -> smaller j)
        pad = F.array_repeat(
            F.struct(F.lit(float("inf")).alias("p"),
                     F.lit(-1).cast("long").alias("j")), k)
        topk = (partial.groupBy("idx")
                .agg(F.slice(F.concat(F.array_sort(F.collect_list(
                    F.struct("p", "j"))), pad), 1, k).alias("_tk")))
        return topk.select(
            "idx",
            F.transform("_tk", lambda x: x["p"]).alias("P"),
            F.transform("_tk", lambda x: F.when(
                x["p"] != float("inf"), x["j"]).otherwise(F.lit(-1)))
            .alias("I"))

    partial = _tile_plan(spark, tiles, _work, tile_top1, _PARTIAL_SCHEMA)
    # final commutative merge (the reference's gather + _merge_topk_PI,
    # stumped.py:181-197, as a Catalyst aggregation)
    return (partial.groupBy("idx").agg(
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
    pab = distributed_matrix_profile(
        spark, T_A, m, tile=tile, T_B=T_B, normalize=normalize,
        p=p).select("idx", "P")
    pba = distributed_matrix_profile(
        spark, T_B, m, tile=tile, T_B=T_A, normalize=normalize,
        p=p).select("idx", "P")
    if custom_func is not None:
        va, vb = (prof.orderBy("idx").select("P").toArrow().column("P")
                  .to_numpy() for prof in (pab, pba))
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
        row = prof.select(F.lit(int(m)).alias("m"),
                          F.col("idx").alias("i"), "P")
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

    ``Ts``: (d, n) array, rows are dimensions.  Each tile runs
    ``kernels._top1_sweep`` over a ``kernels._MultiSource`` built on the
    tile's row and column windows only (O(tile × m × d) per task) — the
    same source and sweep as ``anytime.multi_matrix_profile``: per cell
    the d distances are include-pinned, directionally sorted and
    cumulatively averaged (mstump.py:534-546), then reduced to a per-row
    top-1 per dimensionality level.  Returns DataFrame (kdim, i, p, j):
    row kdim uses the kdim+1 best- (or worst-, ``discords=True``)
    aligned dimensions.

    ``normalize=False`` is the maamped twin (p = 2 only on this path —
    the general-p maamp stays in ``anytime.multi_matrix_profile``).

    The multi-dim cell value is symmetric in (i, j), so tiles cover the
    upper triangle only and each off-diagonal tile also emits column
    candidates — the same halved-work plan as the single-dim path.
    """
    Ts = np.asarray(Ts, dtype=np.float64)
    d, n = Ts.shape
    l = n - m + 1
    ez = kernels.excl_zone(m)

    prep_fn = kernels.preprocess if normalize else kernels._preprocess_abs
    b = spark.sparkContext.broadcast([prep_fn(X, m) for X in Ts])

    n_tiles = (l + tile - 1) // tile
    tiles = [(r, c) for r in range(n_tiles) for c in range(r, n_tiles)]

    def _work(r, c):
        h = min(tile, l - r * tile)
        w = min(tile, l - c * tile)
        cells = h * w
        if r == c:
            cells = max(cells // 2, 1)
        return cells * d

    def part(i0, prof):
        P, I = prof[:2]
        nr = P.shape[1]
        return {"kdim": np.repeat(np.arange(d), nr),
                "i": np.tile(np.arange(i0, i0 + nr), d),
                "p": P.ravel(), "j": I.ravel()}

    def tile_top1(tr, tc):
        r0, r1 = tr * tile, min((tr + 1) * tile, l)
        c0, c1 = tc * tile, min((tc + 1) * tile, l)
        src = kernels._MultiSource(b.value, m, normalize, include=include,
                                   discords=discords, rows=(r0, r1),
                                   cols=(c0, c1))
        rows, cols = kernels._top1_sweep(src, r0, r1, c0, c1, ez)
        parts = [part(r0, rows)]
        if cols is not None:
            parts.append(part(c0, cols))
        return parts

    partial = _tile_plan(spark, tiles, _work, tile_top1,
                         "kdim long, i long, p double, j long")
    return (partial.groupBy("kdim", "i").agg(
        F.min("p").alias("p"),
        F.min_by("j", F.struct(F.col("p"), F.col("j"))).alias("j"),
    ))
