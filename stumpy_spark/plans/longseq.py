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
- tile size bounds per-task memory (tile_rows × tile_cols doubles);
  AQE coalesces the small final merge.

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
    n = len(T_arr)
    l = n - m + 1
    ez = kernels.excl_zone(m) if self_join else -1

    if normalize:
        prepA = kernels.preprocess(T_arr, m)
        prepB = prepA if self_join else kernels.preprocess(
            np.asarray(T_B, dtype=np.float64), m)
    else:
        # aamp preprocessing (aamp.py:38-55): finite mask + nan_to_num;
        # window square-sums for the p == 2 GEMM expansion
        def prep_abs(X):
            fin = kernels.rolling_isfinite(X, m)
            Xc = np.where(np.isfinite(X), X, 0.0)   # inf -> 0, not 2e308
            cs = np.concatenate(([0.0], np.cumsum(Xc * Xc)))
            return Xc, cs[m:] - cs[:-m], None, fin, None
        prepA = prep_abs(T_arr)
        prepB = prepA if self_join else prep_abs(
            np.asarray(T_B, dtype=np.float64))
    lb = len(prepB[3])
    sc = spark.sparkContext
    b = sc.broadcast((prepA, prepB, self_join))

    n_tiles = (l + tile - 1) // tile
    nb_tiles = (lb + tile - 1) // tile
    if self_join:
        tiles = [(r, c) for r in range(n_tiles)
                 for c in range(r, n_tiles)]
    else:
        tiles = [(r, c) for r in range(n_tiles) for c in range(nb_tiles)]

    # weighted work assignment (the Spark analog of the reference's
    # per-diagonal work weighting, core.py:2424-2466): tile work = actual
    # cell count (remainder tiles are smaller; diagonal-crossing tiles
    # lose the excluded band), greedily LPT-binned so every stage
    # partition carries near-equal work — no straggler tail at 100x
    def _work(r, c):
        h = min(tile, l - r * tile)
        w = min(tile, lb - c * tile)
        cells = h * w
        if self_join and r == c:
            cells = max(cells // 2, 1)          # upper-triangle + excl band
        return cells

    tiles_df = _binned_tiles_df(spark, tiles, _work)

    # Cache sub-block geometry: the distance sub-block (BR x BC doubles =
    # 2 MB) stays L2/L3-resident, so the rho->distance / masking / argmin
    # passes never stream a tile-sized array through DRAM.  Materializing
    # the full tile (8192^2 = 512 MB) is memory-bandwidth-bound and
    # measured ~20x slower on this host; the single-task kernel uses the
    # same cache-tiling for the same reason (kernels.py:650-653).
    BR, BC = 256, 1024

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        (Ta, mu, sig, fin, con), (Tb2, mub, sigb, finb, conb), sj = b.value
        windows = np.lib.stride_tricks.sliding_window_view(Ta, m)
        windows_B = windows if sj else \
            np.lib.stride_tricks.sliding_window_view(Tb2, m)
        # sub-blocks live in root-deferred space: shifted squared z-norm
        # distance ``X = D^2 - 2m`` when normalized (the GEMM on
        # scaled-centered operands emits it directly — zero per-cell
        # normalization passes, same fold as kernels._QTProvider.xdist),
        # D^2 / D^p otherwise.  min/top-k are monotone-invariant, so the
        # un-shift + root run once per emitted l-vector instead of per
        # cell.
        if normalize:
            inv = lambda x: np.sqrt(x + 2.0 * m)
        elif p == 2.0:
            inv = np.sqrt
        else:
            inv = lambda x: x ** (1.0 / p)
        if normalize:
            # scaled-centered tile rows/cols: Ax[i] = (w_i - mu_i) *
            # (-2/sig_i), Bx[j] = (w_j - mu_j)/sig_j so Ax @ Bx.T =
            # -2m*rho = D^2 - 2m.  Non-finite (mu == inf) and constant
            # (sig == 0) windows become zero rows -> X = 0, always
            # overwritten by the con/fin masks below.
            with np.errstate(divide="ignore"):
                okA = np.isfinite(mu) & (sig > 0.0)
                muA0 = np.where(okA, mu, 0.0)
                facA = np.where(okA, -2.0 / sig, 0.0)
                okB = np.isfinite(mub) & (sigb > 0.0)
                muB0 = np.where(okB, mub, 0.0)
                facB = np.where(okB, 1.0 / sigb, 0.0)
            thrx = kernels.config.P_NORM_THRESHOLD - 2.0 * m

            def xrows(r0, r1):
                return ((windows[r0:r1] - muA0[r0:r1, None])
                        * facA[r0:r1, None])

            def xcols(c0, c1):
                return ((windows_B[c0:c1] - muB0[c0:c1, None])
                        * facB[c0:c1, None])

        def dist_sub(wr_s, wc_s, a0, a1, b0, b1):
            """Squared/p-powered distance sub-block for absolute rows
            a0:a1 x cols b0:b1.  ``wr_s``/``wc_s`` are contiguous window
            slices (BLAS GEMM on strided sliding-window views is ~10x
            slower, kernels.py:633)."""
            if normalize:
                # one GEMM per sub-block: the scaled-centered operands
                # already carry the whole normalization, X = D^2 - 2m
                D = wr_s @ wc_s.T
                D[D < thrx] = -2.0 * m        # snap-to-zero, shifted
                ca = con[a0:a1]
                cb = conb[b0:b1]
                if ca.any() or cb.any():
                    cam = ca[:, None]
                    cbm = cb[None, :]
                    D[cam & cbm] = -2.0 * m   # D^2 == 0
                    D[cam ^ cbm] = -float(m)  # D^2 == m
                D[~fin[a0:a1], :] = np.inf
                D[:, ~finb[b0:b1]] = np.inf
            else:
                # mu/mub carry the window square-sums in the p-norm prep
                if p == 2.0:
                    QT = wr_s @ wc_s.T
                    D2 = mu[a0:a1][:, None] - 2.0 * QT + mub[b0:b1][None, :]
                    np.maximum(D2, 0.0, out=D2)
                    # GEMM expansion cancels catastrophically for near-dup
                    # pairs; recompute those few entries directly (exact),
                    # mirroring kernels.matrix_profile_absolute
                    scale = mu[a0:a1][:, None] + mub[b0:b1][None, :]
                    suspect = D2 <= 1e-8 * scale
                    if suspect.any():
                        si, sjx = np.nonzero(suspect)
                        diff = wr_s[si] - wc_s[sjx]
                        D2[si, sjx] = np.einsum("ij,ij->i", diff, diff)
                    D = D2
                else:
                    acc = np.zeros((a1 - a0, b1 - b0))
                    for o in range(m):
                        acc += np.abs(Ta[a0 + o:a1 + o, None]
                                      - Tb2[None, b0 + o:b1 + o]) ** p
                    D = acc
                D[~fin[a0:a1], :] = np.inf
                D[:, ~finb[b0:b1]] = np.inf
            if sj and b0 <= a1 - 1 + ez and a0 - ez <= b1 - 1:
                for ra in range(a0, a1):
                    lo = max(b0, ra - ez) - b0
                    hi = min(b1, ra + ez + 1) - b0
                    if lo < hi:
                        D[ra - a0, lo:hi] = np.inf
            return D

        def upd(pv, jv, lo, vals, js):
            """First-strictly-smaller running-min update on slice [lo:...]
            — sub-blocks iterate in ascending neighbor order, so this
            reproduces the argmin-first-index tie rule."""
            sl_p = pv[lo:lo + len(vals)]
            sl_j = jv[lo:lo + len(vals)]
            better = vals < sl_p
            sl_p[better] = vals[better]
            sl_j[better] = js[better]

        def eval_tile_top1(r0, r1, c0, c1, emit_cols):
            nr, nc = r1 - r0, c1 - c0
            if normalize:
                wr = xrows(r0, r1)
                wc_ = xcols(c0, c1)
            else:
                wr = np.ascontiguousarray(windows[r0:r1])
                wc_ = wr if (sj and r0 == c0) else \
                    np.ascontiguousarray(windows_B[c0:c1])
            bp = np.full(nr, np.inf)
            bj = np.full(nr, -1, dtype=np.int64)
            if sj:
                bpl = np.full(nr, np.inf)
                bjl = np.full(nr, -1, dtype=np.int64)
                bpr = np.full(nr, np.inf)
                bjr = np.full(nr, -1, dtype=np.int64)
            if emit_cols:
                cp = np.full(nc, np.inf)
                cj = np.full(nc, -1, dtype=np.int64)
            for sr0 in range(0, nr, BR):
                sr1 = min(sr0 + BR, nr)
                a0, a1 = r0 + sr0, r0 + sr1
                rr = np.arange(sr1 - sr0)
                rows_abs = np.arange(a0, a1)
                for sc0 in range(0, nc, BC):
                    sc1 = min(sc0 + BC, nc)
                    b0, b1 = c0 + sc0, c0 + sc1
                    D = dist_sub(wr[sr0:sr1], wc_[sc0:sc1], a0, a1, b0, b1)
                    j = np.argmin(D, axis=1)
                    v = D[rr, j]
                    jab = j + b0
                    upd(bp, bj, sr0, v, jab)
                    if sj:
                        if b0 >= a1:          # strictly right of all rows
                            upd(bpr, bjr, sr0, v, jab)
                        elif b1 <= a0:        # strictly left
                            upd(bpl, bjl, sr0, v, jab)
                        else:                 # diagonal-crossing sub-block
                            left_mask = np.arange(b0, b1)[None, :] \
                                < rows_abs[:, None]
                            DL = np.where(left_mask, D, np.inf)
                            DR = np.where(~left_mask, D, np.inf)
                            jl = np.argmin(DL, axis=1)
                            jr = np.argmin(DR, axis=1)
                            upd(bpl, bjl, sr0, DL[rr, jl], jl + b0)
                            upd(bpr, bjr, sr0, DR[rr, jr], jr + b0)
                    if emit_cols:
                        cc = np.arange(sc1 - sc0)
                        i2 = np.argmin(D, axis=0)
                        v2 = D[i2, cc]
                        upd(cp, cj, sc0, v2, i2 + a0)
            out = {
                "i": np.arange(r0, r1), "p": inv(bp),
                "j": np.where(np.isfinite(bp), bj, -1),
            }
            if sj:
                out.update({
                    "pl": inv(bpl),
                    "jl": np.where(np.isfinite(bpl), bjl, -1),
                    "pr": inv(bpr),
                    "jr": np.where(np.isfinite(bpr), bjr, -1),
                })
            else:
                # ignore_trivial=False contract: left/right profiles are
                # meaningless for AB-joins — report inf / -1
                out.update({
                    "pl": np.full(nr, np.inf),
                    "jl": np.full(nr, -1, dtype=np.int64),
                    "pr": np.full(nr, np.inf),
                    "jr": np.full(nr, -1, dtype=np.int64),
                })
            frames = [pd.DataFrame(out)]
            if emit_cols:
                # off-diagonal upper tile: every col's neighbors here are
                # left neighbors (j > i for all cells)
                cps = inv(cp)
                frames.append(pd.DataFrame({
                    "i": np.arange(c0, c1), "p": cps,
                    "j": np.where(np.isfinite(cp), cj, -1),
                    "pl": cps,
                    "jl": np.where(np.isfinite(cp), cj, -1),
                    "pr": np.full(nc, np.inf),
                    "jr": np.full(nc, -1, dtype=np.int64),
                }))
            return frames

        def _pad_cands(vals, jabs, kk):
            """Pad per-row candidate blocks to exactly k columns."""
            nr = vals.shape[0]
            if kk < k:
                vals = np.concatenate(
                    [vals, np.full((nr, k - kk), np.inf)], axis=1)
                jabs = np.concatenate(
                    [jabs, np.full((nr, k - kk), -1, dtype=np.int64)],
                    axis=1)
            return vals, jabs

        def _merge_tile_topk(val_blocks, j_blocks, i0, n_idx):
            """Exact per-row top-k merge of padded candidate blocks via
            one global lexsort on (row, val, j) — ties to the smaller j,
            matching core._merge_topk_PI."""
            vals = np.concatenate(val_blocks, axis=1)
            jabs = np.concatenate(j_blocks, axis=1)
            C = vals.shape[1]
            rows = np.repeat(np.arange(n_idx), C)
            order = np.lexsort((jabs.ravel(), vals.ravel(), rows))
            vs = vals.ravel()[order].reshape(n_idx, C)[:, :k]
            js = jabs.ravel()[order].reshape(n_idx, C)[:, :k]
            return pd.DataFrame({
                "i": np.repeat(np.arange(i0, i0 + n_idx), min(k, C)),
                "p": inv(vs.ravel()),
                "j": np.where(np.isfinite(vs.ravel()), js.ravel(), -1),
            })

        def eval_tile_topk(r0, r1, c0, c1, emit_cols):
            nr, nc = r1 - r0, c1 - c0
            if normalize:
                wr = xrows(r0, r1)
                wc_ = xcols(c0, c1)
            else:
                wr = np.ascontiguousarray(windows[r0:r1])
                wc_ = wr if (sj and r0 == c0) else \
                    np.ascontiguousarray(windows_B[c0:c1])
            rv, rj = [], []
            cv, cjn = [], []
            for sr0 in range(0, nr, BR):
                sr1 = min(sr0 + BR, nr)
                a0, a1 = r0 + sr0, r0 + sr1
                row_v = []
                row_j = []
                for sc0 in range(0, nc, BC):
                    sc1 = min(sc0 + BC, nc)
                    b0, b1 = c0 + sc0, c0 + sc1
                    D = dist_sub(wr[sr0:sr1], wc_[sc0:sc1], a0, a1, b0, b1)
                    kk = min(k, D.shape[1])
                    # tie-aware selection: plain argpartition keeps an
                    # arbitrary subset of exactly-tied boundary values
                    # and can drop a tied smaller-j candidate before the
                    # (value, j) merge (kernels.topk_tie_aware docstring)
                    vals, jcols = kernels.topk_tie_aware(D, kk)
                    v_p, j_p = _pad_cands(vals, jcols + b0, kk)
                    row_v.append(v_p)
                    row_j.append(j_p)
                    if emit_cols:
                        kkc = min(k, D.shape[0])
                        valsc, icols = kernels.topk_tie_aware(D.T, kkc)
                        v_c, j_c = _pad_cands(valsc, icols + a0, kkc)
                        cv.append((sc0, v_c))
                        cjn.append((sc0, j_c))
                rv.append(np.concatenate(row_v, axis=1))
                rj.append(np.concatenate(row_j, axis=1))
            frames = [_merge_tile_topk(
                [np.concatenate(rv, axis=0)],
                [np.concatenate(rj, axis=0)], r0, nr)]
            if emit_cols:
                # regroup col candidates: one (nc, k) block per row
                # strip; the inner loop appended exactly n_col_blocks
                # entries per strip, in strip-major order
                n_col_blocks = (nc + BC - 1) // BC
                per_strip_v = []
                per_strip_j = []
                for s0 in range(0, len(cv), n_col_blocks):
                    sv = np.full((nc, k), np.inf)
                    sjb = np.full((nc, k), -1, dtype=np.int64)
                    for (sc0, v_c), (_, j_c) in zip(
                            cv[s0:s0 + n_col_blocks],
                            cjn[s0:s0 + n_col_blocks]):
                        sv[sc0:sc0 + v_c.shape[0]] = v_c
                        sjb[sc0:sc0 + j_c.shape[0]] = j_c
                    per_strip_v.append(sv)
                    per_strip_j.append(sjb)
                frames.append(_merge_tile_topk(per_strip_v, per_strip_j,
                                               c0, nc))
            return frames

        eval_tile = eval_tile_topk if k > 1 else eval_tile_top1
        for pdf in batches:
            out = []
            for tr, tc in zip(pdf["tr"], pdf["tc"]):
                r0, r1 = tr * tile, min((tr + 1) * tile, l)
                c0, c1 = tc * tile, min((tc + 1) * tile, lb)
                out.extend(eval_tile(r0, r1, c0, c1, sj and tr != tc))
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

    if normalize:
        prep = [kernels.preprocess(Ts[dim], m) for dim in range(d)]
    else:
        def prep_abs(X):
            fin = kernels.rolling_isfinite(X, m)
            Xc = np.where(np.isfinite(X), X, 0.0)
            cs = np.concatenate(([0.0], np.cumsum(Xc * Xc)))
            return Xc, cs[m:] - cs[:-m], None, fin, None
        prep = [prep_abs(Ts[dim]) for dim in range(d)]
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
                Tc, mu, sig, fin, con = prep_w[dim]
                if norm:
                    rho = kernels._pearson_block(
                        wr_list[dim], wc_list[dim], mu[a0:a1], sig[a0:a1],
                        mu[b0:b1], sig[b0:b1], m)
                    D2 = np.abs(2.0 * m * (1.0 - rho))
                    ca = con[a0:a1][:, None]
                    cb = con[b0:b1][None, :]
                    D2 = np.where(ca & cb, 0.0, D2)
                    D2 = np.where(ca ^ cb, float(m), D2)
                else:
                    w2 = mu          # square-sums in the p-norm prep
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
