"""Spark operators for motif/discord/segmentation/snippet/chain mining.

Each is a mapInPandas over sequences (one row = one series, zero shuffle),
closing over the numpy kernels in :mod:`stumpy_spark.mining`.  MPdist and
ostinato take *pairs/groups* of sequences: pairs are built with a self-join
on a pre-shuffled id relation; groups use groupBy().applyInPandas (the
group is the reference's "list of series" unit, ostinato.py:148-157).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import kernels, mining

_MOTIF_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("motif_rank", T.IntegerType()),
    T.StructField("motif_idx", T.LongType()),
    T.StructField("match_idxs", T.ArrayType(T.LongType())),
    T.StructField("match_dists", T.ArrayType(T.DoubleType())),
])


def motifs(df: DataFrame, m: int, max_motifs: int = 3,
           max_matches: int = 10, max_distance=None, cutoff=None,
           min_neighbors: int = 1, id_col: str = "doc_id",
           tokens_col: str = "tokens") -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, toks in zip(pdf[id_col], pdf[tokens_col]):
                a = np.asarray(toks, dtype=np.float64)
                if len(a) < 2 * m:
                    continue
                P = kernels.matrix_profile(a, m)[0][:, 0]
                md, mi = mining.motifs(a, P, m, max_motifs=max_motifs,
                                       max_matches=max_matches,
                                       max_distance=max_distance,
                                       cutoff=cutoff,
                                       min_neighbors=min_neighbors)
                for rank, (ds, isx) in enumerate(zip(md, mi)):
                    rows.append((did, rank, isx[0], isx, ds))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "doc_id", "motif_rank", "motif_idx", "match_idxs",
                    "match_dists"])

    return df.select(id_col, tokens_col).mapInPandas(
        run, schema=_MOTIF_SCHEMA)


_FLUSS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("regimes", T.ArrayType(T.LongType())),
    T.StructField("cac_min", T.DoubleType()),
])


def fluss(df: DataFrame, m: int, n_regimes: int = 2,
          excl_factor: int = 2, id_col: str = "doc_id",
          tokens_col: str = "tokens") -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, toks in zip(pdf[id_col], pdf[tokens_col]):
                a = np.asarray(toks, dtype=np.float64)
                if len(a) < 2 * m or len(a) < 2 * m * excl_factor + 2:
                    continue
                I = kernels.matrix_profile(a, m)[1][:, 0]
                c, regs = mining.fluss(I, L=m, n_regimes=n_regimes,
                                       excl_factor=excl_factor)
                rows.append((did, [int(r) for r in regs], float(c.min())))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "doc_id", "regimes", "cac_min"])

    return df.select(id_col, tokens_col).mapInPandas(
        run, schema=_FLUSS_SCHEMA)


_MPDIST_SCHEMA = T.StructType([
    T.StructField("id_a", T.StringType()),
    T.StructField("id_b", T.StringType()),
    T.StructField("mpdist", T.DoubleType()),
])


def mpdist_pairs(df: DataFrame, pairs: DataFrame, m: int,
                 percentage: float = 0.05, normalize: bool = True,
                 id_col: str = "doc_id",
                 tokens_col: str = "tokens", custom_func=None,
                 mp_func=None) -> DataFrame:
    """MPdist for explicit (id_a, id_b) pairs.

    The token arrays are joined onto the pair relation (two hash joins on
    doc id — high-cardinality, unskewed), then each pair is one kernel
    call.  At scale, pre-bucket df by doc_id so both joins are
    shuffle-free.  ``custom_func(P_ABBA) -> float`` replaces the
    k-th-smallest selection (the core.py:3276-3312 hook, threaded to
    :func:`mining.mpdist` with the unsorted AB-first concatenation);
    ``mp_func(T, m, T_B) -> 1-D AB profile`` replaces the profile
    kernel itself (core.py:2737-2774)."""
    a = df.select(F.col(id_col).alias("id_a"),
                  F.col(tokens_col).alias("_toks_a"))
    b = df.select(F.col(id_col).alias("id_b"),
                  F.col(tokens_col).alias("_toks_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ia, ib, ta_, tb_ in zip(pdf["id_a"], pdf["id_b"],
                                        pdf["_toks_a"], pdf["_toks_b"]):
                ta = np.asarray(ta_, dtype=np.float64)
                tb = np.asarray(tb_, dtype=np.float64)
                if min(len(ta), len(tb)) < m:
                    continue
                d = mining.mpdist(ta, tb, m, percentage=percentage,
                                  normalize=normalize,
                                  custom_func=custom_func, mp_func=mp_func)
                rows.append((ia, ib, d))
            if rows:
                yield pd.DataFrame(rows, columns=["id_a", "id_b",
                                                  "mpdist"])

    return joined.mapInPandas(run, schema=_MPDIST_SCHEMA)


_SNIPPET_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("snippet_rank", T.IntegerType()),
    T.StructField("snippet_idx", T.LongType()),
    T.StructField("fraction", T.DoubleType()),
    T.StructField("area", T.DoubleType()),
])


def snippets(df: DataFrame, m: int, k: int = 2, id_col: str = "doc_id",
             tokens_col: str = "tokens") -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, toks in zip(pdf[id_col], pdf[tokens_col]):
                a = np.asarray(toks, dtype=np.float64)
                if len(a) < 2 * m:
                    continue
                idxs, fracs, areas = mining.snippets(a, m, k)
                for rank in range(len(idxs)):
                    rows.append((did, rank, int(idxs[rank]),
                                 float(fracs[rank]), float(areas[rank])))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "doc_id", "snippet_rank", "snippet_idx", "fraction",
                    "area"])

    return df.select(id_col, tokens_col).mapInPandas(
        run, schema=_SNIPPET_SCHEMA)


_CHAIN_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("chain", T.ArrayType(T.LongType())),
    T.StructField("chain_len", T.IntegerType()),
])


def longest_chain(df: DataFrame, m: int, id_col: str = "doc_id",
                  tokens_col: str = "tokens") -> DataFrame:
    """Longest unanchored time-series chain per sequence (allc)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, toks in zip(pdf[id_col], pdf[tokens_col]):
                a = np.asarray(toks, dtype=np.float64)
                if len(a) < 2 * m:
                    continue
                _, _, IL, IR = kernels.matrix_profile(a, m)
                _, longest = mining.allc(IL, IR)
                rows.append((did, [int(x) for x in longest],
                             len(longest)))
            if rows:
                yield pd.DataFrame(rows, columns=["doc_id", "chain",
                                                  "chain_len"])

    return df.select(id_col, tokens_col).mapInPandas(
        run, schema=_CHAIN_SCHEMA)


_OSTINATO_SCHEMA = T.StructType([
    T.StructField("group", T.StringType()),
    T.StructField("radius", T.DoubleType()),
    T.StructField("doc_id", T.StringType()),
    T.StructField("subseq_idx", T.LongType()),
])


def ostinato(df: DataFrame, m: int, group_col: str = "source",
             id_col: str = "doc_id", tokens_col: str = "tokens",
             max_group_size: int = 64) -> DataFrame:
    """Consensus motif per group of sequences (groupBy + applyInPandas;
    the group is the reference's list-of-series unit, ostinato.py:148-157).

    Scale bound: ``groupBy().applyInPandas`` concentrates a whole group
    into one task's pandas frame, which OOMs/straggles on zipf-skewed
    group keys at 100x.  Groups larger than ``max_group_size`` are
    therefore reduced to a deterministic evenly-spaced subsample of the
    id-sorted members (loudly, via an emitted ``n_used``/``n_group``
    count so truncation is never silent) — the consensus motif over a
    spread sample is the documented approximation.  Pass
    ``max_group_size=None`` to disable the cap.
    """
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        n_group = len(pdf)
        if max_group_size is not None and n_group > max_group_size:
            pick = np.linspace(0, n_group - 1, max_group_size).astype(int)
            pdf = pdf.iloc[np.unique(pick)]
        Ts = [np.asarray(t, dtype=np.float64) for t in pdf[tokens_col]]
        ids = list(pdf[id_col])
        keep = [i for i, t in enumerate(Ts) if len(t) >= 2 * m]
        if len(keep) < 2:
            return pd.DataFrame(columns=["group", "radius", "doc_id",
                                         "subseq_idx", "n_used",
                                         "n_group"])
        Ts = [Ts[i] for i in keep]
        ids = [ids[i] for i in keep]
        rad, ts_i, idx = mining.ostinato(Ts, m)
        return pd.DataFrame([(pdf[group_col].iloc[0], rad, ids[ts_i],
                              idx, len(keep), n_group)],
                            columns=["group", "radius", "doc_id",
                                     "subseq_idx", "n_used", "n_group"])

    schema = T.StructType(list(_OSTINATO_SCHEMA.fields)
                          + [T.StructField("n_used", T.IntegerType()),
                             T.StructField("n_group", T.IntegerType())])
    return (df.select(group_col, id_col, tokens_col)
            .groupBy(group_col).applyInPandas(run, schema=schema))


_STIMP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("m", T.IntegerType()),
    T.StructField("min_p", T.DoubleType()),
    T.StructField("max_p", T.DoubleType()),
])


def stimp(df: DataFrame, m_values: list[int], id_col: str = "doc_id",
          tokens_col: str = "tokens") -> DataFrame:
    """Pan matrix profile summary over window sizes, computed in the
    reference's BFS (anytime) order."""
    order = mining.bfs_order(list(m_values))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, toks in zip(pdf[id_col], pdf[tokens_col]):
                a = np.asarray(toks, dtype=np.float64)
                pan = mining.stimp_pan(a, order)
                for m, P in pan.items():
                    finite = P[np.isfinite(P)]
                    if not len(finite):
                        continue
                    rows.append((did, m, float(finite.min()),
                                 float(finite.max())))
            if rows:
                yield pd.DataFrame(rows, columns=["doc_id", "m", "min_p",
                                                  "max_p"])

    return df.select(id_col, tokens_col).mapInPandas(
        run, schema=_STIMP_SCHEMA)


_MSTUMP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("kdim", T.IntegerType()),
    T.StructField("min_p", T.DoubleType()),
    T.StructField("motif_i", T.LongType()),
    T.StructField("motif_j", T.LongType()),
])


def _dims_matrix(dims, m: int):
    """One multi-dim doc as a (d, n) float64 array, or None — the doc is
    skipped — when it has no dimensions, they differ in length, or they
    are shorter than 2m."""
    rows = [np.asarray(x, dtype=np.float64) for x in dims]
    if (not rows or any(r.ndim != 1 or len(r) != len(rows[0]) for r in rows)
            or len(rows[0]) < 2 * m):
        return None
    return np.stack(rows)


def mstump(df: DataFrame, m: int, id_col: str = "doc_id",
           dims_col: str = "dims", include=None,
           discords: bool = False) -> DataFrame:
    """Multi-dimensional matrix profile per sequence.

    ``dims_col`` holds array<array<double>> — rows are dimensions
    (mstump.py:1114-1287 semantics).  Emits, per dimensionality level k,
    the k-dim motif (min profile value + positions).  ``include`` pins
    dimensions into every subspace (constrained search); ``discords``
    aggregates the k+1 worst-aligned dimensions instead
    (mstump.py:534-541 semantics).
    """
    from ..anytime import multi_matrix_profile

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, dims in zip(pdf[id_col], pdf[dims_col]):
                Ts = _dims_matrix(dims, m)
                if Ts is None:
                    continue
                P, I = multi_matrix_profile(Ts, m, include=include,
                                            discords=discords)
                for kdim in range(P.shape[0]):
                    finite = np.isfinite(P[kdim])
                    if not finite.any():
                        continue
                    mi = int(np.argmin(np.where(finite, P[kdim], np.inf)))
                    rows.append((did, kdim + 1, float(P[kdim, mi]), mi,
                                 int(I[kdim, mi])))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "doc_id", "kdim", "min_p", "motif_i", "motif_j"])

    return df.select(id_col, dims_col).mapInPandas(
        run, schema=_MSTUMP_SCHEMA)


_SCRUMP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("n_windows", T.IntegerType()),
    T.StructField("approx_min_p", T.DoubleType()),
    T.StructField("approx_motif_i", T.LongType()),
])


def scrump(df: DataFrame, m: int, percentage: float = 0.1,
           pre_scrump: bool = True, rounds: int = 1,
           id_col: str = "doc_id", tokens_col: str = "tokens") -> DataFrame:
    """Anytime approximate matrix profile summary (SCRIMP++ semantics):
    each sequence processes ``rounds`` random diagonal subsets of size
    ``percentage`` — the cheap preview tier for rollup pipelines."""
    from ..anytime import Scrump

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, toks in zip(pdf[id_col], pdf[tokens_col]):
                a = np.asarray(toks, dtype=np.float64)
                if len(a) < 2 * m:
                    continue
                sc = Scrump(a, m, percentage=percentage,
                            pre_scrump=pre_scrump)
                for _ in range(rounds):
                    sc.update()
                finite = np.isfinite(sc.P_)
                if not finite.any():
                    continue
                mi = int(np.argmin(np.where(finite, sc.P_, np.inf)))
                rows.append((did, len(sc.P_), float(sc.P_[mi]), mi))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "doc_id", "n_windows", "approx_min_p",
                    "approx_motif_i"])

    return df.select(id_col, tokens_col).mapInPandas(
        run, schema=_SCRUMP_SCHEMA)


_MMOTIFS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("motif_rank", T.IntegerType()),
    T.StructField("motif_i", T.LongType()),
    T.StructField("nn_i", T.LongType()),
    T.StructField("kdim", T.LongType()),
    T.StructField("dims", T.ArrayType(T.LongType())),
])


def mmotifs(df: DataFrame, m: int, max_motifs: int = 1,
            id_col: str = "doc_id", dims_col: str = "dims",
            include=None, discords: bool = False) -> DataFrame:
    """Multi-dimensional motif discovery per sequence — the reference's
    ``mmotifs`` (mmotifs.py:22-265, default parameters): the motif pair
    on the MDL-optimal dimensionality, iterated with exclusion.  Emits
    one row per (sequence, motif rank) with the selected dimensionality
    and subspace dimensions (in subspace-selection order)."""
    from ..anytime import mmotifs as _mmotifs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, dims in zip(pdf[id_col], pdf[dims_col]):
                Ts = _dims_matrix(dims, m)
                if Ts is None:
                    continue
                res = _mmotifs(Ts, m, max_motifs=max_motifs,
                               include=include, discords=discords)
                for rank, (mi, ni, kdim, sdims) in enumerate(res):
                    rows.append((did, rank, mi, ni, kdim,
                                 [int(x) for x in sdims]))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "doc_id", "motif_rank", "motif_i", "nn_i", "kdim",
                    "dims"])

    return df.select(id_col, dims_col).mapInPandas(
        run, schema=_MMOTIFS_SCHEMA)
