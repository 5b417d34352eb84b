"""Spark operators for motif/discord/segmentation/snippet/chain mining.

Each runs its kernel once per sequence through the per-document Arrow
driver of :mod:`~stumpy_spark.operators.profile` (one ``mapInArrow``,
one row = one series, zero shuffle), closing over the numpy kernels in
:mod:`stumpy_spark.mining`.  MPdist and ostinato take *pairs/groups* of
sequences: pairs are built with a self-join on a pre-shuffled id
relation and run through the same driver with two sequence columns;
groups use ``groupBy().applyInArrow`` (the group is the reference's
"list of series" unit, ostinato.py:148-157).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import kernels, mining
from .profile import _per_doc, _seq_reader

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
    def find(a):
        P = kernels.matrix_profile(a, m)[0][:, 0]
        md, mi = mining.motifs(a, P, m, max_motifs=max_motifs,
                               max_matches=max_matches,
                               max_distance=max_distance, cutoff=cutoff,
                               min_neighbors=min_neighbors)
        return np.arange(len(mi)), [isx[0] for isx in mi], mi, md

    return _per_doc(df, [id_col], [tokens_col], _MOTIF_SCHEMA, find,
                    min_len=2 * m)


_FLUSS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("regimes", T.ArrayType(T.LongType())),
    T.StructField("cac_min", T.DoubleType()),
])


def fluss(df: DataFrame, m: int, n_regimes: int = 2,
          excl_factor: int = 2, id_col: str = "doc_id",
          tokens_col: str = "tokens") -> DataFrame:
    def segment(a):
        I = kernels.matrix_profile(a, m)[1][:, 0]
        c, regs = mining.fluss(I, L=m, n_regimes=n_regimes,
                               excl_factor=excl_factor)
        return [[int(r) for r in regs]], [c.min()]

    return _per_doc(df, [id_col], [tokens_col], _FLUSS_SCHEMA, segment,
                    min_len=max(2 * m, 2 * m * excl_factor + 2))


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

    def dist(ta, tb):
        return [[mining.mpdist(ta, tb, m, percentage=percentage,
                               normalize=normalize, custom_func=custom_func,
                               mp_func=mp_func)]]

    return _per_doc(joined, ["id_a", "id_b"], ["_toks_a", "_toks_b"],
                    _MPDIST_SCHEMA, dist, min_len=m)


_SNIPPET_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("snippet_rank", T.IntegerType()),
    T.StructField("snippet_idx", T.LongType()),
    T.StructField("fraction", T.DoubleType()),
    T.StructField("area", T.DoubleType()),
])


def snippets(df: DataFrame, m: int, k: int = 2, id_col: str = "doc_id",
             tokens_col: str = "tokens") -> DataFrame:
    def pick(a):
        idxs, fracs, areas = mining.snippets(a, m, k)
        return np.arange(len(idxs)), idxs, fracs, areas

    return _per_doc(df, [id_col], [tokens_col], _SNIPPET_SCHEMA, pick,
                    min_len=2 * m)


_CHAIN_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("chain", T.ArrayType(T.LongType())),
    T.StructField("chain_len", T.IntegerType()),
])


def longest_chain(df: DataFrame, m: int, id_col: str = "doc_id",
                  tokens_col: str = "tokens") -> DataFrame:
    """Longest unanchored time-series chain per sequence (allc)."""
    def chain(a):
        _, _, IL, IR = kernels.matrix_profile(a, m)
        _, longest = mining.allc(IL, IR)
        return [[int(x) for x in longest]], [len(longest)]

    return _per_doc(df, [id_col], [tokens_col], _CHAIN_SCHEMA, chain,
                    min_len=2 * m)


_OSTINATO_SCHEMA = T.StructType([
    T.StructField("group", T.StringType()),
    T.StructField("radius", T.DoubleType()),
    T.StructField("doc_id", T.StringType()),
    T.StructField("subseq_idx", T.LongType()),
])


def ostinato(df: DataFrame, m: int, group_col: str = "source",
             id_col: str = "doc_id", tokens_col: str = "tokens",
             max_group_size: int = 64) -> DataFrame:
    """Consensus motif per group of sequences (groupBy + applyInArrow;
    the group is the reference's list-of-series unit, ostinato.py:148-157).

    Scale bound: ``groupBy().applyInArrow`` concentrates a whole group
    into one task's Arrow table, which OOMs/straggles on zipf-skewed
    group keys at 100x.  Groups larger than ``max_group_size`` are
    therefore reduced to a deterministic evenly-spaced subsample of the
    id-sorted members (loudly, via an emitted ``n_used``/``n_group``
    count so truncation is never silent) — the consensus motif over a
    spread sample is the documented approximation.  Pass
    ``max_group_size=None`` to disable the cap.
    """
    schema = T.StructType(list(_OSTINATO_SCHEMA.fields)
                          + [T.StructField("n_used", T.IntegerType()),
                             T.StructField("n_group", T.IntegerType())])

    def run(table):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        out = to_arrow_schema(schema)
        table = table.sort_by(id_col)
        n_group = table.num_rows
        if max_group_size is not None and n_group > max_group_size:
            pick = np.linspace(0, n_group - 1, max_group_size).astype(int)
            table = table.take(np.unique(pick))
        read = _seq_reader(table.column(tokens_col).combine_chunks())
        Ts = [read(r) for r in range(table.num_rows)]
        keep = [i for i, t in enumerate(Ts) if len(t) >= 2 * m]
        if len(keep) < 2:
            return out.empty_table()
        rad, ts_i, idx = mining.ostinato([Ts[i] for i in keep], m)
        return pa.Table.from_arrays(
            [pa.array(v, type=t, from_pandas=True) for v, t in zip(
                [[table.column(group_col)[0].as_py()], [rad],
                 [table.column(id_col)[keep[ts_i]].as_py()], [idx],
                 [len(keep)], [n_group]], out.types)],
            schema=out)

    return (df.select(group_col, id_col, tokens_col)
            .groupBy(group_col).applyInArrow(run, schema=schema))


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

    def pan(a):
        out = [(m, P[np.isfinite(P)])
               for m, P in mining.stimp_pan(a, order).items()]
        return tuple(zip(*[(m, f.min(), f.max()) for m, f in out
                           if len(f)]))

    return _per_doc(df, [id_col], [tokens_col], _STIMP_SCHEMA, pan)


_MSTUMP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("kdim", T.IntegerType()),
    T.StructField("min_p", T.DoubleType()),
    T.StructField("motif_i", T.LongType()),
    T.StructField("motif_j", T.LongType()),
])


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

    def levels(Ts):
        P, I = multi_matrix_profile(Ts, m, include=include,
                                    discords=discords)
        out = []
        for kdim in range(P.shape[0]):
            finite = np.isfinite(P[kdim])
            if finite.any():
                mi = int(np.argmin(np.where(finite, P[kdim], np.inf)))
                out.append((kdim + 1, P[kdim, mi], mi, I[kdim, mi]))
        return tuple(zip(*out))

    return _per_doc(df, [id_col], [dims_col], _MSTUMP_SCHEMA, levels,
                    min_len=2 * m)


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

    def preview(a):
        sc = Scrump(a, m, percentage=percentage, pre_scrump=pre_scrump)
        for _ in range(rounds):
            sc.update()
        finite = np.isfinite(sc.P_)
        if not finite.any():
            return None
        mi = int(np.argmin(np.where(finite, sc.P_, np.inf)))
        return [len(sc.P_)], [sc.P_[mi]], [mi]

    return _per_doc(df, [id_col], [tokens_col], _SCRUMP_SCHEMA, preview,
                    min_len=2 * m)


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

    def find(Ts):
        res = _mmotifs(Ts, m, max_motifs=max_motifs, include=include,
                       discords=discords)
        return (np.arange(len(res)), *zip(*res))

    return _per_doc(df, [id_col], [dims_col], _MMOTIFS_SCHEMA, find,
                    min_len=2 * m)
