"""Per-sequence matrix-profile / MASS / sliding-stat operators.

Spark-first design (SURVEY §2.3): one input row = one sequence, so these
are per-batch map operators — zero shuffle, each Arrow batch processed
independently, all of them ``mapInArrow``.  ``sliding_stats`` and
``profile_summary`` are vectorized over the batch's flat token values +
offsets, one compiled call per batch where the kernel runs; ``stump``
and ``mass`` — and every operator in
:mod:`~stumpy_spark.operators.discovery` — call their kernel once per
row through one driver, :func:`_per_doc`, which reads each sequence as
a slice of the same flat view.  The reference's thread-chunked
diagonal scheme (stumpy/stump.py:252-506) maps to "one task per Arrow
batch of sequences"; its Dask scatter/gather (stumpy/stumped.py:13-203)
maps to Spark's own task scheduling — no driver-side collect anywhere.

Every sequence runs whole inside one task; series too long for
one task are the job of :mod:`stumpy_spark.plans.longseq` (overlapping
segments + seam merge), which callers choose explicitly.

Column contract: ``id_col`` (string), ``tokens_col`` (array<numeric>).
A null sequence reads as empty and is skipped; a null element reads as
NaN.  Outputs are exploded long-form ``(doc_id, i, ...)`` or
per-sequence summaries, both with explicit aliases so oracle SQL can
mirror them.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .. import kernels

_PROFILE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("i", T.IntegerType()),
    T.StructField("P", T.ArrayType(T.DoubleType())),
    T.StructField("I", T.ArrayType(T.LongType())),
    T.StructField("IL", T.LongType()),
    T.StructField("IR", T.LongType()),
])

_SUMMARY_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("n_windows", T.IntegerType()),
    T.StructField("min_p", T.DoubleType()),
    T.StructField("max_p", T.DoubleType()),
    T.StructField("motif_i", T.LongType()),
    T.StructField("motif_j", T.LongType()),
])

_MASS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("n_windows", T.IntegerType()),
    T.StructField("min_d", T.DoubleType()),
    T.StructField("min_idx", T.LongType()),
    T.StructField("max_d", T.DoubleType()),
])

_SLIDING_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("n_windows", T.IntegerType()),
    T.StructField("sum_window_sums", T.LongType()),
    T.StructField("min_mean", T.DoubleType()),
    T.StructField("max_mean", T.DoubleType()),
    T.StructField("min_std", T.DoubleType()),
    T.StructField("max_std", T.DoubleType()),
])


def _flat_tokens(rb, tokens_col: str):
    """Zero-copy flat view of an Arrow batch's token lists.

    Returns ``(flat_int64, offsets_int64)``: the concatenated token
    values and the per-row boundaries into them.  Avoids the
    per-row numpy-object materialization that a pandas UDF performs
    for list columns (guide §4.1: pass batches, not rows, across the
    boundary).
    """
    col = rb.column(rb.schema.get_field_index(tokens_col))
    off = col.offsets.to_numpy().astype(np.int64)
    flat = col.values.to_numpy(zero_copy_only=False)
    return flat, off


def _seq_reader(col):
    """Row reader of one Arrow sequence column: ``r`` → float64 array.

    An ``array<numeric>`` row reads as a 1-D slice of the flat token
    view, an ``array<array<numeric>>`` row as a ``(d, n)`` matrix — or
    ``None`` when it has no dimensions or they differ in length.  A null
    row reads as empty (so does a null dimension, which makes its row
    ragged), and a null element as NaN."""
    import pyarrow as pa

    def bounds(c):
        off = c.offsets.to_numpy().astype(np.int64)
        if not c.null_count:
            return off[:-1], off[1:]
        valid = c.is_valid().to_numpy(zero_copy_only=False)
        return off[:-1], np.where(valid, off[1:], off[:-1])

    start, end = bounds(col)
    if not pa.types.is_list(col.type.value_type):
        flat = col.values.to_numpy(zero_copy_only=False)
        return lambda r: flat[start[r]:end[r]].astype(np.float64)
    flat = col.values.values.to_numpy(zero_copy_only=False)
    d_start, d_end = bounds(col.values)

    def read(r):
        s = d_start[start[r]:end[r]]
        n = d_end[start[r]:end[r]] - s
        if not len(n) or (n != n[0]).any():
            return None
        return flat[s[0]:s[0] + n.sum()].astype(np.float64).reshape(
            len(n), n[0])
    return read


def _per_doc(df: DataFrame, keys: list[str], seqs: list[str],
             schema: T.StructType, fn, min_len: int = 1) -> DataFrame:
    """One ``mapInArrow`` that calls ``fn`` once per row of ``df``.

    ``fn`` gets one float64 array per column of ``seqs`` (see
    :func:`_seq_reader`) and returns, for the fields of ``schema`` after
    the key fields, one sequence of values each, all of one length (the
    row's output rows, maybe none), or ``None``.  Rows where a sequence
    is ``None`` or shorter than ``min_len`` along its last axis, a null
    sequence among them, are skipped.  The output repeats the ``keys``
    columns of each row once per output row, one typed Arrow batch per
    input batch; NaN in an output becomes null, as in the output of a
    pandas UDF."""
    n_keys = len(keys)

    def run(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        out = to_arrow_schema(schema)
        types = out.types[n_keys:]
        for rb in batches:
            read = [_seq_reader(rb.column(n_keys + c))
                    for c in range(len(seqs))]
            rows, parts = [], []
            for r in range(rb.num_rows):
                args = [rd(r) for rd in read]
                if any(a is None or a.shape[-1] < min_len for a in args):
                    continue
                res = fn(*args)
                if not res or not len(res[0]):
                    continue
                rows.append(np.full(len(res[0]), r))
                parts.append([pa.array(v, type=t, from_pandas=True)
                              for v, t in zip(res, types)])
            if not parts:
                continue
            take = pa.array(np.concatenate(rows))
            yield pa.RecordBatch.from_arrays(
                [rb.column(c).take(take) for c in range(n_keys)]
                + [pa.concat_arrays(list(col)) for col in zip(*parts)],
                schema=out)

    return df.select(*keys, *seqs).mapInArrow(run, schema)


def _flat_sliding_stats(flat, off, m: int):
    """Vectorized-across-documents sliding-window stats.

    Same arithmetic as the per-document path (exact int64 window sums
    from cumulative sums; ``mean = ws/m``; ``var = ws2/m - mean^2``
    clamped at 0) computed once over the concatenated token stream,
    then segment-reduced per document — bit-identical outputs, no
    per-document Python loop.  Cross-document windows are computed but
    never read (the segment bounds exclude them); int64 cumsum wrap
    across a huge batch is harmless because only within-document
    differences (true window sums) are consumed.

    Returns ``(eligible_mask, n_windows, sum_ws, min_mean, max_mean,
    min_std, max_std)`` where the per-doc arrays cover eligible
    (n >= m) documents in batch order.
    """
    n_tok = off[1:] - off[:-1]
    elig = n_tok >= m
    if len(flat) < m or not elig.any():
        z = np.empty(0)
        zi = np.empty(0, dtype=np.int64)
        return elig, zi, zi, z, z, z, z
    if flat.dtype == np.int32 and flat.flags.c_contiguous:
        # compiled single-pass path (bit-identical; see cnative)
        from .. import cnative
        res = cnative.sliding_stats_int32(flat, np.ascontiguousarray(
            off, dtype=np.int64), m)
        if res is not None:
            nw, sum_ws, mn, mx, mns, mxs = res
            return (elig, nw[elig].astype(np.int64), sum_ws[elig],
                    mn[elig], mx[elig], mns[elig], mxs[elig])
    t = flat.astype(np.int64, copy=False)
    cs = np.cumsum(t)
    cs2 = np.cumsum(t * t)
    # ws[g] = sum of flat[g:g+m]  (cs[g+m-1] - cs[g-1], cs[-1] := 0)
    ws = cs[m - 1:].copy()
    ws[1:] -= cs[:-m]
    ws2 = cs2[m - 1:].copy()
    ws2[1:] -= cs2[:-m]
    mean = ws.astype(np.float64) / m
    var = ws2.astype(np.float64) / m - mean * mean
    np.maximum(var, 0.0, out=var)
    std = np.sqrt(var)
    starts = off[:-1][elig]
    ends = off[1:][elig] - m + 1          # exclusive, in window space
    idx = np.empty(2 * len(starts), dtype=np.int64)
    idx[0::2] = starts
    idx[1::2] = ends
    idx_r = idx[:-1] if idx[-1] >= len(ws) else idx
    sum_ws = np.add.reduceat(ws, idx_r)[0::2]
    min_mean = np.minimum.reduceat(mean, idx_r)[0::2]
    max_mean = np.maximum.reduceat(mean, idx_r)[0::2]
    min_std = np.minimum.reduceat(std, idx_r)[0::2]
    max_std = np.maximum.reduceat(std, idx_r)[0::2]
    return (elig, (n_tok[elig] - m + 1), sum_ws,
            min_mean, max_mean, min_std, max_std)


def stump(df: DataFrame, m: int, k: int = 1, normalize: bool = True,
          p: float = 2.0, id_col: str = "doc_id",
          tokens_col: str = "tokens") -> DataFrame:
    """Self-join matrix profile per sequence, exploded long form.

    Semantics of stumpy/stump.py:513-753 (``ignore_trivial=True``) with the
    ``normalize=False`` reroute to the aamp kernel (core.py:72-152) folded
    in as a parameter.  Returns (doc_id, i, P[k], I[k], IL, IR).
    """
    def profile(a):
        if normalize:
            P, I, IL, IR = kernels.matrix_profile(a, m, k=k)
        else:
            P, I, IL, IR = kernels.matrix_profile_absolute(a, m, p=p, k=k)
        return np.arange(len(P)), list(P), list(I), IL, IR

    return _per_doc(df, [id_col], [tokens_col], _PROFILE_SCHEMA, profile,
                    min_len=2 * m)


def _sweep_top1(a, m: int, normalize: bool, p: float):
    """Top-1 self-join profile ``(P0, I0)`` of one float64 series on the
    GEMM tile sweep: the route of every p-norm series and of every
    z-norm series the compiled kernel declines or cannot run."""
    if normalize:
        prep = kernels.preprocess(a, m)
        src = kernels._QTProvider(prep, prep, m)
    else:
        prep = kernels._preprocess_abs(a, m)
        src = kernels._PNormSource(prep, prep, m, p)
    (P0, I0, *_), _ = kernels._top1_sweep(src, 0, src.r1, 0, src.c1,
                                          kernels.excl_zone(m))
    return P0, I0


def _flat_profile_summary(flat, off, m: int, normalize: bool = True,
                          p: float = 2.0):
    """Per-document top-1 profile summary of one flat token batch.

    Returns ``(keep, n_windows, min_p, max_p, motif_i, motif_j)``, each
    of length ``n_docs``.  ``keep`` marks documents with at least ``2m``
    tokens and one finite profile value; ``min_p``/``max_p`` are NaN and
    the other arrays 0 elsewhere.

    A z-norm batch casts its tokens to float64 once and makes one
    compiled call for all its documents (``cnative.summary_batch``).
    The documents it declines (non-integral or over-magnitude values, a
    constant window), every p-norm batch and every batch on a host
    without the compiled kernel run the GEMM tile sweep
    (:func:`_sweep_top1`) one document at a time.  Motif and discord
    are the first argmin/argmax over the same finite ``P0`` on every
    route, so the output does not depend on whether the compiled kernel
    is loaded."""
    from .. import cnative

    n_docs = len(off) - 1
    off = np.ascontiguousarray(off, dtype=np.int64)
    res = None
    if normalize:
        flat = np.ascontiguousarray(flat, dtype=np.float64)
        res = cnative.summary_batch(flat, off, m, kernels.excl_zone(m),
                                    kernels.config.P_NORM_THRESHOLD)
    if res is None:
        sweep = off[1:] - off[:-1] >= 2 * m
        keep = np.zeros(n_docs, dtype=bool)
        nw = np.zeros(n_docs, dtype=np.int32)
        minp = np.full(n_docs, np.nan)
        maxp = np.full(n_docs, np.nan)
        mi = np.zeros(n_docs, dtype=np.int64)
        mj = np.zeros(n_docs, dtype=np.int64)
    else:
        status, keep, nw, minp, maxp, mi, mj = res
        sweep = status > 0
    for r in np.flatnonzero(sweep):
        P0, I0 = _sweep_top1(flat[off[r]:off[r + 1]].astype(np.float64),
                             m, normalize, p)
        finite = np.isfinite(P0)
        if not finite.any():
            continue
        i = int(np.argmin(np.where(finite, P0, np.inf)))
        keep[r] = True
        nw[r] = len(P0)
        minp[r] = P0[i]
        maxp[r] = P0[int(np.argmax(np.where(finite, P0, -np.inf)))]
        mi[r] = i
        mj[r] = I0[i]
    return keep, nw, minp, maxp, mi, mj


def profile_summary(df: DataFrame, m: int, normalize: bool = True,
                    p: float = 2.0, id_col: str = "doc_id",
                    tokens_col: str = "tokens") -> DataFrame:
    """Per-sequence matrix-profile summary: motif (min P) and discord (max
    finite P) with positions.  One output row per input sequence with a
    finite profile — the shape rollup tiers consume.  Each Arrow batch
    is summarised by :func:`_flat_profile_summary`: one compiled call
    for the whole batch of a z-norm summary, the GEMM tile sweep per
    document for the rest."""
    def run(batches) -> "Iterator":
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            flat, off = _flat_tokens(rb, tokens_col)
            keep, *cols = _flat_profile_summary(flat, off, m, normalize, p)
            if not keep.any():
                continue
            ids = rb.column(rb.schema.get_field_index(id_col)).filter(
                pa.array(keep))
            yield pa.RecordBatch.from_arrays(
                [ids] + [pa.array(c[keep]) for c in cols],
                names=["doc_id", "n_windows", "min_p", "max_p",
                       "motif_i", "motif_j"])

    return df.select(id_col, tokens_col).mapInArrow(
        run, schema=_SUMMARY_SCHEMA)


def aamp(df: DataFrame, m: int, p: float = 2.0, k: int = 1,
         id_col: str = "doc_id", tokens_col: str = "tokens") -> DataFrame:
    """Non-normalized matrix profile (stumpy/aamp.py:334-441)."""
    return stump(df, m, k=k, normalize=False, p=p,
                 id_col=id_col, tokens_col=tokens_col)


def mass(df: DataFrame, Q, normalize: bool = True, p: float = 2.0,
         id_col: str = "doc_id", tokens_col: str = "tokens") -> DataFrame:
    """Broadcast 1×N join: distance profile of one query vs every sequence.

    Semantics of core.py:1651-1833 (``mass``) / core.py:1369-1462
    (``mass_absolute``); the query rides in the UDF closure — the Spark
    analog of the reference's Dask ``scatter(broadcast=True)``
    (stumped.py:127-146).  Returns per-sequence (min_d, min_idx, max_d).
    """
    Qa = np.asarray(Q, dtype=np.float64)
    m = len(Qa)

    def distances(a):
        if normalize:
            D = kernels.mass(Qa, a)
        else:
            D = kernels.mass_absolute(Qa, a, p=p)
        finite = np.isfinite(D)
        if not finite.any():
            return None
        j = int(np.argmin(np.where(finite, D, np.inf)))
        jm = int(np.argmax(np.where(finite, D, -np.inf)))
        return [len(D)], [D[j]], [j], [D[jm]]

    return _per_doc(df, [id_col], [tokens_col], _MASS_SCHEMA, distances,
                    min_len=m)


def sliding_stats(df: DataFrame, m: int, id_col: str = "doc_id",
                  tokens_col: str = "tokens") -> DataFrame:
    """Sliding mean/std summary per sequence via the integer cumsum trick.

    Contract of core.py:1018-1100 (``compute_mean_std``) specialized to
    integer token streams: window sums are exact int64, so ``mean`` and the
    ``E[x^2]-E[x]^2`` variance are **bit-exact** against a SQL oracle that
    uses the same integer-sum formulation (see __spark_entry__.oracle_sql).

    Emits per-sequence: n_windows, sum of all window sums (int64, exact),
    min/max window mean, min/max window std.
    """
    def run(batches) -> "Iterator":
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            flat, off = _flat_tokens(rb, tokens_col)
            (elig, nw, sum_ws, min_mean, max_mean,
             min_std, max_std) = _flat_sliding_stats(flat, off, m)
            if not elig.any():
                continue
            ids = rb.column(rb.schema.get_field_index(id_col)).filter(
                pa.array(elig))
            yield pa.RecordBatch.from_arrays(
                [ids,
                 pa.array(nw.astype(np.int32), type=pa.int32()),
                 pa.array(sum_ws, type=pa.int64()),
                 pa.array(min_mean, type=pa.float64()),
                 pa.array(max_mean, type=pa.float64()),
                 pa.array(min_std, type=pa.float64()),
                 pa.array(max_std, type=pa.float64())],
                names=["doc_id", "n_windows", "sum_window_sums",
                       "min_mean", "max_mean", "min_std", "max_std"])

    return df.select(id_col, tokens_col).mapInArrow(
        run, schema=_SLIDING_SCHEMA)
