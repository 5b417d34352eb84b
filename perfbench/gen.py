"""Seeded input generator for the benchmark, independent of the program.

Produces tables in the ``tokseq`` schema (doc_id, tokens, n_tok, source,
event_ts) with the distributions of ``stumpy_spark.sources.tokseq``:
log-uniform lengths in [8, 2048], uniform tokens over a 50,257 vocabulary,
zipf(1.5)-skewed sources and event times spread over one week.  It is
vectorized numpy + pyarrow and imports nothing from ``stumpy_spark``, so a
change to the program cannot change the inputs; :func:`fingerprint` hashes
the generated arrays so a run can record exactly what it measured.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
LEN_MIN, LEN_MAX = 8, 2048
SOURCES = ["web", "books", "code", "wiki", "chat", "news", "forum", "paper"]
ZIPF_ALPHA = 1.5
WEEK_SECONDS = 7 * 24 * 3600
EPOCH_S = 1735689600            # 2025-01-01T00:00:00Z

_p = 1.0 / np.arange(1, len(SOURCES) + 1, dtype=np.float64) ** ZIPF_ALPHA
CUM_PROBS = np.cumsum(_p / _p.sum())


@dataclass
class Docs:
    """A generated doc table as flat numpy arrays (offsets index tokens)."""
    ids: np.ndarray         # int64 doc numbers
    offsets: np.ndarray     # int64, len(ids) + 1
    tokens: np.ndarray      # int32 flat token stream
    src: np.ndarray         # int64 index into SOURCES
    ts: np.ndarray          # int64 epoch seconds

    @property
    def n_tok(self) -> np.ndarray:
        return np.diff(self.offsets)

    def __len__(self) -> int:
        return len(self.ids)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(key=[seed, stream]))


def _stratified(g: np.random.Generator, n: int) -> np.ndarray:
    """``n`` uniform draws on [0, 1), one per stratum of width 1/n, in
    random order: each draw is still uniform, but the sample's histogram
    (and so the work a table holds) barely moves between seeds."""
    return (g.permutation(n) + g.uniform(size=n)) / n


def make_docs(seed: int, n_docs: int, stream: int = 0, first_id: int = 0,
              ts_lo: int = 0, ts_hi: int = WEEK_SECONDS) -> Docs:
    """``n_docs`` docs; ``stream`` separates independent draws of one seed
    and ``[ts_lo, ts_hi)`` bounds the event-time offset into the week."""
    g = _rng(seed, stream)
    log_lo, log_hi = np.log(LEN_MIN), np.log(LEN_MAX)
    lengths = np.minimum(np.exp(log_lo + (log_hi - log_lo) * _stratified(
        g, n_docs)).astype(np.int64), LEN_MAX)
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    tokens = g.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32)
    src = np.searchsorted(CUM_PROBS, _stratified(g, n_docs))
    src = np.minimum(src, len(SOURCES) - 1).astype(np.int64)
    ts = EPOCH_S + g.integers(ts_lo, ts_hi, size=n_docs, dtype=np.int64)
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    return Docs(ids, offsets, tokens, src, ts)


def fingerprint(d: Docs) -> str:
    h = hashlib.sha256()
    for a in (d.ids, d.offsets, d.tokens, d.src, d.ts):
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:16]


def to_arrow(d: Docs) -> pa.Table:
    doc_id = pa.array([f"doc{i:08d}" for i in d.ids.tolist()], pa.string())
    tokens = pa.ListArray.from_arrays(
        pa.array(d.offsets.astype(np.int32)), pa.array(d.tokens))
    source = pa.array(np.array(SOURCES, dtype=object)[d.src], pa.string())
    # UTC-adjusted micros so Spark reads the column as TimestampType
    ts = pa.array(d.ts * 1_000_000, pa.timestamp("us", tz="UTC"))
    schema = pa.schema([
        pa.field("doc_id", pa.string(), False),
        pa.field("tokens", pa.list_(pa.field("element", pa.int32(), False)),
                 False),
        pa.field("n_tok", pa.int32(), False),
        pa.field("source", pa.string(), False),
        pa.field("event_ts", pa.timestamp("us", tz="UTC"), False),
    ])
    return pa.Table.from_arrays(
        [doc_id, tokens, pa.array(d.n_tok.astype(np.int32)), source, ts],
        schema=schema)


def write_parquet(d: Docs, path: str, files: int = 8) -> str:
    """Write ``d`` as ``files`` parquet files (one scan task each)."""
    os.makedirs(path, exist_ok=True)
    table = to_arrow(d)
    step = -(-len(d) // files)
    for f in range(files):
        part = table.slice(f * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{f:03d}.parquet"))
    return path


def make_series(seed: int, n: int) -> np.ndarray:
    """One long integer series: a bounded random walk over token ids with
    a few planted repeats, so the profile has real motifs."""
    g = _rng(seed, 7)
    steps = g.integers(-64, 65, size=n, dtype=np.int64)
    x = np.abs(np.cumsum(steps)) % VOCAB
    motif = x[:256].copy()
    for at in g.integers(1024, n - 512, size=4):
        x[at:at + 256] = motif
    return x.astype(np.float64)
