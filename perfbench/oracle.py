"""Reference answers computed with plain numpy from the generated inputs.

None of this imports ``stumpy_spark``: the oracles restate the documented
semantics (tier aggregates, exact distinct counts, z-normalized distance
profiles) from scratch, so a program change cannot move both sides.
"""

from __future__ import annotations

import math

import numpy as np

from gen import SOURCES, Docs

TIER_STEP = {"1m": 60, "1h": 3600, "1d": 86400}
#: tier columns compared by every check, in order
TIER_COLS = ["n_seq", "sum_n_tok", "min_n_tok", "max_n_tok",
             "sum_window_sums", "min_mean", "max_mean"]


def doc_stats(d: Docs, m: int):
    """Per doc: (sum of all window sums, min window mean, max window mean);
    docs shorter than ``m`` get 0 and NaN."""
    n = len(d)
    sws = np.zeros(n, dtype=np.int64)
    lo = np.full(n, np.nan)
    hi = np.full(n, np.nan)
    for i in range(n):
        t = d.tokens[d.offsets[i]:d.offsets[i + 1]].astype(np.int64)
        if len(t) < m:
            continue
        cs = np.concatenate(([0], np.cumsum(t)))
        ws = cs[m:] - cs[:-m]
        sws[i] = ws.sum()
        lo[i] = ws.min() / m
        hi[i] = ws.max() / m
    return sws, lo, hi


def concat(a: Docs, b: Docs) -> Docs:
    return Docs(np.concatenate([a.ids, b.ids]),
                np.concatenate([a.offsets, b.offsets[1:] + a.offsets[-1]]),
                np.concatenate([a.tokens, b.tokens]),
                np.concatenate([a.src, b.src]),
                np.concatenate([a.ts, b.ts]))


def tier_table(d: Docs, stats, tier: str) -> dict:
    """{(source, bucket_epoch_s): (n_seq, sum_n_tok, min_n_tok, max_n_tok,
    sum_window_sums, min_mean, max_mean)} for one tier."""
    step = TIER_STEP[tier]
    sws, lo, hi = stats
    bucket = d.ts // step * step
    keys, inv = np.unique(np.stack([d.src, bucket]), axis=1,
                          return_inverse=True)
    inv = inv.ravel()
    g = keys.shape[1]
    n_tok = d.n_tok
    cnt = np.bincount(inv, minlength=g)
    s_tok = np.zeros(g, dtype=np.int64)
    np.add.at(s_tok, inv, n_tok)
    mn_tok = np.full(g, np.iinfo(np.int64).max)
    np.minimum.at(mn_tok, inv, n_tok)
    mx_tok = np.zeros(g, dtype=np.int64)
    np.maximum.at(mx_tok, inv, n_tok)
    s_ws = np.zeros(g, dtype=np.int64)
    np.add.at(s_ws, inv, sws)
    mn = np.full(g, np.nan)
    np.fmin.at(mn, inv, lo)
    mx = np.full(g, np.nan)
    np.fmax.at(mx, inv, hi)
    return {(SOURCES[keys[0, k]], int(keys[1, k])):
            (int(cnt[k]), int(s_tok[k]), int(mn_tok[k]), int(mx_tok[k]),
             int(s_ws[k]), float(mn[k]), float(mx[k]))
            for k in range(g)}


def distinct_1d(d: Docs) -> dict:
    """{(source, day_epoch_s): distinct token count}."""
    day = d.ts // 86400
    doc_group = d.src * 10_000_000 + day
    group = np.repeat(doc_group, d.n_tok)
    pairs = np.unique(group * 65536 + d.tokens)
    gk, cnt = np.unique(pairs // 65536, return_counts=True)
    return {(SOURCES[k // 10_000_000], int(k % 10_000_000) * 86400): int(c)
            for k, c in zip(gk.tolist(), cnt.tolist())}


def same_value(a, b, rel: float = 1e-12) -> bool:
    a_nan = a is None or (isinstance(a, float) and math.isnan(a))
    b_nan = b is None or (isinstance(b, float) and math.isnan(b))
    if a_nan or b_nan:
        return a_nan and b_nan
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)
    return a == b


def tier_mismatches(rows, expected: dict) -> int:
    """Rows are (source, bucket_s, *TIER_COLS); counts wrong, missing and
    extra keys."""
    got = {(r[0], int(r[1])): tuple(r[2:]) for r in rows}
    bad = sum(1 for k in expected if k not in got)
    bad += sum(1 for k in got if k not in expected)
    for k, vals in got.items():
        exp = expected.get(k)
        if exp is not None and not all(
                same_value(a, b) for a, b in zip(vals, exp)):
            bad += 1
    return bad


def self_join_pairs(n: int, m: int) -> int:
    """Distance cells a top-1 self-join evaluates outside the exclusion
    zone (pairs i < j with j - i > ceil(m / 4))."""
    k = n - m + 1 - math.ceil(m / 4) - 1
    return k * (k + 1) // 2 if k > 0 else 0


def profile_rows(T: np.ndarray, m: int, rows) -> list[tuple[float, int]]:
    """Brute-force z-normalized nearest neighbour (P, I) of the given
    self-join rows, excluding the trivial-match zone."""
    w = np.lib.stride_tricks.sliding_window_view(T, m)
    mu = w.mean(axis=1)
    sd = w.std(axis=1)
    z = (w - mu[:, None]) / sd[:, None]
    ez = math.ceil(m / 4)
    out = []
    for i in rows:
        d = np.sqrt(np.maximum(((z - z[i]) ** 2).sum(axis=1), 0.0))
        d[max(0, i - ez):i + ez + 1] = np.inf
        j = int(np.argmin(d))
        out.append((float(d[j]), j))
    return out
