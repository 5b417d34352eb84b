"""Single-thread matrix-profile kernel m-slope microbench.

Measures self-join throughput (M pair-distances/s) across window sizes
for the two routes of a top-1 z-norm self-join — the compiled
diagonal-STOMP kernel and the numpy GEMM tile sweep, both through
``kernels._top1_sweep`` (over a ``kernels._c_source`` or a
``kernels._QTProvider``, each including its source build) — on an
integer series of the workload's token shape.
The C column is null when the compiled kernel is not loaded.

Interleaved A/B (route alternates within each m) so host DRAM-steal
drift cannot masquerade as a route difference; BLAS is pinned to one
thread; DRAM probes bracket the sweep so the regime is on the record.

``--tile`` times the long-series tile instead: one diagonal and one
off-diagonal 8192-window tile of a ``perfbench/gen.make_series`` integer
series (m=25, the benchmark's window) through ``kernels._top1_sweep``:
the GEMM sweep at z-norm and p=2, each including its per-tile source
build as ``plans/longseq.py`` runs it, the one-dimension
``kernels._MultiSource`` z-norm tile (``pearson``: the per-cell
``kernels.squared_distance_profile`` formula), and the compiled block
kernel (``c_*`` rows, over the ``kernels._c_source`` the plan builds
once per series; null when the kernel is not loaded) on the same tiles;
best of 3, pairs/s.

``--docs`` times the per-document profile summary instead: the
compiled-kernel docs of ``perfbench/gen.make_docs(1, 10000)`` at m=25,
once through the batch entry (``cnative.summary_batch``: one float64
cast and one call for the whole batch) and once through the per-doc
loop (one float64 copy, one ``cnative.mp_top1_self_int`` call and the
numpy ``kernels._top1`` epilogue plus argmin/argmax per doc);
interleaved, best of 3, pairs/s.  Docs the kernel declines are left
out of both.

Usage::

    python tools/kernel_microbench.py [--n 8000] [--tile] [--docs]
        [--out FILE]

Prints one JSON line; ``--out`` also writes it to FILE.
"""

from __future__ import annotations

import json
import os
import sys
import time

for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[v] = "1"

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402

from bench import mem_probe_gbs  # noqa: E402
from stumpy_spark import cnative, kernels  # noqa: E402


def _sweep_source(T: np.ndarray, m: int):
    prep = kernels.preprocess(T, m)
    return kernels._QTProvider(prep, prep, m)


#: each route's tile-distance source, built inside the timed region
ROUTES = {"c": kernels._c_source, "sweep": _sweep_source}


def run_route(T: np.ndarray, m: int, route: str) -> float:
    """Best-of-2 wall for one (m, route) cell; returns M pairs/s."""
    l = len(T) - m + 1
    pairs = l * (l - 1) / 2
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        src = ROUTES[route](T, m)
        kernels._top1_sweep(src, 0, src.r1, 0, src.c1, kernels.excl_zone(m))
        best = min(best, time.perf_counter() - t0)
    return pairs / best / 1e6


def tile_rates(tile: int = 8192, m: int = 25) -> dict:
    """Best-of-3 pairs/s of one diagonal and one off-diagonal tile."""
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import gen

    T = gen.make_series(1, 2 * tile + m - 1)
    ez = kernels.excl_zone(m)
    nd = tile - ez - 1
    blocks = {"diag": ((0, tile, 0, tile), nd * (nd + 1) // 2),
              "offdiag": ((0, tile, tile, 2 * tile), tile * tile)}
    rows = {}
    for dist in ("znorm", "p2", "pearson", "c"):
        if dist == "znorm":
            prep = kernels.preprocess(T, m)
            make = lambda rows, cols: kernels._QTProvider(  # noqa: E731
                prep, prep, m, rows, cols)
        elif dist == "pearson":
            prep = kernels.preprocess(T, m)
            make = lambda rows, cols: kernels._MultiSource(  # noqa: E731
                [prep], m, rows=rows, cols=cols)
        elif dist == "p2":
            prep = kernels._preprocess_abs(T, m)
            make = lambda rows, cols: kernels._PNormSource(  # noqa: E731
                prep, prep, m, 2.0, rows, cols)
        else:
            csrc = kernels._c_source(T, m)
            if csrc is None:
                rows.update({f"c_{name}": None for name in blocks})
                continue
            make = lambda rows, cols: csrc  # noqa: E731
        for name, ((r0, r1, c0, c1), pairs) in blocks.items():
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                kernels._top1_sweep(make((r0, r1), (c0, c1)),
                                    r0, r1, c0, c1, ez)
                best = min(best, time.perf_counter() - t0)
            rows[f"{dist}_{name}"] = {"s": round(best, 3), "pairs": pairs,
                                      "mpairs_s": round(pairs / best / 1e6,
                                                        1)}
    return {"metric": "longseq_tile_sweep", "tile": tile, "m": m,
            "unit": "M pairs/s single-thread", "rows": rows}


def doc_rates(n_docs: int = 10000, m: int = 25) -> dict:
    """Best-of-3 pairs/s of the batch summary entry against the per-doc
    kernel loop, interleaved, over the docs the kernel runs."""
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import gen

    d = gen.make_docs(1, n_docs)
    ez, thr = kernels.excl_zone(m), kernels.config.P_NORM_THRESHOLD
    status = cnative.summary_batch(d.tokens.astype(np.float64), d.offsets,
                                   m, ez, thr)[0]
    n_tok = np.diff(d.offsets)
    run = (n_tok >= 2 * m) & (status == 0)
    off = np.concatenate([[0], np.cumsum(n_tok[run])]).astype(np.int64)
    flat = np.concatenate([d.tokens[d.offsets[r]:d.offsets[r + 1]]
                           for r in np.flatnonzero(run)])
    l = n_tok[run] - m + 1
    pairs = float((l * (l - 1) / 2).sum())

    def batch():
        cnative.summary_batch(flat.astype(np.float64), off, m, ez, thr)

    def per_doc():
        out = []
        for r in range(len(off) - 1):
            T = flat[off[r]:off[r + 1]].astype(np.float64)
            _, pr, ir, pl, il = cnative.mp_top1_self_int(T, m, ez, thr)
            P0, I0 = kernels._top1(pl, pr, il, ir,
                                   lambda x: np.sqrt(x + 2.0 * m))
            finite = np.isfinite(P0)
            i = int(np.argmin(np.where(finite, P0, np.inf)))
            out.append((P0[i], I0[i],
                        P0[int(np.argmax(np.where(finite, P0, -np.inf)))]))

    best = {"batch": float("inf"), "per_doc": float("inf")}
    for _ in range(3):
        for name, f in (("batch", batch), ("per_doc", per_doc)):
            t0 = time.perf_counter()
            f()
            best[name] = min(best[name], time.perf_counter() - t0)
    return {"metric": "profile_summary_docs", "docs": int(run.sum()),
            "m": m, "unit": "M pairs/s single-thread",
            "rows": {k: {"s": round(v, 3), "pairs": pairs,
                         "mpairs_s": round(pairs / v / 1e6, 1)}
                     for k, v in best.items()}}


def main() -> None:
    args = sys.argv[1:]
    if "--docs" in args:
        if cnative.load() is None:
            sys.exit(f"--docs needs the compiled kernel: {cnative.status()}")
        probe_before = mem_probe_gbs()
        out = doc_rates()
        out["mem_probe_gbs_before"] = probe_before
        out["mem_probe_gbs_after"] = mem_probe_gbs()
        _emit(out, args)
        return
    if "--tile" in args:
        probe_before = mem_probe_gbs()
        out = tile_rates()
        out["mem_probe_gbs_before"] = probe_before
        out["mem_probe_gbs_after"] = mem_probe_gbs()
        _emit(out, args)
        return
    n = int(args[args.index("--n") + 1]) if "--n" in args else 8000
    rng = np.random.default_rng(7)
    T = rng.integers(0, 1000, n).astype(np.float64)

    ms = [25, 64, 128, 192, 256, 512]
    has_c = cnative.load() is not None
    probe_before = mem_probe_gbs()
    rows = {}
    # interleave the routes inside each m so a regime shift between
    # cells cannot read as a kernel difference
    for m in ms:
        c = run_route(T, m, "c") if has_c else None
        sweep = run_route(T, m, "sweep")
        if has_c:
            c = max(c, run_route(T, m, "c"))
        rows[str(m)] = {"c_mpairs_s": round(c, 1) if has_c else None,
                        "sweep_mpairs_s": round(sweep, 1)}
    probe_after = mem_probe_gbs()

    def slope(key):
        lo, hi = rows["25"][key], rows["512"][key]
        return round(lo / hi, 2) if lo else None

    out = {
        "metric": "kernel_m_slope",
        "n": n,
        "unit": "M pairs/s single-thread",
        "rows": rows,
        "slope_m512_vs_m25": {"c": slope("c_mpairs_s"),
                              "sweep": slope("sweep_mpairs_s")},
        "mem_probe_gbs_before": probe_before,
        "mem_probe_gbs_after": probe_after,
    }
    _emit(out, args)


def _emit(out: dict, args: list) -> None:
    line = json.dumps(out)
    print(line)
    if "--out" in args:
        with open(args[args.index("--out") + 1], "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
