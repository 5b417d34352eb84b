"""Single-thread matrix-profile kernel m-slope microbench.

Measures self-join throughput (M pair-distances/s) across window sizes
for the two kernel paths — blocked GEMM and the vectorized diagonal
cumsum-STOMP (``kernels._mp_top1_diag``) — on an integer series of the
workload's token shape.  This is the reproducible source of the
"large-m slope" table in BENCH/BASELINE.md: the VERDICT r4 #5 bar was
m=512 within ~1.3x of the m=25 rate.

Interleaved A/B (path alternates within each m) so host DRAM-steal
drift cannot masquerade as a path difference; BLAS is pinned to one
thread; DRAM probes bracket the sweep so the regime is on the record.

``--tile`` times the long-series tile instead: one diagonal and one
off-diagonal 8192-window tile of a ``perfbench/gen.make_series`` integer
series (m=25, the benchmark's window) through ``kernels._top1_sweep``,
z-norm and p=2, each including its per-tile source build as
``plans/longseq.py`` runs it; best of 3, pairs/s.

Usage::

    python tools/kernel_microbench.py [--n 8000] [--tile] [--out FILE]

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
from stumpy_spark import kernels  # noqa: E402


def run_path(T: np.ndarray, m: int, force: str) -> float:
    """Best-of-2 wall for one (m, path) cell; returns M pairs/s."""
    l = len(T) - m + 1
    pairs = l * (l - 1) / 2
    best = float("inf")
    for _ in range(2):
        orig = kernels._use_diag
        try:
            # route the dispatch, not the kernel internals, so each cell
            # times exactly what production would run on that path
            kernels._use_diag = (lambda l_, m_: False) if force == "gemm" \
                else (lambda l_, m_: True)
            t0 = time.perf_counter()
            kernels.matrix_profile(T, m)
            best = min(best, time.perf_counter() - t0)
        finally:
            kernels._use_diag = orig
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
    for dist in ("znorm", "p2"):
        if dist == "znorm":
            prep = kernels.preprocess(T, m)
            make = lambda rows, cols: kernels._QTProvider(  # noqa: E731
                prep, prep, m, rows, cols)
        else:
            prep = kernels._preprocess_abs(T, m)
            make = lambda rows, cols: kernels._PNormSource(  # noqa: E731
                prep, prep, m, 2.0, rows, cols)
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


def main() -> None:
    args = sys.argv[1:]
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
    probe_before = mem_probe_gbs()
    rows = {}
    # interleave the paths inside each m so a regime shift between cells
    # cannot read as a kernel difference
    for m in ms:
        l = n - m + 1
        diag_ok = kernels._qt_recurrence_ok(T, m)
        gemm = run_path(T, m, "gemm")
        diag = run_path(T, m, "diag") if diag_ok else None
        gemm2 = run_path(T, m, "gemm")
        chosen = "diag" if (diag_ok and kernels._use_diag(l, m)) else "gemm"
        rows[str(m)] = {
            "gemm_mpairs_s": round(max(gemm, gemm2), 1),
            "diag_mpairs_s": round(diag, 1) if diag else None,
            "dispatched": chosen,
        }
    probe_after = mem_probe_gbs()

    best = {m: max(v["gemm_mpairs_s"], v["diag_mpairs_s"] or 0)
            for m, v in rows.items()}
    out = {
        "metric": "kernel_m_slope",
        "n": n,
        "unit": "M pairs/s single-thread",
        "rows": rows,
        "slope_m512_vs_m25": round(best["25"] / best["512"], 2),
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
