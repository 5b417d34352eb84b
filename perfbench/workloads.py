"""The benchmark's workloads.

Each workload has three phases:

- ``build()``: generate the inputs from the seed, write them as parquet
  and compute the oracles.  Run several times during set-up; every
  repetition produces identical inputs.
- ``warm()``: one-time set-up that must finish before timing (JIT, Python
  worker start).
- ``unit()``: one timed unit of work plus its untimed checks; returns
  ``Op`` records.  The runner calls it until the measuring window ends
  and at least ``min_units`` times, so every run measures enough work
  for a median.

A traced run then calls ``probes()``: layer measurements outside the timed
unit, including the tier-serving client of ``TierServe``.  Spans are
recorded only around calls into ``stumpy_spark`` layers.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.dataset as pads

import gen
import oracle
from harness import dir_bytes, noop, timed

M = 25
DAY = 86400


@dataclass
class Op:
    kind: str           # "unit" for the workload's timed unit, else a part
    seconds: float
    ok: bool
    work: float = 0.0   # work units done (docs, pair-distances, ops)
    cpu: float = 0.0    # CPU seconds of the whole process tree


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    work: str
    layer: dict = field(default_factory=dict)   # per-layer values


def read_tier(path: str, filt=None) -> list[tuple]:
    """(source, bucket_s, *TIER_COLS) rows of a tier store, read with
    pyarrow so the check does not go through the program."""
    t = pads.dataset(path, format="parquet", partitioning="hive").to_table(
        filter=filt)
    b = t.column("bucket").cast("int64").to_numpy() // 10 ** 9
    cols = [t.column(c).to_pylist() for c in oracle.TIER_COLS]
    return [(s, int(bs), *vals) for s, bs, *vals in
            zip(t.column("source").to_pylist(), b.tolist(), *cols)]


def _close(d1: float, d2: float) -> bool:
    """Distances agree: compared squared, because a GEMM-formed distance
    of an exact repeat is sqrt(rounding error), not 0."""
    return abs(d1 * d1 - d2 * d2) < 1e-6


def _check(fn) -> bool:
    """Run a check; any exception counts as a failed operation."""
    try:
        return bool(fn())
    except Exception as e:                       # noqa: BLE001
        print(f"check failed: {type(e).__name__}: {e}")
        return False


# -- rollup_job --------------------------------------------------------------

class RollupJob:
    """The production job's call sequence (jobs/rollup_job.py) on a fresh
    output directory, plus the exact distinct-token 1d tier and
    retention."""

    n_docs = 10_000
    slices = 2
    min_units = 1
    retention_now_s = gen.EPOCH_S + 9 * DAY

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.input = os.path.join(ctx.work, "input")
        self.reps = 0
        self.last = None

    def build(self) -> None:
        d = gen.make_docs(self.ctx.seed, self.n_docs)
        shutil.rmtree(self.input, ignore_errors=True)
        gen.write_parquet(d, self.input)
        stats = oracle.doc_stats(d, M)
        self.docs = d
        self.fingerprint = gen.fingerprint(d)
        self.expect = {t: oracle.tier_table(d, stats, t)
                       for t in ("1m", "1h", "1d")}
        self.expect_distinct = oracle.distinct_1d(d)
        cutoff = self.retention_now_s - 7 * DAY       # 1m horizon: 7 days
        days = sorted({int(x) for x in d.ts // DAY * DAY if x < cutoff})
        self.expect_dropped = {"raw": [], "1h": [], "1d": [], "1m": [
            "day=" + time.strftime("%Y-%m-%d", time.gmtime(s))
            for s in days]}

    def warm(self) -> None:
        """Nothing: jobs/rollup_job.py starts a fresh session for every
        run, so the first job on a new session (JIT, Python worker start)
        is what its users wait for, and that is the timed unit."""

    def run_job(self, input_path: str, out: str) -> dict:
        from datetime import datetime, timezone

        from pyspark.sql import functions as F

        from stumpy_spark.rollup import checkpoint
        from stumpy_spark.rollup import tiers as RT
        from stumpy_spark.rollup.checkpoint import (Manifest,
                                                    run_with_checkpoints)
        from stumpy_spark.rollup.compress import compress_tier
        from stumpy_spark.rollup.retention import TierStore, apply_retention

        spark, tr = self.ctx.spark, self.ctx.tracer
        df = spark.read.parquet(input_path)
        raw_store = TierStore(out, "raw")
        manifest = Manifest(os.path.join(out, "_manifest"))
        slices = {s: df.where(F.pmod(F.xxhash64("doc_id"), self.slices) == s)
                  for s in range(self.slices)}

        def process(slice_id, sdf):
            raw = RT.per_sequence_stats_fused(sdf, m=M)
            raw = raw.withColumn("bucket", F.date_trunc("minute", "event_ts"))
            o = raw.withColumn("day", F.to_date("bucket"))
            path = os.path.join(raw_store.path, f"slice={slice_id}")
            with tr.span("tiers.raw_write"):
                (o.repartition("day", "source")
                 .write.mode("overwrite").partitionBy("day", "source")
                 .parquet(path))
            with tr.span("checkpoint.slice_metrics"):
                n = sdf.count()
                per_source = {r["source"]: r["cnt"] for r in
                              sdf.groupBy("source").agg(
                                  F.count("*").alias("cnt")).collect()}
            return n, {"rows": n, "per_source": per_source}

        with tr.patched(checkpoint, "slice_fingerprint",
                        "checkpoint.fingerprint"), \
                tr.patched(Manifest, "append", "checkpoint.commit"):
            ran = run_with_checkpoints(spark, manifest, "bench", slices,
                                       process)
        raw = spark.read.parquet(raw_store.path).drop("day", "bucket",
                                                      "slice")
        stores = {"raw": raw_store}
        for tier, tdf in RT.cascade(raw).items():
            store = stores[tier] = TierStore(out, tier)
            with tr.span("tiers.cascade_write"):
                store.write(tdf)
            with tr.span("tiers.cascade_count"):
                spark.read.parquet(store.path).count()
            with tr.span("compress.pack"):
                (compress_tier(spark.read.parquet(store.path).drop("day"),
                               ["n_seq", "sum_n_tok"])
                 .write.mode("overwrite")
                 .parquet(os.path.join(out, f"{tier}_gorilla")))
        with tr.span("tiers.distinct_1d"):
            (RT.distinct_tokens_per_bucket(df, "1d").write.mode("overwrite")
             .parquet(os.path.join(out, "distinct_1d")))
        now = datetime.fromtimestamp(self.retention_now_s, timezone.utc)
        with tr.span("retention.expire"):
            dropped = apply_retention(stores, now.replace(tzinfo=None))
        return {"ran": ran, "dropped": dropped, "manifest": manifest,
                "slices": slices, "process": process}

    def unit(self) -> list[Op]:
        if self.last:
            shutil.rmtree(self.last[0], ignore_errors=True)
        out = os.path.join(self.ctx.work, f"out{self.reps}")
        self.reps += 1
        res, dt, cpu = timed(lambda: self.run_job(self.input, out))
        self.last = (out, res)
        ok = _check(lambda: self.verify(out, res))
        self.record_store(out)
        return [Op("unit", dt, ok, work=self.n_docs, cpu=cpu)]

    def verify(self, out: str, res: dict) -> bool:
        bad = []
        if res["ran"] != list(range(self.slices)):
            bad.append(f"slices run {res['ran']}")
        for tier in ("1h", "1d"):
            n = oracle.tier_mismatches(read_tier(os.path.join(out, tier)),
                                       self.expect[tier])
            if n:
                bad.append(f"{tier}: {n} wrong rows")
        t = pads.dataset(os.path.join(out, "distinct_1d"),
                         format="parquet").to_table()
        got = {(s, int(b) // 10 ** 9): int(c) for s, b, c in zip(
            t.column("source").to_pylist(),
            t.column("bucket").cast("int64").to_pylist(),
            t.column("distinct_tokens").to_pylist())}
        if got != self.expect_distinct:
            bad.append("distinct_1d differs")
        for tier in ("1m", "1h", "1d"):
            g = pads.dataset(os.path.join(out, f"{tier}_gorilla"),
                             format="parquet").to_table(
                columns=["n_points"])
            if sum(g.column("n_points").to_pylist()) != \
                    2 * len(self.expect[tier]):
                bad.append(f"{tier}_gorilla point count")
        if res["dropped"] != self.expect_dropped:
            bad.append(f"retention dropped {res['dropped']}")
        for b in bad:
            print("rollup_job check:", b)
        return not bad

    def record_store(self, out: str) -> None:
        layer = self.ctx.layer
        enc = pts = 0
        for tier in ("1m", "1h", "1d"):
            g = pads.dataset(os.path.join(out, f"{tier}_gorilla"),
                             format="parquet").to_table(
                columns=["n_points", "encoded_bytes"])
            enc += sum(g.column("encoded_bytes").to_pylist())
            pts += sum(g.column("n_points").to_pylist())
        layer["compress.bytes_per_point"] = enc / pts
        layer["store.bytes_per_seq"] = dir_bytes(out) / self.n_docs
        layer["retention.partitions_dropped"] = sum(
            len(v) for v in self.expect_dropped.values())

    def probes(self) -> list[Op]:
        """Traced-run extras outside the timed unit."""
        from stumpy_spark import cnative
        from stumpy_spark.rollup import tiers as RT
        from stumpy_spark.rollup.checkpoint import run_with_checkpoints

        spark, tr, layer = self.ctx.spark, self.ctx.tracer, self.ctx.layer
        df = spark.read.parquet(self.input)
        scan_identity(self.ctx, df)
        with tr.span("tiers.raw_stats"):
            noop(RT.per_sequence_stats_fused(df, m=M))
        # resume: a second call over the last unit's complete manifest
        # must run no slice
        res = self.last[1]
        with tr.span("checkpoint.resume"):
            again = run_with_checkpoints(spark, res["manifest"], "bench",
                                         res["slices"], res["process"])
        if again:
            raise RuntimeError(f"resume re-ran slices {again}")
        d = self.docs
        flat = np.ascontiguousarray(d.tokens)
        off = np.ascontiguousarray(d.offsets)
        t0 = time.perf_counter()
        cnative.sliding_stats_int32(flat, off, M)
        layer["cnative.sliding_tok_per_s"] = len(flat) / (
            time.perf_counter() - t0)
        return []


# -- matrix_profile ----------------------------------------------------------

class MatrixProfile:
    """Every matrix-profile path: per-doc summaries, the fused raw tier
    with profiles rolled up to 1h, and one long series through the tiled
    distributed self-join."""

    n_docs = 10_000
    min_units = 2
    warm_docs = 300
    series_len = 16_384
    warm_series = 2_048
    min_len = 2 * M
    n_sample_docs = 6
    n_sample_rows = 8
    kernel_sample = 500
    ab_block = 4_096

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.input = os.path.join(ctx.work, "input")

    def build(self) -> None:
        import naive_oracle

        d = gen.make_docs(self.ctx.seed, self.n_docs)
        shutil.rmtree(self.input, ignore_errors=True)
        gen.write_parquet(d, self.input)
        self.docs = d
        self.series = gen.make_series(self.ctx.seed, self.series_len)
        self.fingerprint = gen.fingerprint(d)
        n_tok = d.n_tok
        self.pairs_docs = sum(oracle.self_join_pairs(int(n), M)
                              for n in n_tok if n >= self.min_len)
        self.pairs_series = oracle.self_join_pairs(self.series_len, M)
        # a few short docs for the brute-force per-doc oracle
        short = np.flatnonzero((n_tok >= self.min_len) & (n_tok <= 110))
        self.sample = {}
        for i in short[:self.n_sample_docs]:
            t = d.tokens[d.offsets[i]:d.offsets[i + 1]].astype(np.float64)
            P = naive_oracle.stump(t, M)[0][:, 0]
            fin = P[np.isfinite(P)]
            self.sample[f"doc{d.ids[i]:08d}"] = (t, float(fin.min()),
                                                 float(fin.max()))
        g = np.random.Generator(np.random.Philox(key=[self.ctx.seed, 11]))
        self.rows = sorted(g.choice(self.series_len - M + 1,
                                    self.n_sample_rows, replace=False))
        self.expect_rows = oracle.profile_rows(self.series, M, self.rows)

    def warm(self) -> None:
        small = os.path.join(self.ctx.work, "warm_input")
        gen.write_parquet(gen.make_docs(self.ctx.seed, self.warm_docs,
                                        stream=1), small)
        self.run(small, gen.make_series(self.ctx.seed, self.warm_series),
                 os.path.join(self.ctx.work, "warm_longseq"))

    def run(self, input_path: str, series, longseq_out: str) -> None:
        from pyspark.sql import functions as F

        from stumpy_spark.operators.profile import profile_summary
        from stumpy_spark.plans.longseq import distributed_matrix_profile
        from stumpy_spark.rollup import tiers as RT

        spark, tr = self.ctx.spark, self.ctx.tracer
        df = spark.read.parquet(input_path)
        with tr.span("profile.summary"):
            noop(profile_summary(df.where(F.col("n_tok") >= self.min_len),
                                 M))
        with tr.span("profile.raw_with_profile"):
            noop(RT.rollup_tier(RT.per_sequence_stats_fused(
                df, m=M, include_profile=True), "1h"))
        with tr.span("longseq.prep"):
            mp = distributed_matrix_profile(spark, series, M)
        with tr.span("longseq.exec"):
            # parquet column names are case-insensitive: "i" and "I" clash
            (mp.toDF("i", "P", "nn", "PL", "IL", "PR", "IR")
             .write.mode("overwrite").parquet(longseq_out))

    def unit(self) -> list[Op]:
        out = os.path.join(self.ctx.work, "longseq")
        _, dt, cpu = timed(lambda: self.run(self.input, self.series, out))
        ok = _check(lambda: self.verify(out))
        return [Op("unit", dt, ok, work=2 * self.pairs_docs
                   + self.pairs_series, cpu=cpu)]

    def verify(self, longseq_out: str) -> bool:
        from pyspark.sql import functions as F

        from stumpy_spark.operators.profile import profile_summary
        from stumpy_spark.rollup import tiers as RT

        import naive_oracle

        bad = []
        df = self.ctx.spark.read.parquet(self.input).where(
            F.col("doc_id").isin(list(self.sample)))
        rows = profile_summary(df, M).collect()
        if len(rows) != len(self.sample):
            bad.append(f"summary returned {len(rows)} sample docs")
        for r in rows:
            t, lo, hi = self.sample[r.doc_id]
            mi, mj = r.motif_i, r.motif_j
            pair = naive_oracle.znorm_dist(t[mi:mi + M], t[mj:mj + M])
            if not (_close(r.min_p, lo) and _close(r.max_p, hi)
                    and _close(pair, lo)):
                bad.append(f"summary {r.doc_id}")
        rows = RT.per_sequence_stats_fused(df, m=M,
                                           include_profile=True).collect()
        if len(rows) != len(self.sample):
            bad.append(f"fused raw returned {len(rows)} sample docs")
        for r in rows:
            _, lo, hi = self.sample[r.doc_id]
            if not (_close(r.min_p, lo) and _close(r.max_p, hi)):
                bad.append(f"fused profile {r.doc_id}")
        t = pads.dataset(longseq_out, format="parquet").to_table(
            columns=["i", "P", "nn"]).sort_by("i")
        P = t.column("P").to_numpy()
        idx = t.column("nn").to_numpy()
        if len(P) != self.series_len - M + 1 or not np.isfinite(P).all():
            bad.append("longseq profile shape")
        else:
            s = self.series
            for row, (p, _) in zip(self.rows, self.expect_rows):
                j = int(idx[row])
                dj = naive_oracle.znorm_dist(s[row:row + M], s[j:j + M])
                if not (_close(P[row], p) and _close(dj, p)):
                    bad.append(f"longseq row {row}")
        for b in bad:
            print("matrix_profile check:", b)
        return not bad

    def probes(self) -> list[Op]:
        from stumpy_spark import cnative, kernels

        layer = self.ctx.layer
        scan_identity(self.ctx, self.ctx.spark.read.parquet(self.input))
        d = self.docs
        elig = np.flatnonzero(d.n_tok >= self.min_len)[:self.kernel_sample]
        docs = [d.tokens[d.offsets[i]:d.offsets[i + 1]].astype(np.float64)
                for i in elig]
        c_ok = 0
        for a in docs:
            res = cnative.mp_top1_self_int(a, M, kernels.excl_zone(M),
                                           kernels.config.P_NORM_THRESHOLD)
            c_ok += res is not None and res[0] == 0
        layer["cnative.c_route_share"] = c_ok / len(docs)
        pairs = sum(oracle.self_join_pairs(len(a), M) for a in docs)
        t0 = time.perf_counter()
        for a in docs:
            kernels.matrix_profile(a, M, compute_left_right=False)
        layer["kernels.mp_pairs_per_s"] = pairs / (time.perf_counter() - t0)
        n = self.ab_block
        a, b = self.series[:n], self.series[n:2 * n]
        t0 = time.perf_counter()
        kernels.matrix_profile(a, M, T_B=b, compute_left_right=False)
        layer["kernels.ab_pairs_per_s"] = (n - M + 1) ** 2 / (
            time.perf_counter() - t0)
        # tiles of the default 8192-window tile size
        tiles = math.ceil((self.series_len - M + 1) / 8192)
        layer["longseq.tiles"] = tiles * (tiles + 1) // 2
        layer["profile.pairs_total"] = 2 * self.pairs_docs + \
            self.pairs_series
        # tier serving runs in this workload's traced runs because its
        # unit is the shorter one: every run stays well inside its limit
        return TierServe(self.ctx, self.docs, self.input).probe()


# -- tier serving (probe) ----------------------------------------------------

class TierServe:
    """One closed-loop client on a tier store built from a workload's
    input: read rounds, each of the first ``late_batches`` followed by a
    late-row upsert.  It runs in traced ``matrix_profile`` runs only."""

    late_docs = 150
    late_batches = 2
    n_rounds = 5              # 20 reads: 10 lie beyond their p50
    range_source = "web"

    def __init__(self, ctx: Context, docs, input_path: str):
        self.ctx = ctx
        self.docs = docs
        self.input = input_path
        self.base = os.path.join(ctx.work, "serve")
        self.live = os.path.join(self.base, "store")
        self.rounds = 0

    def probe(self) -> list[Op]:
        self.build()
        self.warm()
        ops = []
        for r in range(self.n_rounds):
            ops += self.read_round()
            if r < self.late_batches:
                ops.append(self.upsert(r))
        return ops

    def build(self) -> None:
        seed, d = self.ctx.seed, self.docs
        stats = oracle.doc_stats(d, M)
        # late batches land in the last day of the week; batch b turns
        # the store into state b + 1
        self.late = []
        states = [(d, stats)]
        for b in range(self.late_batches):
            ld = gen.make_docs(seed, self.late_docs, stream=100 + b,
                               first_id=10 ** 7 + 1000 * b,
                               ts_lo=6 * DAY, ts_hi=7 * DAY)
            path = os.path.join(self.base, f"late{b}")
            gen.write_parquet(ld, path, files=1)
            self.late.append((path, ld))
            prev, pst = states[-1]
            lst = oracle.doc_stats(ld, M)
            states.append((oracle.concat(prev, ld), tuple(
                np.concatenate([x, y]) for x, y in zip(pst, lst))))
        self.expect = [{t: oracle.tier_table(sd, st, t)
                        for t in ("1m", "1h", "1d")} for sd, st in states]
        self.days = sorted({int(x) for x in d.ts // DAY * DAY})

    def warm(self) -> None:
        from pyspark.sql import functions as F

        from stumpy_spark.rollup import tiers as RT
        from stumpy_spark.rollup.compress import compress_tier
        from stumpy_spark.rollup.retention import TierStore

        spark = self.ctx.spark
        # raw tier in the (day, source) layout upsert_late_rows appends to
        raw = RT.per_sequence_stats_fused(spark.read.parquet(self.input), m=M)
        (raw.withColumn("day", F.to_date("event_ts"))
         .repartition("day", "source").write.mode("overwrite")
         .partitionBy("day", "source")
         .parquet(os.path.join(self.live, "raw")))
        raw = spark.read.parquet(os.path.join(self.live, "raw")).drop("day")
        for tier, tdf in RT.cascade(raw).items():
            TierStore(self.live, tier).write(tdf)
        compress_tier(spark.read.parquet(
            os.path.join(self.live, "1m")).drop("day"),
            ["n_seq", "sum_n_tok"]).write.mode("overwrite").parquet(
                os.path.join(self.live, "1m_gorilla"))
        # one warm read round (the build already ran the upsert's write
        # path); reads leave the store unchanged
        self.state = 0
        self.read_round(check=False)
        self.rounds = 0

    def _tier(self, tier: str):
        return self.ctx.spark.read.parquet(
            os.path.join(self.live, tier)).drop("day")

    def read_round(self, check: bool = True) -> list[Op]:
        from pyspark.sql import functions as F

        from stumpy_spark.rollup import tiers as RT
        from stumpy_spark.rollup.compress import decompress_tier
        from stumpy_spark.rollup.gapfill import gapfill

        spark, tr = self.ctx.spark, self.ctx.tracer
        r = self.rounds
        day = self.days[r % len(self.days)]
        day_s = time.strftime("%Y-%m-%d", time.gmtime(day))
        src = gen.SOURCES[r % len(gen.SOURCES)]
        exp = self.expect[self.state]
        ops = []

        def read(kind, span, fn, verify):
            rows, dt, _ = timed(lambda: _run_span(tr, span, fn))
            ok = _check(lambda: verify(rows)) if check else True
            ops.append(Op(kind, dt, ok, work=1))

        read("dash_1h", "gapfill.dash_1h",
             lambda: gapfill(self._tier("1h"), "1h", locf=True).collect(),
             lambda rows: _check_dash(rows, exp["1h"]))
        start = f"{day_s} 00:00:00"
        end = f"{day_s} 23:59:00"
        read("range_1m", "gapfill.range_1m",
             lambda: gapfill(
                 self._tier("1m").where(
                     (F.col("source") == self.range_source)
                     & (F.col("bucket") >= F.lit(start).cast("timestamp"))
                     & (F.col("bucket") <= F.lit(end).cast("timestamp"))),
                 "1m", start=start, end=end, interpolate=True).collect(),
             lambda rows: _check_range(rows, exp["1m"], self.range_source))
        read("points_1m", "compress.decode",
             lambda: decompress_tier(spark.read.parquet(
                 os.path.join(self.live, "1m_gorilla")).where(
                     (F.col("source") == src)
                     & (F.col("day") == F.lit(day_s).cast("date"))))
             .collect(),
             # chunks are written once at build time: upserts leave them
             lambda rows: _check_points(rows, self.expect[0]["1m"], src,
                                        day))
        read("means_1d", "tiers.means_1d",
             lambda: RT.with_read_time_means(self._tier("1d")).collect(),
             lambda rows: _check_means(rows, exp["1d"]))
        self.rounds += 1
        return ops

    def upsert(self, b: int) -> Op:
        from stumpy_spark.rollup.incremental import upsert_late_rows

        spark, tr = self.ctx.spark, self.ctx.tracer
        path, ld = self.late[b]
        late_df = spark.read.parquet(path)
        res, dt, _ = timed(lambda: _run_span(
            tr, "incremental.upsert",
            lambda: upsert_late_rows(spark, self.live, late_df, m=M)))
        # (tier, day, source) partitions this upsert rewrote
        self.ctx.layer["incremental.partitions_rewritten"] = \
            len(res["affected"]) * len(res["tiers"])
        self.state += 1
        return Op("upsert", dt, _check(lambda: self.verify_upsert(
            res, ld)), work=1)

    def verify_upsert(self, res, ld) -> bool:
        touched = {(time.strftime("%Y-%m-%d", time.gmtime(int(t))),
                    gen.SOURCES[s])
                   for t, s in zip(ld.ts // DAY * DAY, ld.src)}
        if set(map(tuple, res["affected"])) != touched:
            print("serve check: affected partitions differ")
            return False
        exp = self.expect[self.state]
        for tier in ("1m", "1h", "1d"):
            filt = None
            for day, src in touched:
                f = ((pads.field("day") == day)
                     & (pads.field("source") == src))
                filt = f if filt is None else filt | f
            rows = read_tier(os.path.join(self.live, tier), filt)
            want = {k: v for k, v in exp[tier].items()
                    if (time.strftime("%Y-%m-%d", time.gmtime(
                        k[1] // DAY * DAY)), k[0]) in touched}
            n = oracle.tier_mismatches(rows, want)
            if n:
                print(f"serve check: upsert {tier} {n} wrong rows")
                return False
        return True


def scan_identity(ctx: Context, df) -> None:
    """Parquet scan plus one Arrow round trip, no kernel work."""
    with ctx.tracer.span("scan.arrow_identity"):
        noop(df.mapInArrow(lambda batches: batches, df.schema))


def _run_span(tr, name, fn):
    with tr.span(name):
        return fn()


def _check_dash(rows, exp1h) -> bool:
    """Dense per-source hourly grid; observed buckets carry the tier's
    values, gaps carry zeros and the last observed min_n_tok (LOCF)."""
    by_src: dict[str, dict] = {}
    for k, v in exp1h.items():
        by_src.setdefault(k[0], {})[k[1]] = v
    want = sum((max(b) - min(b)) // 3600 + 1 for b in by_src.values())
    if len(rows) != want:
        return False
    rows = sorted(rows, key=lambda r: (r.source, r.bucket))
    last = {}
    for r in rows:
        v = by_src[r.source].get(_epoch(r.bucket))
        if v is not None:
            last[r.source] = v[2]
        n_seq = v[0] if v else 0
        if r.n_seq != n_seq or r.min_n_tok != last.get(r.source):
            return False
    return True


def _epoch(ts) -> int:
    from datetime import timezone
    return int(ts.replace(tzinfo=timezone.utc).timestamp())


def _check_range(rows, exp1m, src) -> bool:
    if len(rows) != 1440:
        return False
    for r in rows:
        v = exp1m.get((src, _epoch(r.bucket)))
        if r.n_seq != (v[0] if v else 0):
            return False
        if v is not None and r.min_n_tok != v[2]:
            return False
    return True


def _check_points(rows, exp1m, src, day) -> bool:
    want = {(k[1], m): v[i] for k, v in exp1m.items()
            if k[0] == src and day <= k[1] < day + DAY
            for i, m in ((0, "n_seq"), (1, "sum_n_tok"))}
    got = {(_epoch(r.bucket), r.metric): r.value for r in rows}
    return got == {k: float(v) for k, v in want.items()}


def _check_means(rows, exp1d) -> bool:
    if len(rows) != len(exp1d):
        return False
    for r in rows:
        v = exp1d.get((r.source, _epoch(r.bucket)))
        if v is None or not math.isclose(r.avg_n_tok, v[1] / v[0],
                                         rel_tol=1e-12):
            return False
    return True


WORKLOADS = {"rollup_job": RollupJob, "matrix_profile": MatrixProfile}
