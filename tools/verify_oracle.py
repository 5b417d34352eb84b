"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at the given sf dir, runs the
matching ``oracle_sql()`` in DuckDB (with the driver's pre-registered
views), and compares row count, column names, and an order-insensitive
value hash.  Usage::

    python tools/verify_oracle.py [sf_dir] [query ...]

A query name may also be a constituent of a ``_MERGE_SPEC`` composite;
the composite runs in its place.  A name that matches nothing is an
error.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash: sort columns by name, round floats,
    stringify rows, sort, md5."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols].copy()
    for c in cols:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(6)
    rows = sorted(
        "|".join("NULL" if pd.isna(v) else str(v) for v in rec)
        for rec in pdf.itertuples(index=False, name=None))
    h = hashlib.md5()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def resolve_names(names, query_names, merge_spec):
    """Map requested names onto ``queries()`` names.

    Returns ``(run, via, unknown)``: the set of queries to run, the
    ``(constituent, composite)`` pairs resolved through ``merge_spec``,
    and the names that match neither a query nor a constituent."""
    part_of = {tag: new for new, parts in merge_spec for tag, _ in parts}
    run, via, unknown = set(), [], []
    for name in names:
        if name in query_names:
            run.add(name)
        elif name in part_of:
            run.add(part_of[name])
            via.append((name, part_of[name]))
        else:
            unknown.append(name)
    return run, via, unknown


def _duckdb_connect(spill: str):
    """DuckDB capped at 40% of physical memory, spilling to ``spill``
    (at most 5 GB).  Uncapped, DuckDB takes 80% of RAM and spills into
    ``.tmp/`` in the cwd; the sf0.1 ``gapfill_1h_modes`` oracle was
    OOM-killed at 12.8 GB that way on a 15 GB host that also runs the
    Spark side.  A quarter of that host's RAM was too little for the
    sf0.01 ``mstump_variants`` oracle, whose operators cannot spill."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{ram * 2 // 5 // 2 ** 20}MB'")
    con.execute(f"SET temp_directory = '{spill}'")
    con.execute("SET max_temp_directory_size = '5GB'")
    return con


def main() -> int:
    args = sys.argv[1:]
    out_path = None
    if "--json" in args:  # write a machine-readable sweep artifact
        i = args.index("--json")
        out_path = args[i + 1]
        del args[i:i + 2]
    if args and os.path.isdir(args[0]):
        sf_dir, only = args[0], set(args[1:])
    else:  # all args are query names; default sf dir
        sf_dir, only = "/root/testdata/sf0.01", set(args)
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir

    import __spark_entry__ as entrymod
    from stumpy_spark.session import get_spark

    qs = entrymod.queries()
    only, via, unknown = resolve_names(only, qs, entrymod._MERGE_SPEC)
    if unknown:
        print("UNKNOWN query name(s):", " ".join(unknown))
        return 2
    for name, composite in via:
        print(f"{name} → {composite}")

    spark = get_spark(app_name="verify-oracle", cpus=8)
    spill = tempfile.mkdtemp(prefix="verify_oracle_duckdb_")
    con = _duckdb_connect(spill)
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracles = entrymod.oracle_sql()
    failures = []
    record = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            record[name] = {"status": "spark_error"}
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({t_spark:.1f}s) "
                  f"[rows-only]")
            record[name] = {"status": "rows_only", "rows": len(sdf),
                            "spark_sec": round(t_spark, 1)}
            continue
        t0 = time.time()
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {e}")
            failures.append(name)
            record[name] = {"status": "duckdb_error"}
            continue
        t_duck = time.time() - t0
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns {sorted(sdf.columns)} vs "
                            f"{sorted(odf.columns)}")
        if not problems:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append("value-hash mismatch")
                _debug_mismatch(sdf, odf, name)
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} "
                  f"(spark {t_spark:.1f}s, duckdb {t_duck:.1f}s)")
            failures.append(name)
            record[name] = {"status": "mismatch", "problems": problems}
        else:
            print(f"OK    {name}: {len(sdf)} rows "
                  f"(spark {t_spark:.1f}s, duckdb {t_duck:.1f}s)")
            record[name] = {"status": "ok", "rows": len(sdf),
                            "spark_sec": round(t_spark, 1),
                            "duckdb_sec": round(t_duck, 1)}
    spark.stop()
    con.close()
    shutil.rmtree(spill, ignore_errors=True)
    print("FAILURES:", failures if failures else "none")
    if out_path:
        import json
        with open(out_path, "w") as f:
            json.dump({"sf_dir": sf_dir,
                       "n_ok": sum(1 for v in record.values()
                                   if v["status"] == "ok"),
                       "n_fail": len(failures),
                       "failures": failures,
                       "queries": record}, f, indent=1)
    return 1 if failures else 0


def _debug_mismatch(sdf: pd.DataFrame, odf: pd.DataFrame,
                    name: str) -> None:
    cols = sorted(sdf.columns)
    a = sdf[cols].copy()
    b = odf[cols].copy()
    for c in cols:
        if a[c].dtype.kind == "f":
            a[c] = a[c].round(6)
        if b[c].dtype.kind == "f":
            b[c] = b[c].round(6)
    a["_k"] = a.astype(str).agg("|".join, axis=1)
    b["_k"] = b.astype(str).agg("|".join, axis=1)
    only_a = set(a._k) - set(b._k)
    only_b = set(b._k) - set(a._k)
    for r in list(only_a)[:3]:
        print(f"      spark-only: {r}")
    for r in list(only_b)[:3]:
        print(f"      duckdb-only: {r}")


if __name__ == "__main__":
    sys.exit(main())
