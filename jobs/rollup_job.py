#!/usr/bin/env python
"""Command line of the production rollup job
(:func:`stumpy_spark.rollup.job.run_rollup`): prints its metrics as one
JSON line.

Run locally::

    python jobs/rollup_job.py --input .fixtures/tokseq_sf0.01 \
        --output /tmp/rollup_out --slices 8 --job-id demo

or on a cluster::

    spark-submit --py-files stumpy_spark.zip jobs/rollup_job.py ...

(`make package` / ``python jobs/rollup_job.py --package`` builds
``stumpy_spark.zip``.)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def build_package() -> str:
    """Zip stumpy_spark for spark-submit --py-files."""
    import zipfile
    out = os.path.join(REPO, "stumpy_spark.zip")
    with zipfile.ZipFile(out, "w") as z:
        pkg = os.path.join(REPO, "stumpy_spark")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="tokseq parquet path")
    ap.add_argument("--output", help="tier store root")
    ap.add_argument("--slices", type=int, default=16)
    ap.add_argument("--job-id", default="rollup")
    ap.add_argument("--m", type=int, default=25)
    ap.add_argument("--salt-buckets", type=int, default=0,
                    help="salt hot (source,bucket) groups")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--package", action="store_true",
                    help="just build stumpy_spark.zip and exit")
    args = ap.parse_args()

    if args.package:
        print(build_package())
        return

    from stumpy_spark.rollup.job import run_rollup
    from stumpy_spark.session import get_spark

    spark = get_spark(app_name=f"rollup-{args.job_id}", cpus=args.cpus)
    print(json.dumps(run_rollup(spark, args.input, args.output, args.slices,
                                args.job_id, args.m, args.salt_buckets)))
    spark.stop()


if __name__ == "__main__":
    main()
