"""Per-partition checkpoints, lineage, and resume.

Long rollup jobs over 10^12 sequences must survive restarts without
recomputing finished work.  The unit of progress is an **input partition
slice** (here: a doc-id hash bucket; on a real Iceberg table: a file
scan task / partition).  After each slice is rolled up, a manifest row
is committed:

    (job_id, slice_id, input_fingerprint, row_count, metrics, wall_sec,
     committed_at)

``input_fingerprint`` is a content hash of the slice's input keys (xxhash64
aggregated with bit-xor — order-insensitive, computed distributed; all
slices in one Spark action), standing in for the Iceberg snapshot-id +
partition hash named in the north rule.  Resume skips the slices committed
**with the same fingerprint**, so a changed input invalidates its
checkpoint automatically.

The manifest is an append-only directory of one-row parquet files, one per
commit, written by pyarrow on the driver: each row goes to a hidden name
first and is then renamed to ``commit-<uuid>.parquet``, so a crash leaves
either a whole commit or a hidden partial file that readers skip.  It is
the same shape as an Iceberg manifest; swap :meth:`Manifest.append` for a
MERGE on Iceberg in production.  Manifests written by earlier versions
(one Spark-written ``commit-<uuid>`` directory per row) read the same way.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass
from functools import reduce
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SCHEMA = pa.schema([
    ("job_id", pa.string()),
    ("slice_id", pa.int64()),
    ("input_fingerprint", pa.int64()),
    ("row_count", pa.int64()),
    ("metrics", pa.string()),
    ("wall_sec", pa.float64()),
    ("committed_at", pa.float64()),
])


@dataclass
class Manifest:
    path: str

    def append(self, job_id: str, slice_id: int, fingerprint: int,
               row_count: int, metrics: dict, wall_sec: float) -> None:
        d = Path(self.path)
        d.mkdir(parents=True, exist_ok=True)
        row = [job_id, slice_id, fingerprint, row_count,
               json.dumps(metrics, sort_keys=True), wall_sec, time.time()]
        name = f"commit-{uuid.uuid4().hex}.parquet"
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(_SCHEMA.names, row))], _SCHEMA), d / f".{name}")
        os.replace(d / f".{name}", d / name)

    def read(self) -> pa.Table:
        return pa.concat_tables([_SCHEMA.empty_table()] + [
            pq.read_table(p, schema=_SCHEMA)
            for p in Path(self.path).glob("commit-*")])


def slice_fingerprint(slices: dict[int, DataFrame],
                      key_col: str = "doc_id") -> dict[int, int]:
    """Order-insensitive content hash of each slice's input keys.

    Distributed: xxhash64 per row, bit-xor per slice over the union of
    all slices' hashes, one grouped aggregate in one Spark action — one
    scalar per slice back to the driver; an empty slice hashes to 0.
    """
    hashes = reduce(DataFrame.unionAll, [
        df.select(F.lit(s).alias("s"), F.xxhash64(key_col).alias("h"))
        for s, df in slices.items()])
    fps = dict(hashes.groupBy("s").agg(F.bit_xor("h")).collect())
    return {s: fps.get(s, 0) for s in slices}


def run_with_checkpoints(spark: SparkSession, manifest: Manifest,
                         job_id: str, slices: dict[int, DataFrame],
                         process, key_col: str = "doc_id") -> list[int]:
    """Run `process(slice_id, slice_df) -> (row_count, metrics)` per
    pending slice, committing a manifest row after each.  Returns slices
    actually run.

    A slice is pending unless the manifest holds a commit of it for this
    job with its current input fingerprint (a stale checkpoint re-runs).
    ``process`` receives the slice id so its writes can target a
    deterministic slice-keyed location with overwrite semantics: a crash
    between the data write and the manifest commit then makes the re-run
    idempotent (the slice directory is simply rewritten) instead of
    silently appending duplicate rows.
    """
    fingerprints = slice_fingerprint(slices, key_col)
    t = manifest.read().to_pydict()
    done = set(zip(t["job_id"], t["slice_id"], t["input_fingerprint"]))
    todo = [s for s in sorted(slices)
            if (job_id, s, fingerprints[s]) not in done]
    for s in todo:
        t0 = time.time()
        row_count, metrics = process(s, slices[s])
        manifest.append(job_id, s, fingerprints[s], row_count, metrics,
                        time.time() - t0)
    return todo
