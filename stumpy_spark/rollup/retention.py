"""Retention: per-tier expiry of old partitions.

Each materialized tier keeps a bounded time horizon (raw shortest, 1d
longest).  Expiry is **partition drop, not row delete**: tiers are written
partitioned by (source, day(bucket)), so expiring a day is an O(1) metadata
operation (directory/partition removal) — the Iceberg
``expire_snapshots``/``drop_partition`` pattern, realized on plain parquet
here since this sandbox has no Iceberg runtime.  Nothing rewrites data
files.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from datetime import datetime, timedelta
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: default horizons (seconds) per tier — raw ages out fastest
DEFAULT_HORIZONS = {
    "raw": 2 * 86400,
    "1m": 7 * 86400,
    "1h": 90 * 86400,
    "1d": 3650 * 86400,
}


def observed(obs: Observation, **empty) -> dict:
    """The metrics of a write that ran ``df.observe(obs, ...)``.

    A write over zero rows has none (Spark plans the empty input away,
    metrics node included, and ``obs.get`` fails), so it reads as
    ``empty``.
    """
    try:
        return obs.get
    except Exception:
        return empty


@dataclass
class TierStore:
    """A materialized tier on disk, partitioned by (day, source)."""
    root: str
    tier: str

    @property
    def path(self) -> str:
        return str(Path(self.root) / self.tier)

    def write(self, df: DataFrame, dynamic: bool = False) -> int:
        """Overwrite the tier with ``df``; returns the rows written.

        ``dynamic`` replaces only the (day, source) partitions ``df``
        holds, and the others keep their files; the default replaces the
        whole tier.  Either way the session's overwrite mode is untouched.
        """
        obs = Observation()
        (df.withColumn("day", F.to_date("bucket"))
         .observe(obs, F.count(F.lit(1)).alias("rows"))
         .repartition("day", "source")
         .write.mode("overwrite")
         .option("partitionOverwriteMode",
                 "dynamic" if dynamic else "static")
         .partitionBy("day", "source")
         .parquet(self.path))
        return observed(obs, rows=0)["rows"]

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path).drop("day")

    @staticmethod
    def schema(df: DataFrame, *outer: str) -> T.StructType:
        """The schema ``spark.read.parquet`` gives a store of
        :meth:`write` ``(df)`` writes nested under the ``outer`` (string)
        partition directories; reading with it skips Spark's
        schema-inference job."""
        data = [T.StructField(f.name, f.dataType) for f in df.schema
                if f.name not in ("day", "source")]
        parts = [T.StructField(c, T.StringType()) for c in outer]
        return T.StructType(data + parts + [
            T.StructField("day", T.DateType()),
            T.StructField("source", T.StringType())])

    def partitions(self) -> list[str]:
        return sorted(p.name for p in Path(self.path).glob("day=*"))

    def expire(self, now: datetime, horizon_seconds: int) -> list[str]:
        """Drop day-partitions entirely older than the horizon."""
        cutoff = (now - timedelta(seconds=horizon_seconds)).date()
        dropped = []
        for p in Path(self.path).glob("day=*"):
            day = datetime.strptime(p.name.split("=", 1)[1],
                                    "%Y-%m-%d").date()
            if day < cutoff:
                shutil.rmtree(p)
                dropped.append(p.name)
        return sorted(dropped)


def apply_retention(stores: dict[str, TierStore], now: datetime,
                    horizons: dict[str, int] | None = None
                    ) -> dict[str, list[str]]:
    horizons = horizons or DEFAULT_HORIZONS
    return {tier: store.expire(now, horizons.get(tier, 10 ** 12))
            for tier, store in stores.items()}
