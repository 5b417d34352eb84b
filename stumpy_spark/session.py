"""SparkSession factory with the engine's scale-oriented defaults.

Single place where execution knobs live, so bench/tests/driver all run the
same physical configuration: AQE on (skew-join splitting at 100 TB scale),
Arrow exchange on (all kernels are pandas/Arrow UDFs), and a bounded Arrow
batch size so one batch of token arrays never blows executor memory.

Python workers: every Arrow/pandas UDF task starts with a fixed cost in its
worker before it reads a row.  Spark's ``importlib.invalidate_caches()``
made each of the worker's 16 zip importers (``pyspark.zip``, ``py4j``, the
``spark-core`` jar) re-read its archive's directory, 0.13-0.26 CPU s per
task on a 4-CPU host.  Importing ``stumpy_spark`` in a worker, which
unpickling any engine UDF does, installs ``stumpy_spark._worker``'s hook:
an unchanged archive is not re-read, so a reused worker's later tasks pay
none of it.  Each worker's first task still pays one full re-read (plus
one read per archive for the hook's stamps).  The hook relies on
``spark.python.worker.reuse`` staying on (Spark's default); a worker that
is not reused, or one started without the daemon, gains nothing from it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "stumpy-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    # one BLAS thread per Python worker — Spark tasks are the parallelism
    # unit; nested BLAS threading oversubscribes executors
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
              "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # build the optional compiled kernel once in the driver before any
    # Python worker forks — workers then dlopen the cached .so instead
    # of racing 32 parallel gcc invocations on first use; pin the cache
    # dir into the env so workers resolve the same location even if
    # their TMPDIR differs
    from . import cnative
    cnative.load()
    os.environ.setdefault("STUMPY_SPARK_CKERNEL_DIR",
                          cnative._build_dir())
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 32)
    builder = (
        SparkSession.builder
        .appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # split small parquet inputs into enough scan partitions that
        # CPU-heavy kernel stages can use every core (default 128 MB
        # buckets collapse a 300 MB table into ~3 tasks)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.serializer",
                "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
