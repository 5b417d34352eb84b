"""The Python-worker hook that skips re-reading unchanged zip archives
(``stumpy_spark._worker``): in-process on a temporary archive, then in
Spark's reused workers."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from stumpy_spark import _worker


@pytest.fixture
def reads(monkeypatch):
    """Install the hook for one test; returns the list of archives whose
    directory was read since."""
    # setattr to the current value: the original is restored afterwards
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        getattr(zipimport.zipimporter, "invalidate_caches",
                                None), raising=False)
    if not _worker.install():
        pytest.skip("zipimporter.invalidate_caches does not re-read here")
    seen = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: seen.append(archive) or read(archive))
    return seen


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    monkeypatch.syspath_prepend(path)
    yield path
    for name in [m for m in sys.modules if m.startswith("zhook_")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]


def _write_zip(path, **modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name.replace(".", "/") + ".py", src)


def test_unchanged_archive_is_not_reread(reads, archive):
    _write_zip(archive, **{"zhook_pkg.__init__": "", "zhook_pkg.a": "X = 1"})
    assert importlib.import_module("zhook_pkg.a").X == 1
    reads.clear()
    importlib.invalidate_caches()
    # the archive's importer and its package's share one read
    assert reads.count(archive) == 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads


def test_rewritten_archive_is_reread(reads, archive):
    _write_zip(archive, zhook_a="X = 1")
    assert importlib.import_module("zhook_a").X == 1
    importlib.invalidate_caches()
    _write_zip(archive, zhook_a="X = 1", zhook_b="Y = 2")
    importlib.invalidate_caches()
    assert importlib.import_module("zhook_b").Y == 2


def test_install_twice_wraps_once(reads):
    hook = zipimport.zipimporter.invalidate_caches
    assert _worker.install()
    assert zipimport.zipimporter.invalidate_caches is hook
    assert hook.__wrapped__.__module__ == "zipimport"
    # not a Spark worker: the package import leaves zipimport alone
    assert not _worker.install_in_spark_worker()


def test_reused_spark_worker_skips_archive_rereads(spark):
    """After a worker's first engine task, later tasks re-read no
    unchanged archive, under mapInArrow, applyInArrow and mapInPandas
    alike, and a pyspark submodule first imported then still loads from
    pyspark.zip."""
    import pandas as pd
    import pyarrow as pa

    schema = "kind string, pid long, hooked boolean, reads long, mod string"

    def probe(kind):
        import os
        import zipimport

        from pyspark import TaskContext

        import stumpy_spark  # noqa: F401  (an engine UDF's unpickling)

        read = zipimport._read_directory
        if not hasattr(read, "calls"):
            def counted(path, _read=read):
                counted.calls += 1
                return _read(path)
            counted.calls, counted.task, counted.mark = 0, None, None
            counted.since = None
            zipimport._read_directory = read = counted
        task = TaskContext.get().taskAttemptId()
        if task != read.task:
            # reads between this worker's previous task and this one
            read.since = None if read.mark is None else read.calls - read.mark
            read.task = task
        mod = ""
        if read.since is not None:
            mod = importlib.import_module("pyspark.sql.avro.functions")
            mod = mod.__file__
        read.mark = read.calls
        hooked = (zipimport.zipimporter.invalidate_caches.__module__
                  == "stumpy_spark._worker")
        return {"kind": kind, "pid": os.getpid(), "hooked": hooked,
                "reads": read.since, "mod": mod}

    def map_arrow(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([probe("mapInArrow")])

    def map_pandas(frames):
        for _ in frames:
            pass
        yield pd.DataFrame([probe("mapInPandas")])

    def apply_arrow(table):
        return pa.Table.from_pylist([probe("applyInArrow")])

    df = spark.range(8, numPartitions=8)
    rows = []
    for _ in range(2):
        rows += df.mapInArrow(map_arrow, schema).collect()
        rows += df.mapInPandas(map_pandas, schema).collect()
        rows += (df.groupBy((df.id % 8).alias("g"))
                 .applyInArrow(apply_arrow, schema).collect())
    assert all(r.hooked for r in rows)
    reused = [r for r in rows if r.reads is not None]
    for kind in ("mapInArrow", "mapInPandas", "applyInArrow"):
        assert any(r.kind == kind for r in reused), kind
    assert all(r.reads == 0 for r in reused), reused
    if not all(".zip" in r.mod for r in reused):
        pytest.skip("the workers' pyspark is not imported from a zip")
