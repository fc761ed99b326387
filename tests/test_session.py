"""Session helpers: the package ship under concurrent callers, and the
Python workers' cheap zip-directory invalidation."""

import threading
import types

import pytest

from kapacitor_spark.session import ensure_worker_imports


def test_ensure_worker_imports_ships_once_under_concurrent_callers():
    """Eight threads released together through a barrier all make the
    first ensure_worker_imports call on one context: the package zip is
    shipped exactly once."""
    shipped = []

    class Context:
        def addPyFile(self, path):
            shipped.append(path)

    spark = types.SimpleNamespace(sparkContext=Context())
    barrier = threading.Barrier(8)
    errors = []

    def call():
        barrier.wait()
        try:
            ensure_worker_imports(spark)
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=call) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert len(shipped) == 1
    assert spark.sparkContext._kapacitor_spark_shipped is True


def _write_zip(path, src):
    import zipfile

    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("kspark_zipmod.py", src)


def test_zip_invalidation_keeps_directory_until_archive_changes(
    tmp_path, monkeypatch
):
    """Patched in a worker, importlib.invalidate_caches() keeps a
    zipimporter's directory while its archive is unchanged, and re-reads
    it once the archive is rewritten. No Spark: the worker is simulated
    by a non-None TaskContext.get()."""
    import importlib
    import sys
    import zipimport

    from pyspark import TaskContext

    from kapacitor_spark import session

    if sys.version_info >= (3, 13):
        pytest.skip("CPython >= 3.13 invalidates zip directories lazily")
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, "V = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(TaskContext, "get", lambda: object())
    monkeypatch.syspath_prepend(zpath)
    sys.modules.pop("kspark_zipmod", None)
    assert importlib.import_module("kspark_zipmod").V == 1
    importer = sys.path_importer_cache[zpath]
    assert session._stamped_zip_invalidation() is True

    importlib.invalidate_caches()  # stamps: the one re-read
    files = importer._files
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert importer._files is files

    _write_zip(zpath, "V = 2  # v2\n")
    importlib.invalidate_caches()
    assert importer._files is not files
    del sys.modules["kspark_zipmod"]
    assert importlib.import_module("kspark_zipmod").V == 2
    del sys.modules["kspark_zipmod"], sys.path_importer_cache[zpath]


def test_zip_invalidation_patch_is_inert_outside_workers(monkeypatch):
    """On the driver (no TaskContext) and on CPython >= 3.13 the patch
    leaves zipimporter.invalidate_caches alone."""
    import sys
    import zipimport

    from pyspark import TaskContext

    from kapacitor_spark import session

    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", before)
    monkeypatch.setattr(TaskContext, "get", lambda: None)
    assert session._stamped_zip_invalidation() is False
    assert zipimport.zipimporter.invalidate_caches is before
    monkeypatch.setattr(TaskContext, "get", lambda: object())
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert session._stamped_zip_invalidation() is False
    assert zipimport.zipimporter.invalidate_caches is before


def test_worker_keeps_pyspark_zip_directory_across_jobs(spark):
    """Consecutive single-task jobs whose UDF imports kapacitor_spark:
    from a worker's third such task on, PySpark's per-task
    invalidate_caches() leaves its pyspark.zip importer holding the
    directory object the previous task saw (before the patch every task
    re-read it into a new dict)."""
    import sys

    if sys.version_info >= (3, 13):
        pytest.skip("CPython >= 3.13 invalidates zip directories lazily")

    def report(it):
        import os
        import sys
        import zipimport

        import pandas as pd

        import kapacitor_spark  # noqa: F401  (as every engine closure does)

        for _ in it:
            pass
        imp = next(
            v for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
            and os.path.basename(k) == "pyspark.zip"
        )
        # the previous task's directory, kept alive so an identity check
        # cannot be fooled by a reused id()
        prev = getattr(imp, "_test_prev_files", None)
        seen = getattr(imp, "_test_tasks", 0)
        imp._test_prev_files, imp._test_tasks = imp._files, seen + 1
        yield pd.DataFrame(
            {"seen": [seen], "same": [prev is imp._files]}
        )

    df = spark.range(0, 1, numPartitions=1)
    late = []
    for _ in range(40):
        r = df.mapInPandas(report, "seen long, same boolean").collect()[0]
        if r.seen >= 2:
            late.append(r.same)
        if len(late) >= 2:
            break
    assert late == [True, True]
