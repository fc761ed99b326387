"""Session helpers under concurrent callers."""

import threading
import types

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
