import pytest
from pyspark.sql import SparkSession

from invoice_ocr_reconciler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        cores=4,
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="module", autouse=True)
def _release_cached_frames():
    """Drop what a test module left persisted: the auxiliary operators
    (graph's CC and PageRank, cluster, preference, bpe, ...) persist frames
    they never unpersist, and so do the __spark_entry__ queries, which have
    no handle to release reconcile's output. The whole suite shares one
    driver JVM, whose heap is sized to the box, and the cached blocks and
    their plans would otherwise pile up in it module after module. Core
    code releases its own: test_reconcile pins ``Reconciled.release``."""
    yield
    active = SparkSession.getActiveSession()
    if active is not None:
        active.catalog.clearCache()


@pytest.fixture
def built_conf(monkeypatch):
    """``built_conf(**kwargs)`` -> the master and configs ``get_spark``
    hands the session builder. Config-assembly checks only — no real
    session is spun."""
    import invoice_ocr_reconciler_spark.session as sess

    captured = {}

    class FakeBuilder:
        def master(self, m):
            captured["master"] = m
            return self

        def appName(self, *_):
            return self

        def config(self, k, v):
            captured[k] = v
            return self

        def getOrCreate(self):
            raise RuntimeError("stop-before-jvm")

    monkeypatch.setattr(
        sess.SparkSession, "builder", FakeBuilder(), raising=True
    )

    def build(**kwargs):
        captured.clear()
        with pytest.raises(RuntimeError, match="stop-before-jvm"):
            sess.get_spark(**kwargs)
        return dict(captured)

    return build
