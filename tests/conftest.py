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
