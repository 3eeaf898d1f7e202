"""Sorted-neighborhood blocking + empirical-Bayes host quality."""

import pytest

from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.operators.profile import eb_host_quality


def _recs(spark, rows):
    # rows: (id, bucket, key)
    return spark.createDataFrame(
        rows, "id long, bkt string, snm_key string"
    )


def test_eb_shrinkage_reranks_small_hosts(spark):
    docs = spark.createDataFrame(
        [("A", 1)] * 3 + [("A", 0)] * 1 + [("B", 1)] * 200 + [("B", 0)] * 800,
        "source string, bad int",
    )
    out = eb_host_quality(docs, F.col("bad") == 1).collect()
    got = {r.source: r for r in out}
    assert got["A"].raw_rate == 0.75 and got["A"].eb_rate == 0.208333
    assert got["B"].raw_rate == 0.2 and got["B"].eb_rate == 0.198039
    assert got["A"].shrink_w == 0.166667 and got["B"].shrink_w == 0.980392
    # A still (barely) outranks B after shrinkage; order is eb desc
    assert [r.source for r in out] == ["A", "B"]
