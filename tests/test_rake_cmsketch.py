"""RAKE keyphrases (operators/keyphrases.py) and count-min sketch
(operators/cmsketch.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.operators.cmsketch import (
    build_cm_sketch,
    cm_estimate,
    merge_cm_sketches,
)

# --- RAKE ---------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- count-min ----------------------------------------------------------


def _terms(spark, words):
    return spark.createDataFrame([(w,) for w in words], "term string")


def test_cm_one_sided_bound_and_exactness(spark):
    words = [f"w{i % 50}" for i in range(500)] + ["rare"] * 3
    items = _terms(spark, words)
    sk = build_cm_sketch(items, depth=4, width=512)
    probes = _terms(spark, [f"w{i}" for i in range(50)] + ["rare", "absent"])
    est = {r["term"]: r["est"] for r in cm_estimate(sk, probes).collect()}
    exact = {f"w{i}": 10 for i in range(50)}
    exact["rare"] = 3
    exact["absent"] = 0
    for t, x in exact.items():
        assert est[t] >= x, t  # the one-sided guarantee
    # 51 distinct terms into 512 buckets x 4 rows: min over rows is
    # almost surely exact; require it for the bulk of the probes
    hits = sum(1 for t, x in exact.items() if est[t] == x)
    assert hits >= 45


def test_cm_merge_equals_whole(spark):
    words = [f"t{i % 20}" for i in range(200)]
    a = build_cm_sketch(_terms(spark, words[:90]))
    b = build_cm_sketch(_terms(spark, words[90:]))
    merged = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in merge_cm_sketches(a, b).collect()
    }
    whole = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in build_cm_sketch(_terms(spark, words)).collect()
    }
    assert merged == whole


def test_cm_weighted_and_guards(spark):
    items = spark.createDataFrame(
        [("x", 5), ("x", 2), ("y", 1)], "term string, w long"
    )
    sk = build_cm_sketch(items, weight_col="w")
    est = {
        r["term"]: r["est"]
        for r in cm_estimate(sk, _terms(spark, ["x", "y"])).collect()
    }
    assert est["x"] >= 7 and est["y"] >= 1
    with pytest.raises(ValueError):
        build_cm_sketch(items, depth=0)
    with pytest.raises(ValueError):
        merge_cm_sketches()
    # probing with a config that differs from the build stamp raises
    # instead of silently under-counting
    with pytest.raises(ValueError):
        cm_estimate(sk, _terms(spark, ["x"]), width=512)


def test_cm_sketch_bounded_and_null_terms(spark):
    items = spark.createDataFrame(
        [(None,), ("a",), ("b",)], "term string"
    )
    sk = build_cm_sketch(items, depth=4, width=512)
    rows = sk.collect()
    assert len(rows) <= 4 * 512
    assert sum(r["cnt"] for r in rows) == 2 * 4  # null excluded
