"""Physical-plan regression guards: pin the plan properties PLANS.md claims.

These don't measure wall time (sandbox noise); they assert the SHAPE that
makes the operators scale — exchange counts, scan pushdown, broadcast
choice — so a refactor that silently adds a shuffle or drops a pushdown
fails CI instead of a future benchmark.
"""

import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(df) -> int:
    # count shuffle exchanges only (not BroadcastExchange / reused)
    return len(re.findall(r"\bExchange (?:hash|range|Single)", _plan(df)))


def test_sessionize_single_exchange(spark):
    from invoice_ocr_reconciler_spark.operators.events import sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df = sessionize(ev).select("event_id", "session_id")
    assert _exchanges(df) == 1


def test_asof_join_single_exchange_and_pushdown(spark):
    from invoice_ocr_reconciler_spark.operators.events import asof_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    df = asof_join(clicks, views, right_cols=("event_id", "value"))
    p = _plan(df)
    assert _exchanges(df) == 1
    assert "BroadcastNestedLoopJoin" not in p
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type," in p


def test_repetition_metrics_no_shuffle(spark):
    from invoice_ocr_reconciler_spark.functions.text import repetition_cols

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    c = repetition_cols(F.col("text"))
    df = docs.select("doc_id", c["top_2gram_frac"], c["dup_5gram_frac"])
    assert _exchanges(df) == 0


def test_stratified_sample_no_shuffle(spark):
    from invoice_ocr_reconciler_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = stratified_sample(docs, rates={"en": 50})
    assert _exchanges(df) == 0


def test_status_filter_scan_pushdown_and_pruning(spark):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    df = orders.filter(F.col("o_orderstatus").isin("O", "P")).select(
        "o_orderkey", "o_totalprice"
    )
    p = _plan(df)
    assert "PushedFilters: [In(o_orderstatus" in p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and set(f.split(":")[0] for f in m.group(1).split(",")) == {
        "o_orderkey", "o_totalprice", "o_orderstatus"
    }


def test_label_centroids_single_agg_exchange(spark):
    from invoice_ocr_reconciler_spark.operators.similarity import label_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = label_centroids(emb)
    # one exchange for the (label, dim) agg; partial aggregation map-side
    assert _exchanges(df) == 1
    assert "partial_" in _plan(df).lower() or "HashAggregate" in _plan(df)


def test_plan_audit_no_python_in_codegen_queries(spark):
    """Regression guard: every query documented as pure-codegen stays
    Python-free (a bare-function higher-order binding or an accidental
    UDF would show up here before it shows up in a profile)."""
    from tools.plan_audit import PURE_CODEGEN_QUERIES, audit

    rows, violations = audit("/root/testdata/sf0.001", PURE_CODEGEN_QUERIES)
    assert violations == []
    errs = [r for r in rows if "error" in r]
    assert errs == []
    # cartesian products never sneak in anywhere on this list
    assert all(r["cartesian"] == 0 for r in rows)


def _hash_exchanges(df) -> int:
    return len(re.findall(r"\bExchange hash", _plan(df)))


def test_funnel_single_hash_exchange(spark):
    from invoice_ocr_reconciler_spark.operators.events import funnel_stages

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df = funnel_stages(ev, ["signup", "view", "purchase"])
    # the whole greedy state machine is one groupBy(user) + codegen fold
    assert _hash_exchanges(df) == 1
    assert "aggregate(" in _plan(df) or "Aggregate" in _plan(df)


def test_scd2_single_hash_exchange(spark):
    import datetime as dt

    from invoice_ocr_reconciler_spark.operators.mutate import scd2_history

    caps = spark.createDataFrame(
        [("u", dt.datetime(2024, 1, 1), "a")],
        "url string, ts timestamp_ntz, digest string",
    )
    df = scd2_history(caps)
    # lag flag + version sum + agg + lead all share partitionBy(url):
    # ONE hash exchange (the final orderBy adds a range exchange only)
    assert _hash_exchanges(df) == 1


def test_event_transitions_plan(spark):
    from invoice_ocr_reconciler_spark.operators.events import (
        event_transitions,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df = event_transitions(ev)
    p = _plan(df)
    # user window + pair agg + total agg; row totals ride a broadcast
    assert "BroadcastExchange" in p
    assert "BroadcastNestedLoopJoin" not in p
