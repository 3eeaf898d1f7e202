"""Units for the preference / label-QA / corpus-statistics bands:
bt_strengths, cohen/fleiss kappa, temperature_sampling, ngram_diversity,
bootstrap_ci, class_tfidf_topics, validate_conversations."""

import math

import pytest
from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.operators.preference import (
    bt_strengths,
    bt_strengths_reference,
)
from invoice_ocr_reconciler_spark.operators.profile import (
    bootstrap_ci,
    ngram_diversity,
)
from invoice_ocr_reconciler_spark.operators.sampling import temperature_sampling


# --- Bradley-Terry ---------------------------------------------------------

COMPS = [
    ("A", "B"), ("A", "B"), ("A", "C"), ("B", "C"), ("B", "C"), ("A", "C"),
]


def test_bt_matches_python_reference(spark):
    df = spark.createDataFrame(COMPS, "winner string, loser string")
    out = {r.item: r.strength for r in bt_strengths(df, n_iter=3).collect()}
    assert out == bt_strengths_reference(COMPS, n_iter=3)


def test_bt_leaderboard_order_and_counts(spark):
    df = spark.createDataFrame(COMPS, "winner string, loser string")
    rows = {r.item: r for r in bt_strengths(df, n_iter=3).collect()}
    assert rows["A"].rank == 1 and rows["C"].rank == 3
    assert rows["A"].wins == 4 and rows["C"].wins == 0
    assert all(r.n_games == 4 for r in rows.values())
    # zero-win item pinned at strength 0 by the MM update
    assert rows["C"].strength == 0.0


def test_bt_partitioning_invariance(spark):
    df = spark.createDataFrame(COMPS * 10, "winner string, loser string")
    a = sorted(map(tuple, bt_strengths(df, n_iter=2).collect()))
    b = sorted(map(tuple, bt_strengths(df.repartition(7), n_iter=2).collect()))
    assert a == b


def test_bt_deep_run_one_row_per_item(spark):
    # 8 rounds: each round's strengths are cut from their lineage, so the
    # plan does not grow fourfold per round
    df = spark.createDataFrame(COMPS, "winner string, loser string")
    rows = bt_strengths(df, n_iter=8).collect()
    assert sorted(r.item for r in rows) == ["A", "B", "C"]


def test_bt_empty(spark):
    df = spark.createDataFrame([], "winner string, loser string")
    assert bt_strengths(df).count() == 0


# --- kappa -----------------------------------------------------------------


def _labels(spark, rows):
    return spark.createDataFrame(
        rows, "item_id long, rater string, label string"
    )


def _fleiss_py(items):
    # items: list of per-item category-count dicts (constant R assumed)
    R = sum(next(iter(items)).values()) if items else 0
    N = len(items)
    s2 = sum(c * c for it in items for c in it.values())
    po_num, po_den = s2 - N * R, N * R * (R - 1)
    cols = {}
    for it in items:
        for k, v in it.items():
            cols[k] = cols.get(k, 0) + v
    pe_num, pe_den = sum(v * v for v in cols.values()), (N * R) ** 2
    num = po_num * pe_den - pe_num * po_den
    den = po_den * (pe_den - pe_num)
    return num / den


# --- temperature sampling ---------------------------------------------------


def _langdocs(spark, counts):
    rows = []
    i = 0
    for lang, n in counts.items():
        for _ in range(n):
            rows.append((i, lang))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_temperature_alpha1_is_proportional(spark):
    docs = _langdocs(spark, {"en": 120, "de": 60, "fr": 20})
    out = {r.group: r for r in
           temperature_sampling(docs, alpha=1.0).collect()}
    for r in out.values():
        assert r.weight == r.p_raw
        assert r.rate_ppm == 1000000
        assert r.sampled == r.n_docs


def test_temperature_alpha_half_upsamples_tail(spark):
    docs = _langdocs(spark, {"en": 160, "fr": 10})
    out = {r.group: r for r in
           temperature_sampling(docs, alpha=0.5).collect()}
    # tail share grows, head share shrinks
    assert out["fr"].weight > out["fr"].p_raw
    assert out["en"].weight < out["en"].p_raw
    assert abs(sum(r.weight for r in out.values()) - 1.0) < 1e-6
    # realized counts respect the ppm thresholds deterministically
    again = {r.group: r.sampled for r in
             temperature_sampling(docs.repartition(5), alpha=0.5).collect()}
    assert again == {g: r.sampled for g, r in out.items()}


def test_temperature_null_group_folds_to_und(spark):
    docs = spark.createDataFrame(
        [(1, "en"), (2, None), (3, None)], "doc_id long, lang string"
    )
    groups = {r.group for r in temperature_sampling(docs).collect()}
    assert groups == {"en", "und"}


def test_temperature_target_total_caps_rates(spark):
    docs = _langdocs(spark, {"en": 100, "fr": 10})
    out = temperature_sampling(docs, alpha=0.5, target_total=20).collect()
    for r in out:
        assert r.rate_ppm <= 1000000
    assert sum(r.expected_docs for r in out) <= 22  # near target, fr capped


# --- ngram diversity ---------------------------------------------------------


def test_ngram_diversity_hand_case(spark):
    docs = spark.createDataFrame(
        [(1, "en", "a b c a b"), (2, "en", "a b c"),
         (3, "de", "x"), (4, "de", None)],
        "doc_id long, lang string, text string",
    )
    out = {(r.group, r.n): r for r in ngram_diversity(docs).collect()}
    assert out[("en", 1)].total_grams == 8
    assert out[("en", 1)].distinct_grams == 3
    assert out[("en", 2)].total_grams == 6  # 'a b','b c','c a','a b' + 'a b','b c'
    assert out[("en", 2)].distinct_grams == 3
    assert out[("en", 3)].distinct_ratio == 0.75
    # de has one 1-token doc: zero bigrams row present with NULL ratio
    assert out[("de", 2)].total_grams == 0
    assert out[("de", 2)].distinct_ratio is None


def test_ngram_diversity_flags_template_flood(spark):
    uniq = [(i, "en", f"w{i} x{i} y{i} z{i}") for i in range(20)]
    dup = [(i, "de", "same old line again") for i in range(20)]
    out = {(r.group, r.n): r for r in
           ngram_diversity(spark.createDataFrame(
               uniq + dup, "doc_id long, lang string, text string")).collect()}
    assert out[("de", 2)].distinct_ratio < 0.1 < out[("en", 2)].distinct_ratio


# --- bootstrap CI ------------------------------------------------------------


def test_bootstrap_constant_collapses(spark):
    docs = spark.createDataFrame(
        [(i, 42) for i in range(30)], "doc_id long, v long"
    )
    r = bootstrap_ci(docs, "v", b_resamples=50).collect()[0]
    assert r.point_mean == r.ci_lo == r.ci_hi == 42.0


def test_bootstrap_brackets_and_determinism(spark):
    docs = spark.createDataFrame(
        [(i, (i * 37) % 100) for i in range(80)], "doc_id long, v long"
    )
    r1 = bootstrap_ci(docs, "v", b_resamples=100).collect()[0]
    r2 = bootstrap_ci(docs.repartition(7), "v", b_resamples=100).collect()[0]
    assert r1 == r2
    assert r1.ci_lo <= r1.point_mean <= r1.ci_hi
    assert r1.ci_lo < r1.ci_hi


def test_bootstrap_empty(spark):
    docs = spark.createDataFrame([], "doc_id long, v long")
    r = bootstrap_ci(docs, "v").collect()[0]
    assert r.n_items == 0 and r.point_mean is None


# --- class TF-IDF topics -----------------------------------------------------


# --- SFT conversation validation ---------------------------------------------

CASES = [
    (1, [("user", "hi"), ("assistant", "hello")], None),
    (2, [("system", "s"), ("user", "hi"), ("assistant", "ok"),
         ("user", "more"), ("assistant", "fine")], None),
    (3, [("user", "hi"), ("user", "again"), ("assistant", "ok")],
     "repeated_role"),
    (4, [("assistant", "hi")], "bad_start"),
    (5, [], "empty_conv"),
    (6, [("user", "hi"), ("assistant", "  ")], "empty_turn"),
    (7, [("user", "hi"), ("tool", "x"), ("assistant", "ok")], "bad_role"),
    (8, [("user", "hi"), ("assistant", "ok"), ("user", "bye")], "bad_end"),
    (9, [("user", "a"), ("system", "late"), ("assistant", "ok")],
     "late_system"),
    (10, [("user", "a"), ("assistant", None)], "empty_turn"),
]
