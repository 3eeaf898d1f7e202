"""Tests for weighted sampling (Efraimidis-Spirakis via md5) and the
count-min sketch heavy-hitter operator."""

import pytest
from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.operators.sampling import weighted_sample


# ---------------------------------------------------------------- weighted


@pytest.fixture(scope="module")
def weighted_rows(spark):
    # 10 heavy rows (w=1000) among 190 light (w=1), plus excluded rows
    rows = [(i, 1000.0 if i < 10 else 1.0) for i in range(200)]
    rows += [(900, 0.0), (901, -3.0), (902, None)]
    return spark.createDataFrame(rows, "doc_id long, w double")


def test_weighted_sample_prefers_heavy_rows(weighted_rows):
    out = weighted_sample(weighted_rows, 20, "w").collect()
    assert len(out) == 20
    ids = {r["doc_id"] for r in out}
    # non-positive / null weights can never win
    assert ids.isdisjoint({900, 901, 902})
    # with 1000:1 odds, (nearly) all 10 heavy rows make the top-20
    assert sum(1 for i in ids if i < 10) >= 8


def test_weighted_sample_partition_invariant(weighted_rows):
    a = sorted(r["doc_id"] for r in weighted_sample(weighted_rows, 20, "w").collect())
    b = sorted(
        r["doc_id"]
        for r in weighted_sample(weighted_rows.repartition(7), 20, "w").collect()
    )
    assert a == b


def test_weighted_sample_k_exceeds_positive_rows(spark):
    df = spark.createDataFrame(
        [(1, 2.0), (2, 0.0), (3, None), (4, 5.0)], "doc_id long, w double"
    )
    out = weighted_sample(df, 10, "w").collect()
    assert sorted(r["doc_id"] for r in out) == [1, 4]


def test_weighted_sample_empty(spark):
    df = spark.createDataFrame([], "doc_id long, w double")
    assert weighted_sample(df, 5, "w").count() == 0


def test_weighted_sample_large_weights_not_id_biased(spark):
    # regression: the old ln(u)/w key lived at the -1/w scale, so with
    # w ~ 1e6 a band of high-u rows rounded to exactly 0.0 and the draw
    # degenerated into lowest-id selection. The log-log key must pick the
    # same ids as the exact float computation, not the first k ids.
    import hashlib
    import math

    n, k, w = 200, 10, 1_000_000.0
    df = spark.createDataFrame([(i, w) for i in range(n)], "doc_id long, w double")
    got = sorted(r["doc_id"] for r in weighted_sample(df, k, "w").collect())
    def u_of(i):
        return (int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) + 0.5) / 2**32
    want = sorted(sorted(range(n), key=lambda i: math.log(-math.log(u_of(i))))[:k])
    assert got == want
    assert got != list(range(k))  # not the first-k-ids degeneracy


def test_weighted_sample_equal_weights_is_uniform_hash_draw(spark):
    # with all weights equal, the draw reduces to ordering by md5(id):
    # the same ids win for any constant weight value
    df1 = spark.createDataFrame([(i, 1.0) for i in range(100)], "doc_id long, w double")
    df7 = spark.createDataFrame([(i, 7.0) for i in range(100)], "doc_id long, w double")
    a = sorted(r["doc_id"] for r in weighted_sample(df1, 10, "w").collect())
    b = sorted(r["doc_id"] for r in weighted_sample(df7, 10, "w").collect())
    assert a == b


# ---------------------------------------------------------------- count-min


@pytest.fixture(scope="module")
def keyed_rows(spark):
    # 7 keys x 100 rows each
    rows = [(i, f"k{i % 7}") for i in range(700)]
    return spark.createDataFrame(rows, "doc_id long, key string")


class TestPerKeyQuota:
    def _docs(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def test_matches_single_window_reference(self, spark):
        from pyspark.sql import Window

        from invoice_ocr_reconciler_spark.operators.sampling import per_key_quota

        docs = self._docs(spark)
        got = sorted(
            (r["source"], r["doc_id"], r["rank"])
            for r in per_key_quota(
                docs, 5, "source", [F.col("n_chars").desc()]
            ).select("source", "doc_id", "rank").collect()
        )
        w = Window.partitionBy("source").orderBy(
            F.col("n_chars").desc(), F.col("doc_id").asc()
        )
        want = sorted(
            (r["source"], r["doc_id"], r["rank"])
            for r in docs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("source", "doc_id", "rank")
            .collect()
        )
        assert got == want and len(got) > 0

    def test_hot_key_capped_and_partition_invariant(self, spark):
        from invoice_ocr_reconciler_spark.operators.sampling import per_key_quota

        # one key holding every row: phase 1 must keep it bounded
        hot = spark.createDataFrame(
            [(i, "k", float(i % 97)) for i in range(5000)],
            "doc_id long, source string, n_chars double",
        )
        a = per_key_quota(hot.repartition(3), 7, "source", [F.col("n_chars").desc()])
        b = per_key_quota(hot.repartition(17), 7, "source", [F.col("n_chars").desc()])
        ra = sorted(r["doc_id"] for r in a.collect())
        rb = sorted(r["doc_id"] for r in b.collect())
        assert ra == rb and len(ra) == 7

    def test_empty(self, spark):
        from invoice_ocr_reconciler_spark.operators.sampling import per_key_quota

        docs = self._docs(spark).filter(F.lit(False))
        assert per_key_quota(docs, 5, "source", [F.col("n_chars").desc()]).count() == 0


class TestTokenBudgetSelect:
    def _scored(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        return docs.select(
            "doc_id",
            F.col("n_chars").cast("double").alias("score"),
            (F.col("n_chars") / 4).cast("long").alias("n_tokens"),
        )

    def _reference(self, scored, budget):
        from pyspark.sql import Window

        w = Window.orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return sorted(
            r["doc_id"]
            for r in scored.withColumn("cum", F.sum("n_tokens").over(w))
            .filter(F.col("cum") <= budget)
            .collect()
        )

    def test_matches_global_window_at_many_budgets(self, spark):
        from invoice_ocr_reconciler_spark.operators.sampling import (
            token_budget_select,
        )

        scored = self._scored(spark)
        for budget in (0, 1, 1000, 12345, 10**9):
            got = sorted(
                r["doc_id"] for r in token_budget_select(scored, budget).collect()
            )
            assert got == self._reference(scored, budget), budget

    def test_constant_score_degenerate_cell(self, spark):
        from invoice_ocr_reconciler_spark.operators.sampling import (
            token_budget_select,
        )

        scored = self._scored(spark).withColumn("score", F.lit(1.0))
        got = sorted(
            r["doc_id"] for r in token_budget_select(scored, 5000).collect()
        )
        assert got == self._reference(scored, 5000)

    def test_empty_and_prefix_not_knapsack(self, spark):
        from invoice_ocr_reconciler_spark.operators.sampling import (
            token_budget_select,
        )

        empty = self._scored(spark).filter(F.lit(False))
        assert token_budget_select(empty, 100).count() == 0
        # budget 10: first doc (score 9) costs 8, second (score 5) costs 8
        # and overflows; the third (score 1, 1 token) is NOT back-filled
        rows = spark.createDataFrame(
            [(1, 9.0, 8), (2, 5.0, 8), (3, 1.0, 1)],
            "doc_id long, score double, n_tokens long",
        )
        got = sorted(r["doc_id"] for r in token_budget_select(rows, 10).collect())
        assert got == [1]
