"""Tests for the k-anonymity release gate (operators/profile.py:
k_anonymize_agg) and embedding pooling (operators/similarity.py)."""

import random

from invoice_ocr_reconciler_spark.operators.profile import k_anonymize_agg


class TestKAnonymize:
    def test_small_groups_collapse(self, spark):
        rows = [("A", 10.00)] * 5 + [("B", 20.00)] * 2 + [("C", 30.00)]
        df = spark.createDataFrame(rows, "seg string, amt double")
        out = {r.seg: r for r in
               k_anonymize_agg(df, ["seg"], k=3, amount_col="amt").collect()}
        assert set(out) == {"A", "*"}
        assert out["A"].n == 5 and abs(out["A"].total - 50.0) < 1e-9
        assert out["*"].n == 3 and abs(out["*"].total - 70.0) < 1e-9

    def test_no_small_groups_no_star_row(self, spark):
        df = spark.createDataFrame(
            [("A", 1.0)] * 4, "seg string, amt double"
        )
        out = k_anonymize_agg(df, ["seg"], k=3, amount_col="amt").collect()
        assert len(out) == 1 and out[0].seg == "A"

    def test_star_bucket_meets_k_or_is_dropped(self, spark):
        # suppressed mass 2 < k=3: publishing the '*' bucket would leak a
        # sub-threshold aggregate -> nothing is published at all
        df = spark.createDataFrame(
            [("A", 1.5), ("B", 2.25)], "seg string, amt double"
        )
        assert k_anonymize_agg(df, ["seg"], k=3, amount_col="amt").count() == 0
        # suppressed mass 3 >= k=3: bucket publishes
        df2 = spark.createDataFrame(
            [("A", 1.0), ("B", 2.0), ("C", 4.0)], "seg string, amt double"
        )
        out = k_anonymize_agg(df2, ["seg"], k=3, amount_col="amt").collect()
        assert len(out) == 1 and out[0].seg == "*" and out[0].n == 3

    def test_non_string_quasi_published_as_string(self, spark):
        df = spark.createDataFrame(
            [(7, 1.0)] * 4 + [(9, 2.0)], "grp int, amt double"
        )
        out = k_anonymize_agg(df, ["grp"], k=3, amount_col="amt")
        assert dict(out.dtypes)["grp"] == "string"
        assert {r.grp for r in out.collect()} == {"7"}  # 9's group dropped (<k)


class TestKAnonymizeInvariants:
    def test_totals_preserved_under_suppression(self, spark):
        """Suppression reshuffles rows but can't create or destroy mass:
        published n sums to the input count and published totals sum to
        the input's rounded-cents total, for any k."""
        rng = random.Random(11)
        rows = [
            (f"g{rng.randint(0, 30)}", round(rng.uniform(-50, 500), 2))
            for _ in range(800)
        ]
        df = spark.createDataFrame(rows, "seg string, amt double")
        import math

        want_cents = sum(math.floor(a * 100 + 0.5) for _, a in rows)
        for k in (1, 5, 50):
            out = k_anonymize_agg(df, ["seg"], k=k, amount_col="amt").collect()
            assert sum(r.n for r in out) == len(rows)
            got_cents = round(sum(r.total for r in out) * 100)
            assert got_cents == want_cents
            assert all(r.n >= k for r in out)  # the '*' bucket included
        # k beyond the corpus: even the suppressed bucket is below k ->
        # total suppression, nothing published
        assert k_anonymize_agg(df, ["seg"], k=10_000, amount_col="amt").count() == 0


class TestPoolEmbeddings:
    def test_mean_exact_and_partition_invariant(self, spark):
        from invoice_ocr_reconciler_spark.operators.similarity import (
            pool_embeddings,
        )

        rows = [
            (1, [1.0, 2.0]),
            (1, [3.0, 4.0]),
            (1, [5.0, 0.5]),
            (2, [0.25, -0.75]),
        ]

        def run(parts):
            df = spark.createDataFrame(
                rows, "doc_id int, embedding array<double>"
            ).repartition(parts)
            return {
                r.doc_id: (r.n_chunks, r.pooled)
                for r in pool_embeddings(df).collect()
            }

        a = run(1)
        assert a[1][0] == 3 and a[1][1] == [3.0, 6.5 / 3 * 1.0]
        # exact: (2.0+4.0+0.5)=6.5 -> 6500000/(3*1e6)
        assert abs(a[1][1][1] - 6500000 / 3000000) < 1e-12
        assert a[2] == (1, [0.25, -0.75])
        assert run(5) == a  # bit-identical at any partitioning
