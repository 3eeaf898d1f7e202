"""Determinism across parallelism (SURVEY.md §5.2-5, north_rule contract):
same input at different partition counts + shuffle partitions -> identical
per-url extracted bytes and identical reconciliation output."""

from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark import datagen
from invoice_ocr_reconciler_spark.pipeline import run_pipeline

N = 150


def _signature(out):
    texts = {
        r["url"]: r["extracted_text"]
        for r in out["invoices"].select("url", "extracted_text").collect()
    }
    results = sorted(
        map(
            tuple,
            out["results"]
            .select("invoice_url", "record_id", "match_status", "discrepancy",
                    "confidence_score")
            .collect(),
        )
    )
    return texts, results


def test_identical_output_across_partitioning(spark):
    out_a = run_pipeline(
        datagen.pages_df(spark, N, partitions=2), datagen.ledger_df(spark, 25, N),
        include_text=True,
    )
    out_b = run_pipeline(
        datagen.pages_df(spark, N, partitions=13), datagen.ledger_df(spark, 25, N),
        include_text=True,
    )
    texts_a, results_a = _signature(out_a)
    texts_b, results_b = _signature(out_b)
    assert texts_a == texts_b  # byte-identical per url
    assert results_a == results_b


def test_fused_paths_byte_identical(spark):
    """mapInArrow fused == mapInPandas fused == two-stage composition."""
    from invoice_ocr_reconciler_spark.pipeline import (
        _make_extract_parse_batches,
        extract_and_parse,
    )
    from invoice_ocr_reconciler_spark.functions.parse_fields import FIELDS_SCHEMA

    pages = datagen.pages_df(spark, 200)
    arrow = sorted(map(str, extract_and_parse(pages, fused=True).collect()))
    pandas_fused = sorted(
        map(
            str,
            pages.select("url", "html")
            .mapInPandas(_make_extract_parse_batches(True), schema=FIELDS_SCHEMA)
            .collect(),
        )
    )
    two_stage = sorted(map(str, extract_and_parse(pages, fused=False).collect()))
    assert arrow == pandas_fused == two_stage
    # text-free output == text-bearing output minus the text column
    slim = sorted(map(str, extract_and_parse(pages, include_text=False).collect()))
    slim_ref = sorted(
        map(str, extract_and_parse(pages, fused=True).drop("extracted_text").collect())
    )
    assert slim == slim_ref


def test_scan_widened_by_run_pipeline_not_extract_and_parse(spark, tmp_path):
    """extract_and_parse keeps its input's partitioning (no exchange: the
    bucket pool runs it per bucket); run_pipeline widens a one-file batch
    to at least defaultParallelism partitions before extraction."""
    from invoice_ocr_reconciler_spark.pipeline import extract_and_parse

    path = str(tmp_path / "pages")
    datagen.pages_df(spark, 60).coalesce(1).write.parquet(path)
    pages = spark.read.parquet(path)
    assert pages.rdd.getNumPartitions() == 1

    invoices = extract_and_parse(pages)
    assert invoices.rdd.getNumPartitions() == 1
    assert "Exchange" not in invoices._jdf.queryExecution().executedPlan().toString()

    out = run_pipeline(pages, datagen.ledger_df(spark, 10, 60))
    assert out["invoices"].rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_curation_identical_across_partitioning(spark):
    """Curation (incl. the MinHash near-dup stage) is partition-invariant:
    same curated id set and stage counters at different partition counts."""
    from pyspark.sql import Row

    from invoice_ocr_reconciler_spark.operators.curation import curate_documents

    rows = [
        Row(doc_id=i,
            text=("the data and value of table " * 12) + f" tail {i % 17} {i % 5}")
        for i in range(120)
    ]

    def run(parts):
        df = spark.createDataFrame(rows).repartition(parts)
        out = curate_documents(df, min_quality=0.4)
        ids = sorted(r["doc_id"] for r in out["curated"].collect())
        stats = out["stats"].collect()[0].asDict()
        return ids, stats

    ids_a, stats_a = run(2)
    ids_b, stats_b = run(11)
    assert ids_a == ids_b
    assert stats_a == stats_b


def test_mutation_identical_across_partitioning(spark):
    """MERGE output is partition-invariant (full-outer join + projection)."""
    from pyspark.sql import Row

    from invoice_ocr_reconciler_spark.operators.mutate import upsert

    target = [Row(url=f"u{i}", status="pending", amount=float(i)) for i in range(200)]
    updates = [Row(url=f"u{i}", status="matched", amount=float(i) + 0.5)
               for i in range(0, 300, 3)]

    def run(parts):
        t = spark.createDataFrame(target).repartition(parts)
        u = spark.createDataFrame(updates).repartition(max(parts - 1, 1))
        return sorted(map(tuple, upsert(t, u, key="url").collect()))

    assert run(2) == run(13)


def test_linkage_band_identical_across_partitioning(spark):
    """FS linkage, setjoin, containment, and collocations are pure
    DataFrame algebra — identical sorted output regardless of input
    partitioning / shuffle width."""
    import random

    from invoice_ocr_reconciler_spark.operators.linkage import (
        FieldSpec,
        fs_linkage,
    )
    from invoice_ocr_reconciler_spark.operators.setjoin import (
        containment_join,
        prefix_filtered_jaccard_join,
    )
    from invoice_ocr_reconciler_spark.operators.tfidf import collocations

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(25)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 30))))
        for i in range(120)
    ]
    fields = [FieldSpec("name", 0.9, 0.01)]
    people = [(i, i % 7, f"p{i % 40}") for i in range(120)]

    def run(parts):
        d = spark.createDataFrame(docs, "doc_id int, text string").repartition(parts)
        a = spark.createDataFrame(people, "id_a int, block int, a_name string").repartition(parts)
        b = spark.createDataFrame(people, "id_b int, block int, b_name string").repartition(parts)
        return (
            sorted(map(tuple, fs_linkage(a, b, fields=fields, lower=-10.0, upper=5.0, keep_non_matches=True).collect())),
            sorted(map(tuple, prefix_filtered_jaccard_join(d, tau_num=1, tau_den=2).collect())),
            sorted(map(tuple, containment_join(d, tau_num=4, tau_den=5).collect())),
            [tuple(r) for r in collocations(d, min_count=2, k=20).collect()],
        )

    assert run(2) == run(11)
