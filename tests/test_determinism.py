"""Determinism across parallelism (SURVEY.md §5.2-5, north_rule contract):
same input at different partition counts + shuffle partitions -> identical
per-url extracted bytes and identical reconciliation output."""

from invoice_ocr_reconciler_spark import datagen
from invoice_ocr_reconciler_spark.pipeline import extract_and_parse, run_pipeline

N = 150


def test_identical_output_across_partitioning(spark):
    def texts(parts):
        pages = datagen.pages_df(spark, N, partitions=parts)
        return dict(extract_and_parse(pages).select("url", "extracted_text").collect())

    def results(parts):
        out = run_pipeline(
            datagen.pages_df(spark, N, partitions=parts), datagen.ledger_df(spark, 25, N)
        )
        return sorted(
            map(
                tuple,
                out["results"]
                .select("invoice_url", "record_id", "match_status", "discrepancy",
                        "confidence_score")
                .collect(),
            )
        )

    assert texts(2) == texts(13)  # byte-identical per url
    assert results(2) == results(13)


def test_fused_paths_byte_identical(spark):
    """mapInArrow fused == two-stage composition."""
    from invoice_ocr_reconciler_spark.extraction.udfs import extract_pages
    from invoice_ocr_reconciler_spark.functions.parse_fields import (
        parse_invoice_fields,
    )

    pages = datagen.pages_df(spark, 200)
    arrow = sorted(map(str, extract_and_parse(pages).collect()))
    two_stage = sorted(map(str, parse_invoice_fields(extract_pages(pages)).collect()))
    assert arrow == two_stage
    # text-free output == text-bearing output minus the text column
    slim = sorted(map(str, extract_and_parse(pages, include_text=False).collect()))
    slim_ref = sorted(
        map(str, extract_and_parse(pages).drop("extracted_text").collect())
    )
    assert slim == slim_ref


def test_scan_widened_by_run_pipeline_not_extract_and_parse(spark, tmp_path):
    """extract_and_parse keeps its input's partitioning (no exchange: the
    bucket pool runs it per bucket); run_pipeline widens a one-file batch
    to at least defaultParallelism partitions before extraction."""
    path = str(tmp_path / "pages")
    datagen.pages_df(spark, 60).coalesce(1).write.parquet(path)
    pages = spark.read.parquet(path)
    assert pages.rdd.getNumPartitions() == 1

    invoices = extract_and_parse(pages)
    assert invoices.rdd.getNumPartitions() == 1
    assert "Exchange" not in invoices._jdf.queryExecution().executedPlan().toString()

    out = run_pipeline(pages, datagen.ledger_df(spark, 10, 60))
    assert out["invoices"].rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_extract_pages_and_parse_fields_keep_partitioning(spark, tmp_path):
    """The standalone operators add no exchange either: only the caller
    decides whether a scan is widened (run_pipeline does). No plan on the
    pipeline's path crosses into Python through pandas."""
    from invoice_ocr_reconciler_spark.extraction.udfs import extract_pages
    from invoice_ocr_reconciler_spark.functions.parse_fields import (
        parse_invoice_fields,
    )

    path = str(tmp_path / "pages")
    datagen.pages_df(spark, 60).coalesce(1).write.parquet(path)
    pages = spark.read.parquet(path)
    assert pages.rdd.getNumPartitions() == 1

    for frame in (
        extract_pages(pages),
        parse_invoice_fields(extract_pages(pages)),
        extract_and_parse(pages),
    ):
        assert frame.rdd.getNumPartitions() == 1
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "MapInPandas" not in plan

    wide = datagen.pages_df(spark, 60, partitions=5)
    assert extract_pages(wide).rdd.getNumPartitions() == 5
    assert parse_invoice_fields(extract_pages(wide)).rdd.getNumPartitions() == 5


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


class TestLocalClusterExecutors:
    def test_pipeline_parity_on_separate_executor_jvms(self):
        """The full pipeline on local-cluster (2 executor PROCESSES, own
        JVM + Python workers each) must produce the exact golden status
        counts — the in-sandbox stand-in for multi-executor correctness.
        Runs in a subprocess: the suite's session owns the in-process
        master, and local-cluster needs its own."""
        import json
        import os
        import subprocess
        import sys

        code = """
import json
from invoice_ocr_reconciler_spark.session import get_spark
from invoice_ocr_reconciler_spark import datagen
from invoice_ocr_reconciler_spark.pipeline import run_pipeline
spark = get_spark(app_name="lc-test", cores=2, executors=2,
                  executor_mem_mb=2048, shuffle_partitions=8,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
out = run_pipeline(datagen.pages_df(spark, 500), datagen.ledger_df(spark, 60, 500))
counts = {r["match_status"]: r["count"]
          for r in out["results"].groupBy("match_status").count().collect()}
print("RESULT:" + json.dumps(counts, sort_keys=True))
spark.stop()
"""
        proc = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True, text=True, timeout=420,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")][0]
        counts = json.loads(line[len("RESULT:"):])
        assert counts == {
            "duplicate": 49, "matched": 25, "mismatch": 29, "missing": 397,
        }
