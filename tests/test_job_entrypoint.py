"""jobs/run_extract_reconcile.py, the spark-submit entrypoint, run in-process:
``main()`` parses a monkeypatched ``sys.argv`` and reuses the suite's session
through ``SparkSession.getActiveSession``."""

import importlib.util
import os
import sys

from invoice_ocr_reconciler_spark import datagen
from invoice_ocr_reconciler_spark.sources.pages import write_pages_bucketed
from invoice_ocr_reconciler_spark.streaming.resume import CheckpointManifest

N_PAGES = 200
N_RECORDS = 40
N_BUCKETS = 4
JOB = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "jobs",
    "run_extract_reconcile.py",
)


def test_job_commits_once_and_summary_equals_results(spark, tmp_path, monkeypatch):
    spec = importlib.util.spec_from_file_location("run_extract_reconcile", JOB)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    pages, ledger, out = (str(tmp_path / n) for n in ("pages", "ledger.csv", "out"))
    write_pages_bucketed(datagen.pages_df(spark, N_PAGES), pages, n_buckets=N_BUCKETS)
    datagen.ledger_pdf(N_RECORDS, N_PAGES).to_csv(ledger, index=False)
    argv = [JOB, "--pages", pages, "--ledger", ledger, "--out", out]
    monkeypatch.setattr(sys, "argv", argv)
    job.main()

    results = spark.read.parquet(f"{out}/results")
    assert results.count() == N_PAGES
    assert results.select("invoice_url").distinct().count() == N_PAGES
    summary = spark.read.json(f"{out}/summary").collect()
    assert len(summary) == 1
    summary = summary[0]
    counts = dict(results.groupBy("match_status").count().collect())
    assert summary["total_invoices"] == N_PAGES
    assert summary["matched"] == counts.get("matched", 0)
    assert summary["mismatched"] == counts.get("mismatch", 0)
    assert summary["missing_invoices"] == counts.get("missing", 0)
    assert summary["duplicate"] == counts.get("duplicate", 0)
    missing = spark.read.parquet(f"{out}/missing_records").count()
    assert missing == summary["missing_records"]

    # a rerun on the same --out finds every bucket in the manifest and
    # commits none of them again
    manifest = CheckpointManifest(f"{out}/_manifest")
    assert len(manifest.completed_buckets()) == N_BUCKETS
    job.main()
    assert [e["attempt"] for e in manifest.all_metrics()] == [1] * N_BUCKETS
    assert spark.read.parquet(f"{out}/results").count() == N_PAGES
