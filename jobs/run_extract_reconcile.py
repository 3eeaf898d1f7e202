"""Cluster job entrypoint: spark-submit --py-files dist/invoice_ocr_reconciler_spark.zip \
    jobs/run_extract_reconcile.py --pages <path> --ledger <csv> --out <path>

Reads the pages table (hash-bucketed parquet / Iceberg), runs the resumable
extract stage per bucket (checkpoint manifest), then reconciles against the
ledger and writes results + summary. On a real cluster the SparkSession comes
from spark-submit; locally it falls back to the session factory.
"""

from __future__ import annotations

import argparse
import os
import sys

# `python jobs/run_extract_reconcile.py` puts jobs/ (not the repo root) on
# sys.path; under spark-submit --py-files the zip provides the package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="bucketed pages parquet root")
    ap.add_argument("--ledger", required=True, help="register CSV/JSON path")
    ap.add_argument("--out", required=True, help="output root")
    ap.add_argument("--manifest", default=None, help="checkpoint manifest dir")
    ap.add_argument("--skip-suggestions", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        from invoice_ocr_reconciler_spark.session import get_spark

        spark = get_spark(app_name="extract-reconcile")

    from invoice_ocr_reconciler_spark.operators.reconcile import reconcile
    from invoice_ocr_reconciler_spark.pipeline import extract_and_parse
    from invoice_ocr_reconciler_spark.sources.registers import (
        read_register_csv,
        read_register_json,
    )
    from invoice_ocr_reconciler_spark.streaming.resume import (
        CheckpointManifest,
        run_resumable,
    )

    manifest_dir = args.manifest or f"{args.out}/_manifest"
    manifest = CheckpointManifest(manifest_dir)
    extracted_path = f"{args.out}/extracted"

    # stage 1 (E1): resumable per-bucket extract+parse with lineage metrics
    run_resumable(spark, args.pages, extracted_path, manifest, extract_and_parse)

    # stage 2 (E2): reconcile against the register dimension
    ledger = (
        read_register_json(spark, args.ledger)
        if args.ledger.endswith(".json")
        else read_register_csv(spark, args.ledger)
    )
    invoices = spark.read.parquet(f"{extracted_path}/url_bucket=*")
    out = reconcile(
        invoices, ledger, with_amount_suggestions=not args.skip_suggestions
    )
    out["results"].write.mode("overwrite").parquet(f"{args.out}/results")
    out["missing_records"].write.mode("overwrite").parquet(f"{args.out}/missing_records")
    out["summary"].write.mode("overwrite").json(f"{args.out}/summary")
    print("done:", {r: out[r].count() for r in ("results", "missing_records")})
    out.release()


if __name__ == "__main__":
    main()
