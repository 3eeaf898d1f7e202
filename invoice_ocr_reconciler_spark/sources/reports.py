"""Report sinks (reference: backend/server.js:577-657).

CSV export: project the reference's 8 report columns from the results x
invoices LEFT JOIN (``functions.report.enrich_results``), write CSV (S6).
The PDF report (S7) is presentation-layer per SURVEY §2.1; its summary
block is the reconcile summary frame rendered by the caller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.functions.report import enrich_results


def report_frame(results: DataFrame, invoices: DataFrame) -> DataFrame:
    """The J7 join (``enrich_results``) projected to the reference's 8 report
    columns: invoice number, vendor, amount, status, discrepancy, flag
    reason, confidence and url (server.js:589-599)."""
    return enrich_results(results, invoices).select(
        "invoice_number",
        "vendor_name",
        F.round("total_amount", 2).alias("total_amount"),
        "match_status",
        F.round("discrepancy", 2).alias("discrepancy"),
        "flag_reason",
        "confidence_score",
        "invoice_url",
    )


def write_report_csv(results: DataFrame, invoices: DataFrame, path: str) -> None:
    """Write the reconciliation report as CSV (header, deterministic order).

    coalesce(1) mirrors the reference's single-file download; at cluster
    scale drop the coalesce and let each partition write its shard.
    """
    (
        report_frame(results, invoices)
        .orderBy("invoice_url")
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )
