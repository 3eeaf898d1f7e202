"""Extraction stage: one ``util.map_rows`` crossing per page batch.

Mirrors the reference's worker-reuse pattern (one lazily-initialized Tesseract
worker reused across files, reference: backend/server.js:110-121): the
compiled-regex extractor module is imported once per Python worker and reused
for every Arrow batch. Per-row work is a pure function of (url, html), so
output is byte-identical per url at any parallelism (the north_rule contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from invoice_ocr_reconciler_spark.extraction.html_extract import extract_payload
from invoice_ocr_reconciler_spark.util import map_rows

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("n_blocks", T.IntegerType(), True),
        T.StructField("n_chars", T.IntegerType(), True),
    ]
)


def _extract_row(row: dict) -> dict:
    text = extract_payload(row["html"])
    return {
        **row,
        "extracted_text": text,
        "n_blocks": text.count("\n") + 1 if text else 0,
        "n_chars": len(text),
    }


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> extracted text + diagnostics.

    Column-prunes to exactly the inputs the row function needs before the
    Python boundary — never ship ``text`` (the hint column) or other
    metadata through Arrow when only (url, warc_ts, html, lang) are consumed.
    Keeps its input's partitioning; a caller whose input may be one scan
    split widens it first (``util.with_scan_parallelism``).
    """
    pruned = pages.select("url", "warc_ts", "html", "lang")
    return map_rows(pruned, _extract_row, EXTRACTED_SCHEMA)
