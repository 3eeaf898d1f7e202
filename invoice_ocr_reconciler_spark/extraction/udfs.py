"""Arrow-batched extraction stage (mapInPandas).

Mirrors the reference's worker-reuse pattern (one lazily-initialized Tesseract
worker reused across files, reference: backend/server.js:110-121) as a
per-executor lazy singleton: the compiled-regex extractor module is imported
once per Python worker and reused for every Arrow batch. Per-row work is a
pure function of (url, html), so output is byte-identical per url at any
parallelism (the north_rule contract).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

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


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # executor-local lazy singleton: module import (compiled regexes) happens
    # once per worker process, amortized over all batches it serves
    from invoice_ocr_reconciler_spark.extraction.html_extract import extract_payload

    for pdf in batches:
        texts = [extract_payload(p) for p in pdf["html"]]
        yield pd.DataFrame(
            {
                "url": pdf["url"],
                "warc_ts": pdf["warc_ts"],
                "lang": pdf["lang"],
                "extracted_text": texts,
                "n_blocks": [t.count("\n") + 1 if t else 0 for t in texts],
                "n_chars": [len(t) for t in texts],
            }
        )


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> extracted text + diagnostics.

    Column-prunes to exactly the inputs the UDF needs before the Python
    boundary — never ship ``text`` (the hint column) or other metadata
    through Arrow when only (url, warc_ts, html, lang) are consumed.
    Keeps its input's partitioning; a caller whose input may be one scan
    split widens it first (``util.with_scan_parallelism``).
    """
    pruned = pages.select("url", "warc_ts", "html", "lang")
    return pruned.mapInPandas(_extract_batches, schema=EXTRACTED_SCHEMA)
