"""End-to-end pipeline: pages -> extract -> parse fields -> reconcile.

The Spark shape of the reference's three entry points (SURVEY.md §3):
E1 ingest/extract (backend/server.js:285-344), E2 reconcile
(backend/server.js:508-563), E3 aggregate dashboards (backend/server.js:236-277).
"""

from __future__ import annotations

import pyspark.sql.types as T
from pyspark.sql import DataFrame

from invoice_ocr_reconciler_spark.extraction.html_extract import extract_payload
from invoice_ocr_reconciler_spark.functions.parse_fields import (
    FIELDS_SCHEMA,
    parse_invoice_text,
)
from invoice_ocr_reconciler_spark.operators.reconcile import Reconciled, reconcile
from invoice_ocr_reconciler_spark.util import map_rows, with_scan_parallelism

_FIELDS_NO_TEXT = T.StructType(
    [f for f in FIELDS_SCHEMA.fields if f.name != "extracted_text"]
)


def _extract_parse_row(row: dict) -> dict:
    # one Python crossing for both stages: composing extract_pages and
    # parse_invoice_fields would ship the full extracted text
    # JVM->Python->JVM->Python; fused, the text never leaves the worker
    # between extraction and field parsing. Same pure functions,
    # byte-identical output (pinned by tests).
    text = extract_payload(row["html"])
    return {"url": row["url"], "extracted_text": text, **parse_invoice_text(text, row["url"])}


def extract_and_parse(pages: DataFrame, include_text: bool = True) -> DataFrame:
    """pages -> structured invoice rows (E1).

    Runs extraction + field parsing in a single Python crossing
    (``util.map_rows``). Its rows are byte-identical to composing the
    standalone operators, ``parse_invoice_fields(extract_pages(pages))``
    (tested).

    It keeps its input's partitioning: it adds no exchange, so each
    run_resumable bucket pays no shuffle. A caller whose single input may
    be one scan split widens it first (run_pipeline does).

    ``include_text=False`` drops ``extracted_text`` from the OUTPUT schema —
    a mapInArrow node is opaque to Catalyst, so column pruning cannot
    remove it downstream; when the consumer is reconciliation-only
    (needs four small fields) this skips serializing kilobytes of text per
    row across the Arrow channel. The extracted-table write path (jobs/,
    byte-identity contract) keeps the default.
    """
    schema = FIELDS_SCHEMA if include_text else _FIELDS_NO_TEXT
    return map_rows(pages.select("url", "html"), _extract_parse_row, schema)


def run_pipeline(pages: DataFrame, ledger: DataFrame) -> Reconciled:
    """Full extract+reconcile; returns results/missing_records/summary plus
    the intermediate ``invoices`` frame for inspection. Call its
    ``release()`` once done with the outputs (see ``Reconciled``).

    ``invoices`` carries no ``extracted_text``: reconciliation consumes four
    small fields, so the flagship path never ships the extracted text across
    the Arrow channel (see extract_and_parse, which keeps it by default).

    ``pages`` is widened to at least defaultParallelism partitions before
    extraction: a batch landed as one file is one scan split, which would
    run every page's extraction on one core."""
    invoices = extract_and_parse(with_scan_parallelism(pages), include_text=False)
    out = reconcile(invoices, ledger)
    out["invoices"] = invoices
    return out
