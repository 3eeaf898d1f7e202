"""End-to-end pipeline: pages -> extract -> parse fields -> reconcile.

The Spark shape of the reference's three entry points (SURVEY.md §3):
E1 ingest/extract (backend/server.js:285-344), E2 reconcile
(backend/server.js:508-563), E3 aggregate dashboards (backend/server.js:236-277).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from invoice_ocr_reconciler_spark.functions.parse_fields import FIELDS_SCHEMA
from invoice_ocr_reconciler_spark.operators.reconcile import Reconciled, reconcile
from invoice_ocr_reconciler_spark.util import with_scan_parallelism


def _fields_schema(include_text: bool):
    if include_text:
        return FIELDS_SCHEMA
    import pyspark.sql.types as T

    return T.StructType([f for f in FIELDS_SCHEMA.fields if f.name != "extracted_text"])


def _extract_parse_rows(urls, htmls, include_text: bool) -> list[dict]:
    # one Python crossing for both stages: composing extract_pages and
    # parse_invoice_fields would ship the full extracted text
    # JVM->Python->JVM->Python; fused, the text never leaves the worker
    # between extraction and field parsing. Same pure functions,
    # byte-identical output (pinned by tests).
    from invoice_ocr_reconciler_spark.extraction.html_extract import extract_payload
    from invoice_ocr_reconciler_spark.functions.parse_fields import parse_invoice_text

    rows = []
    for url, payload in zip(urls, htmls):
        text = extract_payload(payload)
        row = {"url": url, **parse_invoice_text(text, url)}
        if include_text:
            row["extracted_text"] = text
        rows.append(row)
    return rows


def _make_extract_parse_arrow(include_text: bool):
    def gen(batches):
        # Arrow-native batches skip the pandas construction on both sides
        # (~15% over mapInPandas on the dominant stage; byte-equal, tested)
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        schema = _fields_schema(include_text)
        atype = to_arrow_type(schema)
        names = [f.name for f in schema.fields]
        for batch in batches:
            rows = _extract_parse_rows(
                batch.column("url").to_pylist(),
                batch.column("html").to_pylist(),
                include_text,
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array([r[n] for r in rows], type=atype.field(n).type) for n in names],
                names=names,
            )

    return gen


def _make_extract_parse_batches(include_text: bool):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in _fields_schema(include_text).fields]
        for pdf in batches:
            yield pd.DataFrame(
                _extract_parse_rows(pdf["url"], pdf["html"], include_text),
                columns=cols,
            )

    return gen


def extract_and_parse(pages: DataFrame, include_text: bool = True) -> DataFrame:
    """pages -> structured invoice rows (E1).

    Runs extraction + field parsing in a single Arrow-native crossing
    (mapInArrow). Its rows are byte-identical to composing the standalone
    operators, ``parse_invoice_fields(extract_pages(pages))`` (tested).

    It keeps its input's partitioning: it adds no exchange, so each
    run_resumable bucket pays no shuffle. A caller whose single input may
    be one scan split widens it first (run_pipeline does).

    ``include_text=False`` drops ``extracted_text`` from the OUTPUT schema —
    a mapInArrow/mapInPandas node is opaque to Catalyst, so column pruning
    cannot remove it downstream; when the consumer is reconciliation-only
    (needs four small fields) this skips serializing kilobytes of text per
    row across the Arrow channel. The extracted-table write path (jobs/,
    byte-identity contract) keeps the default.
    """
    return pages.select("url", "html").mapInArrow(
        _make_extract_parse_arrow(include_text), schema=_fields_schema(include_text)
    )


def run_pipeline(
    pages: DataFrame,
    ledger: DataFrame,
    include_text: bool = False,
) -> Reconciled:
    """Full extract+reconcile; returns results/missing_records/summary plus
    the intermediate ``invoices`` frame for inspection. Call its
    ``release()`` once done with the outputs (see ``Reconciled``).

    ``include_text`` defaults False: reconciliation consumes four small
    fields, so the flagship path never ships the extracted text across the
    Arrow channel (see extract_and_parse). Pass True to keep
    ``invoices.extracted_text`` for inspection/persistence.

    ``pages`` is widened to at least defaultParallelism partitions before
    extraction: a batch landed as one file is one scan split, which would
    run every page's extraction on one core."""
    invoices = extract_and_parse(with_scan_parallelism(pages), include_text=include_text)
    out = reconcile(invoices, ledger)
    out["invoices"] = invoices
    return out
