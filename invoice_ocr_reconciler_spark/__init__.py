"""invoice_ocr_reconciler_spark — a PySpark-native extraction + reconciliation engine.

A from-scratch reimplementation of the query/data-processing capabilities of
ramanverse/Invoice-ocr-Reconciler, re-targeted at Common-Crawl-style web-page
tables ``(url, warc_ts, html, text, lang)``.

The pipeline: pages -> ``pipeline.extract_and_parse`` -> ``operators.reconcile``
-> ``streaming.resume``.

- ``extraction``  — main-content extraction (HTML boilerplate strip,
  link-density scoring, block segmentation, PDF-like layout parse). The
  analog of the reference's Tesseract OCR stage (backend/server.js:110-134).
- ``functions``   — field parsing (regex cascades, backend/invoiceParser.js:5-128),
  vendor/amount normalization (backend/reconciliationEngine.js:8-23), report
  sinks.
- ``pipeline``    — extraction + field parsing fused in one Arrow crossing,
  then reconciliation (``run_pipeline``).
- ``operators``   — reconciliation (blocked fuzzy join + per-block greedy 1:1
  assignment, backend/reconciliationEngine.js:37-213) and row mutation
  (upsert, delete, status write-back, backend/server.js:397-550).
- ``plans``       — the relational query surface (stats aggregations, monthly
  rollups, pagination, search; backend/server.js:236-277,345-380).
- ``sources``     — pages storage with explicit hash partitioning on url;
  CSV/JSON register ingestion with column-alias coalescing
  (backend/server.js:136-159,458-463).
- ``streaming``   — per-bucket atomic commits through a checkpoint manifest
  for resumable reruns (backend/server.js:531-550).

The package still holds auxiliary modules from earlier breadth work that the
pipeline does not call; tests/test_core_imports.py pins that the modules
above import none of them.
"""

__version__ = "0.1.0"
