"""Golden-fixture enforcement: byte-identical extraction per url + pinned
field parsing + pinned reconciliation output (SURVEY.md §5.2, BASELINE.json
per-row invariant)."""

import hashlib
import json
import os

import pytest

from invoice_ocr_reconciler_spark import datagen
from invoice_ocr_reconciler_spark.extraction.html_extract import extract_payload
from invoice_ocr_reconciler_spark.functions.parse_fields import parse_invoice_text

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")
N_PAGES = 120
N_LEDGER = 30


@pytest.fixture(scope="module")
def fields_golden():
    with open(os.path.join(GOLDEN_DIR, "fields.json")) as fh:
        return json.load(fh)


def test_extracted_text_byte_identical(fields_golden):
    """Per-url md5 of the extracted text must match goldens exactly."""
    for i in range(N_PAGES):
        page = datagen.make_page(i)
        text = extract_payload(page["html"])
        got = hashlib.md5(text.encode("utf-8")).hexdigest()
        assert got == fields_golden[page["url"]]["extracted_md5"], page["url"]


def test_extracted_sample_files_exact_bytes():
    files = os.listdir(os.path.join(GOLDEN_DIR, "extracted"))
    assert files, "no golden text files"
    by_hash = {
        hashlib.md5(datagen.make_page(i)["url"].encode()).hexdigest()[:16]: i
        for i in range(N_PAGES)
    }
    for name in files:
        i = by_hash[name.removesuffix(".txt")]
        with open(os.path.join(GOLDEN_DIR, "extracted", name), "rb") as fh:
            golden_bytes = fh.read()
        got = extract_payload(datagen.make_page(i)["html"]).encode("utf-8")
        assert got == golden_bytes, f"byte drift for page {i}"


def test_parsed_fields_match_golden(fields_golden):
    for i in range(N_PAGES):
        page = datagen.make_page(i)
        f = parse_invoice_text(extract_payload(page["html"]), page["url"])
        g = fields_golden[page["url"]]
        for key in ("invoice_number", "vendor_name", "invoice_date", "due_date",
                    "subtotal", "tax", "total_amount", "currency", "confidence"):
            assert f[key] == g[key], f"{page['url']} field {key}"
        assert len(f["line_items"]) == g["n_line_items"]


@pytest.mark.slow
def test_reconciliation_matches_golden(spark):
    from invoice_ocr_reconciler_spark.pipeline import run_pipeline

    with open(os.path.join(GOLDEN_DIR, "reconciliation.json")) as fh:
        golden = json.load(fh)
    out = run_pipeline(
        datagen.pages_df(spark, N_PAGES), datagen.ledger_df(spark, N_LEDGER, N_PAGES)
    )
    results = [
        {
            "invoice_url": r["invoice_url"],
            "record_id": r["record_id"],
            "match_status": r["match_status"],
            "discrepancy": round(r["discrepancy"], 6) if r["discrepancy"] is not None else None,
            "flag_reason": r["flag_reason"],
            "confidence_score": r["confidence_score"],
            "suggestions": [s.asDict() for s in r["suggestions"]] if r["suggestions"] else [],
        }
        for r in out["results"].collect()
    ]
    results.sort(key=lambda r: r["invoice_url"])
    assert results == golden["results"]
    summary = out["summary"].collect()[0].asDict()
    assert summary == golden["summary"]
    missing = sorted(r["record_id"] for r in out["missing_records"].collect())
    assert missing == golden["missing_records"]
    assert summary["missing_records"] == len(missing)
