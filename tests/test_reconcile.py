"""Branch-complete reconciliation tests (reference: backend/reconciliationEngine.js:37-213).

Every match_status branch, greedy 1:1 contention, suggestions, missing-record
anti join, and the summary — with hand-computed expected values.
"""

import pytest
from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.operators.reconcile import reconcile

INVOICES = [
    # url, invoice_number, vendor_name, total_amount
    ("https://t.example/u1", "INV-1", "Acme Corp", 100.0),
    ("https://t.example/u2", "INV-2", "Acme Corp", 200.0),
    ("https://t.example/u3", "INV-3", "Zeta Systems", 300.0),
    ("https://t.example/u4", "INV-1", "Acme Corp", 100.0),  # duplicate number
    ("https://t.example/u5", "INV-5", "Acme Corp", 100.0),  # all records used
]

LEDGER = [
    # record_id, vendor_name, expected_amount
    ("R1", "Acme Inc", 100.0),
    ("R2", "Acme Ltd", 205.0),
    ("R5", "Phantom GmbH", 300.0),  # amount-only suggestion target for u3
    ("R6", "Nobody LLC", 999.0),  # never matched -> missing record
]


@pytest.fixture(scope="module")
def outputs(spark):
    inv = spark.createDataFrame(
        INVOICES, "url string, invoice_number string, vendor_name string, total_amount double"
    )
    led = spark.createDataFrame(
        LEDGER, "record_id string, vendor_name string, expected_amount double"
    )
    out = reconcile(inv, led)
    rows = {r["invoice_url"]: r.asDict() for r in out["results"].collect()}
    return out, rows


def test_one_result_row_per_invoice(outputs):
    _, rows = outputs
    assert set(rows) == {f"https://t.example/u{i}" for i in range(1, 6)}


def test_matched_branch(outputs):
    _, rows = outputs
    r = rows["https://t.example/u1"]
    assert r["match_status"] == "matched"
    assert r["record_id"] == "R1"
    assert r["discrepancy"] == 0.0
    assert r["confidence_score"] == 100
    assert r["flag_reason"] is None


def test_greedy_contention_first_url_wins(outputs):
    """u1 and u2 both fuzzy-match R1; u1 (earlier stable order) claims it,
    u2 falls to R2 (ref :108-138 usedRecordIds semantics)."""
    _, rows = outputs
    assert rows["https://t.example/u1"]["record_id"] == "R1"
    assert rows["https://t.example/u2"]["record_id"] == "R2"


def test_mismatch_branch_amount(outputs):
    _, rows = outputs
    r = rows["https://t.example/u2"]
    assert r["match_status"] == "mismatch"
    assert r["discrepancy"] == pytest.approx(5.0)
    # percentDiff = round(5/205*100) = 2; combined = 0.02*0.4; conf = round(99.2)
    assert r["confidence_score"] == 99
    assert r["flag_reason"] == (
        "Amount mismatch: Invoice $200.00 vs Expected $205.00 (2% difference)"
    )
    # alternative suggestion: the other candidate R1 (conf: 50% diff -> 80)
    sugg = [s.asDict() for s in r["suggestions"]]
    assert sugg == [
        {"record_id": "R1", "reason": "Alternative fuzzy match (80% confidence)", "confidence": 80}
    ]


def test_missing_no_vendor_with_amount_suggestions(outputs):
    _, rows = outputs
    r = rows["https://t.example/u3"]
    assert r["match_status"] == "missing"
    assert r["record_id"] is None
    assert r["discrepancy"] == 300.0
    assert r["confidence_score"] == 0
    assert r["flag_reason"] == (
        "No matching vendor found in payment register for: Zeta Systems"
    )
    sugg = [s.asDict() for s in r["suggestions"]]
    assert sugg == [{"record_id": "R5", "reason": "Matching amount", "confidence": 50}]


def test_duplicate_branch(outputs):
    _, rows = outputs
    r = rows["https://t.example/u4"]
    assert r["match_status"] == "duplicate"
    assert r["record_id"] is None
    assert r["discrepancy"] == 0.0
    assert r["confidence_score"] == 100
    assert r["flag_reason"] == "Duplicate invoice number: INV-1"


def test_missing_all_used_branch(outputs):
    _, rows = outputs
    r = rows["https://t.example/u5"]
    assert r["match_status"] == "missing"
    assert r["record_id"] is None
    assert r["discrepancy"] == 100.0
    assert r["confidence_score"] == 0
    assert r["flag_reason"] == (
        "All potential matching records already used. Vendor: Acme Corp"
    )
    sugg = [s.asDict() for s in r["suggestions"]]
    # both acme records, fuzzy-score order then record_id; per-candidate conf:
    # R1: 0% diff -> 100; R2: round(105/205*100)=51 -> combined .204 -> 80
    assert sugg == [
        {
            "record_id": "R1",
            "reason": "Fuzzy vendor match (100%) - Already linked to another invoice",
            "confidence": 100,
        },
        {
            "record_id": "R2",
            "reason": "Fuzzy vendor match (80%) - Already linked to another invoice",
            "confidence": 80,
        },
    ]


def test_missing_records_anti_join(outputs):
    out, _ = outputs
    missing = sorted(r["record_id"] for r in out["missing_records"].collect())
    assert missing == ["R5", "R6"]


def test_summary(outputs):
    out, _ = outputs
    s = out["summary"].collect()[0].asDict()
    assert s == {
        "total_invoices": 5,
        "matched": 1,
        "mismatched": 1,
        "missing_invoices": 2,
        "duplicate": 1,
        "total_amount_invoiced": 800.0,
        "total_records": 4,
        "total_amount_expected": 1604.0,
        "missing_records": 2,
    }


def test_normalization_idempotent(spark):
    from invoice_ocr_reconciler_spark.functions.normalize import normalize_vendor_col

    samples = [
        ("Acme Corp.",), ("  ACME   corporation  ",), ("Gekko & Co",),
        ("Tyrell Pvt. Ltd.",), ("", ), (None,), ("Ünïcode Ltd",), ("co",),
    ]
    df = spark.createDataFrame(samples, "v string")
    once = normalize_vendor_col(F.col("v"))
    twice = normalize_vendor_col(once)
    bad = df.select(once.alias("a"), twice.alias("b")).filter(F.col("a") != F.col("b"))
    assert bad.count() == 0


def test_amount_tolerance_symmetry(spark):
    """amountMatch(a,b) == amountMatch(b,a) by construction (abs/max)."""
    from invoice_ocr_reconciler_spark.operators.reconcile import AMOUNT_TOLERANCE

    pairs = [(100.0, 100.9), (100.9, 100.0), (0.0, 0.0), (0.0, 5.0), (5.0, 0.0)]
    df = spark.createDataFrame(pairs, "a double, b double")
    diff = F.abs(F.col("a") - F.col("b"))
    bigger = F.greatest(F.col("a"), F.col("b"))
    m = F.when(bigger == 0, F.lit(True)).otherwise(diff / bigger <= AMOUNT_TOLERANCE)
    got = [r[0] for r in df.select(m).collect()]
    assert got == [True, True, True, False, False]


def test_reconcile_empty_invoices(spark):
    """Degenerate input: zero invoices -> zero results, every ledger record
    missing, summary all-zero counters (exercises the empty-partition branch
    of the mapInPandas greedy wrapper)."""
    from invoice_ocr_reconciler_spark import datagen
    from invoice_ocr_reconciler_spark.operators.reconcile import reconcile

    empty = spark.createDataFrame(
        [], "url string, invoice_number string, vendor_name string, total_amount double"
    )
    ledger = datagen.ledger_df(spark, 12, 100)
    out = reconcile(empty, ledger)
    assert out["results"].count() == 0
    assert out["missing_records"].count() == 12
    s = out["summary"].collect()[0]
    assert s["total_invoices"] == 0 and s["matched"] == 0
    assert s["missing_records"] == 12


def test_broadcast_and_smj_paths_identical(spark):
    """candidate generation has two physical paths (array-blocked broadcast
    vs exploded sort-merge with the kernel-side cap); reconcile output must
    be identical row-for-row across them."""
    from invoice_ocr_reconciler_spark import datagen
    from invoice_ocr_reconciler_spark.operators.reconcile import reconcile
    from invoice_ocr_reconciler_spark.pipeline import extract_and_parse

    inv = extract_and_parse(datagen.pages_df(spark, 400), include_text=False)
    ledger = datagen.ledger_df(spark, 50, 400)

    def rows(broadcast):
        out = reconcile(inv, ledger, broadcast_ledger=broadcast)
        return sorted(
            map(str, out["results"].select(
                "invoice_url", "record_id", "match_status", "discrepancy",
                "flag_reason", "confidence_score", "suggestions").collect())
        )

    assert rows(True) == rows(False)


def test_release_leaves_no_cached_frames(spark):
    """reconcile caches three frames per call; release() drops them, so a
    session that reconciles batch after batch holds no more cached RDDs
    after each batch than before the first."""
    inv = spark.createDataFrame(
        INVOICES, "url string, invoice_number string, vendor_name string, total_amount double"
    )
    led = spark.createDataFrame(
        LEDGER, "record_id string, vendor_name string, expected_amount double"
    )
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    for _ in range(2):
        out = reconcile(inv, led)
        out["summary"].collect()  # reads all three cached frames
        assert persistent().size() == before + 3
        out.release()
        assert persistent().size() == before
        assert not out["results"].is_cached
