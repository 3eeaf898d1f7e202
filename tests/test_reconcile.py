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
    assert out["summary"].collect()[0]["missing_records"] == len(missing)


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
    missing, summary all-zero counters (the greedy kernel sees no rows)."""
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
    """reconcile has one candidate path and Spark's join selection picks its
    exchange: the register joins broadcast under the session's
    autoBroadcastJoinThreshold and sort-merge with it at -1. The plan
    assertions make sure two strategies are compared; the output must be
    identical row-for-row across them."""
    from invoice_ocr_reconciler_spark import datagen
    from invoice_ocr_reconciler_spark.operators.reconcile import reconcile
    from invoice_ocr_reconciler_spark.pipeline import extract_and_parse

    inv = extract_and_parse(datagen.pages_df(spark, 400), include_text=False)
    ledger = datagen.ledger_df(spark, 50, 400)

    def rows_and_plan():
        out = reconcile(inv, ledger)
        try:
            res = out["results"].select(
                "invoice_url", "record_id", "match_status", "discrepancy",
                "flag_reason", "confidence_score", "suggestions")
            rows = sorted(map(str, res.collect()))
            return rows, res._jdf.queryExecution().executedPlan().toString()
        finally:
            # a cached assignment would be reused by the next call's plan
            out.release()

    key = "spark.sql.autoBroadcastJoinThreshold"
    broadcast_rows, broadcast_plan = rows_and_plan()
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        smj_rows, smj_plan = rows_and_plan()
    finally:
        spark.conf.set(key, old)

    assert "BroadcastHashJoin" in broadcast_plan
    assert "SortMergeJoin" not in broadcast_plan
    assert "SortMergeJoin" in smj_plan
    assert "BroadcastHashJoin" not in smj_plan
    assert broadcast_rows == smj_rows


def test_cached_assignment_coalesces_without_changing_rows(spark):
    """The session lets AQE coalesce the block exchange under reconcile's
    persisted assignment. Coalescing merges whole reducers, so each block
    stays in one partition and the sort above the read keeps every merged
    partition in (block_key, url) order: the rows must not change, only the
    task count drops. The suite pins 8 shuffle partitions, so AQE merges
    several reducers, each holding whole blocks, into one kernel partition
    at this size."""
    hot = [  # one hot block: 40 invoices contend for 20 records
        (f"https://h.example/{i:03d}", f"H-{i}", "Acme Corp", 100.0 + i % 10)
        for i in range(40)
    ]
    cold = [
        (f"https://c.example/{v}/{i}", f"{v[:2]}-{i}", f"{v} Ltd", 50.0 * (i + 1))
        for v in ("Zeta", "Beta", "Gamma", "Delta", "Omega")
        for i in range(3)
    ]
    inv = spark.createDataFrame(
        hot + cold + [("https://c.example/dup", "H-1", "Acme Corp", 101.0)],
        "url string, invoice_number string, vendor_name string, total_amount double",
    )
    led = spark.createDataFrame(
        [(f"A{j}", "Acme Inc", 100.0 + j % 10) for j in range(20)]
        + [(f"{v}{i}", f"{v} GmbH", 50.0 * (i + 1) + 0.25)
           for v in ("Zeta", "Beta", "Gamma", "Delta") for i in range(2)]
        + [("X1", "Nobody LLC", 7.0)],
        "record_id string, vendor_name string, expected_amount double",
    )
    sc = spark.sparkContext
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

    def rows_and_tasks(value):
        group = f"cached-coalesce-{value}"
        spark.conf.set(key, value)
        sc.setJobGroup(group, "cached assignment coalescing")
        out = reconcile(inv, led)
        try:
            rows = sorted(map(str, out["results"].select(
                "invoice_url", "record_id", "match_status", "discrepancy",
                "flag_reason", "confidence_score", "suggestions").collect()))
            rows.append(str(out["summary"].collect()))
        finally:
            sc.setJobGroup(None, None)
            # a cached assignment would be reused by the next call's plan
            out.release()
        tracker = sc.statusTracker()
        tasks = 0
        for job in tracker.getJobIdsForGroup(group):
            for stage in tracker.getJobInfo(job).stageIds:
                info = tracker.getStageInfo(stage)
                tasks += info.numCompletedTasks if info else 0
        return rows, tasks

    old = spark.conf.get(key)
    try:
        wide_rows, wide_tasks = rows_and_tasks("false")
        merged_rows, merged_tasks = rows_and_tasks("true")
    finally:
        spark.conf.set(key, old)

    statuses = " ".join(wide_rows)
    for status in ("matched", "mismatch", "missing", "duplicate"):
        assert f"'{status}'" in statuses, status
    assert merged_rows == wide_rows
    assert merged_tasks < wide_tasks, (merged_tasks, wide_tasks)


def _register(spark, rows):
    from invoice_ocr_reconciler_spark.sources.registers import normalize_register

    return normalize_register(spark.createDataFrame(
        rows, "vendor string, amount string, due_date string, ref string"
    ))


ACME = ("Acme Corp", "100.00", "2024-01-01", "REF-1")
ZETA = ("Zeta Ltd", "50.00", "2024-01-02", "REF-2")


def test_summary_counts_missing_register_rows(spark):
    """Two identical register rows get their own record_ids; the one no
    invoice claims stays missing, and the summary's missing_records equals
    the missing_records frame's."""
    inv = spark.createDataFrame(
        [("u1", "INV-1", "Acme Corp", 100.0)],
        "url string, invoice_number string, vendor_name string, total_amount double",
    )
    out = reconcile(inv, _register(spark, [ACME] * 2 + [ZETA]))
    s = out["summary"].collect()[0]
    assert (s["total_records"], s["missing_records"]) == (3, 2)
    assert out["missing_records"].count() == 2
    out.release()


def test_identical_register_rows_each_match_an_invoice(spark):
    """Identical register rows are distinct records: two invoices that match
    them are both matched, each to its own id."""
    ids = [r["record_id"] for r in _register(spark, [ACME] * 2 + [ZETA]).collect()]
    assert len(set(ids)) == 3
    inv = spark.createDataFrame(
        [("u1", "INV-1", "Acme Corp", 100.0), ("u2", "INV-2", "Acme Corp", 100.0)],
        "url string, invoice_number string, vendor_name string, total_amount double",
    )
    out = reconcile(inv, _register(spark, [ACME] * 2 + [ZETA]))
    rows = out["results"].collect()
    assert [r["match_status"] for r in rows] == ["matched", "matched"]
    assert len({r["record_id"] for r in rows}) == 2
    s = out["summary"].collect()[0]
    assert s["missing_records"] == 1
    assert out["missing_records"].count() == 1
    out.release()


def test_register_row_without_twin_keeps_content_hash_id(spark):
    """A row with no identical twin keeps the bare R- + 12-hex md5 id; its
    twins' ids extend the first one's with -2, -3, ..."""
    import hashlib

    digest = hashlib.md5(b"Zeta Ltd|50.0|2024-01-02|REF-2").hexdigest()[:12]
    acme = "R-" + hashlib.md5(b"Acme Corp|100.0|2024-01-01|REF-1").hexdigest()[:12]
    ids = sorted(r["record_id"] for r in _register(spark, [ACME] * 3 + [ZETA]).collect())
    assert ids == sorted([acme, f"{acme}-2", f"{acme}-3", f"R-{digest}"])


def test_release_leaves_no_cached_frames(spark):
    """reconcile caches one frame per call (the greedy assignment); release()
    drops it, so a session that reconciles batch after batch holds no more
    cached RDDs after each batch than before the first."""
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
        out["summary"].collect()  # reads the cached assignment
        assert persistent().size() == before + 1
        out.release()
        assert persistent().size() == before
        assert not out["results"].is_cached


# --- the greedy kernel on hand-built Arrow batches (no Spark session) ---

def _kernel_batch(rows):
    """One Arrow batch shaped like the rows reconcile feeds the kernel."""
    import pyarrow as pa

    cand = pa.struct([
        ("vendor_score", pa.float64()), ("record_id", pa.string()),
        ("rec_amount", pa.float64()), ("discrepancy", pa.float64()),
        ("amount_match", pa.bool_()), ("percent_diff", pa.int32()),
        ("combined_score", pa.float64()), ("confidence", pa.int32()),
    ])
    schema = pa.schema([
        ("url", pa.string()), ("block_key", pa.string()),
        ("is_duplicate", pa.bool_()), ("invoice_number", pa.string()),
        ("vendor_name", pa.string()), ("inv_amount", pa.float64()),
        ("cands", pa.list_(cand)),
    ])
    full = [
        {"is_duplicate": False, "invoice_number": "N-" + r["url"],
         "vendor_name": "Acme Corp", "inv_amount": 100.0, "cands": [], **r}
        for r in rows
    ]
    return pa.RecordBatch.from_pylist(full, schema=schema)


def _cand(record_id, vendor_score=0.0, combined_score=0.0, confidence=100):
    return {"vendor_score": vendor_score, "record_id": record_id, "rec_amount": 100.0,
            "discrepancy": 0.0, "amount_match": True, "percent_diff": 0,
            "combined_score": combined_score, "confidence": confidence}


def _run_kernel(*batches):
    from invoice_ocr_reconciler_spark.operators.reconcile import (
        ASSIGNED_SCHEMA,
        assign_batches,
    )

    out = list(assign_batches(iter(batches)))
    assert len(out) == len(batches)
    assert all(b.schema.names == ASSIGNED_SCHEMA.fieldNames() for b in out)
    return {r["invoice_url"]: r for b in out for r in b.to_pylist()}


def test_kernel_used_records_carry_across_batches():
    """A block split over two Arrow batches: the record the first batch
    claimed is still used in the second."""
    rows = _run_kernel(
        _kernel_batch([{"url": "u1", "block_key": "acme", "cands": [_cand("R1")]}]),
        _kernel_batch([{"url": "u2", "block_key": "acme", "cands": [_cand("R1")]}]),
    )
    assert rows["u1"]["match_status"] == "matched"
    assert rows["u2"]["match_status"] == "missing"
    assert rows["u2"]["record_id"] is None


def test_kernel_used_records_reset_at_block_change():
    rows = _run_kernel(_kernel_batch([
        {"url": "u1", "block_key": "acme", "cands": [_cand("R1")]},
        {"url": "u2", "block_key": "zeta", "cands": [_cand("R1")]},
    ]))
    assert rows["u1"]["record_id"] == rows["u2"]["record_id"] == "R1"
    assert rows["u2"]["match_status"] == "matched"


def test_kernel_empty_candidates_is_no_vendor_missing():
    rows = _run_kernel(_kernel_batch([
        {"url": "u1", "block_key": "zeta", "vendor_name": "Zeta", "inv_amount": 42.5},
        {"url": "u2", "block_key": "zeta", "vendor_name": None},
    ]))
    assert rows["u1"] == {
        "invoice_url": "u1", "record_id": None, "match_status": "missing",
        "discrepancy": 42.5,
        "flag_reason": "No matching vendor found in payment register for: Zeta",
        "confidence_score": 0, "suggestions": None, "inv_amount": 42.5,
    }
    assert rows["u2"]["flag_reason"] == "No matching vendor found in payment register for: "


def test_kernel_saturated_block_suggests_three_used_records():
    cands = [_cand(f"R{i}", combined_score=i / 10, confidence=100 - i) for i in range(1, 5)]
    rows = _run_kernel(_kernel_batch(
        [{"url": f"u{i}", "block_key": "acme", "cands": cands} for i in range(1, 6)]
    ))
    # each invoice claims the best record the earlier urls left
    assert [rows[f"u{i}"]["record_id"] for i in range(1, 5)] == ["R1", "R2", "R3", "R4"]
    r = rows["u5"]
    assert (r["match_status"], r["record_id"], r["discrepancy"], r["confidence_score"]) == (
        "missing", None, 100.0, 0)
    assert r["flag_reason"] == "All potential matching records already used. Vendor: Acme Corp"
    assert r["suggestions"] == [
        {"record_id": f"R{i}", "confidence": 100 - i,
         "reason": f"Fuzzy vendor match ({100 - i}%) - Already linked to another invoice"}
        for i in range(1, 4)
    ]


def test_kernel_duplicate_claims_nothing():
    rows = _run_kernel(_kernel_batch([
        {"url": "u1", "block_key": "acme", "is_duplicate": True,
         "invoice_number": "INV-1", "cands": []},
        {"url": "u2", "block_key": "acme", "cands": [_cand("R1")]},
    ]))
    assert rows["u1"] == {
        "invoice_url": "u1", "record_id": None, "match_status": "duplicate",
        "discrepancy": 0.0, "flag_reason": "Duplicate invoice number: INV-1",
        "confidence_score": 100, "suggestions": None, "inv_amount": 100.0,
    }
    assert rows["u2"]["record_id"] == "R1"


def test_kernel_matched_row_has_empty_suggestions():
    """A matched row's suggestions are [], not null (results digests tell
    the two apart); its confidence is floored at 70."""
    rows = _run_kernel(_kernel_batch([
        {"url": "u1", "block_key": "acme",
         "cands": [_cand("R1", vendor_score=0.2, combined_score=0.12, confidence=60)]},
    ]))
    assert rows["u1"] == {
        "invoice_url": "u1", "record_id": "R1", "match_status": "matched",
        "discrepancy": 0.0, "flag_reason": None, "confidence_score": 70,
        "suggestions": [], "inv_amount": 100.0,
    }
