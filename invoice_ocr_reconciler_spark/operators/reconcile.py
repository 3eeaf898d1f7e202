"""Reconciliation: blocked fuzzy vendor join + greedy 1:1 assignment.

Reimplements the reference's reconcile() semantics (reference:
backend/reconciliationEngine.js:37-213) as a Spark-first pipeline that keeps
one row per invoice from input to result:

1. duplicate window    — first occurrence of lower(trim(invoice_number)) wins,
                         later ones flagged 'duplicate' (ref :43-51); reference
                         order = input array order, ours = url (stable, documented);
2. key normalization   — pure column expressions (ref :15-23);
3. blocked similarity join — block key = first token of the normalized vendor;
                         the ledger collapses to one array row per block (the
                         Fuse index build at ref :53-67) and joins on the block
                         key; Spark's join selection decides broadcast vs
                         shuffle from the register's size;
4. JVM-side scoring    — Levenshtein ratio + token-set (Dice) similarity,
                         vendor_score = 1 - max(lev_ratio, token_dice); the
                         amount-tolerance predicate abs(a-b)/max(a,b) <= 1%
                         (ref :25-35); combined = 0.6*vendor + 0.4*amount
                         (ref :113-138). All whole-stage-codegen expressions —
                         no Python in the pair-scoring hot path;
5. top-10 candidates   — each invoice row carries its <= 10 passing candidates
                         as one array in (vendor_score, record_id) order
                         (ref :113); a duplicate, or an invoice no ledger vendor
                         matches, carries an empty array;
6. greedy 1:1          — one exchange on the block key, rows sorted by
                         (block_key, url) within each partition, then one Arrow
                         kernel that walks the rows in order holding only the
                         current block's used records, and emits exactly one
                         result per invoice (matched, mismatch, missing or
                         duplicate). A ledger record belongs to exactly one
                         block (its own first token), so per-block greedy is
                         globally exact — no cross-block contention;
7. amount suggestions  — invoices no vendor matched are offered records of
                         about their amount that no invoice claimed (ref :91-94);
8. missing / summary   — ledger records never matched (ref :199); one
                         conditional aggregation over the results next to the
                         register's totals (ref :201-210). ``record_id`` is
                         the register's key (one id per row, as the
                         reference's uuids), so the missing count is the
                         register's total less the matched and mismatched
                         invoices, each of which claimed one id.

Scorer note (documented deviation): the reference scores vendors with
Fuse.js's bitap algorithm; per the project north_star the target scorer is
Levenshtein / token-set-ratio, which is what we implement (threshold 0.4 and
the <0.3 match cut preserved). Golden tests pin OUR scorer.

Scale note: a Python worker holds one Arrow batch plus the current block's
used record ids, whatever its partition holds. Greedy 1:1 in url order is
sequential by definition, so one hot vendor block runs serially in one task.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from invoice_ocr_reconciler_spark.functions.normalize import (
    normalize_amount_col,
    normalize_vendor_col,
    vendor_block_key,
)

VENDOR_THRESHOLD = 0.4  # ref: fuseOptions.threshold (:56)
MATCH_VENDOR_SCORE = 0.3  # ref: vendorScore < 0.3 (:160)
AMOUNT_TOLERANCE = 0.01  # ref: amountMatch threshold (:25)
TOP_K_CANDIDATES = 10  # ref: vendorMatches.slice(0, 10) (:113)
TOP_K_SUGGESTIONS = 3  # ref: .slice(0, 3) (:93,148,189)
NO_VENDOR = "No matching vendor found in payment register for: "  # ref :96

SUGGESTION_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("record_id", T.StringType()),
            T.StructField("reason", T.StringType()),
            T.StructField("confidence", T.IntegerType()),
        ]
    )
)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("invoice_url", T.StringType(), False),
        T.StructField("record_id", T.StringType()),
        T.StructField("match_status", T.StringType()),
        T.StructField("discrepancy", T.DoubleType()),
        T.StructField("flag_reason", T.StringType()),
        T.StructField("confidence_score", T.IntegerType()),
        T.StructField("suggestions", SUGGESTION_SCHEMA),
    ]
)

# the assignment kernel's rows: a result plus the invoice's normalized amount,
# which the summary totals over every invoice, duplicates included
ASSIGNED_SCHEMA = T.StructType(
    RESULT_SCHEMA.fields + [T.StructField("inv_amount", T.DoubleType())]
)


def _vendor_score_col(inv_norm, rec_norm, inv_toks, rec_toks, inv_len, rec_len):
    """vendor_score = 1 - max(levenshtein_ratio, token_set_dice); 0 = identical.

    Hot-path discipline: token arrays/lengths are precomputed per SIDE before
    the join (not per pair), and Levenshtein — the expensive O(n*m) term — is
    gated behind a free length-difference prefilter: |la-lb| > 0.4*max means
    lev >= |la-lb| so lev_ratio < 0.6 can never clear the 0.4 threshold.
    """
    max_len = F.greatest(inv_len, rec_len, F.lit(1))
    lev_possible = F.abs(inv_len - rec_len) <= 0.4 * max_len
    lev_ratio = F.when(
        lev_possible, F.lit(1.0) - F.levenshtein(inv_norm, rec_norm) / max_len
    ).otherwise(F.lit(0.0))
    inter = F.size(F.array_intersect(inv_toks, rec_toks))
    denom = F.size(inv_toks) + F.size(rec_toks)
    dice = F.when(denom > 0, 2.0 * inter / denom).otherwise(F.lit(0.0))
    return F.lit(1.0) - F.greatest(lev_ratio, dice)


def _with_amount_scores(c):
    """Candidate struct ``c`` plus its amount tolerance (ref :25-35) and
    combined score + confidence (ref :120-129); percent_diff is the JS
    Math.round int."""
    inv, rec = F.col("inv_amount"), c["rec_amount"]
    diff = F.abs(inv - rec)
    bigger = F.greatest(inv, rec)
    pct_raw = F.when(bigger == 0, F.lit(None)).otherwise(diff / bigger)
    percent_diff = F.coalesce(F.round(pct_raw * 100).cast("int"), F.lit(0))
    # JS `amountResult.percentDiff ? percentDiff/100 : 0` uses the ROUNDED int
    combined = c["vendor_score"] * 0.6 + percent_diff / 100.0 * 0.4
    return F.struct(
        c["vendor_score"].alias("vendor_score"),
        c["record_id"].alias("record_id"),
        rec.alias("rec_amount"),
        F.when(bigger == 0, F.lit(0.0)).otherwise(diff).alias("discrepancy"),
        F.when(bigger == 0, F.lit(True))
        .otherwise(pct_raw <= AMOUNT_TOLERANCE)
        .alias("amount_match"),
        percent_diff.alias("percent_diff"),
        combined.alias("combined_score"),
        F.round((1 - combined) * 100).cast("int").alias("confidence"),
    )


def _with_candidates(invoices: DataFrame, ledger: DataFrame) -> DataFrame:
    """``invoices`` plus ``block_key``, ``inv_amount`` and ``cands``, one row
    per input row: the <= 10 ledger records of the invoice's block whose
    vendor scores within VENDOR_THRESHOLD, in (vendor_score, record_id) order
    (ref :113), with their amount scores; empty when none does."""
    keep = [*invoices.columns, "block_key", "inv_amount"]
    inv = invoices.select(
        "*", normalize_vendor_col(F.col("vendor_name")).alias("inv_norm")
    ).select(
        "*",
        vendor_block_key(F.col("inv_norm")).alias("block_key"),
        normalize_amount_col(F.col("total_amount")).alias("inv_amount"),
        F.array_distinct(F.split("inv_norm", " ")).alias("inv_toks"),
        F.length("inv_norm").alias("inv_len"),
    )
    led = ledger.select(
        "record_id",
        normalize_vendor_col(F.col("vendor_name")).alias("rec_norm"),
        normalize_amount_col(F.col("expected_amount")).alias("rec_amount"),
    ).select(
        vendor_block_key(F.col("rec_norm")).alias("block_key"),
        F.struct(
            "record_id",
            "rec_norm",
            F.array_distinct(F.split("rec_norm", " ")).alias("rec_toks"),
            F.length("rec_norm").alias("rec_len"),
            "rec_amount",
        ).alias("rec"),
    )

    def candidate(rec):
        score = _vendor_score_col(
            F.col("inv_norm"), rec["rec_norm"],
            F.col("inv_toks"), rec["rec_toks"],
            F.col("inv_len"), rec["rec_len"],
        )
        return F.struct(
            score.alias("vendor_score"),
            rec["record_id"].alias("record_id"),
            rec["rec_amount"].alias("rec_amount"),
        )

    def passing(c):
        return c["vendor_score"] <= VENDOR_THRESHOLD

    # the per-block ledger collapses to one array row, and each invoice
    # scores its block inside codegen array expressions: no pair rows at
    # all. Spark's join selection picks the exchange — a broadcast while the
    # collapsed register fits autoBroadcastJoinThreshold, a sort-merge join
    # on the block key once it does not. The left join keeps invoices whose
    # block no record shares (null recs -> empty cands).
    blocks = led.groupBy("block_key").agg(F.collect_list("rec").alias("recs"))
    found = inv.join(blocks, "block_key", "left").select(
        *keep, F.filter(F.transform("recs", candidate), passing).alias("found")
    )
    # array_sort on (vendor_score, record_id, rec_amount) = the reference's
    # Fuse order; slice keeps its 10; amounts are scored on those 10 only
    top = F.transform(
        F.slice(F.array_sort("found"), 1, TOP_K_CANDIDATES), _with_amount_scores
    )
    return found.select(*keep, F.coalesce(top, F.array()).alias("cands"))


def candidate_pairs(invoices: DataFrame, ledger: DataFrame) -> DataFrame:
    """Blocked similarity join + JVM-side scoring as pair rows: one row per
    (invoice url, candidate record), <= 10 per invoice — the candidates
    ``reconcile`` assigns from, exploded."""
    return (
        _with_candidates(invoices.select("url", "vendor_name", "total_amount"), ledger)
        .select("url", "block_key", "inv_amount", F.explode("cands").alias("c"))
        .select("url", "block_key", "inv_amount", "c.*")
    )


def with_duplicate_flags(invoices: DataFrame) -> DataFrame:
    """First occurrence of the normalized invoice number wins (ref :43-51).

    Stable order = url (reference: array input order — documented deviation).
    Empty keys never count as duplicates (ref: `else if (key)` guard).
    """
    key = F.lower(F.trim(F.coalesce(F.col("invoice_number"), F.lit(""))))
    w = Window.partitionBy(key).orderBy("url")
    return invoices.withColumn(
        "is_duplicate",
        (F.length(key) > 0) & (F.row_number().over(w) > 1),
    )


def _assign(row: dict, used: set) -> dict:
    """The result of one invoice row (ref :69-196); records its pick in
    ``used``, the records its block has claimed so far."""
    amount = row["inv_amount"]
    out = {
        "invoice_url": row["url"],
        "record_id": None,
        "match_status": "missing",
        "discrepancy": amount,
        "flag_reason": None,
        "confidence_score": 0,
        "suggestions": None,
        "inv_amount": amount,
    }
    if row["is_duplicate"]:
        return {
            **out,
            "match_status": "duplicate",
            "discrepancy": 0.0,
            "flag_reason": f"Duplicate invoice number: {row['invoice_number']}",
            "confidence_score": 100,
        }
    cands = row["cands"]
    if not cands:  # ref :89-104
        return {**out, "flag_reason": NO_VENDOR + (row["vendor_name"] or "")}
    free = [c for c in cands if c["record_id"] not in used]
    if not free:  # saturated: every candidate record already claimed (ref :140-155)
        return {
            **out,
            "flag_reason": "All potential matching records already used. "
            f"Vendor: {row['vendor_name']}",
            "suggestions": [
                {
                    "record_id": c["record_id"],
                    "reason": f"Fuzzy vendor match ({c['confidence']}%) - "
                    "Already linked to another invoice",
                    "confidence": c["confidence"],
                }
                for c in cands[:TOP_K_SUGGESTIONS]
            ],
        }
    # the first unused candidate with the lowest (combined_score,
    # vendor_score, record_id): the reference's strict-< scan over
    # ascending-fuzzy-score candidates
    best = min(free, key=lambda c: (c["combined_score"], c["vendor_score"], c["record_id"]))
    used.add(best["record_id"])
    out = {**out, "record_id": best["record_id"], "discrepancy": best["discrepancy"]}
    if best["amount_match"] and best["vendor_score"] < MATCH_VENDOR_SCORE:
        return {
            **out,
            "match_status": "matched",
            "confidence_score": max(best["confidence"], 70),
            "suggestions": [],
        }
    reasons = []
    if not best["amount_match"]:
        reasons.append(
            f"Amount mismatch: Invoice ${amount:.2f} vs "
            f"Expected ${best['rec_amount']:.2f} "
            f"({best['percent_diff']}% difference)"
        )
    if best["vendor_score"] >= MATCH_VENDOR_SCORE:
        # JS Math.round = floor(x+0.5); Python round() is banker's
        v_conf = int((1 - best["vendor_score"]) * 100 + 0.5)
        reasons.append(f"Vendor name fuzzy match confidence: {v_conf}%")
    # alternative suggestions: the other candidates in fuzzy-score order
    alts = [c for c in cands if c["record_id"] != best["record_id"]]
    return {
        **out,
        "match_status": "mismatch",
        "flag_reason": "; ".join(reasons),
        "confidence_score": best["confidence"],
        "suggestions": [
            {
                "record_id": c["record_id"],
                "reason": f"Alternative fuzzy match ({c['confidence']}% confidence)",
                "confidence": c["confidence"],
            }
            for c in alts[:TOP_K_SUGGESTIONS]
        ],
    }


def assign_batches(batches):
    """mapInArrow kernel: exact greedy 1:1 assignment (ref :69-196).

    Takes rows sorted by (block_key, url) with every row of a block in one
    partition, and yields one ASSIGNED_SCHEMA row per input row. Only the
    current block's used records are held; they carry over from one Arrow
    batch to the next and reset where the block key changes.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(ASSIGNED_SCHEMA)
    block, used = None, set()
    for batch in batches:
        out = []
        for row in batch.to_pylist():
            if row["block_key"] != block:
                block, used = row["block_key"], set()
            out.append(_assign(row, used))
        yield pa.RecordBatch.from_pylist(out, schema=schema)


class Reconciled(dict):
    """reconcile's output frames; ``release()`` unpersists the one frame
    reconcile caches to build them (the greedy assignment, one row per
    invoice). The outputs are lazy, so only the caller knows when it is done
    with them: call ``release()`` after the last action, or a long-lived
    session keeps every call's cached blocks."""

    def __init__(self, frames: dict[str, DataFrame], cached: list[DataFrame]):
        super().__init__(frames)
        self._cached = cached

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()


def reconcile(invoices: DataFrame, ledger: DataFrame) -> Reconciled:
    """Full reconcile stage -> {'results', 'missing_records', 'summary'}.

    ``invoices`` needs (url, invoice_number, vendor_name, total_amount);
    ``ledger`` needs (record_id, vendor_name, expected_amount), with
    ``record_id`` a key, as ``normalize_register`` makes it. Nothing checks
    that at run time: a check would cost the shuffle the summary saves.
    """
    # column-prune FIRST: dragging the extracted_text / line_items payload
    # through the duplicate window and the block exchange is the #1 scale
    # killer. Reconciliation needs exactly four columns.
    flagged = with_duplicate_flags(
        invoices.select("url", "invoice_number", "vendor_name", "total_amount")
    )
    # results, missing_records and summary all read the assignment: persist
    # it so the upstream DAG (incl. the extraction UDF) runs once — the batch
    # analog of the reference persisting OCR output before reconciling
    # (backend/server.js:298-315 then :516-529). The session lets AQE size
    # the cached plan's block exchange from its map output, so a small batch
    # runs the kernel in a few merged partitions: coalescing merges whole
    # reducers (a block stays in one partition) and the sort runs above it.
    assigned = (
        _with_candidates(flagged, ledger)
        .select(
            "url", "block_key", "is_duplicate", "invoice_number", "vendor_name",
            "inv_amount",
            F.when(F.col("is_duplicate"), F.array()).otherwise(F.col("cands")).alias("cands"),
        )
        .repartition("block_key")
        .sortWithinPartitions("block_key", "url")
        .mapInArrow(assign_batches, schema=ASSIGNED_SCHEMA)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    used_ids = assigned.filter(F.col("record_id").isNotNull()).select("record_id")
    missing_records = ledger.join(used_ids, "record_id", "left_anti")

    # amount-only suggestions for vendor-miss invoices (ref :91-94) against
    # the records no invoice claimed. NOT a nested-loop theta join — both
    # sides grow with the corpus, so BNLJ goes quadratic. Amounts are banded
    # on a log_{1.01} grid: any pair within the 1% tolerance lands within
    # +-2 bands, so exploding the (small) unused side over its neighbor
    # bands turns this into an equi-join. The per-band unused
    # records collapse to ONE ARRAY ROW (same shape as the candidate join),
    # and the exact tolerance filter, the record_id-ascending top-3 cut
    # (ref :93) and the suggestion structs all run inside codegen array
    # expressions. Only vendor-miss rows get a band, so the left join
    # leaves every other row as it is.
    band_width = math.log(1.01)

    def band(amount: str, d: int = 0):
        return (F.floor(F.log1p(amount) / band_width) + d).cast("long")

    # a record appears ONCE per band group, so the per-row array join
    # yields each candidate at most once — no dedup pass needed
    band_arrays = (
        missing_records.select(
            F.col("record_id").alias("s_record_id"),
            normalize_amount_col(F.col("expected_amount")).alias("s_amount"),
        )
        .withColumn(
            "amount_band",
            F.explode(F.array(*[band("s_amount", d) for d in (-2, -1, 0, 1, 2)])),
        )
        .groupBy("amount_band")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("s_record_id", "s_amount"))
            ).alias("band_cands")
        )
    )
    tol = f"CAST({AMOUNT_TOLERANCE!r} AS DOUBLE)"
    top_expr = f"""
        transform(
          slice(
            filter(band_cands, c ->
              CASE WHEN greatest(inv_amount, c.s_amount) = 0D THEN true
                   ELSE abs(inv_amount - c.s_amount)
                        / greatest(inv_amount, c.s_amount) <= {tol} END),
            1, {TOP_K_SUGGESTIONS}),
          c -> struct(c.s_record_id AS record_id,
                      'Matching amount' AS reason,
                      50 AS confidence))
    """
    no_vendor = F.col("flag_reason").startswith(NO_VENDOR)
    results = (
        assigned.withColumn("amount_band", F.when(no_vendor, band("inv_amount")))
        .join(band_arrays, "amount_band", "left")
        .withColumn("amount_suggestions", F.expr(top_expr))
        .withColumn(
            "suggestions",
            F.when(
                F.size("amount_suggestions") > 0, F.col("amount_suggestions")
            ).otherwise(F.col("suggestions")),
        )
        .select(*RESULT_SCHEMA.fieldNames())
    )

    # summary (ref :201-210): one conditional aggregation over the
    # assignment next to one over the register. coalesce: SQL SUM over zero
    # rows is NULL, but the reference's counters start at 0. record_id is
    # the register's key and each matched or mismatched invoice claims one
    # id, so the records no invoice claimed are the rest of the register.
    def _n(status: str):
        return F.count_if(F.col("match_status") == status)

    summary = (
        assigned.agg(
            F.count("*").alias("total_invoices"),
            _n("matched").alias("matched"),
            _n("mismatch").alias("mismatched"),
            _n("missing").alias("missing_invoices"),
            _n("duplicate").alias("duplicate"),
            F.coalesce(F.round(F.sum("inv_amount"), 2), F.lit(0.0)).alias(
                "total_amount_invoiced"
            ),
        )
        .crossJoin(
            ledger.agg(
                F.count("*").alias("total_records"),
                F.coalesce(
                    F.round(F.sum(normalize_amount_col(F.col("expected_amount"))), 2),
                    F.lit(0.0),
                ).alias("total_amount_expected"),
            )
        )
        .withColumn(
            "missing_records",
            F.col("total_records") - F.col("matched") - F.col("mismatched"),
        )
    )

    return Reconciled(
        {
            "results": results,
            "missing_records": missing_records,
            "summary": summary,
        },
        cached=[assigned],
    )
