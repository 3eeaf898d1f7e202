"""Reconciliation: blocked fuzzy vendor join + greedy 1:1 assignment.

Reimplements the reference's reconcile() semantics (reference:
backend/reconciliationEngine.js:37-213) as a Spark-first pipeline:

1. duplicate window    — first occurrence of lower(trim(invoice_number)) wins,
                         later ones flagged 'duplicate' (ref :43-51); reference
                         order = input array order, ours = url (stable, documented);
2. key normalization   — pure column expressions (ref :15-23);
3. blocked similarity join — block key = first token of the normalized vendor;
                         ledger side broadcast when small (the Fuse index build
                         at ref :53-67 becomes a broadcast dim), shuffled
                         sort-merge on block key otherwise — the north_rule's
                         "blocked sort-merge join on normalized keys";
4. JVM-side scoring    — Levenshtein ratio + token-set (Dice) similarity,
                         vendor_score = 1 - max(lev_ratio, token_dice); the
                         amount-tolerance predicate abs(a-b)/max(a,b) <= 1%
                         (ref :25-35); combined = 0.6*vendor + 0.4*amount
                         (ref :113-138). All whole-stage-codegen expressions —
                         no Python in the pair-scoring hot path;
5. top-10 candidates   — window rank per invoice (ref :113);
6. greedy 1:1          — applyInPandas per block; a ledger record belongs to
                         exactly one block (its own first token), so per-block
                         greedy is globally exact — no cross-block contention
                         by construction;
7. missing / anti join — ledger records never matched (ref :199);
8. summary             — conditional aggregation (ref :201-210).

Scorer note (documented deviation): the reference scores vendors with
Fuse.js's bitap algorithm; per the project north_star the target scorer is
Levenshtein / token-set-ratio, which is what we implement (threshold 0.4 and
the <0.3 match cut preserved). Golden tests pin OUR scorer.

Scale note: the greedy group per block saturates once every ledger record in
the block is claimed; the pandas kernel switches to a vectorized fill for the
remaining invoices, so per-block cost is O(head pairs) + O(tail rows). Block
cardinality on the ledger side is bounded by the dimension table; hot-host
skew on the invoice side is handled upstream by salted repartitioning
(sources/pages.py) and AQE skew-join splitting.
"""

from __future__ import annotations

import math

import pandas as pd
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


def candidate_pairs(
    invoices: DataFrame, ledger: DataFrame, broadcast_ledger: bool = True
) -> DataFrame:
    """Blocked similarity join + JVM-side scoring; <= 10 candidates/invoice."""
    inv = (
        invoices.withColumn("inv_norm", normalize_vendor_col(F.col("vendor_name")))
        .withColumn("block_key", vendor_block_key(F.col("inv_norm")))
        .withColumn("inv_amount", normalize_amount_col(F.col("total_amount")))
        .select(
            "url",
            F.col("invoice_number").alias("inv_invoice_number"),
            F.col("vendor_name").alias("inv_vendor_name"),
            "inv_norm",
            F.array_distinct(F.split("inv_norm", " ")).alias("inv_toks"),
            F.length("inv_norm").alias("inv_len"),
            "block_key",
            "inv_amount",
        )
    )
    led = (
        ledger.withColumn("rec_norm", normalize_vendor_col(F.col("vendor_name")))
        .withColumn("block_key", vendor_block_key(F.col("rec_norm")))
        .withColumn("rec_amount", normalize_amount_col(F.col("expected_amount")))
        .select(
            "record_id",
            "rec_norm",
            F.array_distinct(F.split("rec_norm", " ")).alias("rec_toks"),
            F.length("rec_norm").alias("rec_len"),
            "block_key",
            "rec_amount",
        )
    )
    if broadcast_ledger:
        # Candidate generation WITHOUT row explosion: the per-block ledger
        # collapses to one array row (|blocks| rows total — trivially
        # broadcastable), and scoring + threshold + the reference's
        # top-10-by-vendor-score cut (ref :113) all run inside codegen array
        # expressions BEFORE anything is exploded. Semantically identical to
        # the exploded join + per-url cut in the greedy kernel (url is the
        # invoice PK, so per-row slice == per-url head), but the Python
        # kernel now receives <= 10 rows per invoice instead of every
        # passing pair — measured 34.4M -> 8.4M rows at 1.2M docs.
        led_blocks = F.broadcast(
            led.groupBy("block_key").agg(
                F.collect_list(
                    F.struct("record_id", "rec_norm", "rec_toks", "rec_len", "rec_amount")
                ).alias("recs")
            )
        )
        joined = inv.join(led_blocks, "block_key")
        scored = F.transform(
            F.col("recs"),
            lambda r: F.struct(
                _vendor_score_col(
                    F.col("inv_norm"), r["rec_norm"],
                    F.col("inv_toks"), r["rec_toks"],
                    F.col("inv_len"), r["rec_len"],
                ).alias("vendor_score"),
                r["record_id"].alias("record_id"),
                r["rec_amount"].alias("rec_amount"),
            ),
        )
        # array_sort on (vendor_score, record_id, ...) = the kernel's stable
        # candidate order; slice keeps the reference's 10
        top = F.slice(
            F.array_sort(
                F.filter(scored, lambda c: c["vendor_score"] <= VENDOR_THRESHOLD)
            ),
            1,
            TOP_K_CANDIDATES,
        )
        pairs = joined.withColumn("cand", F.explode(top)).select(
            "url",
            "block_key",
            "inv_vendor_name",
            "inv_norm",
            "inv_amount",
            F.col("cand.vendor_score").alias("vendor_score"),
            F.col("cand.record_id").alias("record_id"),
            F.col("cand.rec_amount").alias("rec_amount"),
        )
    else:
        # shuffled sort-merge path for a ledger too big to broadcast: full
        # exploded pairs, then the reference's top-10 cut (ref :113) applied
        # JVM-SIDE (window per url, same (vendor_score, record_id) order the
        # greedy kernel uses) BEFORE the Python crossing. Without this cut
        # the whole exploded pair stream of a partition (34M rows pre-cut at
        # 1.2M docs) would materialize in one Python worker — the exact
        # scale this path exists for. The kernel's own head(10) remains as a
        # no-op safety net, so both paths feed it identical frames.
        pairs = inv.join(led, "block_key")
        pairs = pairs.withColumn(
            "vendor_score",
            _vendor_score_col(
                F.col("inv_norm"), F.col("rec_norm"),
                F.col("inv_toks"), F.col("rec_toks"),
                F.col("inv_len"), F.col("rec_len"),
            ),
        )
        w_cut = Window.partitionBy("url").orderBy("vendor_score", "record_id")
        pairs = (
            pairs.filter(F.col("vendor_score") <= VENDOR_THRESHOLD)
            .drop("inv_toks", "rec_toks", "inv_len", "rec_len")
            .withColumn("_cand_rk", F.row_number().over(w_cut))
            .filter(F.col("_cand_rk") <= TOP_K_CANDIDATES)
            .drop("_cand_rk")
        )

    # amount tolerance (ref :25-35); percent_diff is the JS Math.round int
    diff = F.abs(F.col("inv_amount") - F.col("rec_amount"))
    bigger = F.greatest(F.col("inv_amount"), F.col("rec_amount"))
    pct_raw = F.when(bigger == 0, F.lit(None)).otherwise(diff / bigger)
    pairs = (
        pairs.withColumn("discrepancy", F.when(bigger == 0, F.lit(0.0)).otherwise(diff))
        .withColumn("amount_match", F.when(bigger == 0, F.lit(True)).otherwise(pct_raw <= AMOUNT_TOLERANCE))
        .withColumn("percent_diff", F.coalesce(F.round(pct_raw * 100).cast("int"), F.lit(0)))
    )
    # combined score + candidate confidence (ref :120-129);
    # JS `amountResult.percentDiff ? percentDiff/100 : 0` uses the ROUNDED int
    amount_score = F.col("percent_diff") / 100.0
    pairs = pairs.withColumn(
        "combined_score", F.col("vendor_score") * 0.6 + amount_score * 0.4
    ).withColumn(
        "confidence", F.round((1 - F.col("combined_score")) * 100).cast("int")
    )
    # NOTE: the reference's top-10 candidate cap (ref :113) is applied
    # JVM-side on BOTH paths before the greedy kernel (array slice on the
    # broadcast path, per-url window on the SMJ path); the kernel's head(10)
    # is a semantic no-op that keeps the two paths provably aligned.
    return pairs


def _greedy_assign(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact greedy 1:1 assignment within one block (ref :69-196).

    Invoices in stable url order; per invoice the unused candidate with the
    lowest (combined_score, vendor_score, record_id) wins — reproducing the
    reference's strict-< scan over ascending-fuzzy-score candidates.

    Single sorted pass over tuples; once every record in the block is used
    the remaining invoices short-circuit to the vectorized 'all used' path
    (per-block cost O(head pairs) + O(tail rows)).
    """
    # top-10 fuzzy candidates per invoice, Fuse-order = ascending vendor
    # score (ref :113) — a semantic no-op on both paths (each is already
    # cut JVM-side), kept as the alignment safety net
    pdf = (
        pdf.sort_values(["url", "vendor_score", "record_id"], kind="mergesort")
        .groupby("url", sort=False)
        .head(TOP_K_CANDIDATES)
    )
    # ONE itertuples pass builds url -> vendor-sorted candidate lists (<= 10
    # tuples each, insertion order = url asc since the frame is url-sorted);
    # all per-url work then happens on tiny python lists. This replaced a
    # per-url pandas groupby + to_dict('records') loop that dominated the
    # flagship wall at 10^6 rows (measured 2x on the greedy stage).
    by_url: dict = {}
    for r in pdf.itertuples(index=False):
        by_url.setdefault(r.url, []).append(r)

    used: set = set()
    out = []
    for url, cands in by_url.items():
        # best unused by (combined_score, vendor_score, record_id) — the
        # reference's strict-< scan over ascending-fuzzy-score candidates
        best = None
        bkey = None
        for r in cands:
            if r.record_id in used:
                continue
            k = (r.combined_score, r.vendor_score, r.record_id)
            if bkey is None or k < bkey:
                best, bkey = r, k
        if best is None:
            # saturated: every candidate record already claimed (ref :140-155)
            first = cands[0]
            out.append(
                {
                    "invoice_url": url,
                    "record_id": None,
                    "match_status": "missing",
                    "discrepancy": float(first.inv_amount),
                    "flag_reason": "All potential matching records already used. "
                    f"Vendor: {first.inv_vendor_name}",
                    "confidence_score": 0,
                    "suggestions": [
                        {
                            "record_id": r.record_id,
                            "reason": f"Fuzzy vendor match ({int(r.confidence)}%) - "
                            "Already linked to another invoice",
                            "confidence": int(r.confidence),
                        }
                        for r in cands[:TOP_K_SUGGESTIONS]
                    ],
                }
            )
            continue
        used.add(best.record_id)
        if best.amount_match and best.vendor_score < MATCH_VENDOR_SCORE:
            out.append(
                {
                    "invoice_url": url,
                    "record_id": best.record_id,
                    "match_status": "matched",
                    "discrepancy": best.discrepancy,
                    "flag_reason": None,
                    "confidence_score": max(int(best.confidence), 70),
                    "suggestions": [],
                }
            )
        else:
            reasons = []
            if not best.amount_match:
                reasons.append(
                    f"Amount mismatch: Invoice ${best.inv_amount:.2f} vs "
                    f"Expected ${best.rec_amount:.2f} "
                    f"({best.percent_diff}% difference)"
                )
            if best.vendor_score >= MATCH_VENDOR_SCORE:
                # JS Math.round = floor(x+0.5); Python round() is banker's
                v_conf = int((1 - best.vendor_score) * 100 + 0.5)
                reasons.append(f"Vendor name fuzzy match confidence: {v_conf}%")
            # alternative suggestions: other candidates in fuzzy-score order
            # (cands is already vendor-score-sorted)
            alts = [r for r in cands if r.record_id != best.record_id][
                :TOP_K_SUGGESTIONS
            ]
            out.append(
                {
                    "invoice_url": url,
                    "record_id": best.record_id,
                    "match_status": "mismatch",
                    "discrepancy": best.discrepancy,
                    "flag_reason": "; ".join(reasons),
                    "confidence_score": int(best.confidence),
                    "suggestions": [
                        {
                            "record_id": r.record_id,
                            "reason": f"Alternative fuzzy match ({int(r.confidence)}% confidence)",
                            "confidence": int(r.confidence),
                        }
                        for r in alts
                    ],
                }
            )
    cols = [f.name for f in RESULT_SCHEMA.fields]
    return pd.DataFrame(out, columns=cols)


def _greedy_assign_partition(batches):
    """mapInPandas wrapper: greedy over every block in one partition.

    Upstream ``repartition(block_key)`` co-locates each block; the pandas
    groupby here replaces one applyInPandas invocation (and its Arrow
    round-trip) per block with one per partition. Output is identical —
    `_greedy_assign` sees exactly the same per-block frames.
    """
    cols = [f.name for f in RESULT_SCHEMA.fields]
    frames = list(batches)
    pdf = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(columns=cols)
    if len(pdf):
        yield pd.concat(
            [_greedy_assign(g) for _k, g in pdf.groupby("block_key", sort=False)],
            ignore_index=True,
        )
    else:
        yield pd.DataFrame(columns=cols)


class Reconciled(dict):
    """reconcile's output frames; ``release()`` unpersists the three frames
    reconcile caches to build them (the duplicate-flagged invoices, the
    greedy assignment and ``results``). The outputs are lazy, so only the
    caller knows when it is done with them: call ``release()`` after the
    last action, or a long-lived session keeps every call's cached blocks."""

    def __init__(self, frames: dict[str, DataFrame], cached: list[DataFrame]):
        super().__init__(frames)
        self._cached = cached

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()


def reconcile(
    invoices: DataFrame,
    ledger: DataFrame,
    broadcast_ledger: bool = True,
    with_amount_suggestions: bool = True,
) -> Reconciled:
    """Full reconcile stage -> {'results', 'missing_records', 'summary'}.

    ``invoices`` needs (url, invoice_number, vendor_name, total_amount);
    ``ledger`` needs (record_id, vendor_name, expected_amount).
    """
    # column-prune FIRST: everything downstream shuffles these rows several
    # times (duplicate window, candidate join, top-k window); dragging the
    # extracted_text / line_items payload through those shuffles is the #1
    # scale killer. Reconciliation needs exactly four columns.
    invoices_slim = invoices.select(
        "url", "invoice_number", "vendor_name", "total_amount"
    )
    # the results frame unions three branches that all derive from the input;
    # without a persist each branch would recompute the upstream DAG (incl.
    # the extraction UDF) — the batch analog of the reference persisting OCR
    # output before reconciling (backend/server.js:298-315 then :516-529)
    inv_flagged = with_duplicate_flags(invoices_slim).persist(StorageLevel.MEMORY_AND_DISK)
    dup = inv_flagged.filter(F.col("is_duplicate"))
    live = inv_flagged.filter(~F.col("is_duplicate"))

    dup_results = dup.select(
        F.col("url").alias("invoice_url"),
        F.lit(None).cast("string").alias("record_id"),
        F.lit("duplicate").alias("match_status"),
        F.lit(0.0).alias("discrepancy"),
        F.concat(F.lit("Duplicate invoice number: "), F.col("invoice_number")).alias(
            "flag_reason"
        ),
        F.lit(100).alias("confidence_score"),
        F.lit(None).cast(SUGGESTION_SCHEMA).alias("suggestions"),
    )

    cands = candidate_pairs(live, ledger, broadcast_ledger=broadcast_ledger)
    # prune to exactly what the greedy kernel reads BEFORE the exchange —
    # the normalized-name columns (inv_norm / SMJ-path rec_norm) are scoring
    # intermediates and must not ride the 10-rows-per-url shuffle + Arrow
    # crossing as dead weight
    cands = cands.select(
        "url", "block_key", "inv_vendor_name", "inv_amount", "vendor_score",
        "record_id", "rec_amount", "discrepancy", "amount_match",
        "percent_diff", "combined_score", "confidence",
    )
    # reused by: results union, used-record anti join, matched-record anti join.
    # One exchange on block_key, then ONE Python crossing per partition (the
    # in-partition groupby replaces a per-block applyInPandas call — hundreds
    # of tiny Arrow round-trips collapse into ~#partitions).
    assigned = (
        cands.repartition("block_key")
        .mapInPandas(_greedy_assign_partition, schema=RESULT_SCHEMA)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # invoices with zero fuzzy candidates -> 'missing' (ref :89-104).
    # Anti join against the (persisted) greedy output — it emits exactly one
    # row per url that had any candidate — instead of recomputing the scored
    # candidate join a second time.
    no_cand = live.join(
        assigned.select(F.col("invoice_url").alias("url")), "url", "left_anti"
    ).select(
        F.col("url").alias("invoice_url"),
        F.col("vendor_name"),
        normalize_amount_col(F.col("total_amount")).alias("inv_amount"),
    )
    missing_results = no_cand.select(
        F.col("invoice_url"),
        F.lit(None).cast("string").alias("record_id"),
        F.lit("missing").alias("match_status"),
        F.col("inv_amount").alias("discrepancy"),
        F.concat(
            F.lit("No matching vendor found in payment register for: "),
            F.coalesce(F.col("vendor_name"), F.lit("")),
        ).alias("flag_reason"),
        F.lit(0).alias("confidence_score"),
        F.lit(None).cast(SUGGESTION_SCHEMA).alias("suggestions"),
    )

    results = assigned.unionByName(missing_results).unionByName(dup_results)

    # amount-only suggestions for vendor-miss invoices (ref :91-94) against
    # records unused after assignment. NOT a nested-loop theta join — both
    # sides grow with the corpus, so BNLJ goes quadratic. Amounts are banded
    # on a log_{1.01} grid: any pair within the 1% tolerance lands within
    # +-2 bands, so exploding the (small) unused side over its neighbor
    # bands turns this into a broadcast equi-join. The per-band unused
    # records collapse to ONE ARRAY ROW (same shape as the candidate join),
    # and the exact tolerance filter, the record_id-ascending top-3 cut
    # (ref :93) and the suggestion structs all run inside codegen array
    # expressions — no pair-row explosion, no dedup/window/groupBy
    # shuffles. (The previous exploded join materialized ~10M intermediate
    # rows through 3 shuffles at 200k docs — over half the pipeline wall.)
    if with_amount_suggestions:
        used_ids = assigned.filter(F.col("record_id").isNotNull()).select("record_id")
        band_width = math.log(1.01)
        unused = (
            ledger.join(used_ids, "record_id", "left_anti")
            .select(
                F.col("record_id").alias("s_record_id"),
                normalize_amount_col(F.col("expected_amount")).alias("s_amount"),
            )
            .withColumn(
                "amount_band",
                F.explode(
                    F.array(
                        *[
                            (F.floor(F.log1p("s_amount") / band_width) + d).cast("long")
                            for d in (-2, -1, 0, 1, 2)
                        ]
                    )
                ),
            )
        )
        # a record appears ONCE per band group, so the per-row array join
        # yields each candidate at most once — no dedup pass needed
        band_arrays = F.broadcast(
            unused.groupBy("amount_band").agg(
                F.array_sort(
                    F.collect_list(F.struct("s_record_id", "s_amount"))
                ).alias("band_cands")
            )
        )
        no_cand_banded = no_cand.withColumn(
            "amount_band", F.floor(F.log1p("inv_amount") / band_width).cast("long")
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
        sug = (
            no_cand_banded.join(band_arrays, "amount_band")
            .withColumn("amount_suggestions", F.expr(top_expr))
            .filter(F.size("amount_suggestions") > 0)
            .select("invoice_url", "amount_suggestions")
        )
        results = (
            results.join(sug, "invoice_url", "left")
            .withColumn(
                "suggestions",
                F.when(
                    (F.col("match_status") == "missing")
                    & F.col("record_id").isNull()
                    & F.col("amount_suggestions").isNotNull()
                    & F.col("flag_reason").startswith("No matching vendor"),
                    F.col("amount_suggestions"),
                ).otherwise(F.col("suggestions")),
            )
            .drop("amount_suggestions")
        )

    results = results.persist(StorageLevel.MEMORY_AND_DISK)
    matched_ids = results.filter(F.col("record_id").isNotNull()).select("record_id")
    missing_records = ledger.join(matched_ids, "record_id", "left_anti")

    # summary (ref :201-210): one conditional-agg job per side
    # coalesce: SQL SUM over zero rows is NULL, but the reference's counters
    # start at 0 (ref :201-210) — an empty invoice set must report 0s
    def _n(status: str):
        return F.coalesce(
            F.sum(F.when(F.col("match_status") == status, 1).otherwise(0)), F.lit(0)
        )

    res_agg = results.agg(
        F.count("*").alias("total_invoices"),
        _n("matched").alias("matched"),
        _n("mismatch").alias("mismatched"),
        _n("missing").alias("missing_invoices"),
        _n("duplicate").alias("duplicate"),
    )
    # sum over ALL invoices (duplicates included) from the persisted slim
    # frame — using the raw `invoices` here would re-run the upstream
    # extraction UDF just to add four doubles per row
    inv_agg = inv_flagged.agg(
        F.coalesce(
            F.round(F.sum(normalize_amount_col(F.col("total_amount"))), 2), F.lit(0.0)
        ).alias("total_amount_invoiced")
    )
    led_agg = ledger.agg(
        F.count("*").alias("total_records"),
        F.coalesce(
            F.round(F.sum(normalize_amount_col(F.col("expected_amount"))), 2), F.lit(0.0)
        ).alias("total_amount_expected"),
    )
    missing_agg = missing_records.agg(F.count("*").alias("missing_records"))
    summary = res_agg.crossJoin(inv_agg).crossJoin(led_agg).crossJoin(missing_agg)

    return Reconciled(
        {
            "results": results,
            "missing_records": missing_records,
            "summary": summary,
        },
        cached=[inv_flagged, assigned, results],
    )
