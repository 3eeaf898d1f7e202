"""Snapshot diff (CDC-style) between two crawls of the same keyed table.

Re-crawls of a web corpus produce a new snapshot keyed by url; incremental
processing wants exactly the added / removed / changed keys so downstream
stages (extraction, dedup signatures, index updates) touch only the delta —
at 10^12 rows, reprocessing everything because 0.1% changed is the failure
mode this operator exists to prevent.

Plan: one full-outer shuffle join on the key, comparing content
fingerprints (functions/text.py:fingerprint_col or any stable digest).
When both snapshots are written bucketed on the key (sources/pages.py
layout), the join is co-located — no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    fp_col: str = "fingerprint",
    include_unchanged: bool = False,
) -> DataFrame:
    """-> (key, change, old_fp, new_fp); change in
    {'added','removed','changed'} (+ 'unchanged' when requested).

    Presence rides explicit per-side flags, NOT fingerprint nullness: the
    fingerprint column is caller-supplied ("any stable digest"), so a row
    PRESENT with a NULL fingerprint must not read as absent — that would
    misclassify it added/removed and make an incremental consumer delete
    a live document. NULL-fp vs NULL-fp compares as unchanged (both
    absent of evidence), NULL vs non-NULL as changed.
    """
    o = old.select(
        F.col(key_col).alias("key"),
        F.col(fp_col).alias("old_fp"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col(key_col).alias("key"),
        F.col(fp_col).alias("new_fp"),
        F.lit(True).alias("_in_new"),
    )
    # null-safe inequality: NULL<=>NULL is unchanged, NULL<=>value changed
    fp_differs = ~F.col("old_fp").eqNullSafe(F.col("new_fp"))
    j = o.join(n, "key", "full_outer").select(
        "key",
        "old_fp",
        "new_fp",
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(fp_differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )
    if not include_unchanged:
        j = j.filter(F.col("change") != "unchanged")
    return j.select("key", "change", "old_fp", "new_fp")


def latest_snapshot(
    snapshots: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Collapse a multi-crawl table to the NEWEST row per key — the
    re-crawl dedup every Common-Crawl-style corpus applies before
    content processing (a url fetched in March and again in May must
    contribute one document, the May one).

    Deterministic: newest ts wins; equal timestamps break by
    ``tiebreak_col`` DESC (highest wins — e.g. a fetch sequence number)
    when given, else by the smallest remaining ambiguity the frame
    offers: the row whose fingerprint of all non-key columns sorts LAST
    is NOT well-defined across engines, so without a tiebreak column
    equal-ts duplicates raise instead of silently picking one.

    One hash exchange on the key + one row_number window — the same
    single-exchange shape as dedup_exact; at 10^12 rows with the
    url-bucketed layout the exchange co-locates.
    """
    order = [F.col(ts_col).desc_nulls_last()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(key_col).orderBy(*order)
    ranked = snapshots.withColumn("_sn_rn", F.row_number().over(w))
    if tiebreak_col is None:
        # equal (key, ts) pairs are genuinely ambiguous: surface them
        # instead of letting partition order pick the survivor
        amb = (
            ranked.groupBy(key_col, ts_col)
            .agg(F.count("*").alias("_n"))
            .filter((F.col("_n") > 1) & F.col(ts_col).isNotNull())
            .limit(3)
            .collect()
        )
        if amb:
            ks = [(r[key_col], str(r[ts_col])) for r in amb]
            raise ValueError(
                f"equal-timestamp duplicates for keys {ks}; pass "
                "tiebreak_col to make the survivor deterministic"
            )
    return ranked.filter(F.col("_sn_rn") == 1).drop("_sn_rn")


def apply_count_delta(
    old_counts: DataFrame,
    deltas: DataFrame,
    key_col: str = "key",
    n_col: str = "n",
    check_nonnegative: bool = False,
) -> DataFrame:
    """Incremental-view maintenance for grouped counts: merge a (key, dn)
    delta frame into an existing (key, n) aggregate; zero-count keys drop
    out. Equivalent to recomputing the aggregate over the new snapshot, at
    the cost of |delta| instead of |corpus| — the point of keeping a diff.

    A NEGATIVE merged count is never produced by a consistent delta (a
    full recompute cannot go below zero) — it means a removal delta was
    double-applied or the standing aggregate is stale. The `n > 0` filter
    would silently swallow it like an ordinary zero-drop;
    ``check_nonnegative=True`` runs one extra tiny aggregate over the
    merged frame and raises instead (off by default: it costs a job, and
    exactly-once delta application is usually enforced upstream by the
    checkpoint manifest).
    """
    o = old_counts.select(F.col(key_col).alias("_k"), F.col(n_col).alias("_n"))
    d = deltas.select(F.col(key_col).alias("_k"), F.col(n_col).alias("_dn"))
    merged = o.join(d, "_k", "full_outer").select(
        F.col("_k").alias(key_col),
        (
            F.coalesce(F.col("_n"), F.lit(0))
            + F.coalesce(F.col("_dn"), F.lit(0))
        ).alias(n_col),
    )
    if check_nonnegative:
        n_neg = merged.filter(F.col(n_col) < 0).limit(1).count()
        if n_neg:
            raise ValueError(
                "apply_count_delta produced a negative count — a removal "
                "delta was applied twice or old_counts is stale"
            )
    return merged.filter(F.col(n_col) > 0)


def vocab_drift(
    old_docs: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Term-distribution drift between two corpus snapshots -> ONE row:

      n_terms_old/new/shared, vocab_jaccard    vocabulary movement
      kl_drift                                 KL(new || old), add-1/2
                                               smoothed over the union
                                               vocabulary, nats

    The monitoring signal a continuously-trained model wants from each
    crawl: topic/spam/language shifts move KL long before they move row
    counts (crawl_diff sees churn; this sees what the churn SAYS).

    Shape: each side is ONE explode + partial-agg'd term count (the
    tfidf/zipf pass); the two vocab-cardinality tables full-outer join
    on term; the KL is ONE scalar aggregate. Corpus rows never join.

    Determinism (cross-engine, bit-exact): with a = 1/2 smoothing every
    probability is a ratio of INTEGERS — p = (2c_new+1)/(2N_new+V),
    q likewise — so the per-term log-ratio is ln of a double computed
    from the same int64s in both engines (<= 1 ulp, snapped to 1e-6 and
    SCALED TO INTEGER), and the KL sum is exact integer arithmetic in
    DECIMAL(38,0) (HUGEINT in the oracle): per-term products reach
    ~2N * 30e6 ~ 6e19, past int64 — the decimal lane is the overflow
    guard at 10^12-token corpora, not a convenience. The one final
    division chain divides int64-derived doubles; result on 1e-6.
    """
    from invoice_ocr_reconciler_spark.functions.text import tokens_col
    from invoice_ocr_reconciler_spark.plans.relational import roundn

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.explode(tokens_col(F.col(text_col))).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias(name))
        )

    co = counts(old_docs, "c_old")
    cn = counts(new_docs, "c_new")
    j = co.join(cn, "term", "full_outer").select(
        "term",
        F.coalesce("c_old", F.lit(0)).alias("c_old"),
        F.coalesce("c_new", F.lit(0)).alias("c_new"),
    )
    tot = j.agg(
        F.count("*").alias("v"),
        F.sum("c_old").alias("n_old"),
        F.sum("c_new").alias("n_new"),
        F.sum((F.col("c_old") > 0).cast("int")).alias("t_old"),
        F.sum((F.col("c_new") > 0).cast("int")).alias("t_new"),
        F.sum(
            ((F.col("c_old") > 0) & (F.col("c_new") > 0)).cast("int")
        ).alias("t_shared"),
    )
    withtot = j.crossJoin(F.broadcast(tot))
    # integer numerators/denominators of the smoothed probabilities
    num = (F.col("c_new") * 2 + 1).cast("double")
    den_ratio = (F.col("c_old") * 2 + 1).cast("double")
    k_const = (F.col("n_old") * 2 + F.col("v")).cast("double") / (
        F.col("n_new") * 2 + F.col("v")
    ).cast("double")
    # ln(p/q) snapped to 1e-6 and held as bigint
    lr = F.floor(F.log(num / den_ratio * k_const) * 1e6 + F.lit(0.5)).cast(
        "bigint"
    )
    contrib = (F.col("c_new") * 2 + 1).cast("decimal(38,0)") * lr.cast(
        "decimal(38,0)"
    )
    agg = withtot.agg(
        F.first("v").alias("v"),
        F.first("n_old").alias("n_old"),
        F.first("n_new").alias("n_new"),
        F.first("t_old").alias("t_old"),
        F.first("t_new").alias("t_new"),
        F.first("t_shared").alias("t_shared"),
        F.sum(contrib).alias("klsum"),
    )
    # an empty union vocabulary leaves the scalar agg all-NULL (first()
    # over zero rows); the counts are honestly 0 — the ratio columns stay
    # NULL (0/0 has no value to report)
    return agg.select(
        F.coalesce(F.col("t_old"), F.lit(0)).cast("bigint").alias("n_terms_old"),
        F.coalesce(F.col("t_new"), F.lit(0)).cast("bigint").alias("n_terms_new"),
        F.coalesce(F.col("t_shared"), F.lit(0)).cast("bigint").alias("n_terms_shared"),
        roundn(
            F.col("t_shared").cast("double") / F.col("v"), 6
        ).alias("vocab_jaccard"),
        roundn(
            F.col("klsum").cast("double")
            / (F.col("n_new") * 2 + F.col("v")).cast("double")
            / F.lit(1e6),
            6,
        ).alias("kl_drift"),
    )


def snapshot_retention(
    captures: DataFrame,
    keep: int = 3,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    digest_col: str = "digest",
) -> DataFrame:
    """Retention policy over the capture history: keep the newest `keep`
    captures per url, summarize what that evicts.

    A re-crawled corpus accretes snapshots without bound; storage policy
    at 10^12 urls is "newest K per url" (the CDX store's pruning rule).
    This computes, per url, the keep/evict split and the boundary
    timestamps so the actual delete can run as a partition-local anti
    filter against (url, ts) pairs older than `oldest_kept_ts`.

    -> (url, n_captures, n_kept, n_evicted, newest_ts, oldest_kept_ts).
    Ordering is (ts DESC, digest DESC) — digest breaks same-second
    re-fetch ties deterministically, same convention as cdx_latest.

    Shape: one window pass (single hash exchange on url) + partial-agg
    groupBy on the SAME key — AQE reuses the partitioning, so one shuffle
    total. No UDF; replayable in SQL by the oracle.
    """
    w = Window.partitionBy("url").orderBy(
        F.col("ts").desc(), F.col("digest").desc()
    )
    ranked = captures.select(
        F.col(key_col).alias("url"),
        F.col(ts_col).alias("ts"),
        F.col(digest_col).alias("digest"),
    ).withColumn("rn", F.row_number().over(w))
    kept = F.col("rn") <= F.lit(keep)
    return ranked.groupBy("url").agg(
        F.count("*").alias("n_captures"),
        F.sum(kept.cast("int")).alias("n_kept"),
        F.sum((~kept).cast("int")).alias("n_evicted"),
        F.max("ts").alias("newest_ts"),
        F.min(F.when(kept, F.col("ts"))).alias("oldest_kept_ts"),
    )
