"""End-to-end corpus build: crawl table -> training-ready export shards.

The one-command composition a pretraining-data team actually runs, layered
from operators that are each individually tested/oracled:

  1. URL canonicalization + re-crawl collapse (functions/urls.py,
     operators/diff.py:latest_snapshot): one document per canonical url,
     newest fetch wins.
  2. domain blocklist cut (functions/urls.py:blocklist_filter).
  3. main-content extraction (extraction/udfs.py:extract_pages — the
     byte-identity-pinned Arrow UDF stage).
  4. unicode hygiene (functions/text.py:nfc_normalize_text: NFC + codegen
     invisible-junk cleanup), optional line-level boilerplate dedup
     (operators/dedup.py:line_dedup).
  5. curation (operators/curation.py:curate_documents: exact dedup,
     quality/language cut, optional Gopher rules / decontamination,
     MinHash near-dup drop) with reconciling stage counters.
  6. optional token-budget quality selection
     (operators/sampling.py:token_budget_select).
  7. deterministic shuffle-shard export layout
     (operators/chunking.py:shuffle_shards).
  8. one-pass corpus health report on the final text
     (operators/profile.py:corpus_report).

Scale shape: each stage's plan is the one audited in PLANS.md; the
extracted+cleaned frame persists once (it feeds curation, the text
join-back, and the health report), document ids are url-derived hashes
(deterministic, partition/retry-invariant), and every drop is accounted:
n_pages_in = n_collapsed + n_blocked + every curation counter + n_budget_out
+ n_final.

Reference scope: the reference app has none of this (SURVEY.md §2.12);
the stage list mirrors public pipeline recipes (C4, Gopher, RefinedWeb,
FineWeb — PAPERS.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def build_corpus(
    pages: DataFrame,
    blocklist: DataFrame | None = None,
    benchmark: DataFrame | None = None,
    min_quality: float = 0.55,
    langs: tuple[str, ...] = ("en",),
    near_dup_threshold: float = 0.7,
    with_near_dup: bool = True,
    near_dup_exact: bool = False,
    gopher: bool = False,
    line_dedup_max_df: int | None = None,
    token_budget: int | None = None,
    n_shards: int = 16,
    snapshot_tiebreak: str | None = None,
) -> dict[str, DataFrame]:
    """-> {'docs', 'stats'}.

    'docs': (doc_id, url, text, quality_score, lang_pred, n_tokens,
    shard, pos) — the export-ready corpus, shard/pos giving the
    deterministic training order. 'stats': one row of per-stage counters
    (always reconciling to n_pages_in) plus the corpus_report health
    columns of the FINAL text.
    """
    from invoice_ocr_reconciler_spark.functions.text import nfc_normalize_text
    from invoice_ocr_reconciler_spark.functions.urls import (
        blocklist_filter,
        canonicalize_url_col,
    )
    from invoice_ocr_reconciler_spark.extraction.udfs import extract_pages
    from invoice_ocr_reconciler_spark.operators.diff import latest_snapshot
    from invoice_ocr_reconciler_spark.util import with_scan_parallelism

    n_pages_in = pages.count()

    # 1. canonicalize + re-crawl collapse (newest per canonical url)
    canon = pages.withColumn(
        "canonical_url", canonicalize_url_col(F.col("url"))
    )
    collapsed = latest_snapshot(
        canon,
        key_col="canonical_url",
        ts_col="warc_ts",
        tiebreak_col=snapshot_tiebreak,
    )

    # 2. domain blocklist (optional; flag-don't-drop operator, cut here)
    if blocklist is not None:
        flagged = blocklist_filter(collapsed, blocklist)
        kept_pages = flagged.filter(F.col("blocked") == 0).drop(
            "host", "blocked", "blocked_domain"
        )
    else:
        kept_pages = collapsed
    kept_pages = kept_pages.drop("canonical_url")

    # 3.+4. extraction -> NFC/cleanup (-> optional line-level boilerplate
    # cut); the result feeds curation, the text join-back, AND the health
    # report — persist once. doc_id is a url-derived hash: deterministic,
    # retry/partitioning-invariant (the datagen/manifest id contract).
    extracted = extract_pages(with_scan_parallelism(kept_pages))
    cleaned = nfc_normalize_text(
        extracted, text_col="extracted_text", out_col="text"
    ).select(
        F.xxhash64("url").alias("doc_id"), "url", "text"
    )
    if line_dedup_max_df is not None:
        from invoice_ocr_reconciler_spark.operators.dedup import line_dedup

        cleaned = (
            line_dedup(cleaned, max_doc_freq=line_dedup_max_df)
            .withColumnRenamed("text_clean", "text")
            .join(cleaned.select("doc_id", "url"), "doc_id")
            .select("doc_id", "url", "text")
        )
    cleaned = cleaned.persist(StorageLevel.MEMORY_AND_DISK)

    n_after_block = cleaned.count()
    n_after_collapse = (
        collapsed.count() if blocklist is not None else n_after_block
    )
    return _curate_and_shard(
        cleaned,
        n_pages_in=n_pages_in,
        n_after_collapse=n_after_collapse,
        n_after_block=n_after_block,
        benchmark=benchmark,
        min_quality=min_quality,
        langs=langs,
        near_dup_threshold=near_dup_threshold,
        with_near_dup=with_near_dup,
        near_dup_exact=near_dup_exact,
        gopher=gopher,
        token_budget=token_budget,
        n_shards=n_shards,
    )


def _curate_and_shard(
    cleaned: DataFrame,
    n_pages_in: int,
    n_after_collapse: int,
    n_after_block: int,
    benchmark: DataFrame | None = None,
    min_quality: float = 0.55,
    langs: tuple[str, ...] = ("en",),
    near_dup_threshold: float = 0.7,
    with_near_dup: bool = True,
    near_dup_exact: bool = False,
    gopher: bool = False,
    token_budget: int | None = None,
    n_shards: int = 16,
) -> dict[str, DataFrame]:
    """Stages 5-8 of build_corpus over a cleaned (doc_id, url, text)
    frame — shared by the one-shot build and the resumable job's finish
    phase (the corpus-wide stages: dedup and sharding are global by
    nature; per-bucket incremental dedup is the separate
    minhash_incremental operator)."""
    from invoice_ocr_reconciler_spark.operators.chunking import shuffle_shards
    from invoice_ocr_reconciler_spark.operators.curation import curate_documents
    from invoice_ocr_reconciler_spark.operators.profile import corpus_report

    # 5. curation (its own reconciling counters come back in 'stats')
    cur = curate_documents(
        cleaned.select("doc_id", "text"),
        min_quality=min_quality,
        langs=langs,
        near_dup_threshold=near_dup_threshold,
        with_near_dup=with_near_dup,
        near_dup_exact=near_dup_exact,
        gopher=gopher,
        benchmark=benchmark,
    )
    curated = cur["curated"]

    # 6. token-budget quality selection (optional)
    if token_budget is not None:
        from invoice_ocr_reconciler_spark.operators.sampling import (
            token_budget_select,
        )

        # the budget cut returns its own slim projection — keep the
        # curated metadata by semi-joining the surviving ids back
        sel_ids = token_budget_select(
            curated, token_budget, score_col="quality_score"
        ).select("doc_id")
        selected = curated.join(sel_ids, "doc_id", "left_semi")
    else:
        selected = curated

    # 7. export layout + text join-back (both sides slim; the text join
    # co-locates on the bucketed layout at scale)
    shards = shuffle_shards(selected, n_shards=n_shards)
    docs = (
        selected.select("doc_id", "quality_score", "lang_pred", "n_tokens")
        .join(shards, "doc_id")
        .join(cleaned, "doc_id")
        .select(
            "doc_id", "url", "text", "quality_score", "lang_pred",
            "n_tokens", "shard", "pos",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # 8. stats: stage counters (reconciling) + final-text health report.
    # Extraction + hygiene are row-preserving, so the caller's
    # post-blocklist count comes from the persisted `cleaned` frame; only
    # the blocklist path pays one extra count of the collapse window (to
    # split the collapsed-vs-blocked attribution).
    n_final = docs.count()
    n_collapsed_out = n_pages_in - n_after_collapse
    n_blocked = n_after_collapse - n_after_block
    cstats = cur["stats"].collect()[0]
    n_budget_out = (cstats["n_curated"] - n_final) if token_budget is not None else 0
    report = corpus_report(docs, text_col="text").collect()[0]
    spark = cleaned.sparkSession
    stats = spark.createDataFrame(
        [
            (
                n_pages_in,
                n_collapsed_out,
                n_blocked,
                cstats["n_exact_dup"],
                cstats["n_filtered_out"],
                cstats["n_repetition_out"],
                cstats["n_gopher_out"],
                cstats["n_contaminated"],
                cstats["n_near_dup"],
                n_budget_out,
                n_final,
                int(report["total_tokens"]),
                float(report["exact_dup_rate"] or 0.0),
                float(report["mean_quality"] or 0.0),
                float(report["lang_share"] or 0.0),
            )
        ],
        "n_pages_in bigint, n_collapsed bigint, n_blocked bigint, "
        "n_exact_dup bigint, n_filtered_out bigint, n_repetition_out bigint, "
        "n_gopher_out bigint, n_contaminated bigint, n_near_dup bigint, "
        "n_budget_out bigint, n_final bigint, final_tokens bigint, "
        "final_dup_rate double, final_mean_quality double, "
        "final_lang_share double",
    )
    return {"docs": docs, "stats": stats}


def clean_pages_bucket(df: DataFrame) -> DataFrame:
    """Per-bucket stage 1-4 transform for the resumable build: collapse +
    extract + NFC clean, one url bucket at a time.

    Correctness requires canonical-equal urls to CO-BUCKET: the input is
    hash-partitioned on url (sources/pages.py:write_pages_bucketed), so a
    canonicalization that MERGES distinct stored urls (e.g. tracking-param
    strip) could split a canonical group across buckets and survive the
    per-bucket collapse. At 100 TB the fix is bucketing on canonical_url
    at ingest; the corpus-wide one-shot build_corpus has no such
    constraint. The soak corpus's urls are already canonical."""
    from invoice_ocr_reconciler_spark.extraction.udfs import extract_pages
    from invoice_ocr_reconciler_spark.functions.text import nfc_normalize_text
    from invoice_ocr_reconciler_spark.functions.urls import canonicalize_url_col
    from invoice_ocr_reconciler_spark.operators.diff import latest_snapshot
    from invoice_ocr_reconciler_spark.util import with_scan_parallelism

    canon = df.withColumn("canonical_url", canonicalize_url_col(F.col("url")))
    collapsed = latest_snapshot(
        canon, key_col="canonical_url", ts_col="warc_ts", tiebreak_col=None
    ).drop("canonical_url")
    extracted = extract_pages(with_scan_parallelism(collapsed))
    return nfc_normalize_text(
        extracted, text_col="extracted_text", out_col="text"
    ).select(F.xxhash64("url").alias("doc_id"), "url", "text")


def build_corpus_resumable(
    spark,
    pages_path: str,
    out_root: str,
    min_quality: float = 0.55,
    langs: tuple[str, ...] = ("en",),
    near_dup_threshold: float = 0.7,
    with_near_dup: bool = True,
    near_dup_exact: bool = False,
    gopher: bool = False,
    token_budget: int | None = None,
    n_shards: int = 16,
    fail_after: int | None = None,
    phase: str = "all",
) -> dict:
    """Checkpointed corpus build over a url_bucket=K pages layout.

    Phase 'extract' (the corpus-sized compute, ~all the CPU): stages 1-4
    per bucket through streaming/resume.py:run_resumable — each bucket
    commits (rows/bytes/wall/url-range lineage) atomically to the
    manifest; a kill leaves exactly the committed buckets durable and the
    next run recomputes ONLY incomplete buckets (the north-rule
    resumability contract, same machinery as the extract+reconcile job).

    Phase 'finish' (corpus-wide by nature: global dedup + shard layout):
    stages 5-8 over the committed cleaned buckets; deterministic, so a
    rerun reproduces the identical corpus (rerun-idempotent rather than
    incremental — incremental near-dup against a standing index is the
    separate minhash_incremental operator).

    Returns {'manifest_dir', 'cleaned_path', 'run': {...}} for 'extract';
    adds {'docs', 'stats'} for 'finish'/'all'.
    """
    import os

    from invoice_ocr_reconciler_spark.streaming.resume import (
        CheckpointManifest,
        _discover_buckets,
        run_resumable,
    )

    manifest_dir = os.path.join(out_root, "manifest")
    cleaned_path = os.path.join(out_root, "cleaned")
    out: dict = {"manifest_dir": manifest_dir, "cleaned_path": cleaned_path}
    if phase in ("extract", "all"):
        manifest = CheckpointManifest(manifest_dir)
        out["run"] = run_resumable(
            spark,
            pages_path,
            cleaned_path,
            manifest,
            clean_pages_bucket,
            fail_after=fail_after,
        )
    if phase in ("finish", "all"):
        # The finish phase is only well-defined over a COMPLETE extract
        # phase: after a mid-run kill, cleaned_path holds committed bucket
        # dirs plus possibly a partially-written one (data files flushed
        # before SIGKILL, no manifest entry). Silently reading the
        # directory would omit un-extracted buckets and/or include the
        # partial bucket — a wrong corpus with no error. Gate on the
        # manifest (the commit log is the source of truth, not the
        # filesystem listing) and read exactly the committed bucket dirs.
        expected = set(_discover_buckets(pages_path))
        committed = CheckpointManifest(manifest_dir).completed_buckets()
        missing = sorted(expected - committed)
        if missing:
            raise RuntimeError(
                "build_corpus_resumable(phase='finish'): extract phase is "
                f"incomplete — {len(missing)}/{len(expected)} url buckets "
                f"have no manifest commit: {missing[:16]}"
                f"{'...' if len(missing) > 16 else ''}. "
                "Rerun phase='extract' (resumes from the manifest) first."
            )
        cleaned = spark.read.parquet(
            *[f"{cleaned_path}/url_bucket={b}" for b in sorted(committed)]
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_after_block = cleaned.count()
        n_pages_in = spark.read.parquet(pages_path).count()
        out.update(
            _curate_and_shard(
                cleaned,
                n_pages_in=n_pages_in,
                n_after_collapse=n_after_block,
                n_after_block=n_after_block,
                min_quality=min_quality,
                langs=langs,
                near_dup_threshold=near_dup_threshold,
                with_near_dup=with_near_dup,
                near_dup_exact=near_dup_exact,
                gopher=gopher,
                token_budget=token_budget,
                n_shards=n_shards,
            )
        )
    return out
