"""Automated plan audit: physical-plan hygiene metrics for every query.

Usage: python tools/plan_audit.py [--exec] [sf_dir] [query ...]

With --exec each query also EXECUTES and the JSONL rows gain measured
shuffle read/write bytes, wall seconds, and max/median task + shuffle-read
skew from the Spark UI REST API (tools/exec_metrics.py); pure-codegen
queries whose qualified shuffle skew exceeds SKEW_LIMIT (4x) become
violations. tests/test_exec_audit.py gates a heavy-query subset in CI.

For each `__spark_entry__.queries()` entry this builds the DataFrame
(no execution beyond what query construction itself triggers — k-means
fits, merge learning and other driver-side fits DO run) and reports:

  exchanges        total Exchange operators (shuffles + broadcasts)
  broadcasts       BroadcastExchange count (subset of exchanges)
  python_nodes     BatchEvalPython / ArrowEvalPython / MapInPandas /
                   FlatMapGroupsInPandas — the Python-crossing surface
  bnlj             BroadcastNestedLoopJoin count (intentional only for
                   broadcast-side sweeps like ANN/decontamination)
  sort_merge_joins SortMergeJoin count
  cartesian        CartesianProduct count (should stay 0)

Prints one JSON line per query plus a summary; exits non-zero if any
query in PURE_CODEGEN_QUERIES (ops documented as zero-Python) shows a
Python node — the regression guard test_plan_audit wires into pytest.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# queries whose PLANS.md/COVERAGE.md notes promise "no Python crossing";
# a Python node appearing in any of these is a regression
PURE_CODEGEN_QUERIES = [
    "stats_overview", "monthly_agg", "pagination", "status_filter",
    "search_like", "key_lookup", "topk_per_group", "recent_topn",
    "anti_join_missing", "left_join_enrich", "inner_join_agg",
    "amount_tolerance_join", "normalize_names", "events_json",
    "dates_scalars", "explode_lineitems", "skew_salted_agg",
    "rollup_counts", "pivot_status_by_month", "token_count",
    "quality_score", "lang_id", "fingerprint", "dedup_exact",
    "sentence_split", "hash_split",
    "zipf_fit", "host_profile", "url_templates", "content_sniff",
    "mirror_hosts", "vocab_drift", "gopher_rules", "wordlist_flags",
    "repetition_metrics", "sessionize", "session_stats",
    "latest_snapshot",
    "decontaminate_semantic", "embedding_outliers",
    "canonicalize_urls",
    "resolve_redirects",
    "readability", "code_detect", "soft_404", "mojibake_fix",
    "pagination_chains", "bitext_candidates", "wet_export",
    "snapshot_retention",
 "k_anonymize",
 "registrable_domains",
    "pool_embeddings",
    "link_reciprocity", "pca_covariance", "rp_project",
    "margin_mine", "script_mix",
    "k_core", "link_predict",
    "takedown_closure", "heaps_fit", "random_walks", "degree_histogram",
    "trust_rank", "bfs_distance", "extraction_f1",
    "c4_line_filters",
 "justext_classify",
    "sketch_quantiles", "matryoshka_recall",
    "extractor_sweep",
    "bt_strengths", "temperature_sampling",
    "ngram_diversity", "bootstrap_ci",
    "readability_classify",
    "funnel_users", "funnel_steps", "retention_cohorts",
 "good_turing", "distinctive_terms",
    "scd2_history",
    "eb_host_quality",
    "scc", "scc_condensation",
    "chao_richness", "event_transitions", "dag_layers",
    "kaplan_meier", "chi2_independence", "concentration",
    "canonical_best", "texttile", "join_size_estimate",
 "access_log_parse", "subnet_traffic",
 "soundex_blocks", "benford", "duplicate_payments",
    "amount_anomalies", "dispersion",
    "pps_sample", "benford_by_supplier",
    "ir_metrics", "ir_metrics_macro", "ocr_eval", "ocr_eval_summary",
    "dpo_pairs", "rouge_n", "bleu_corpus", "winnow_fingerprints",
    "confusion_eval", "roc_auc", "calibration_bins",
    "modularity", "degree_assortativity", "spearman_corr",
    "boilerpipe_classify",
    "countmin",
]
# NOT listed although their OPERATORS are pure codegen: queries whose
# INPUT synthesis is datagen.pages_from_documents (a mapInPandas page
# generator) — the Python node belongs to the fixture, not the operator:
# extract_links/extract_anchors/anchor_index/host_link_graph/
# crawl_frontier/fetch_schedule/salted_host_partitions/url_blocklist.

METRICS = {
    "exchanges": "Exchange",
    "broadcasts": "BroadcastExchange",
    "sort_merge_joins": "SortMergeJoin",
    "bnlj": "BroadcastNestedLoopJoin",
    "cartesian": "CartesianProduct",
}
PYTHON_MARKERS = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "PythonMapInArrow",
)


# executed-skew gate: a stage only counts toward the skew verdict when it
# has enough tasks and bytes for max/median to mean anything (AQE-coalesced
# 2-task stages with one empty partition would flag everything)
SKEW_MIN_TASKS = 8
SKEW_MIN_BYTES = 2 * 1024 * 1024
SKEW_LIMIT = 4.0


def qualified_skew(stages: list[dict]) -> float:
    """Max max/median shuffle-read skew over stages big enough to judge."""
    vals = [
        s["shuffle_skew"]
        for s in stages
        if s["num_tasks"] >= SKEW_MIN_TASKS
        and s["shuffle_read"] >= SKEW_MIN_BYTES
    ]
    return round(max(vals), 2) if vals else 1.0


def audit(
    sf_dir: str,
    only: list[str] | None = None,
    exec_metrics: bool = False,
) -> tuple[list[dict], list[str]]:
    """Static plan hygiene per query; with ``exec_metrics=True`` each query
    also EXECUTES under a job group and the row gains actual shuffle
    read/write bytes, wall seconds, and task/shuffle skew from the UI REST
    API (tools/exec_metrics.py) — the runtime pathologies a static plan
    cannot show. Violations then include pure-codegen queries whose
    qualified shuffle skew exceeds SKEW_LIMIT."""
    import __spark_entry__ as entry
    from invoice_ocr_reconciler_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if exec_metrics:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.retainedStages": "5000",
                "spark.ui.retainedJobs": "5000",
            }
        )
    spark = get_spark(app_name="plan-audit", extra_conf=conf)
    em = None
    if exec_metrics:
        from exec_metrics import ExecMetrics

        em = ExecMetrics(spark)
    qs = entry.queries()
    names = only or sorted(qs)
    rows: list[dict] = []
    violations: list[str] = []
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # surface, don't abort the sweep
            rows.append({"query": name, "error": str(exc)[:160]})
            continue
        row: dict = {"query": name}
        for key, marker in METRICS.items():
            row[key] = plan.count(marker)
        row["python_nodes"] = sum(plan.count(m) for m in PYTHON_MARKERS)
        if em is not None:
            try:
                m = em.run(name, lambda: qs[name](spark, sf_dir))
                row.update(
                    wall_sec=m.wall_sec,
                    rows=m.rows,
                    shuffle_read_bytes=m.shuffle_read_bytes,
                    shuffle_write_bytes=m.shuffle_write_bytes,
                    max_task_skew=m.max_task_skew,
                    max_shuffle_skew=m.max_shuffle_skew,
                    qualified_skew=qualified_skew(m.stages),
                )
                if (
                    name in PURE_CODEGEN_QUERIES
                    and row["qualified_skew"] > SKEW_LIMIT
                ):
                    violations.append(f"{name}:skew={row['qualified_skew']}")
            except Exception as exc:
                row["exec_error"] = str(exc)[:160]
        rows.append(row)
        if name in PURE_CODEGEN_QUERIES and row["python_nodes"] > 0:
            violations.append(name)
    return rows, violations


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--exec"]
    exec_metrics = "--exec" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = args[1:] or None
    rows, violations = audit(sf_dir, only, exec_metrics=exec_metrics)
    for row in rows:
        print(json.dumps(row, sort_keys=True))
    n_err = sum(1 for r in rows if "error" in r)
    print(
        json.dumps(
            {
                "summary": True,
                "queries": len(rows),
                "errors": n_err,
                "codegen_violations": violations,
            },
            sort_keys=True,
        )
    )
    if violations:
        sys.exit(1)


if __name__ == "__main__":
    main()
