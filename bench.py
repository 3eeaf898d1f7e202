"""Benchmark runner (driver contract): one JSON line on stdout.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS]. The flagship metric is the full extract+reconcile
pipeline over pages derived from the documents table; per-query wall times are
reported under "queries".

Scaling evidence (BASELINE.md protocol): run this twice,
SPARK_GRAFT_CPUS=8 then =32, via tools/run_scaling.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _machine_probe() -> dict:
    """1-min load average + cpu-idle fraction over a 200ms /proc/stat window.

    Stamped into the bench JSON before/after each leg (round-3 verdict: an
    unexplained +31% on the flagship query was indistinguishable from a
    loaded machine because no run recorded machine conditions). The repo
    bench rule is IDLE-MACHINE ONLY — two concurrent Spark sessions halve
    flagship throughput and can OOM the shared host."""

    def cpu_times() -> tuple[int, int]:
        with open("/proc/stat", encoding="ascii") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
        return idle, sum(vals)

    try:
        load1 = round(os.getloadavg()[0], 2)
        i0, t0 = cpu_times()
        time.sleep(0.2)
        i1, t1 = cpu_times()
        return {
            "load1": load1,
            "cpu_idle_frac": round((i1 - i0) / max(t1 - t0, 1), 3),
        }
    except OSError:  # non-Linux fallback: fields present, value unknown
        return {"load1": None, "cpu_idle_frac": None}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    machine: dict = {"start": _machine_probe()}

    import __spark_entry__ as entrymod
    from invoice_ocr_reconciler_spark.session import get_spark

    spark = get_spark(
        app_name="bench",
        cores=cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    qs = entrymod.queries()
    headline = [
        # cheap relational queries first: they absorb JVM/Python-worker warmup
        # so the flagship pipeline timing reflects steady-state throughput
        "stats_overview",
        "monthly_agg",
        "topk_per_group",
        "amount_tolerance_join",
        "fuzzy_block_join",
        "token_count",
        "quality_score",
        "lang_id",
        "dedup_exact",
        "dedup_minhash",
        "curation_filter",   # composed annotate+dedup+filter (pure codegen)
        "sessionize",        # single-exchange gap sessionization
        "asof_enrich",       # union-and-carry as-of join (no range explosion)
        "repetition_metrics",  # Gopher-style repetition cut (pure codegen)
        "crawl_diff",        # CDC snapshot diff (full-outer fingerprint compare)
        "shuffle_shards",    # deterministic global shuffle (one exchange)
        "semantic_dedup",    # SemDeDup cluster-then-prune over embeddings
        "extract_links",     # codegen outlink harvest + URL resolution
        "wordlist_flags",    # C4-style broadcast lexicon tagging
        "calibrate_scores",  # per-domain zscore calibration (broadcast stats)
        "latest_snapshot",   # re-crawl collapse (one exchange + window)
        "crawl_frontier",    # frontier anti join (target-sized agg first)
        "warc_ingest",       # WARC cursor walk (Arrow-batched mapInPandas)
        "quality_classifier",  # NB quality filter (train + broadcast score)
        "compression_ratio",   # zlib quality signal (pruned Arrow crossing)
        "bpe_merges",        # BPE vocab induction (8 vocab-sized rounds)
        "normalize_text",    # NFC + codegen hygiene (one Arrow crossing)
        "corpus_build",      # end-to-end build: collapse->extract->curate->shards
        "mirror_hosts",      # cross-host mirror pairs (capped group-to-array)
        "sentence_split",    # sentinel-regex segmentation (pure codegen)
        "zipf_fit",          # term-frequency OLS (bigint-exact sums)
        "hits",              # 2-iter HITS (join+agg per half-pass)
        "decontaminate_semantic",  # broadcast cosine benchmark sweep
        "host_profile",      # per-domain curation stats (one groupBy)
        "anchor_index",      # anchor aggregation (min-struct top pick)
        "minhash_quality",   # measured LSH precision/recall guard
        "vocab_drift",       # smoothed-KL snapshot drift (bigint-exact)
        "url_templates",     # crawler-trap template mining
        "content_sniff",     # magic-byte type router (codegen)
        "resolve_redirects", # bounded-unroll 3xx chain resolution
        "ann_brute_force",
        "matryoshka_recall",    # truncation-recall curve (4+1 exact passes)
        "align_sentences",      # Gale-Church bitext DP (one Arrow crossing)
        "pca_covariance",       # exact-integer PCA moment pass (codegen)
        "upsert_table",         # MERGE/upsert over the orders table
        "status_writeback",     # E2 write-back (UPDATE-only MERGE)
        "heaps_fit",            # vocab-growth curve (first-occurrence trick)
        "k_core",               # iterative peel (semi-join rounds)
        "link_predict",         # degree-capped wedge join (integer scores)
        "random_walks",         # DeepWalk corpus (hash-pick steps)
        "trust_rank",           # seeded PageRank (spam-mass signal)
        "extraction_f1",        # extraction-QA multiset F1 (one shuffle)
        "c4_line_filters",      # C4 cleaning rules (codegen projection)
        "justext_classify",     # two-pass block classification (codegen)
        "extractor_sweep",      # 7-config threshold frontier (codegen)
        "sketch_quantiles",     # mergeable log-bucket quantile sketch
        "bt_strengths",         # Bradley-Terry MM leaderboard (3 rounds)
        "readability_classify", # Arc90 block scoring (codegen projection)
        "ir_metrics",           # P@k/MRR/MAP/nDCG vs qrels (integer-exact)
        "ocr_eval",             # CER/WER bands (one Arrow DP crossing)
        "dpo_pairs",            # preference-pair build (mirror-rank pairing)
        "rouge_n",              # ROUGE-N overlap (exact integer pools)
        "bleu_corpus",          # corpus BLEU (clipped n-gram pools)
        "winnow_fingerprints",  # MOSS winnowing selection (pure codegen)
        "boilerpipe_classify",  # 4th extractor policy (lag/lead tree)
        "countmin",             # count-min sketch round trip (d*w cells)
        "funnel_users",         # greedy funnel (one-shuffle array fold)
        "scd2_history",         # SCD2 interval collapse (one key shuffle)
        "scc",                  # coloring SCC (2-round peel on the fixture)
        "extract_pages",        # extraction stage alone
        "reconcile",            # full pipeline: extract -> parse -> reconcile
    ]

    # untimed session warmup (same steady-state methodology as the
    # flagship legs): JVM codegen JIT, parquet footer reader init, and the
    # Python worker fork pool all land outside the per-query clocks —
    # without this the FIRST headline query absorbs ~5s of one-off session
    # cost that a long-running production session never pays per query
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/orders.parquet").limit(1).collect()
    spark.createDataFrame([(1,)], "x int").mapInPandas(
        lambda it: it, schema="x int"
    ).count()

    # calibration sentinel: a fixed CPU-bound JVM-side job timed at the
    # start and again at the end of the run. On an idle machine the two
    # times agree; contention or a host throttle episode inflates the end
    # leg, invalidating cross-round comparison of every number in between.
    def calibrate() -> float:
        t0 = time.monotonic()
        spark.range(200_000_000).selectExpr("sum(id % 7)").collect()
        return round(time.monotonic() - t0, 3)

    calibrate()  # its own warm pass (first range job pays codegen)
    calib_start = calibrate()

    # best-of-2 per query, same rationale as the scaling legs: the sandbox
    # host has throttle episodes that can inflate any single measurement
    # 2-10x; a query cannot run faster than the hardware allows, so the min
    # is the faithful steady-state number. Both reps execute the FULL plan.
    timings: dict[str, float] = {}
    n_docs = None
    for name in headline:
        walls = []
        for _rep in range(2):
            # drop persisted frames from the previous rep: without this a
            # second run of a multi-branch query (reconcile) reads its own
            # cached intermediates and measures the cache, not the job
            spark.catalog.clearCache()
            t0 = time.monotonic()
            df = qs[name](spark, sf_dir)
            n = df.count()  # materialize the full plan
            walls.append(time.monotonic() - t0)
        timings[name] = round(min(walls), 3)
        if name == "extract_pages":
            n_docs = n
    machine["after_headline"] = _machine_probe()

    # measured ANN recall@5 (values, not wall time): regression guard for
    # the LSH/IVF scale paths vs the exact baseline
    try:
        recall = {
            r["method"]: r["recall"]
            for r in qs["ann_recall"](spark, sf_dir).collect()
        }
    except Exception as exc:
        recall = {"error": str(exc)[:120]}

    total = round(sum(timings.values()), 3)
    # like-for-like cross-round comparison: the round-1 headline covered
    # exactly these 13 queries; later rounds add queries (growing `value`
    # by coverage, not regression), so report the r1 subset's sum too
    R1_SUBSET = [
        "amount_tolerance_join", "ann_brute_force", "dedup_exact",
        "dedup_minhash", "extract_pages", "fuzzy_block_join", "lang_id",
        "monthly_agg", "quality_score", "reconcile", "stats_overview",
        "token_count", "topk_per_group",
    ]
    r1_subset_wall = round(
        sum(timings[q] for q in R1_SUBSET if q in timings), 3
    )
    pipeline_docs_per_sec = (
        round(n_docs / timings["reconcile"], 1) if n_docs and timings["reconcile"] else None
    )

    # at-scale flagship: the sf0.1 corpus (5k docs) is fixed-overhead bound;
    # this leg measures steady-state extract+reconcile throughput on a
    # 200k-page bucketed corpus (built once, reused across rounds)
    flagship = None
    try:
        import shutil

        from invoice_ocr_reconciler_spark import datagen
        from invoice_ocr_reconciler_spark.pipeline import run_pipeline
        from invoice_ocr_reconciler_spark.sources.pages import write_pages_bucketed

        n_big = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "200000"))
        big_path = f"/tmp/spark_graft_bench_pages_{n_big}"
        ledger_path = f"/tmp/spark_graft_bench_ledger_{n_big}"
        if not os.path.isdir(big_path) or not os.path.isdir(ledger_path):
            shutil.rmtree(big_path, ignore_errors=True)
            shutil.rmtree(ledger_path, ignore_errors=True)
            write_pages_bucketed(datagen.pages_df(spark, n_big), big_path)
            datagen.ledger_df(spark, n_big // 100, n_big).write.mode(
                "overwrite"
            ).parquet(ledger_path)
        pages_big = spark.read.parquet(big_path)
        ledger_big = spark.read.parquet(ledger_path)
        # steady-state: tiny warm pass (codegen JIT, python worker forks)
        run_pipeline(pages_big.limit(1000), ledger_big)["results"].count()
        # best-of-2 with a cache clear per rep, same methodology as the
        # headline queries: run_pipeline persists intermediates, so without
        # the clear a second rep measures the cache; and a single rep is
        # exposed to host throttle episodes
        fw = []
        for _rep in range(2):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            nbig = run_pipeline(pages_big, ledger_big)["results"].count()
            fw.append(time.monotonic() - t0)
        flagship = {
            "n_pages": nbig,
            "wall_sec": round(min(fw), 2),
            "docs_per_sec": round(nbig / min(fw), 1),
        }
    except Exception as exc:  # the headline numbers still stand alone
        flagship = {"error": str(exc)[:200]}
    machine["after_flagship"] = _machine_probe()

    # training-data curation at scale: annotate + exact-dedup + quality/lang
    # filter + MinHash near-dup over a 200k-doc corpus with planted exact
    # and near duplicates (datagen.documents_df)
    try:
        from invoice_ocr_reconciler_spark.operators.curation import curate_documents

        n_docs_big = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "200000"))
        docs_path = f"/tmp/spark_graft_bench_docs_{n_docs_big}"
        if not os.path.isdir(docs_path):
            datagen.documents_df(spark, n_docs_big).write.mode("overwrite").parquet(
                docs_path
            )
        docs_big = spark.read.parquet(docs_path)
        curate_documents(docs_big.limit(2000), min_quality=0.4)  # warm pass
        # drop the flagship leg's persisted frames before the timed run
        spark.catalog.clearCache()
        t0 = time.monotonic()
        stats = curate_documents(docs_big, min_quality=0.4)["stats"].collect()[0]
        wall = time.monotonic() - t0
        curation = {
            "n_docs": stats["n_input"],
            "wall_sec": round(wall, 2),
            "docs_per_sec": round(stats["n_input"] / wall, 1),
            "n_exact_dup": stats["n_exact_dup"],
            "n_near_dup": stats["n_near_dup"],
            "n_curated": stats["n_curated"],
        }
        # exact connected-components variant: evidences the iterative CC
        # operator at the 200k scale (pair graph from the same LSH pass)
        spark.catalog.clearCache()
        t0 = time.monotonic()
        stats_cc = curate_documents(
            docs_big, min_quality=0.4, near_dup_exact=True
        )["stats"].collect()[0]
        curation["exact_cc"] = {
            "wall_sec": round(time.monotonic() - t0, 2),
            "n_near_dup": stats_cc["n_near_dup"],
            "n_curated": stats_cc["n_curated"],
        }
    except Exception as exc:
        curation = {"error": str(exc)[:200]}
    machine["after_curation"] = _machine_probe()
    calib_end = calibrate()
    machine["calibration_sec"] = {"start": calib_start, "end": calib_end}
    # loaded-machine sentinel: either the host was already busy before the
    # run (external load) or the calibration job slowed >1.5x across the
    # run (contention/throttle mid-run). A True here means the wall times
    # in this JSON are NOT comparable against other rounds — rerun idle.
    idle0 = machine["start"]["cpu_idle_frac"]
    machine["loaded_sentinel"] = bool(
        (idle0 is not None and idle0 < 0.25)
        or (calib_start > 0 and calib_end / calib_start > 1.5)
    )

    # north-rule evidence recorded by their dedicated harnesses (too slow
    # to re-run inside every bench): embed the latest artifacts when
    # present, each tagged with its source so the provenance is explicit.
    # Regenerate with tools/run_scaling_exec.py / tools/scale_rehearsal.py.
    scaling = None
    try:
        import glob

        # numeric round sort: lexicographic puts 'r10' before 'r2'
        path = max(
            glob.glob("dist/scaling_exec_r*.txt"),
            key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
        )
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("{"):
                    s = json.loads(line)
            scaling = {
                "mode": s["mode"],
                "N_docs_per_sec": s["N"]["docs_per_sec"],
                "4N_docs_per_sec": s["4N"]["docs_per_sec"],
                "efficiency": s["scaling_efficiency"],
                "source": f"tools/run_scaling_exec.py -> {path}",
            }
    except Exception:
        pass
    rehearsal = None
    try:
        import math

        per: dict[tuple[str, str], int] = {}
        for path in ("dist/rehearsal_r3.json", "dist/rehearsal_r3b.json"):
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith('{"query"'):
                        r = json.loads(line)
                        # later files/lines win: re-runs supersede
                        per[(r["query"], r["corpus"])] = r["shuffle_rw_bytes"]
        alphas = {
            q: round(
                math.log10(
                    max(per[(q, "big")], 1) / max(per[(q, "small")], 1)
                ),
                2,
            )
            for (q, c) in per
            if c == "small" and (q, "big") in per
        }
        rehearsal = {
            "shuffle_alpha_5k_to_50k": alphas,
            "source": "tools/scale_rehearsal.py -> dist/rehearsal_r3*.json",
        }
    except Exception:
        pass
    rehearsal_exec = None
    try:
        import glob as _glob

        rehearsal_exec = {}
        # sort by (round, executors) numerically so the NEWEST round's
        # entry wins per executor count (lexicographic 'r10'<'r2' would
        # let a stale round overwrite it)
        for path in sorted(
            _glob.glob("dist/rehearsal_exec_r*_e*.jsonl"),
            key=lambda p: tuple(
                int(x) for x in re.search(r"_r(\d+)_e(\d+)", p).groups()
            ),
        ):
            with open(path, encoding="utf-8") as fh:
                last = [ln for ln in fh if ln.startswith("{")][-1]
            s = json.loads(last)
            rehearsal_exec[f"executors_{s['executors']}"] = {
                "exec_mem_mb": s["exec_mem_mb"],
                "alphas": {
                    r["query"]: r.get("shuffle_alpha")
                    for r in s["rehearsal_exec"]
                    if "error" not in r
                },
                "errors": [
                    r["query"] for r in s["rehearsal_exec"] if "error" in r
                ],
                "peak_exec_heap_bytes": s["final_peaks"].get(
                    "peak_jvm_heap_bytes"
                ),
                "source": f"tools/scale_rehearsal_exec.py -> {path}",
            }
        if not rehearsal_exec:
            rehearsal_exec = None
    except Exception:
        rehearsal_exec = None
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "r1_subset_wall": r1_subset_wall,
                "queries": timings,
                "sf": sf_dir,
                "cores": cores,
                "n_docs": n_docs,
                "extract_reconcile_docs_per_sec": pipeline_docs_per_sec,
                "ann_recall_at_5": recall,
                "flagship_200k": flagship,
                "curation_200k": curation,
                "scaling_exec": scaling,
                "scale_rehearsal": rehearsal,
                "scale_rehearsal_exec": rehearsal_exec,
                "machine": machine,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
