"""Benchmark decontamination for training-data curation.

The standard pretraining hygiene pass (reference semantics: the n-gram
overlap decontamination used by GPT-3/Gopher/Llama data pipelines, public
method): a document is CONTAMINATED if it shares any word n-gram with a
benchmark/eval set. Contaminated documents are flagged (and typically
dropped) so the training corpus cannot memorize evaluation answers.

Plan shape at 10^12-document scale:
  - the benchmark side (eval sets: 10^4..10^6 items) collapses to a
    DISTINCT n-gram set once — tiny next to the corpus — and is BROADCAST,
    so the corpus never shuffles: one scan, per-row gram generation in
    codegen, a broadcast-hash semi join, one partial-agg groupBy(doc_id)
    that only carries hit rows;
  - with `broadcast_bench=False` the same pipeline degrades gracefully to
    a shuffle-hash join for pathologically large benchmark sets;
  - gram generation is the shared tokens_col/_word_ngrams contract
    (functions/text.py) — pure array codegen, no Python crossing anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.functions.text import _word_ngrams, tokens_col


def benchmark_ngrams(
    benchmark: DataFrame, n: int = 13, text_col: str = "text"
) -> DataFrame:
    """DISTINCT word n-grams of the benchmark set -> one `gram` column.
    Documents shorter than n tokens contribute nothing (no partial grams:
    a sub-n overlap is not an n-gram hit)."""
    toks = tokens_col(F.col(text_col))
    return (
        benchmark.select(
            F.explode(F.array_distinct(_word_ngrams(toks, n))).alias("gram")
        )
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Flag documents sharing >=1 word n-gram with the benchmark set.

    Returns one row per input document:
      (doc_id, n_hit_grams, contaminated)
    n_hit_grams counts the document's DISTINCT grams that appear anywhere
    in the benchmark; contaminated = 1 iff n_hit_grams > 0.
    """
    bench_grams = benchmark_ngrams(benchmark, n, bench_text_col)
    if broadcast_bench:
        bench_grams = F.broadcast(bench_grams)
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(_word_ngrams(tokens_col(F.col(text_col)), n))
        ).alias("gram"),
    )
    hits = (
        doc_grams.join(bench_grams, "gram")  # semi-style: bench side is distinct
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit_grams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hit_grams"), F.lit(0)).alias("n_hit_grams"),
            (F.coalesce(F.col("n_hit_grams"), F.lit(0)) > 0)
            .cast("int")
            .alias("contaminated"),
        )
    )


def decontaminate_semantic(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag corpus vectors whose
    cosine similarity to ANY benchmark vector reaches ``threshold``.

    The semantic complement of n-gram `decontaminate` (paraphrased or
    reformatted eval items share no 8-gram but sit next to the benchmark
    in embedding space — contamination audits run exactly this pair).
    Returns (id, contaminated, n_bench_hits, max_sim) — flag-don't-drop,
    like the n-gram pass, so audits can count before cutting.

    Scale shape: benchmarks are eval-set-sized (10^3-10^5), the corpus is
    not — the benchmark side is column-pruned to (id, vec) and broadcast,
    the corpus never shuffles: the join is map-side, the per-pair cosine
    is the JVM zip_with/aggregate expression shared with
    operators/similarity.cosine_sim, and the per-corpus-vector verdict
    partial-aggregates on the corpus id. ``broadcast_benchmark=False``
    degrades to a shuffle join for pathological benchmark sizes (the
    decontaminate/wordlist_flags knob). For 10^9+ corpora compose with
    the LSH/IVF routing in operators/similarity.py to prune candidate
    pairs first; this operator is the exact verdict.

    Determinism: sims ride the 1e-6 grid BEFORE the threshold compare
    and the max aggregate (the ann_brute_force contract — fold order
    over the array is fixed, so the rounded sim is partitioning- and
    engine-stable).
    """
    from invoice_ocr_reconciler_spark.plans.relational import roundn
    from invoice_ocr_reconciler_spark.operators.similarity import cosine_sim

    c = corpus.select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cv"))
    b = benchmark.select(
        F.col(bench_id_col).alias("_bid"), F.col(vec_col).alias("_bv")
    )
    if broadcast_benchmark:
        b = F.broadcast(b)
    sim = roundn(cosine_sim(F.col("_cv"), F.col("_bv")), 6)
    pairs = c.crossJoin(b).select(
        "_cid",
        (sim >= F.lit(threshold)).cast("int").alias("hit"),
        sim.alias("s"),
    )
    return (
        pairs.groupBy("_cid")
        .agg(F.sum("hit").alias("n_hits"), F.max("s").alias("max_sim"))
        .select(
            F.col("_cid").alias(id_col),
            (F.col("n_hits") > 0).alias("contaminated"),
            F.col("n_hits").cast("bigint").alias("n_bench_hits"),
            "max_sim",
        )
    )
