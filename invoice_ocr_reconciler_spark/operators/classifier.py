"""Supervised quality classification: multinomial Naive Bayes over tokens.

The third public quality-filter family next to CCNet perplexity
(operators/lm_score.py) and DSIR importance (operators/importance.py):
the GPT-3 / LLaMA-style "quality classifier" — train a linear text
classifier on trusted-positive vs crawl-negative documents and keep
pages scoring above a threshold. The public filters are fastText-style
linear models; multinomial Naive Bayes IS a linear model over token
counts whose training is pure counting — which makes it the
Spark-native choice:

  - TRAINING is one partial-agg'd groupBy per class over exploded tokens
    plus one vocab-sized full-outer merge — the exchanges carry one row
    per distinct token, bounded by vocabulary, never corpus size. No
    SGD, no iterations, no driver-side weights: the "model" is a
    DataFrame.
  - The per-token weight is precomputed at train time as the
    log-likelihood ratio llr(w) = ln p(w|pos) - ln p(w|neg) (add-k
    smoothed), so SCORING is a single broadcast-hash join on token + one
    partial-agg groupBy(doc_id): tokens of unseen words fall back to a
    constant default_llr scalar. One exchange carrying (doc_id, llr)
    pairs, the lm_perplexity shape exactly.
  - determinism: per-token llr rides the 1e-8 grid, the per-doc sum the
    1e-6 grid, the sigmoid the 1e-4 grid (the tfidf/lm_score contract) —
    every number replays in DuckDB.

Tokenization is the shared tokens_col contract, so one SQL tokenizer
replays every gram-based operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.functions.text import tokens_col
from invoice_ocr_reconciler_spark.plans.relational import roundn

ADD_K = 0.5  # same Jeffreys-prior smoothing mass as lm_score.ADD_K


def _class_counts(corpus: DataFrame, text_col: str, name: str) -> DataFrame:
    return (
        corpus.select(F.explode(tokens_col(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias(name))
    )


def train_nb_classifier(
    pos: DataFrame,
    neg: DataFrame,
    text_col: str = "text",
    k: float = ADD_K,
) -> dict[str, DataFrame]:
    """-> {'weights': (w, llr), 'scalars': 1 row (default_llr, prior_llr)}

    llr(w) = ln((c_pos(w)+k)/(n_pos+kV)) - ln((c_neg(w)+k)/(n_neg+kV)),
    V = |union vocab|; default_llr is the same expression at c=0 (every
    unseen token scores it); prior_llr = ln(docs_pos) - ln(docs_neg).
    All frames are vocabulary-sized (broadcastable megabytes even for
    web-scale vocabularies under a frequency floor).
    """
    cp = _class_counts(pos, text_col, "c_pos")
    cn = _class_counts(neg, text_col, "c_neg")
    merged = cp.join(cn, "w", "full_outer").select(
        "w",
        F.coalesce("c_pos", F.lit(0)).alias("c_pos"),
        F.coalesce("c_neg", F.lit(0)).alias("c_neg"),
    )
    totals = merged.agg(
        F.sum("c_pos").alias("n_pos"),
        F.sum("c_neg").alias("n_neg"),
        F.count("*").alias("vocab_size"),
    )
    n_docs = pos.select(F.lit(1).alias("_")).agg(
        F.count("*").alias("docs_pos")
    ).crossJoin(neg.select(F.lit(1).alias("_")).agg(F.count("*").alias("docs_neg")))

    kv = F.lit(k) * F.col("vocab_size")
    llr = roundn(
        F.log((F.col("c_pos") + F.lit(k)) / (F.col("n_pos") + kv))
        - F.log((F.col("c_neg") + F.lit(k)) / (F.col("n_neg") + kv)),
        8,
    )
    weights = merged.crossJoin(F.broadcast(totals)).select("w", llr.alias("llr"))
    scalars = totals.crossJoin(n_docs).select(
        roundn(
            F.log(F.lit(k) / (F.col("n_pos") + kv))
            - F.log(F.lit(k) / (F.col("n_neg") + kv)),
            8,
        ).alias("default_llr"),
        roundn(
            F.log(F.col("docs_pos").cast("double"))
            - F.log(F.col("docs_neg").cast("double")),
            8,
        ).alias("prior_llr"),
    )
    return {"weights": weights, "scalars": scalars}


def nb_classify(
    docs: DataFrame,
    model: dict[str, DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: bool = True,
) -> DataFrame:
    """Score documents -> (id_col, n_tokens, llr, prob).

    llr = prior_llr + sum per token (1e-6 grid); prob = sigmoid(llr)
    (1e-4 grid, the lm_score exp convention). A token-less document
    scores the prior alone — no evidence, prior odds. The corpus side
    sees ONE broadcast join + ONE groupBy(id_col) exchange carrying
    (doc_id, llr) pairs; with broadcast_model=False both degrade to
    shuffle joins for pathological vocabularies.
    """
    weights, scalars = model["weights"], model["scalars"]
    if broadcast_model:
        weights, scalars = F.broadcast(weights), F.broadcast(scalars)

    toks = docs.select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("w")
    )
    per_doc = (
        toks.join(weights, "w", "left")
        .crossJoin(scalars)
        .select(
            F.col(id_col),
            F.coalesce(F.col("llr"), F.col("default_llr")).alias("llr"),
        )
        .groupBy(id_col)
        .agg(F.count("*").alias("n_tokens"), F.sum("llr").alias("sum_llr"))
    )
    total = roundn(
        F.col("prior_llr") + F.coalesce(F.col("sum_llr"), F.lit(0.0)), 6
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .crossJoin(scalars)
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            total.alias("llr"),
            roundn(F.lit(1.0) / (F.lit(1.0) + F.exp(-total)), 4).alias("prob"),
        )
    )
