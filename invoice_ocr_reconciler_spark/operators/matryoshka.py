"""Matryoshka truncation-recall — how much ANN quality survives a
prefix-truncated embedding.

Matryoshka representation learning (Kusupati et al. 2022) trains
embeddings whose PREFIX dimensions carry most of the signal, so serving
stacks can store/scan d' << d floats and re-rank with the full vector.
Before adopting a truncation width, a pipeline needs the measured curve:
recall@k of exact search over the first d' dims against exact search
over all d. This operator produces that curve — the truncation analog of
the existing ann_recall sweep (LSH/IVF vs brute force).

Plan shape: one brute_force_topk pass per requested width plus one at
full width (each a broadcast-queries crossJoin + per-query top-k window,
the operators/similarity.py baseline shape), then a hits join on
(query_id, neighbor_id) and a 1-row-per-width rollup. Cost scales with
len(dims)+1 exact passes — this is an OFFLINE calibration measurement
over a probe set, not a serving path; the broadcast query side keeps
every pass map-only. Determinism: cosine rounded to 6 places with
neighbor-id tiebreak (the brute_force_topk contract), so truncation ties
at low widths cannot flip across engines or partition orders.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.plans.relational import roundn
from invoice_ocr_reconciler_spark.operators.similarity import (
    brute_force_topk,
)


def truncation_recall(
    corpus: DataFrame,
    queries: DataFrame,
    dims: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(dim, hits, total, recall_at_k) per truncation width: exact top-k
    over the first `dim` components, scored against exact top-k over the
    full vector. `total` = n_queries * k (the full-width retrieved set);
    recall is the 1e-6-grid fraction. Pass the full width in `dims` to
    get the 1.0 anchor row."""
    if not dims:
        raise ValueError("dims must be non-empty")
    full = brute_force_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")

    def leg(d: int) -> DataFrame:
        tc = corpus.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        tq = queries.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        return brute_force_topk(
            tc, tq, k=k, id_col=id_col, vec_col=vec_col
        ).select(
            F.lit(d).cast("int").alias("dim"), "query_id", "neighbor_id"
        )

    trunc = reduce(
        lambda a, b: a.unionByName(b), (leg(d) for d in sorted(set(dims)))
    )
    hits = (
        trunc.join(full, ["query_id", "neighbor_id"])
        .groupBy("dim")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    total = full.agg(F.count(F.lit(1)).cast("long").alias("total"))
    # a width can score ZERO hits (adversarially bad prefixes) — keep its
    # row via the dims spine, not the hits join
    spine = trunc.select("dim").distinct()
    return (
        spine.join(hits, "dim", "left")
        .crossJoin(total)
        .select(
            "dim",
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            "total",
            roundn(
                F.coalesce("hits", F.lit(0)) / F.col("total"), 6
            ).alias("recall_at_k"),
        )
    )
