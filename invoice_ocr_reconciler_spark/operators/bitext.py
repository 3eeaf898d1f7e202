"""Bitext candidate mining — cross-language page alignment by URL slot.

Multilingual sites publish the same page under parallel language paths
(`/en/about` vs `/fr/about`, `?lang=de`); pairing those documents is how
parallel corpora are mined from a crawl at scale (the URL-structure pass
that seeds ParaCrawl/CCMatrix-style pipelines before any content scoring).

Extends the reference's key-normalize-then-join reconciliation shape
(backend/reconciliationEngine.js:15-23 normalize, :53-67 index+match) to
language slots: the "normalized key" is the url with its language marker
hollowed out, and the "match" is an exact self-join on that slot.

Scale shape: one scan -> codegen slot projection -> self equi-join on
(slot). Group size per slot is bounded by the language inventory (a few
dozen), so the join can't go quadratic the way similarity joins can; no
UDF, no broadcast needed (both sides are the same partitioned frame).
All regexes are RE2-safe so the DuckDB oracle replays the real slotting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# language markers recognized in order: a /xx/ path segment, then a
# lang=xx query param. Two-letter codes only — the common case; region
# variants (en-US) are a documented second pass.
_SEG_PAT = r"^(https?://[^/]+)/([a-z]{2})(/|$)"
_QP_PAT = r"[?&]lang=([a-z]{2})\b"


def bitext_candidates(
    pages: DataFrame, url_col: str = "url", lang_col: str = "lang"
) -> DataFrame:
    """Pair same-slot, different-language documents.

    A url participates when a language marker is found AND it agrees with
    the document's own lang column (disagreement means the marker was a
    false positive — e.g. /it/ in /item/ — or the page is mislabelled;
    either way it would poison the pair).

    -> (slot, lang_a, url_a, lang_b, url_b) with lang_a < lang_b, one row
    per unordered cross-language pair in the slot.
    """
    u = F.col(url_col)
    seg = F.regexp_extract(u, _SEG_PAT, 2)
    qp = F.regexp_extract(u, _QP_PAT, 1)
    marker = F.when(seg != "", seg).when(qp != "", qp)
    slot = F.when(
        seg != "", F.regexp_replace(u, _SEG_PAT, r"$1/*$3")
    ).otherwise(F.regexp_replace(u, r"([?&])lang=[a-z]{2}\b", r"$1lang=*"))
    tagged = (
        pages.select(
            u.alias("url"), F.col(lang_col).alias("lang"), marker.alias("marker"),
            slot.alias("slot"),
        )
        .filter(F.col("marker").isNotNull() & (F.col("marker") == F.col("lang")))
    )
    a = tagged.select(
        "slot", F.col("lang").alias("lang_a"), F.col("url").alias("url_a")
    )
    b = tagged.select(
        "slot", F.col("lang").alias("lang_b"), F.col("url").alias("url_b")
    )
    return a.join(b, "slot").filter(F.col("lang_a") < F.col("lang_b"))


def margin_mine(
    emb_a: DataFrame,
    emb_b: DataFrame,
    k: int = 4,
    id_a: str = "id_a",
    id_b: str = "id_b",
    vec_col: str = "embedding",
    min_margin: float | None = None,
) -> DataFrame:
    """Margin-based cross-lingual pair mining (Artetxe & Schwenk 2019,
    the ratio-margin criterion LASER/CCMatrix pipelines score with).

    Raw cosine is a bad pair score: "hub" vectors are close to
    everything, so their pairs look good without being translations.
    The margin renormalizes each pair by both endpoints' neighborhood
    densities:

        margin(x, y) = cos(x, y) / ((deg_a(x) + deg_b(y)) / 2)

    where deg is the mean cosine to the k nearest cross-side neighbors.
    A pair scores > 1 only when the two are closer to each other than to
    their average neighborhood — the hub discount.

    Shape: one cross-side scored join (broadcast the smaller side
    upstream, or feed LSH/IVF candidate pairs instead of the full cross
    product at 10^9+ — this operator only needs (id_a, id_b, cosine)
    plus per-side ranks, not HOW candidates were found), two windows at
    per-side cardinality, degree aggregates as EXACT integer sums of the
    1e-6-grid cosines (float group sums are partition-order noise), one
    margin projection. Emits forward candidates (y among x's top-k) with
    mutual-NN flags; ``min_margin`` optionally applies the release cut.

    -> (id_a, id_b, cosine, margin, rank_ab, mutual_nn)
    """
    from invoice_ocr_reconciler_spark.operators.similarity import cosine_sim

    a = emb_a.select(F.col(id_a), F.col(vec_col).alias("_va"))
    b = emb_b.select(F.col(id_b), F.col(vec_col).alias("_vb"))
    scored = a.crossJoin(b).select(
        id_a,
        id_b,
        F.round(cosine_sim(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
    )
    return margin_from_scored(
        scored, k=k, id_a=id_a, id_b=id_b, min_margin=min_margin
    )


def margin_from_scored(
    scored: DataFrame,
    k: int = 4,
    id_a: str = "id_a",
    id_b: str = "id_b",
    cosine_col: str = "cosine",
    min_margin: float | None = None,
) -> DataFrame:
    """Margin scoring over PRE-SCORED candidate pairs — the 10^9 path.

    ``margin_mine`` materializes the full cross product; at web scale the
    candidate set comes from LSH/IVF retrieval instead (lsh_topk /
    ivf_topk emit exactly the (query_id, neighbor_id, cosine) triples this
    needs). Ranks and degrees are then computed over each endpoint's
    RETRIEVED neighborhood — the standard practical margin (CCMatrix
    scores over FAISS top-k, not the full matrix), identical to the exact
    margin whenever retrieval recall covers the true top-k.

    Same determinism contract as margin_mine: 1e-6-grid cosines, exact
    bigint degree sums, grid-snapped margin. Shape: two windows + two
    partial-agg groupBys at candidate-set cardinality (|pairs| ~ n*k',
    never n^2), then two shuffled equi-joins back onto the pairs.
    """
    from invoice_ocr_reconciler_spark.plans.relational import roundn
    from pyspark.sql import Window

    scored = scored.select(
        id_a, id_b, F.col(cosine_col).alias("cosine")
    )
    w_a = Window.partitionBy(id_a).orderBy(F.col("cosine").desc(), F.col(id_b))
    w_b = Window.partitionBy(id_b).orderBy(F.col("cosine").desc(), F.col(id_a))
    ranked = scored.withColumn("rank_ab", F.row_number().over(w_a)).withColumn(
        "rank_ba", F.row_number().over(w_b)
    )
    qcos = F.floor(F.col("cosine") * 1_000_000 + F.lit(0.5)).cast("bigint")
    # exact-integer degree: sum of grid cosines / (count * grid)
    deg_a = (
        ranked.filter(F.col("rank_ab") <= k)
        .select(id_a, qcos.alias("q"))
        .groupBy(id_a)
        .agg(
            (
                F.sum("q").cast("double")
                / (F.count(F.lit(1)) * F.lit(1_000_000.0))
            ).alias("deg_a")
        )
    )
    deg_b = (
        ranked.filter(F.col("rank_ba") <= k)
        .select(id_b, qcos.alias("q"))
        .groupBy(id_b)
        .agg(
            (
                F.sum("q").cast("double")
                / (F.count(F.lit(1)) * F.lit(1_000_000.0))
            ).alias("deg_b")
        )
    )
    out = (
        ranked.filter(F.col("rank_ab") <= k)
        .join(deg_a, id_a)
        .join(deg_b, id_b)
        .select(
            id_a,
            id_b,
            "cosine",
            roundn(
                F.col("cosine") / ((F.col("deg_a") + F.col("deg_b")) / F.lit(2.0)),
                6,
            ).alias("margin"),
            "rank_ab",
            (F.col("rank_ba") <= k).alias("mutual_nn"),
        )
    )
    if min_margin is not None:
        out = out.filter(F.col("margin") >= min_margin)
    return out
