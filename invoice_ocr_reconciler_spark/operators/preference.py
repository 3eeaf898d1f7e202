"""Pairwise-preference aggregation: Bradley-Terry strengths via MM.

RLHF / preference-tuning datasets arrive as pairwise comparisons
((winner, loser) per judgment — human A/B votes, judge-model verdicts,
arena battles). Training and data-QA both need them collapsed to a
per-item strength/rating: which policy samples win, which prompt
sources produce winning answers, which annotator pool drifts. The
standard batch estimator is the Bradley-Terry model (the base of the
Elo/arena-leaderboard family) fit with Hunter's (2004) MM algorithm —
Zermelo's iteration:

    p_i  <-  w_i / sum_{j != i}  n_ij / (p_i + p_j)

where w_i = total wins of item i and n_ij = games played between i and
j; each round is followed by a normalization (here: sum of strengths
== number of items, so strengths hover around 1.0 like a rating).

Distributed shape — the comparison log is the big thing (10^9+
judgments), the item table is small (models / sources / annotators):

  * TWO partial-agg groupBys collapse the log ONCE: per-item wins and
    per-unordered-pair game counts. After that the iterations never
    touch the raw log — they run over the pair table (bounded by
    distinct pairs, not judgments).
  * Each MM round is: symmetrized pair table  JOIN  current strengths
    on both endpoints (strengths frame is item-sized -> broadcast
    hint), one groupBy(item) for the denominator, one 1-row
    normalization agg broadcast back. No per-row Python anywhere.
  * Each round's strengths are cut from their lineage with a lazy
    localCheckpoint (the operators/graph.py pagerank contract). A round
    reads the previous strengths four times — both pair-join endpoints,
    under the raw update and again under its normalization total — so
    without a cut the plan grows fourfold per round. A persist does not
    cut it: a cached frame still renders the plan it caches. The lazy
    cut keeps the run one job.

Cross-engine determinism (the DuckDB oracle unrolls the rounds as
CTEs): every division is rounded on the 1e-12 grid via
functions/text.py:roundn inside a round and the published strength on
1e-9 — the pagerank grid contract. Zero-strength degenerate pairs
(p_i + p_j == 0) contribute NULL (excluded) rather than Infinity so
the arithmetic stays total in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from invoice_ocr_reconciler_spark.plans.relational import roundn

ITER_PLACES = 12
OUT_PLACES = 9


def bt_strengths(
    comparisons: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    n_iter: int = 3,
    truncate_lineage: bool = True,
) -> DataFrame:
    """(item, wins, n_games, strength, rank) after `n_iter` MM rounds.

    Items are everything appearing as winner or loser. Ties are not
    modeled (Bradley-Terry; Davidson's tie extension would add a third
    outcome column). Empty input -> empty result. `rank` is dense over
    (strength desc, item asc) so the output is a leaderboard.
    """
    w, l = F.col(winner_col), F.col(loser_col)

    wins = comparisons.groupBy(w.alias("item")).agg(F.count("*").alias("wins"))
    pairs = (
        comparisons.groupBy(
            F.least(w, l).alias("ia"), F.greatest(w, l).alias("ib")
        )
        .agg(F.count("*").alias("n_games"))
    )
    items = (
        comparisons.select(w.alias("item"))
        .union(comparisons.select(l.alias("item")))
        .distinct()
        .join(wins, "item", "left")
        .select("item", F.coalesce("wins", F.lit(0)).alias("wins"))
    )
    # one tiny scalar (normalization target); driver-side count is one
    # job over the item-sized frame, not a per-row collect
    n_items = items.count()
    if n_items == 0:
        return items.select(
            "item",
            "wins",
            F.lit(0).alias("n_games"),
            F.lit(0.0).alias("strength"),
            F.lit(0).alias("rank"),
        )
    if truncate_lineage:
        items = items.persist(StorageLevel.MEMORY_AND_DISK)
        pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)

    sym = pairs.select(
        F.col("ia").alias("item"), F.col("ib").alias("opp"), "n_games"
    ).union(
        pairs.select(
            F.col("ib").alias("item"), F.col("ia").alias("opp"), "n_games"
        )
    )
    n_games = sym.groupBy("item").agg(F.sum("n_games").alias("n_games"))

    strengths = items.select("item", F.lit(1.0).alias("p"))
    for _ in range(int(n_iter)):
        p_self = strengths.select(F.col("item"), F.col("p").alias("p_i"))
        p_opp = strengths.select(
            F.col("item").alias("opp"), F.col("p").alias("p_j")
        )
        # strengths frames are item-sized -> broadcast both sides of the
        # pair join; only the pair table (distinct pairs) flows
        denom = (
            sym.join(F.broadcast(p_self), "item")
            .join(F.broadcast(p_opp), "opp")
            .select(
                "item",
                F.when(
                    F.col("p_i") + F.col("p_j") > 0,
                    roundn(
                        F.col("n_games") / (F.col("p_i") + F.col("p_j")),
                        ITER_PLACES,
                    ),
                ).alias("term"),
            )
            .groupBy("item")
            .agg(F.sum("term").alias("denom"))
        )
        raw = items.join(denom, "item", "left").select(
            "item",
            F.when(
                F.col("denom") > 0,
                roundn(F.col("wins") / F.col("denom"), ITER_PLACES),
            )
            .otherwise(F.lit(0.0))
            .alias("raw"),
        )
        total = F.broadcast(
            raw.agg(F.coalesce(F.sum("raw"), F.lit(0.0)).alias("tot"))
        )
        strengths = raw.crossJoin(total).select(
            "item",
            F.when(
                F.col("tot") > 0,
                roundn(
                    F.col("raw") * F.lit(float(n_items)) / F.col("tot"),
                    ITER_PLACES,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("p"),
        )
        if truncate_lineage:
            strengths = strengths.localCheckpoint(eager=False)

    from pyspark.sql import Window

    out = (
        items.join(n_games, "item", "left")
        .join(strengths, "item")
        .select(
            "item",
            "wins",
            F.coalesce("n_games", F.lit(0)).alias("n_games"),
            roundn(F.col("p"), OUT_PLACES).alias("strength"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("strength").desc(), F.col("item"))
            ),
        )
    )
    return out


def bt_strengths_reference(
    comparisons: list[tuple], n_iter: int = 3
) -> dict:
    """Pure-Python reference of the identical rounded MM iteration, for
    golden tests (same ITER_PLACES/OUT_PLACES grids, same normalization)."""
    import math

    def rnd(x: float, places: int) -> float:
        s = float(10**places)
        return math.floor(x * s + 0.5) / s

    wins: dict = {}
    games: dict = {}
    items = set()
    for w, l in comparisons:
        items.update((w, l))
        wins[w] = wins.get(w, 0) + 1
        key = (min(w, l), max(w, l))
        games[key] = games.get(key, 0) + 1
    n_items = len(items)
    p = {i: 1.0 for i in items}
    for _ in range(n_iter):
        raw = {}
        for i in items:
            denom = 0.0
            for (a, b), n in games.items():
                if i not in (a, b):
                    continue
                j = b if i == a else a
                if p[i] + p[j] > 0:
                    denom += rnd(n / (p[i] + p[j]), ITER_PLACES)
            raw[i] = rnd(wins.get(i, 0) / denom, ITER_PLACES) if denom > 0 else 0.0
        tot = sum(raw.values())
        p = {
            i: rnd(raw[i] * n_items / tot, ITER_PLACES) if tot > 0 else 0.0
            for i in items
        }
    return {i: rnd(p[i], OUT_PLACES) for i in items}


def dpo_pairs(
    completions: DataFrame,
    max_pairs: int = 3,
    min_margin: float = 0.0,
    prompt_col: str = "prompt_id",
    completion_col: str = "completion_id",
    score_col: str = "score",
) -> DataFrame:
    """DPO/RLHF preference-pair construction from scored completions.

    The standard prep step between "reward-model / judge scores per
    completion" and "preference-tuning dataset": for each prompt, pair
    the i-th best completion with the i-th worst (i = 1..max_pairs) —
    the maximum-margin non-overlapping matching — and keep pairs whose
    score margin is >= min_margin. Pairing stops at floor(n/2) so no
    completion ever appears on both sides of a pair (chosen and
    rejected halves stay disjoint).

    Input: (prompt_id, completion_id, score); duplicate
    (prompt, completion) rows collapse max-score first so the op is
    total. Ties break on completion_id (asc from the top, desc from
    the bottom — exact mirror ranks), so output is deterministic at
    any parallelism.

    Output: (prompt_id, pair_rank, chosen_id, rejected_id,
    chosen_score, rejected_score, margin, n_completions), ordered by
    (prompt_id, pair_rank). margin is a single IEEE subtraction of the
    two input scores — bit-identical cross-engine, no rounding grid.

    Distributed shape at 10^9-prompt scale: ONE shuffle of the
    completion log on prompt_id drives both rank windows and the
    per-prompt count (same partition key -> one exchange, three window
    specs over it); the best/worst legs are max_pairs-bounded per
    prompt before their equi-join on (prompt_id, pair_rank). No
    corpus-wide window, no Python.
    """
    if max_pairs < 1:
        raise ValueError(f"max_pairs must be >= 1, got {max_pairs}")
    p, c = F.col(prompt_col), F.col(completion_col)
    one = completions.groupBy(
        p.alias("prompt_id"), c.alias("completion_id")
    ).agg(F.max(score_col).alias("score"))

    wp = Window.partitionBy("prompt_id")
    wb = wp.orderBy(F.col("score").desc(), F.col("completion_id").asc())
    ww = wp.orderBy(F.col("score").asc(), F.col("completion_id").desc())
    ranked = one.select(
        "prompt_id",
        "completion_id",
        "score",
        F.row_number().over(wb).alias("rank_best"),
        F.row_number().over(ww).alias("rank_worst"),
        F.count("*").over(wp).alias("n_completions"),
    )
    half = F.floor(F.col("n_completions") / 2)
    best = ranked.where(
        (F.col("rank_best") <= max_pairs) & (F.col("rank_best") <= half)
    ).select(
        "prompt_id",
        F.col("rank_best").alias("pair_rank"),
        F.col("completion_id").alias("chosen_id"),
        F.col("score").alias("chosen_score"),
        F.col("n_completions"),
    )
    worst = ranked.where(
        (F.col("rank_worst") <= max_pairs) & (F.col("rank_worst") <= half)
    ).select(
        "prompt_id",
        F.col("rank_worst").alias("pair_rank"),
        F.col("completion_id").alias("rejected_id"),
        F.col("score").alias("rejected_score"),
    )
    margin = F.col("chosen_score") - F.col("rejected_score")
    return (
        best.join(worst, ["prompt_id", "pair_rank"])
        .where(margin >= F.lit(float(min_margin)))
        .select(
            "prompt_id",
            "pair_rank",
            "chosen_id",
            "rejected_id",
            "chosen_score",
            "rejected_score",
            margin.alias("margin"),
            "n_completions",
        )
        .orderBy("prompt_id", "pair_rank")
    )
