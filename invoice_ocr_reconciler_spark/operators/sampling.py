"""Deterministic stratified sampling for training-data curation.

`sample(fraction)` is nondeterministic across retries/partitionings —
useless for reproducible corpus builds. This operator derives the sampling
decision from a cryptographic hash of the ROW KEY (md5, identical in every
engine and across runs), so the sample is: reproducible, partitioning- and
retry-invariant, joinable (the same ids are in or out everywhere), and
incrementally stable (new rows don't reshuffle old decisions — the property
reservoir/random sampling lacks).

Per-stratum rates give the usual training-mix control (e.g. upsample
low-resource languages): a row with hash-bucket b (uniform in [0,
n_buckets)) is kept iff b < rate[stratum].
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket_col(key: Column, n_buckets: int = 100) -> Column:
    """Uniform deterministic bucket in [0, n_buckets): first 8 hex chars of
    md5(key) as an integer, mod n_buckets. Engine-portable (md5 + base
    conversion only — no engine-specific hash)."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
        % n_buckets
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, int],
    default_rate: int = 0,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    n_buckets: int = 100,
) -> DataFrame:
    """Keep each row iff its hash bucket < rates[stratum] (percent when
    n_buckets=100). Strata missing from `rates` get `default_rate`.

    Pure per-row codegen filter — no shuffle, no state; pushes down past
    nothing but costs one md5 per row.
    """
    rate: Column = F.lit(int(default_rate))
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(int(r))).otherwise(rate)
    return (
        docs.withColumn("sample_bucket", hash_bucket_col(F.col(id_col), n_buckets))
        .filter(F.col("sample_bucket") < rate)
    )


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    total_fraction: float,
    domain_col: str = "source",
    id_col: str = "doc_id",
    n_buckets: int = 1_000_000,
) -> DataFrame:
    """Deterministic domain-mixture sampling: downsample each domain so the
    OUTPUT hits the target mixture `weights` (shares summing to <=1) at
    overall size ~= total_fraction * |input|.

    Unlike stratified_sample (fixed per-stratum KEEP rates), the rates here
    are DERIVED from the observed domain counts: a domain with target share
    w and n_d rows gets accept_rate = min(1, w * total_fraction * N / n_d)
    — the standard training-mix reweighting (upsampling is out of scope:
    rates cap at 1, so an under-represented domain saturates and the
    realized mix is renormalized, which the caller can read off the
    returned accept_rate column). Domains absent from `weights` get rate 0.

    The keep decision is the same md5 hash-bucket as stratified_sample —
    reproducible, partition/retry-invariant, incrementally stable. The
    rate threshold is materialized as an INTEGER bucket bound
    (floor(rate * n_buckets)) so the filter has no float-boundary
    ambiguity across engines.

    Plan shape: one partial-agg groupBy(domain) for counts (exchange
    carries ~|domains| rows), a scalar total via a 1-row cross join, the
    tiny rate table BROADCAST back onto the corpus, then a pure codegen
    filter — the corpus itself never shuffles.
    """
    counts = docs.groupBy(domain_col).agg(F.count("*").alias("n_domain"))
    total = counts.agg(F.sum("n_domain").alias("n_total"))
    w: Column = F.lit(0.0)
    for domain, share in sorted(weights.items()):
        w = F.when(F.col(domain_col) == domain, F.lit(float(share))).otherwise(w)
    rates = (
        counts.crossJoin(F.broadcast(total))
        .withColumn("target_n", w * float(total_fraction) * F.col("n_total"))
        .withColumn(
            "accept_rate",
            F.least(F.lit(1.0), F.col("target_n") / F.col("n_domain")),
        )
        .withColumn(
            "keep_below",
            F.floor(F.col("accept_rate") * n_buckets).cast("long"),
        )
        .select(domain_col, "accept_rate", "keep_below")
    )
    return (
        docs.join(F.broadcast(rates), domain_col)
        .withColumn("sample_bucket", hash_bucket_col(F.col(id_col), n_buckets))
        .filter(F.col("sample_bucket") < F.col("keep_below"))
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: top-k rows by
    priority u^(1/w) (Efraimidis & Spirakis 2006, "Weighted random sampling
    with a reservoir" — the one-pass WRS scheme), with the uniform u derived
    from md5(id) instead of an RNG, so the draw inherits every
    hash-decision property above: reproducible, partitioning/retry
    invariant, engine-replayable.

    Ranks in LOG-LOG space: priority_key = ln(-ln u) - ln w, ascending
    (monotone in u^(1/w) descending; two ln's avoid pow's cross-libm
    drift). The log-log form is the numerically load-bearing choice: the
    naive ln(u)/w key lives at the -1/w scale, so for large weights
    (w ~ 1e5 token counts) a fixed rounding grid floors a whole band of
    high-u rows to exactly 0.0 and the "weighted random" draw degenerates
    into lowest-id selection among them. ln(-ln u) spreads u's resolution
    uniformly (range ~[-22.9, 3.2] for a 32-bit u) at ANY weight, so the
    1e-12 grid (safely above cross-libm ln drift ~1e-15, far below any
    real priority gap) never merges materially different draws. Ties
    break by id. Rows with w <= 0 or NULL are excluded (zero-weight rows
    must never win). u = (md5-prefix + 0.5)/2^32 is strictly inside
    (0, 1), so both logs are finite.

    Scale shape: orderBy+limit(k) compiles to TakeOrderedAndProject —
    per-partition top-k then a k-row merge on one reducer; nothing but
    k rows crosses. Adds one md5 + two ln per row.
    """
    from invoice_ocr_reconciler_spark.plans.relational import roundn

    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("double")
        + 0.5
    ) / 4294967296.0
    w = F.col(weight_col).cast("double")
    return (
        df.filter(w.isNotNull() & (w > 0))
        .withColumn("priority_key", roundn(F.log(-F.log(u)) - F.log(w), 12))
        .orderBy(F.col("priority_key").asc(), F.col(id_col))
        .limit(int(k))
    )


def per_key_quota(
    docs: DataFrame,
    quota: int,
    key_col: str,
    order_cols: list,
    id_col: str = "doc_id",
    salt_buckets: int = 16,
) -> DataFrame:
    """Keep at most `quota` rows per key (anti-spam / per-domain caps in
    web-corpus builds), chosen by `order_cols` then `id_col` — fully
    deterministic.

    Two-phase salted top-K so a hot key never becomes one giant window
    task: phase 1 ranks within (key, salt(id)) and keeps <= quota per
    salted group (each of a hot key's rows sorts only its 1/salt_buckets
    slice); phase 2 ranks the <= salt_buckets*quota survivors per key.
    Exact: every global top-quota row is inside its own salted group's
    top-quota, so phase 1 never discards a final survivor. Adds a `rank`
    column (1-based within key).
    """
    order = [*order_cols, F.col(id_col).asc()]
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
    w1 = Window.partitionBy(F.col(key_col), salt).orderBy(*order)
    w2 = Window.partitionBy(key_col).orderBy(*order)
    return (
        docs.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= quota)
        .drop("_r1")
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= quota)
    )


def calibrate_scores(
    df: DataFrame,
    score_col: str,
    group_col: str,
    method: str = "zscore",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group score calibration before a GLOBAL selection cut.

    Quality classifiers are miscalibrated across domains/languages: a raw
    0.7 from a news site and a 0.7 from a forum are not the same
    evidence, so a single global threshold over raw scores silently skews
    the mix toward whichever group's scorer runs hot. Calibrating within
    the group first (then cutting globally on the calibrated score) is
    the standard fix. Two methods:

      - 'zscore': (x - mean_g) / stddev_pop_g, on the 1e-6 grid; a
        constant-score group (stddev 0) maps to 0.0 — no within-group
        signal is exactly "average", never a division blowup. NULL scores
        pass through as NULL (no evidence is not average evidence).
        A NULL group is a group of its own (null-safe stats join): rows
        with no domain must not vanish from the output — both methods
        agree on this (the rank window already treats NULL as one
        partition).
      - 'pct_rank': percent_rank() within the group ordered by score —
        rank-based, outlier-immune; ties share a rank (no id tiebreak:
        equal scores must calibrate equally), single-row groups get 0.0.

    Returns the input columns + `calibrated`.

    Plan shape at 10^12 rows: zscore is ONE partial-agg'd groupBy
    (|groups| rows through the exchange) broadcast back onto the corpus —
    the corpus itself never shuffles. pct_rank is one hash exchange +
    sort on the group key (a true rank needs the group co-located);
    prefer zscore when the group count is small and the corpus is huge.
    Both are pure codegen after the stats.
    """
    from invoice_ocr_reconciler_spark.plans.relational import roundn

    x = F.col(score_col).cast("double")
    if method == "zscore":
        stats = df.groupBy(F.col(group_col).alias("_g")).agg(
            F.avg(x).alias("_mean"),
            F.stddev_pop(x).alias("_std"),
        )
        # eqNullSafe, not an equi-join: a NULL group key must match its own
        # stats row — a plain join on group_col silently DROPPED every
        # NULL-group document (and disagreed with pct_rank, whose window
        # keeps NULL as a partition)
        out = df.join(
            F.broadcast(stats),
            F.col(group_col).eqNullSafe(F.col("_g")),
        ).drop("_g")
        cal = F.when(
            x.isNull(), F.lit(None).cast("double")
        ).when(
            F.col("_std") > 0, roundn((x - F.col("_mean")) / F.col("_std"), 6)
        ).otherwise(F.lit(0.0))
        return out.withColumn("calibrated", cal).drop("_mean", "_std")
    if method == "pct_rank":
        # null rows are EXCLUDED from the rank frame (they would otherwise
        # occupy rank positions and shift every real score) and unioned
        # back with a NULL calibration
        nn = df.filter(x.isNotNull())
        nulls = df.filter(x.isNull()).withColumn(
            "calibrated", F.lit(None).cast("double")
        )
        w = Window.partitionBy(group_col).orderBy(x.asc())
        return nn.withColumn(
            "calibrated", roundn(F.percent_rank().over(w), 6)
        ).unionByName(nulls)
    raise ValueError(f"unknown calibration method {method!r}")


def token_budget_select(
    docs: DataFrame,
    budget: int,
    score_col: str = "score",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_cells: int = 1024,
) -> DataFrame:
    """Highest-quality documents under a total token budget (the
    FineWeb-style "take the best N tokens" cut): keep a document iff the
    running token sum over (score DESC, id ASC) order, INCLUDING its own
    tokens, stays <= budget. A prefix rule, not a knapsack — a document
    that overflows the budget is dropped and nothing later back-fills,
    which is what makes the cut order-deterministic and SQL-replayable
    (one window cumsum).

    The naive form is a GLOBAL ordered cumsum — a single-partition window.
    Scale shape here: bucket scores into `n_cells` uniform cells (one tiny
    bounds agg), aggregate tokens per cell (one partial-agg'd groupBy of
    n_cells rows), prefix-scan the n_cells sums on the driver to find the
    boundary cell, then run the exact cumsum window ONLY inside that one
    cell (~1/n_cells of the corpus; n_cells scales with corpus size).
    Cells partition by score value, so between-cell order is consistent
    with score DESC and equal scores always share a cell — the result is
    IDENTICAL to the global window, cell math notwithstanding.

    Degenerate case: all scores equal -> one cell -> the boundary window
    covers the whole corpus (document the knob: raise n_cells or pre-salt
    such corpora; a constant score carries no selection signal anyway).
    Returns kept rows: (id, score, n_tokens).
    """
    sel = docs.select(
        F.col(id_col),
        F.col(score_col).cast("double").alias("_score"),
        F.col(token_col).cast("long").alias("_tok"),
    )
    bounds = sel.agg(
        F.min("_score").alias("mn"), F.max("_score").alias("mx")
    ).collect()[0]
    spark = docs.sparkSession
    empty = spark.createDataFrame(
        [], f"{id_col} long, {score_col} double, {token_col} long"
    )
    if bounds["mn"] is None:
        return empty
    mn, mx = float(bounds["mn"]), float(bounds["mx"])
    span = mx - mn
    if span > 0:
        cell = F.least(
            F.lit(n_cells - 1),
            F.floor((F.col("_score") - F.lit(mn)) / F.lit(span) * n_cells),
        ).cast("int")
    else:
        cell = F.lit(0)
    celled = sel.withColumn("_cell", cell)
    sums = {
        r["_cell"]: r["t"]
        for r in celled.groupBy("_cell").agg(F.sum("_tok").alias("t")).collect()
    }
    cum = 0
    boundary = None
    kept_cells = []
    for c in sorted(sums, reverse=True):  # high cell = high score
        if cum + sums[c] <= budget:
            kept_cells.append(c)
            cum += sums[c]
        else:
            boundary = c
            break
    out = celled.filter(F.col("_cell").isin(kept_cells) if kept_cells else F.lit(False))
    if boundary is not None:
        w = Window.partitionBy("_cell").orderBy(
            F.col("_score").desc(), F.col(id_col).asc()
        )
        frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        edge = (
            celled.filter(F.col("_cell") == boundary)
            .withColumn("_cum", F.sum("_tok").over(frame))
            .filter(F.col("_cum") <= budget - cum)
            .drop("_cum")
        )
        out = out.unionByName(edge)
    return out.select(
        F.col(id_col),
        F.col("_score").alias(score_col),
        F.col("_tok").alias(token_col),
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, int] | None = None,
    salt: str = "split-v1",
) -> DataFrame:
    """Deterministic train/validation/test assignment by content-stable hash.

    The standard training-data split at corpus scale: NO sampling state, NO
    shuffle — each row's split is a pure function of (salt, id), so the
    assignment is reproducible across runs, cluster sizes, and engines, and
    re-running on a grown corpus never reassigns an existing id (the
    property random splits lose). ``weights`` maps split name -> integer
    percent (must sum to 100; insertion order defines the bucket layout, so
    keep it fixed across runs — the salt, not the order, is the version
    knob). Default 90/5/5.

    Pure codegen: one md5 + conv + mod, then a chained CASE over cumulative
    bucket edges. Adds a ``split`` column; drop or aggregate downstream.
    """
    if weights is None:
        weights = {"train": 90, "validation": 5, "test": 5}
    if sum(weights.values()) != 100:
        raise ValueError(f"split weights must sum to 100, got {weights}")
    bucket = hash_bucket_col(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")), 100
    )
    return df.withColumn("split", _split_case(bucket, weights))


def _split_case(bucket: Column, weights: dict[str, int]) -> Column:
    """Chained CASE over cumulative integer bucket edges."""
    edge = 0
    expr = None
    for name, w in weights.items():
        edge += w
        cond = bucket < edge
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    return expr


def group_split(
    df: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    weights: dict[str, int] | None = None,
    salt: str = "split-v1",
) -> DataFrame:
    """Leakage-safe train/validation/test split: hash the GROUP key.

    ``hash_split`` on raw document ids puts near-duplicates of the same
    page on both sides of the train/test fence — the classic eval-set
    contamination the dedup literature warns about. The fix is to split
    on the correlation unit instead: a near-dup component id, a
    registrable domain, a mirror cluster — every member of a group hashes
    to the same bucket, so a group can never straddle splits.

    NULL group (documents outside every cluster) falls back to the key
    ``solo:<id>``: singletons still spread uniformly across splits, and
    the prefix keeps them from colliding with any real group key.

    Same scale shape as ``hash_split``: pure codegen (md5 + conv + CASE),
    no shuffle, no state — reproducible across runs, engines, and
    cluster sizes, and stable under corpus growth as long as the
    clustering itself is (a doc whose component changes re-rolls).
    """
    if weights is None:
        weights = {"train": 90, "validation": 5, "test": 5}
    if sum(weights.values()) != 100:
        raise ValueError(f"split weights must sum to 100, got {weights}")
    key = F.coalesce(
        F.col(group_col).cast("string"),
        F.concat(F.lit("solo:"), F.col(id_col).cast("string")),
    )
    bucket = hash_bucket_col(F.concat(F.lit(salt + ":"), key), 100)
    return df.withColumn("split", _split_case(bucket, weights))


def split_leakage_audit(
    assign: DataFrame,
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Cross-split contamination audit.

    Joins a ``(id, split)`` assignment onto a near-dup pair set and keeps
    the pairs whose endpoints landed in different splits — each surviving
    row is a train/test leak (a test doc whose near-copy is trained on).
    Run it against ``hash_split`` output to measure the leak;
    ``group_split`` on the components makes it empty by construction.

    Two shuffled equi-joins on the id columns (the assignment is
    corpus-sized, so no broadcast); the pair set is the small side after
    LSH banding. -> (doc_a, doc_b, split_a, split_b).
    """
    sa = assign.select(
        F.col(id_col).alias(id_a), F.col(split_col).alias("split_a")
    )
    sb = assign.select(
        F.col(id_col).alias(id_b), F.col(split_col).alias("split_b")
    )
    return (
        pairs.select(id_a, id_b)
        .join(sa, id_a)
        .join(sb, id_b)
        .filter(F.col("split_a") != F.col("split_b"))
    )


def bucket_by_score(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    n_buckets: int = 3,
    labels: tuple[str, ...] | None = ("head", "middle", "tail"),
    ascending: bool = True,
    approx: bool = False,
    rel_error: float = 0.001,
) -> DataFrame:
    """Per-group equal-count score buckets — the CCNet head/middle/tail
    split (Wenzek et al. 2020: per-LANGUAGE perplexity terciles drive
    what gets kept/resampled/dropped).

    ntile(n) over (group, score, id) — the id tiebreak makes the split a
    pure function of the data, partitioning/rerun-invariant; ntile's
    earlier-tiles-get-the-remainder division is identical in Spark and
    DuckDB, so the assignment is oracle-replayable. Rows with NULL score
    are dropped (unscorable docs — CCNet drops them too); ``ascending=
    True`` puts the BEST (lowest-perplexity) docs in the first bucket.
    Two modes:
    - exact (default): ntile window — one hash exchange on the group key.
      A GROUP IS ONE WINDOW PARTITION: at web scale the dominant language
      is most of the corpus, and sorting it inside a single partition is
      the classic one-reducer bottleneck. Use exact mode for bounded
      groups (domains, shards), not raw languages at 10^12 rows.
    - approx=True (the 100 TB path): per-group approx_percentile computes
      the n_buckets-1 cut scores (one partial-agg'd exchange at GROUP
      cardinality, t-digest style sketch — no global sort anywhere), the
      tiny threshold table broadcasts back, and bucket assignment is a
      codegen comparison. Buckets are equal-count up to rel_error (and
      score ties straddle a cut), which is exactly how CCNet shards it
      in practice; rerun-deterministic (the sketch is deterministic for
      a given dataset, and assignment is a pure comparison) but NOT
      engine-replayable — exact mode keeps the DuckDB oracle.
    """
    from pyspark.sql import Window

    if labels is not None and len(labels) != n_buckets:
        raise ValueError(f"need {n_buckets} labels, got {labels}")
    scored = df.filter(F.col(score_col).isNotNull())
    if approx:
        probs = [i / n_buckets for i in range(1, n_buckets)]
        cuts = scored.groupBy(group_col).agg(
            F.percentile_approx(
                score_col, probs, int(1.0 / rel_error)
            ).alias("_cuts")
        )
        j = scored.join(F.broadcast(cuts), group_col)
        # tile = 1 + number of cuts the score has passed
        passed = F.filter(
            F.col("_cuts"),
            (lambda c: F.col(score_col) > c)
            if ascending
            else (lambda c: F.col(score_col) < c),
        )
        out = j.withColumn("tile", (F.size(passed) + 1)).drop("_cuts")
    else:
        order = (
            F.col(score_col).asc() if ascending else F.col(score_col).desc()
        )
        w = Window.partitionBy(group_col).orderBy(order, F.col(id_col))
        out = scored.withColumn("tile", F.ntile(n_buckets).over(w))
    if labels is None:
        return out.withColumnRenamed("tile", "bucket")
    expr = None
    for i, name in enumerate(labels, start=1):
        cond = F.col("tile") == i
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    return out.withColumn("bucket", expr).drop("tile")


def temperature_sampling(
    docs: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.5,
    target_total: int | None = None,
    id_col: str = "doc_id",
    salt: str = "tsamp",
) -> DataFrame:
    """Temperature-based group rebalancing (the multilingual alpha-
    sampling of XLM/XLM-R, mBERT's exponent-smoothed mixing): sampling
    weight of group g is p_g^alpha / sum_h p_h^alpha with p_g the
    group's corpus share — alpha<1 upsamples the tail, alpha=1 is
    proportional, alpha=0 uniform.

    Returns ONE ROW PER GROUP with the full audit trail AND the realized
    deterministic sample count:

      (group, n_docs, p_raw, weight, rate_ppm, expected_docs, sampled)

    * rate_g = min(weight_g * target_total / n_g, 1) is published as an
      integer parts-per-million threshold `rate_ppm` — the sampling
      decision is md5(salt:id) % 1e6 < rate_ppm, so the realized sample
      is reproducible, retry/partitioning-invariant, and exactly
      replayable by the DuckDB oracle (the stratified_sample contract).
    * target_total defaults to the corpus size (pure rebalancing).
    * alpha=0.5 (the default) computes the power as sqrt() — IEEE-exact
      and bit-identical across engines; other alphas go through pow(),
      whose last-ulp behavior is library-defined — fine for production,
      but oracle-checked queries should stick to 0.5/1.0/0.25-style
      sqrt-composable exponents.
    * NULL groups are folded to 'und' (they must still be sampled —
      dropping unlabeled docs silently would bias the mix).

    Shape at scale: ONE partial-agg groupBy over the corpus, two 1-row
    aggs on the group-sized frame, one broadcast join of per-group
    thresholds back onto the corpus for the realization count. The
    corpus shuffles zero times (the groupBy is partial-agg; the
    realization is a map-side broadcast probe + partial-agg count).
    """
    from invoice_ocr_reconciler_spark.functions.text import md5_u60
    from invoice_ocr_reconciler_spark.plans.relational import roundn

    g = F.coalesce(F.col(group_col).cast("string"), F.lit("und"))
    counts = docs.groupBy(g.alias("grp")).agg(F.count("*").alias("n_docs"))
    total = F.broadcast(counts.agg(F.sum("n_docs").alias("n_total")))
    with_p = counts.crossJoin(total).withColumn(
        "p_raw", roundn(F.col("n_docs") / F.col("n_total"), 12)
    )

    if abs(alpha - 0.5) < 1e-12:
        q = F.sqrt(F.col("p_raw"))
    elif abs(alpha - 1.0) < 1e-12:
        q = F.col("p_raw")
    else:
        q = F.pow(F.col("p_raw"), F.lit(float(alpha)))
    with_q = with_p.withColumn("q", roundn(q, 12))
    z = F.broadcast(with_q.agg(roundn(F.sum("q"), 12).alias("z")))
    tgt = (
        F.col("n_total").cast("double")
        if target_total is None
        else F.lit(float(int(target_total)))
    )
    rates = (
        with_q.crossJoin(z)
        .withColumn("weight", roundn(F.col("q") / F.col("z"), 12))
        .withColumn(
            "rate_ppm",
            F.floor(
                F.least(
                    F.col("weight") * tgt / F.col("n_docs"), F.lit(1.0)
                )
                * 1000000.0
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    decide = docs.select(
        g.alias("grp"),
        (
            md5_u60(
                F.concat(
                    F.lit(salt + ":"), F.col(id_col).cast("string")
                )
            )
            % 1000000
        ).alias("u"),
    )
    sampled = (
        decide.join(
            F.broadcast(rates.select("grp", "rate_ppm")), "grp"
        )
        .where(F.col("u") < F.col("rate_ppm"))
        .groupBy("grp")
        .agg(F.count("*").alias("sampled"))
    )
    return (
        rates.join(sampled, "grp", "left")
        .select(
            F.col("grp").alias("group"),
            "n_docs",
            roundn(F.col("p_raw"), 9).alias("p_raw"),
            roundn(F.col("weight"), 9).alias("weight"),
            "rate_ppm",
            roundn(F.col("rate_ppm") * F.col("n_docs") / 1000000.0, 6).alias(
                "expected_docs"
            ),
            F.coalesce("sampled", F.lit(0)).alias("sampled"),
        )
        .orderBy("group")
    )


def pps_systematic(
    df: DataFrame,
    weight_col: str,
    n_samples: int,
    *,
    id_col: str = "doc_id",
    bucket_width: int = 1024,
) -> DataFrame:
    """Systematic probability-proportional-to-size sampling (the classic
    survey-statistics PPS design, deterministic-start variant): walk the
    id-ordered cumulative weight line and take one unit every W/n of
    mass — every row's selection probability is proportional to its
    weight, with NO RNG (the repo-wide determinism contract; a seeded
    start would go through the hash machinery like weighted_sample).

    A row is picked floor(cum·n/W) - floor((cum-w)·n/W) times (heavy
    rows can be picked more than once — the standard PPS-with-
    replacement accounting; n_picks carries it).

    Scale shape: the global cumulative sum is NEVER a one-partition
    window — ids bucket into aligned ranges (id div bucket_width), per-
    bucket sums broadcast as cumulative offsets (the sorted_neighborhood
    global-rank idiom), local cumsum + offset = exact global cumsum.
    All selection arithmetic is exact BIGINT products and BIGINT `div`
    (no IEEE-double floor — exact up to cum*n < 2^63, i.e. total weight
    * n_samples below ~9.2e18; weights are cast to BIGINT, non-positive
    rejected). The 2^63 bound is ENFORCED at runtime: the 1-row total
    carries a raise_error guard, so overflow fails loudly instead of
    wrapping to garbage picks under non-ANSI BIGINT multiply.
    """
    from pyspark.sql import Window

    w = F.col(weight_col).cast("long")
    base = df.select(
        F.col(id_col).alias("rid"), w.alias("wgt")
    ).where(F.col("wgt") > 0)
    # BIGINT div, not double division-then-cast: exact for ids past 2^53
    bucket = F.expr(f"CAST(rid AS BIGINT) div {int(bucket_width)}")
    wb = base.withColumn("bkt", bucket)
    per = wb.groupBy("bkt").agg(F.sum("wgt").cast("long").alias("_n"))
    w_off = Window.partitionBy(F.lit(1)).orderBy("bkt")
    offsets = per.select(
        "bkt",
        F.coalesce(
            F.sum("_n").over(
                w_off.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("_off"),
    )
    n = int(n_samples)
    # fail-loud overflow gate (same precedent as pseudonymize's dense_cap):
    # the pick arithmetic is exact only while cum*n < 2^63; past it Spark's
    # non-ANSI BIGINT multiply wraps silently and n_picks turns negative/
    # garbage. Guard the 1-row total (cum <= W_total) before it broadcasts.
    _w_limit = (2**63 - 1) // max(n, 1)
    total = per.groupBy().agg(F.sum("_n").cast("long").alias("_w_total")).select(
        F.when(F.col("_w_total") <= F.lit(_w_limit), F.col("_w_total"))
        .otherwise(
            F.expr(
                "CAST(raise_error('pps_systematic: total_weight * n_samples"
                " >= 2^63 would overflow BIGINT pick arithmetic; rescale"
                " weights or lower n_samples') AS LONG)"
            )
        )
        .alias("_w_total")
    )
    w_in = Window.partitionBy("bkt").orderBy("rid")
    cum = (
        wb.join(F.broadcast(offsets), "bkt")
        .withColumn(
            "cum",
            (
                F.sum("wgt").over(
                    w_in.rowsBetween(Window.unboundedPreceding, 0)
                )
                + F.col("_off")
            ).cast("long"),
        )
        .crossJoin(F.broadcast(total))
    )
    # BIGINT `div` keeps floor(cum*n/W) exact: long/long `/` evaluates in
    # IEEE doubles, and past 2^53 the floor can land on the wrong side of
    # an exact multiple of W
    picks = F.expr(
        f"(cum * {n}L) div _w_total - ((cum - wgt) * {n}L) div _w_total"
    )
    return (
        cum.select(
            F.col("rid").alias(id_col),
            F.col("wgt").alias("weight"),
            "cum",
            picks.cast("long").alias("n_picks"),
        )
        .where(F.col("n_picks") > 0)
        .orderBy(id_col)
    )
