"""Column profiling — the data-quality summary every ingest run wants.

One job over the table produces, per column: non-null / null counts,
distinct count, and min/max rendered as strings. This is the operational
check that catches schema drift, null floods, and constant columns before
a 100 TB pipeline burns a day on poisoned input.

Plan shape: ONE wide aggregate over a single scan (all columns' stats as
parallel aggregate expressions — Catalyst computes them in one pass with
map-side partials), then a per-row explode of the 1-row result into the
long (column, stats...) layout. Exact distinct counts add one expand +
shuffle per column (Spark's multi-countDistinct planning); at corpus
scale pass ``approx_distinct=True`` to switch every distinct to the
mergeable HLL sketch (`approx_count_distinct`), which removes the expand
entirely — the documented 10^12-row mode (the same exact-vs-sketch split
as approx_distinct_users).

Cross-engine value contract: fractional min/max ride the repo's rounding
grid and a fixed-scale DECIMAL cast before the string render, so the
DuckDB oracle replays them byte-exactly; timestamps/dates/ints/strings
cast directly.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from invoice_ocr_reconciler_spark.plans.relational import roundn

_FRACTIONAL = (T.DoubleType, T.FloatType)


def _render(col: Column, dtype: T.DataType) -> Column:
    """String render of a min/max value with a cross-engine contract:
    fractional values round to the 1e-6 grid and render via DECIMAL(38,6)
    (fixed scale digits in both engines); everything else casts directly."""
    if isinstance(dtype, _FRACTIONAL):
        return roundn(col, 6).cast("decimal(38,6)").cast("string")
    return col.cast("string")


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    lang_of_interest: str = "en",
) -> DataFrame:
    """One-row corpus health report — the dashboard a 100 TB ingest run
    prints before anything expensive: volume, emptiness, exact-dup rate,
    quality and language mix, all from ONE aggregate over ONE scan.

    -> (n_docs, n_empty, total_tokens, mean_tokens, uniq_fingerprints,
        exact_dup_rate, mean_quality, lang_share): every text-derived
    input (fingerprint, token count, quality score, language prediction)
    is a codegen expression feeding parallel aggregates, so the whole
    report is one job with map-side partials — no per-metric count()
    storm. The distinct-fingerprint count is the one expand+shuffle
    (exact, matching dedup_exact's notion of duplication); fractions ride
    the 1e-6 grid. Empty docs (zero tokens) still fingerprint and count —
    they ARE corpus health signal.
    """
    from invoice_ocr_reconciler_spark.functions.text import (
        fingerprint_col,
        lang_id_cols,
        quality_score_cols,
        token_count_col,
    )

    t = F.col(text_col)
    base = docs.select(
        fingerprint_col(t).alias("_fp"),
        token_count_col(t).alias("_tok"),
        quality_score_cols(t)["quality_score"].alias("_q"),
        lang_id_cols(t)["lang_pred"].alias("_lang"),
    )
    n = F.count("*")
    uniq = F.count_distinct(F.col("_fp"))
    return base.agg(
        n.alias("n_docs"),
        F.coalesce(F.sum((F.col("_tok") == 0).cast("long")), F.lit(0)).alias(
            "n_empty"
        ),
        F.coalesce(F.sum("_tok"), F.lit(0)).alias("total_tokens"),
        F.when(n > 0, roundn(F.avg("_tok"), 6)).alias("mean_tokens"),
        uniq.alias("uniq_fingerprints"),
        F.when(n > 0, roundn(1.0 - uniq / n, 6)).alias("exact_dup_rate"),
        F.when(n > 0, roundn(F.avg("_q"), 6)).alias("mean_quality"),
        F.when(
            n > 0,
            roundn(
                F.sum((F.col("_lang") == lang_of_interest).cast("long")) / n, 6
            ),
        ).alias("lang_share"),
    )


def column_profile(
    df: DataFrame,
    cols: list[str] | None = None,
    approx_distinct: bool = False,
) -> DataFrame:
    """-> (column, n_nonnull, n_null, n_distinct, min_value, max_value),
    one row per profiled column, computed in one aggregate job.

    ``cols`` defaults to every column; ``approx_distinct=True`` swaps the
    exact distinct for the HLL sketch (rsd 2%) — the at-scale mode.
    """
    if cols is None:
        cols = [f.name for f in df.schema.fields]
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    aggs = []
    for c in cols:
        col = F.col(c)
        distinct = (
            F.approx_count_distinct(c, rsd=0.02)
            if approx_distinct
            else F.countDistinct(col)
        )
        aggs += [
            F.count(col).alias(f"{c}__nn"),
            # sum() over zero rows is NULL, not 0 — coalesce keeps the
            # empty-table profile numeric
            F.coalesce(F.sum(F.isnull(col).cast("long")), F.lit(0)).alias(
                f"{c}__nul"
            ),
            distinct.alias(f"{c}__nd"),
            _render(F.min(col), dtypes[c]).alias(f"{c}__mn"),
            _render(F.max(col), dtypes[c]).alias(f"{c}__mx"),
        ]
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__nn").alias("n_nonnull"),
                F.col(f"{c}__nul").alias("n_null"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__mn").alias("min_value"),
                F.col(f"{c}__mx").alias("max_value"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(rows).alias("p")).select("p.*")


def zipf_fit(
    docs: DataFrame, text_col: str = "text", top_n: int = 200
) -> DataFrame:
    """Zipf's-law fit of the corpus term-frequency distribution.

    Natural text follows freq(rank) ~ C / rank^s with s near 1; the fitted
    slope is a cheap corpus-health signal (template/boilerplate-dominated
    crawls flatten or steepen it, OCR noise fattens the tail). Returns ONE
    row: n_terms (vocabulary size), n_tokens, slope and intercept of the
    OLS fit of ln(freq) on ln(rank) over the ``top_n`` head terms.

    Plan: explode -> grouped count (map-side combined, the tfidf shape) ->
    global top_n (rank-desc window over ONE final partition of top_n*shards
    candidates is avoided — a simple orderBy().limit() lets Spark's
    TakeOrdered gather only top_n per partition) -> one scalar aggregate.

    Cross-engine determinism: ln() values are snapped to a 1e-6 grid and
    SCALED TO BIGINT, so every OLS sum (sum x, sum y, sum xy, sum x^2) is
    exact 64-bit integer arithmetic — no float-sum ordering noise at all;
    the final slope/intercept divide two bigints and round at 1e-6. Ranks
    are tie-broken (count desc, term asc) so the head set is unique.
    """
    toks = F.explode(
        F.filter(
            F.split(
                F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
            ),
            lambda t: t != F.lit(""),
        )
    ).alias("term")
    counts = docs.select(toks).groupBy("term").agg(F.count("*").alias("cnt"))

    vocab_stats = counts.agg(
        F.count("*").alias("n_terms"), F.sum("cnt").alias("n_tokens")
    )

    head = counts.orderBy(F.col("cnt").desc(), F.col("term")).limit(top_n)
    from pyspark.sql import Window

    ranked = head.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("cnt").desc(), F.col("term"))),
    )
    # ln snapped to 1e-6 and held as bigint: exact, order-independent sums
    xi = F.floor(F.log(F.col("rank").cast("double")) * 1e6 + 0.5).cast("bigint")
    yi = F.floor(F.log(F.col("cnt").cast("double")) * 1e6 + 0.5).cast("bigint")
    ols = ranked.select(
        xi.alias("x"), yi.alias("y")
    ).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    slope_num = (n * sxy - sx * sy).cast("double")
    slope_den = (n * sxx - sx * sx).cast("double")
    slope = slope_num / slope_den
    # intercept back on the natural-log scale: (sy - slope*sx) / n / 1e6
    intercept = (sy.cast("double") - slope * sx.cast("double")) / n / 1e6
    fit = ols.select(
        n.alias("n_fit_terms"),
        roundn(slope, 6).alias("zipf_slope"),
        roundn(intercept, 6).alias("zipf_intercept"),
    )
    return vocab_stats.crossJoin(fit).select(
        "n_terms", "n_tokens", "n_fit_terms", "zipf_slope", "zipf_intercept"
    )


def host_profile(
    docs: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
) -> DataFrame:
    """Per-host curation profile — the table per-DOMAIN filtering policy
    reads (RefinedWeb/C4 apply several cuts at domain granularity):

      n_docs, n_unique_fps, dup_rate    exact-duplicate pressure
      total_tokens, mean_tokens         volume / doc-length shape
      mean_quality                      heuristic quality mix

    ONE scan, ONE partial-agg'd groupBy(host): fingerprints, token counts
    and the quality score are all codegen column exprs computed inside
    the scan stage (corpus_report's ingredients at host granularity);
    the exchange carries per-host partials only. Exact distinct
    fingerprints per host ride a count_distinct expand — swap for an HLL
    sketch (column_profile's approx mode) past ~10^10 rows per host.

    Determinism: all three means divide exact INTEGER aggregates — the
    quality score (a 1e-4-grid float) is scaled to bigint BEFORE the sum,
    because averaging grid floats and re-rounding on a finer grid lands
    exactly on half-steps (avg of k/1e4 values hits X.5e-6 whenever
    100*sum mod n == n/2), where engine fp noise flips the digit. With
    integer sums both engines divide the SAME numbers, so the pre-round
    double is bit-identical. Grids: 1e-6 floor-half-up.
    """
    from invoice_ocr_reconciler_spark.functions.text import (
        fingerprint_col,
        quality_score_cols,
        token_count_col,
    )

    q = quality_score_cols(F.col(text_col))["quality_score"]
    base = docs.select(
        F.col(host_col).alias("host"),
        fingerprint_col(F.col(text_col)).alias("fp"),
        token_count_col(F.col(text_col)).alias("n_tokens"),
        # 1e-4-grid score -> exact bigint (q*1e4 is within 1e-9 of the
        # integer, so +0.5/floor recovers it exactly in both engines)
        F.floor(q * 1e4 + F.lit(0.5)).cast("long").alias("q4"),
    )
    agg = base.groupBy("host").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("fp").alias("n_unique_fps"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("q4").alias("qsum"),
    )
    return agg.select(
        "host",
        "n_docs",
        "n_unique_fps",
        roundn(
            F.lit(1.0) - F.col("n_unique_fps") / F.col("n_docs"), 6
        ).alias("dup_rate"),
        "total_tokens",
        roundn(F.col("total_tokens") / F.col("n_docs"), 6).alias("mean_tokens"),
        roundn(F.col("qsum") / F.col("n_docs") / F.lit(1e4), 6).alias(
            "mean_quality"
        ),
    )


def host_language_mix(
    docs: DataFrame,
    host_col: str = "host",
    lang_col: str = "lang",
) -> DataFrame:
    """Dominant language per host -> (host, n_docs, n_langs, top_lang,
    top_lang_share).

    The language-routing table: per-language pipelines (CCNet shards,
    lang-specific quality models) want host-level routing because hosts
    are overwhelmingly monolingual — a host whose top share is low is
    itself a signal (scraped/mixed content).

    Two chained partial-agg groupBys — (host, lang) counts, then ONE
    groupBy(host) where the dominant language is a max-of-struct
    ((cnt, lang)) codegen aggregate (anchor_text_index's shape: no
    window, no second sort; ties break lang-DESC, documented — flip to
    min-of-struct((-cnt, lang)) for asc ties where it matters).
    Share rides the 1e-6 grid over exact integer counts.
    """
    from invoice_ocr_reconciler_spark.plans.relational import roundn

    per = (
        docs.select(
            F.col(host_col).alias("host"),
            F.coalesce(F.col(lang_col), F.lit("")).alias("lang"),
        )
        .groupBy("host", "lang")
        .agg(F.count("*").alias("cnt"))
    )
    top = F.max(F.struct(F.col("cnt"), F.col("lang")))
    return (
        per.groupBy("host")
        .agg(
            F.sum("cnt").alias("n_docs"),
            F.count("*").alias("n_langs"),
            top.alias("_top"),
        )
        .select(
            "host",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "n_langs",
            F.col("_top.lang").alias("top_lang"),
            roundn(
                F.col("_top.cnt").cast("double") / F.col("n_docs"), 6
            ).alias("top_lang_share"),
        )
    )


def k_anonymize_agg(
    df: DataFrame,
    quasi_cols: list[str],
    *,
    k: int,
    amount_col: str,
) -> DataFrame:
    """k-anonymity suppression guard for published aggregates: group by
    the quasi-identifier columns, keep groups with >= k members verbatim,
    and collapse every smaller group into ONE suppressed bucket whose
    quasi values are '*' — so no published row describes fewer than k
    individuals. The '*' bucket itself is held to the same bar: if the
    combined suppressed mass is still below k it is NOT published (total
    suppression — the small remainder would otherwise leak a
    sub-threshold aggregate). This is the release gate a corpus-stats
    dashboard needs before per-host / per-segment metrics leave the
    cluster.

    Quasi columns are published as STRINGS (cast explicitly — the '*'
    sentinel forces a string domain; an implicit union coercion would do
    the same widening silently).

    Plan: one shuffle for the group-by (map-side partial aggs), then the
    suppressed remainder — typically a tiny fraction — re-aggregates to a
    single row (second exchange over only the small groups). Amounts are
    carried as integer cents (floor(x*100+0.5) as BIGINT) through both
    aggregations and divided once at render, so the suppressed bucket's
    total is exact integer math — identical in any engine, immune to the
    float re-rounding half-step trap.

    -> (quasi... string, n, total) with total on a fixed 2-dp render.
    """
    cents = F.floor(F.col(amount_col) * 100 + F.lit(0.5)).cast("bigint")
    g = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents).alias("_cents")
    )
    kept = g.where(F.col("n") >= k).select(
        *[F.col(c).cast("string").alias(c) for c in quasi_cols],
        "n",
        "_cents",
    )
    suppressed = (
        g.where(F.col("n") < k)
        .groupBy()
        .agg(F.sum("n").alias("n"), F.sum("_cents").alias("_cents"))
        # the bucket must itself satisfy k-anonymity; and an empty input
        # yields a null-n row that must not publish
        .where(F.col("n").isNotNull() & (F.col("n") >= k))
        .select(
            *[F.lit("*").alias(c) for c in quasi_cols], "n", "_cents"
        )
    )
    return kept.unionByName(suppressed).select(
        *quasi_cols,
        F.col("n").cast("bigint").alias("n"),
        (F.col("_cents").cast("double") / F.lit(100.0)).alias("total"),
    )


def heaps_fit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_checkpoints: int = 8,
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit V(n) ~ K * n^beta over doc-id
    order -> one row per log-spaced corpus prefix (ck, n_prefix_docs,
    n_tokens, n_types) plus the OLS fit (heaps_beta, heaps_lnk) repeated
    on every row.

    Heaps' law is the companion corpus-health signal to zipf_fit: natural
    text grows vocabulary as n^beta with beta ~ 0.4-0.6; a template-
    dominated crawl saturates (beta -> 0), OCR/mojibake noise inflates it
    (beta -> 1). The prefix curve itself (n_tokens vs n_types) is the
    artifact reviewers plot; both are exact integers.

    The distributed trick: V(n) needs a RUNNING distinct count, and a
    global cumulative window is a single-partition sort at 10^12 docs.
    Instead each term's FIRST occurrence doc (min doc_id per term — one
    partial-agg'd exchange, vocabulary-sized output) makes V(n_k) a
    plain conditional count: types with first_doc < n_k. Token prefix
    sums are the same conditional-sum trick over per-doc lengths. So the
    whole curve is TWO aggregations regardless of n_checkpoints — no
    sort, no window, no driver loop.

    Checkpoints are halving prefixes n_k = ceil(n_docs / 2^(K-1-k))
    (exact integer arithmetic, duplicates collapsed keeping the smallest
    ck), the geometric spacing a log-log fit needs. Fit determinism:
    ln() snapped to the 1e-6 bigint grid, all OLS sums exact int64, the
    zipf_fit contract. Prefixes with zero tokens/types are excluded from
    output and fit (ln undefined); degenerate fits (< 2 distinct
    checkpoints) return NULL beta.
    """
    from invoice_ocr_reconciler_spark.functions.text import tokens_col

    n_docs = docs.count()
    cks: dict[int, int] = {}
    for k in range(int(n_checkpoints)):
        d = 1 << (int(n_checkpoints) - 1 - k)
        nk = (n_docs + d - 1) // d
        if nk not in cks.values():
            cks[k] = nk
    base = docs.select(
        F.col(id_col).cast("long").alias("_id"),
        F.size(tokens_col(F.col(text_col))).alias("_dl"),
    )
    tok_row = base.agg(
        *[
            F.sum(F.when(F.col("_id") < nk, F.col("_dl")).otherwise(0))
            .cast("bigint")
            .alias(f"_tok{k}")
            for k, nk in cks.items()
        ]
    )
    first = (
        docs.select(
            F.col(id_col).cast("long").alias("_id"),
            F.explode(tokens_col(F.col(text_col))).alias("term"),
        )
        .groupBy("term")
        .agg(F.min("_id").alias("_fd"))
    )
    typ_row = first.agg(
        *[
            F.sum(F.when(F.col("_fd") < nk, 1).otherwise(0))
            .cast("bigint")
            .alias(f"_typ{k}")
            for k, nk in cks.items()
        ]
    )
    arr = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("ck"),
                F.lit(nk).cast("bigint").alias("n_prefix_docs"),
                F.col(f"_tok{k}").alias("n_tokens"),
                F.col(f"_typ{k}").alias("n_types"),
            )
            for k, nk in cks.items()
        ]
    )
    pts = (
        tok_row.crossJoin(typ_row)
        .select(F.explode(arr).alias("s"))
        .select("s.*")
        .filter((F.col("n_tokens") > 0) & (F.col("n_types") > 0))
    )
    xi = F.floor(F.log(F.col("n_tokens").cast("double")) * 1e6 + 0.5).cast(
        "bigint"
    )
    yi = F.floor(F.log(F.col("n_types").cast("double")) * 1e6 + 0.5).cast(
        "bigint"
    )
    ols = pts.select(xi.alias("x"), yi.alias("y")).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    den = (n * sxx - sx * sx).cast("double")
    slope = F.when(
        den != 0, (n * sxy - sx * sy).cast("double") / den
    )
    lnk = F.when(
        den != 0,
        (sy.cast("double") - (n * sxy - sx * sy).cast("double") / den * sx.cast("double"))
        / n
        / 1e6,
    )
    fit = ols.select(
        roundn(slope, 6).alias("heaps_beta"),
        roundn(lnk, 6).alias("heaps_lnk"),
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        "ck", "n_prefix_docs", "n_tokens", "n_types", "heaps_beta", "heaps_lnk"
    )


def ngram_diversity(
    docs: DataFrame,
    ns: tuple = (1, 2, 3),
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Distinct-n diversity per group: for each n, the corpus-level
    count of distinct word n-grams over total n-gram occurrences
    (the distinct-1/2/3 metrics of Li et al. 2016, lifted from
    per-response to per-corpus-slice). Low ratios flag template floods
    and near-duplicate bursts that per-document repetition metrics
    (repetition_cols — within-doc) cannot see; it is the cheap
    corpus-health companion to full near-dup dedup.

    Output: (group, n, total_grams, distinct_grams, distinct_ratio)
    ordered by (group, n); groups with zero grams at some n (all docs
    shorter than n tokens) still emit a row with total 0 and NULL ratio.

    Shape at scale: tokenization in a PRIOR projection (the HOF-capture
    contract), all requested n built as one array of (n, gram) structs,
    ONE explode, ONE shuffle on (group, n, gram) for the two-stage
    distinct, partial-agg rollup to (group, n). `n_distinct` planning is
    exact here; swap count_distinct for approx_count_distinct at 10^12
    rows (the column_profile approx mode contract).
    """
    from invoice_ocr_reconciler_spark.functions.text import (
        _word_ngrams,
        tokens_col,
    )

    g = F.coalesce(F.col(group_col).cast("string"), F.lit("und"))
    toked = docs.select(
        g.alias("grp"), tokens_col(F.col(text_col)).alias("toks")
    )
    def _tagged(n: int):
        # closure (not a default arg): a 2-arg lambda would make pyspark
        # bind the element INDEX to the second parameter
        nn = int(n)
        return F.transform(
            _word_ngrams(F.col("toks"), nn),
            lambda gr: F.struct(F.lit(nn).alias("n"), gr.alias("gram")),
        )

    parts = [_tagged(n) for n in ns]
    exploded = toked.select(
        "grp", F.explode_outer(F.concat(*parts)).alias("ng")
    ).select("grp", F.col("ng.n").alias("n"), F.col("ng.gram").alias("gram"))
    stats = (
        exploded.where(F.col("n").isNotNull())
        .groupBy("grp", "n")
        .agg(
            F.count("*").alias("total_grams"),
            F.count_distinct("gram").alias("distinct_grams"),
        )
    )
    # groups whose docs are all shorter than n tokens: emit the zero row
    grid = (
        toked.select("grp")
        .distinct()
        .crossJoin(
            toked.sparkSession.createDataFrame(
                [(int(n),) for n in ns], "n int"
            )
        )
    )
    return (
        grid.join(stats, ["grp", "n"], "left")
        .select(
            F.col("grp").alias("group"),
            "n",
            F.coalesce("total_grams", F.lit(0)).alias("total_grams"),
            F.coalesce("distinct_grams", F.lit(0)).alias("distinct_grams"),
            F.when(
                F.col("total_grams") > 0,
                roundn(F.col("distinct_grams") / F.col("total_grams"), 9),
            ).alias("distinct_ratio"),
        )
        .orderBy("group", "n")
    )


def bootstrap_ci(
    items: DataFrame,
    value_col: str,
    id_col: str = "doc_id",
    b_resamples: int = 200,
    ci: float = 0.95,
    salt: str = "boot",
    places: int = 6,
) -> DataFrame:
    """Seeded nonparametric bootstrap CI for the mean of `value_col` —
    the error bar every corpus metric (quality score, extraction F1,
    dedup rate) should ship with instead of a bare point estimate.

    Determinism contract: resample draws come from md5(salt:b:j) % n
    (reproducible, partitioning/retry-invariant — the stratified_sample
    hash contract), items are indexed by row_number over id, and means
    are ranked by their EXACT integer/decimal sums (percentiles via
    nearest-rank on (sum, b) — no floating comparator), so the DuckDB
    oracle replays the whole procedure value-for-value. Use integer-grid
    values (counts, cents, 1e4-scaled scores) for bit-exact CIs.

    Output: ONE row — (n_items, b_resamples, point_mean, ci_lo, ci_hi)
    on the `places` rounding grid; NULL stats when the input is empty.

    Shape at scale: the indexed item table is eval-set-sized (bootstrap
    CIs are for bounded evaluation/probe sets — the global row_number
    sort is the documented bound, not a corpus-scale op); draws are a
    B x n range product joined to items on the picked index (one
    shuffle), then a B-row rollup + B-row rank window.
    """
    from invoice_ocr_reconciler_spark.functions.text import md5_u60

    spark = items.sparkSession
    n = items.count()
    b = int(b_resamples)
    empty_row = spark.createDataFrame(
        [(0, b, None, None, None)],
        "n_items long, b_resamples int, point_mean double, "
        "ci_lo double, ci_hi double",
    )
    if n == 0:
        return empty_row
    idxw = Window.orderBy(F.col(id_col))
    indexed = items.select(
        (F.row_number().over(idxw) - 1).alias("idx"),
        F.col(value_col).cast("double").alias("v"),
    )
    draws = (
        spark.range(b)
        .select((F.col("id") + 1).alias("b"))
        .select(
            "b", F.explode(F.sequence(F.lit(0), F.lit(int(n) - 1))).alias("j")
        )
        .select(
            "b",
            (
                md5_u60(
                    F.concat_ws(
                        ":", F.lit(salt), F.col("b"), F.col("j")
                    )
                )
                % int(n)
            ).alias("idx"),
        )
    )
    sums = (
        draws.join(indexed, "idx")
        .groupBy("b")
        .agg(F.sum("v").alias("s"))
    )
    # nearest-rank percentiles over the B-row frame; rank ties broken by
    # b so both engines pick the identical resample
    # snap the rank products to the 1e-9 grid before ceil: (1.0-0.95)/2
    # is 0.025000000000000022 in IEEE, and ceil(5.000000000000004) = 6
    # would silently shift the nearest-rank pick off the intended 5
    alpha = (1.0 - float(ci)) / 2.0
    lo_rank = max(1, math.ceil(round(alpha * b, 9)))
    hi_rank = min(b, math.ceil(round((1.0 - alpha) * b, 9)))
    rw = Window.orderBy(F.col("s"), F.col("b"))
    ranked = sums.withColumn("r", F.row_number().over(rw))
    bounds = (
        ranked.where(F.col("r").isin(lo_rank, hi_rank))
        .groupBy()
        .agg(
            F.min(F.when(F.col("r") == lo_rank, F.col("s"))).alias("s_lo"),
            F.min(F.when(F.col("r") == hi_rank, F.col("s"))).alias("s_hi"),
        )
    )
    point = items.agg(F.sum(F.col(value_col).cast("double")).alias("s_pt"))
    return (
        point.crossJoin(bounds)
        .select(
            F.lit(int(n)).alias("n_items"),
            F.lit(b).alias("b_resamples"),
            roundn(F.col("s_pt") / n, places).alias("point_mean"),
            roundn(F.col("s_lo") / n, places).alias("ci_lo"),
            roundn(F.col("s_hi") / n, places).alias("ci_hi"),
        )
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Spearman rank correlation between two scores, per group ->
    (group..., n, sx2, sy2, sxy4, sxx4, syy4, rho).

    The monotone-agreement gate between two quality signals (e.g. the
    bigram-LM perplexity vs the NB classifier llr, or two extractor
    scores): Pearson on values rewards linearity, Spearman on ranks
    rewards the thing a threshold cut actually uses — order.

    Exactness contract: tie-averaged ranks are half-integers, so the
    op carries DOUBLED ranks  r2 = 2*rank_min + (ties - 1)  as exact
    BIGINTs; the published pools are  sx2 = sum r2x,  sxy4 = sum
    r2x*r2y,  sxx4 = sum r2x^2  (and y twins) — all integer — and

        rho = (n*sxy4 - sx2*sy2)
              / (sqrt(n*sxx4 - sx2^2) * sqrt(n*syy4 - sy2^2))

    is the only float: BIGINT products + two IEEE sqrts (the
    temperature_sampling sqrt contract). NULL when a side is constant
    (zero rank variance). Rows with a NULL on either side are dropped.
    Bounded-input bound (the ARI/kappa precedent, documented not
    silent): n*sxx4 <= 4n^4 stays under 2^63 for n <= ~38k rows per
    group — the labeled-eval-slice scale this op grades; shard larger
    groups upstream.

    Plan shape: two rank windows (one sort per variable, partitioned by
    the group — never corpus-global when grouped), tie counts via a
    count window over (group, value), then ONE partial-agg groupBy for
    the five moment pools.
    """
    gb = [F.col(c) for c in group_cols]
    xv, yv = F.col(x_col), F.col(y_col)
    base = df.where(xv.isNotNull() & yv.isNotNull()).select(
        *group_cols, xv.alias("_x"), yv.alias("_y")
    )

    def r2(col: str) -> Column:
        wr = Window.partitionBy(*gb).orderBy(F.col(col).asc())
        wt = Window.partitionBy(*gb, F.col(col))
        return (
            F.lit(2) * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1
        ).cast("long")

    ranked = base.select(
        *group_cols, r2("_x").alias("r2x"), r2("_y").alias("r2y")
    )
    pooled = ranked.groupBy(*gb).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r2x").cast("long").alias("sx2"),
        F.sum("r2y").cast("long").alias("sy2"),
        F.sum(F.col("r2x") * F.col("r2y")).cast("long").alias("sxy4"),
        F.sum(F.col("r2x") * F.col("r2x")).cast("long").alias("sxx4"),
        F.sum(F.col("r2y") * F.col("r2y")).cast("long").alias("syy4"),
    )
    vx = F.col("n") * F.col("sxx4") - F.col("sx2") * F.col("sx2")
    vy = F.col("n") * F.col("syy4") - F.col("sy2") * F.col("sy2")
    cov = F.col("n") * F.col("sxy4") - F.col("sx2") * F.col("sy2")
    return pooled.select(
        *group_cols,
        "n", "sx2", "sy2", "sxy4", "sxx4", "syy4",
        F.when(
            (vx > 0) & (vy > 0),
            cov.cast("double")
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
        ).alias("rho"),
    )


def good_turing(
    docs: DataFrame,
    *,
    text_col: str = "text",
    max_r: int = 10,
) -> DataFrame:
    """Good–Turing frequency-of-frequencies profile of the corpus unigram
    distribution (Good 1953; Gale & Sampson 1995 simple GT): for each
    observed count r, N_r = number of distinct terms seen exactly r times,
    the smoothed count r* = (r+1)·N_{r+1}/N_r, and the probability mass
    observed at r. Row r=0 is the Turing estimate of the UNSEEN mass,
    p0 = N_1/N — the standard "how much vocabulary is the corpus still
    missing" health signal for a growing crawl (complements heaps_fit's
    growth-curve view).

    Plan: one explode -> grouped term counts (map-side combined), then a
    count-of-counts groupBy whose output is at most |distinct counts| rows
    — driver-tiny at any corpus scale — and a broadcast self-join on r+1
    (NOT a lead() window: frequency gaps mean the next row is not r+1).
    All ratios are single divides of exact BIGINTs rounded on the 6/9
    grid, so DuckDB replays every value bit-for-bit.
    """
    from invoice_ocr_reconciler_spark.functions.text import tokens_col

    toks = docs.select(F.explode(tokens_col(F.col(text_col))).alias("tok"))
    tc = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ff = tc.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("n_r"))
    total = toks.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_tok"))

    nxt = ff.select(
        (F.col("c") - 1).alias("c"), F.col("n_r").alias("n_next")
    )
    seen = (
        ff.where(F.col("c") <= int(max_r))
        .join(F.broadcast(nxt), "c", "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("c").cast("int").alias("r"),
            "n_r",
            F.coalesce("n_next", F.lit(0).cast("long")).alias("n_next"),
            roundn(
                (F.col("c") + 1)
                * F.coalesce("n_next", F.lit(0).cast("long"))
                / F.col("n_r"),
                6,
            ).alias("r_star"),
            roundn(
                F.col("c") * F.col("n_r") / F.nullif("n_tok", F.lit(0)), 9
            ).alias("p_mass"),
        )
    )
    n1 = ff.where(F.col("c") == 1).select(F.col("n_r").alias("n_next"))
    unseen = (
        total.join(F.broadcast(n1), how="left")
        .select(
            F.lit(0).alias("r"),
            F.lit(0).cast("long").alias("n_r"),
            F.coalesce("n_next", F.lit(0).cast("long")).alias("n_next"),
            F.lit(None).cast("double").alias("r_star"),
            roundn(
                F.coalesce("n_next", F.lit(0).cast("long"))
                / F.nullif("n_tok", F.lit(0)),
                9,
            ).alias("p_mass"),
        )
    )
    return unseen.unionByName(seen).orderBy("r")


def distinctive_terms(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    top_k: int = 10,
    min_count: int = 3,
) -> DataFrame:
    """Per-group distinctive vocabulary by add-one smoothed relative risk:

        rr(t, g) = ((k_g + 1) / (N_g + V)) / ((k_rest + 1) / (N_rest + V))

    — the "what words characterize this source/domain/cluster" pass
    (the counting core of Monroe et al. 2008 fightin'-words, with the
    log dropped: log is monotone, so the RANKING is identical and the
    statistic stays a single divide of two exact BIGINT products — no
    libm, the collocations contract; at counts beyond 2^53 switch to
    log space and accept grid rounding).

    Plan: one explode -> (group, term) counts; term totals re-aggregated
    from those partials (vocabulary-sized, broadcast); group totals and
    the (V, N) scalars ride broadcasts; one per-group top-k window on the
    deterministic (rr desc, term asc) order.
    """
    from invoice_ocr_reconciler_spark.functions.text import tokens_col

    gt = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens_col(F.col(text_col))).alias("tok"),
    )
    gc = gt.groupBy("grp", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("k_g")
    )
    tot_t = gc.groupBy("tok").agg(F.sum("k_g").cast("long").alias("k_all"))
    tot_g = gc.groupBy("grp").agg(F.sum("k_g").cast("long").alias("n_g"))
    scal = tot_t.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("k_all").cast("long").alias("n_all"),
    )
    base = (
        gc.where(F.col("k_g") >= int(min_count))
        .join(F.broadcast(tot_t), "tok")
        .join(F.broadcast(tot_g), "grp")
        .crossJoin(F.broadcast(scal))
    )
    k_rest = F.col("k_all") - F.col("k_g")
    n_rest = F.col("n_all") - F.col("n_g")
    rr = (
        (F.col("k_g") + 1) * (n_rest + F.col("v"))
    ) / ((k_rest + 1) * (F.col("n_g") + F.col("v")))
    scored = base.select(
        F.col("grp").alias(group_col),
        F.col("tok").alias("term"),
        "k_g",
        k_rest.alias("k_rest"),
        roundn(rr, 6).alias("rr"),
        rr.alias("_rr_exact"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("_rr_exact").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(top_k))
        .drop("_rr_exact")
        .orderBy(group_col, "rank")
    )


def eb_host_quality(
    docs: DataFrame,
    bad_col: Column,
    *,
    group_col: str = "source",
    alpha: float = 2.0,
    beta: float = 18.0,
) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-host quality
    rates — the per-domain spam/quality prior every crawl curation uses.
    A host with 3 bad docs out of 4 must NOT outrank a host with 200 bad
    out of 1000 on raw rate; shrinking toward a Beta(alpha, beta) prior
    (mean alpha/(alpha+beta)) makes small hosts pay for their evidence:

        eb_rate  = (k + alpha) / (n + alpha + beta)
        shrink_w = n / (n + alpha + beta)    (how much the data is trusted)

    alpha/beta are caller literals, fitted offline (the linkage-band m/u
    contract: fixed published priors keep the whole op one conditional
    aggregate + a codegen projection — ONE shuffle, no Python, and every
    value a single divide replayed exactly by the oracle).
    """
    agg = (
        docs.select(
            F.col(group_col).alias("grp"),
            bad_col.cast("int").alias("bad"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("bad").cast("long").alias("n_bad"),
        )
    )
    a, b = float(alpha), float(beta)
    eb = (F.col("n_bad") + F.lit(a)) / (F.col("n_docs") + F.lit(a + b))
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_bad",
        roundn(F.col("n_bad") / F.col("n_docs"), 6).alias("raw_rate"),
        roundn(eb, 6).alias("eb_rate"),
        roundn(
            F.col("n_docs") / (F.col("n_docs") + F.lit(a + b)), 6
        ).alias("shrink_w"),
        eb.alias("_eb_exact"),
    ).orderBy(F.col("_eb_exact").desc(), group_col).drop("_eb_exact")


def chao_richness(
    docs: DataFrame,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Chao1 vocabulary-richness estimate + Good's sample coverage — ONE
    row answering "how much vocabulary has this crawl not seen yet":

        chao1    = V + N1*(N1-1) / (2*(N2+1))   (bias-corrected Chao 1984)
        coverage = 1 - N1/N                      (Good 1953)

    Same count-of-counts core as good_turing (the frame is driver-tiny at
    any corpus size); the bias-corrected chao1 form is total (no zero
    denominator when N2=0). Exact BIGINT products on the 4/9 grids.
    """
    from invoice_ocr_reconciler_spark.functions.text import tokens_col

    toks = docs.select(F.explode(tokens_col(F.col(text_col))).alias("tok"))
    tc = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ff = tc.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("v_obs"),
        F.sum("c").cast("long").alias("n_tok"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    return ff.select(
        "v_obs",
        "n_tok",
        "n1",
        "n2",
        roundn(
            F.col("v_obs")
            + F.col("n1") * (F.col("n1") - 1) / (2 * (F.col("n2") + 1)),
            4,
        ).alias("chao1"),
        roundn(
            F.lit(1.0) - F.col("n1") / F.nullif("n_tok", F.lit(0)), 9
        ).alias("coverage"),
    )


def kaplan_meier(
    df: DataFrame,
    *,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Kaplan–Meier survival curve with right-censoring — content-decay
    analysis for a recrawl pipeline: duration = how long a page lived
    (first seen -> last seen), event = 1 if it actually died (content
    gone), 0 if still alive at the last crawl (censored). S(t) answers
    "what fraction of content survives t days", which sets revisit
    cadence and cache TTLs.

        S(t_k) = prod_{i<=k} (n_i - d_i) / n_i

    n_i = at risk just before t_i, d_i = deaths at t_i. The curve frame
    is one row per DISTINCT duration — time-bounded (days, not rows), so
    the single-partition window over it is driver-sized by construction
    (the funnel_summary K-row contract). The product rides the lm_score
    ln-grid contract: ln(factor) on the 1e-9 grid, summed over the
    ORDERED window (fixed addition order on both engines), exp at the
    end on the 6-grid; a step where everyone at risk dies pins S to
    exactly 0.0 from then on (no ln(0)).
    """
    per = (
        df.select(
            F.col(duration_col).cast("long").alias("t"),
            F.col(event_col).cast("int").alias("e"),
        )
        .groupBy("t")
        .agg(
            F.sum("e").cast("long").alias("d"),
            F.sum(1 - F.col("e")).cast("long").alias("c"),
        )
    )
    total = df.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    w = Window.partitionBy(F.lit(1)).orderBy("t")
    prior = F.coalesce(
        F.sum(F.col("d") + F.col("c")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0).cast("long"),
    )
    base = per.crossJoin(F.broadcast(total)).select(
        "t",
        "d",
        "c",
        (F.col("n_all") - prior).alias("n_risk"),
    )
    factor = (F.col("n_risk") - F.col("d")) / F.col("n_risk")
    lnf = F.when(
        F.col("d") < F.col("n_risk"), roundn(F.log(factor), 9)
    ).otherwise(F.lit(None).cast("double"))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stepped = base.select(
        "t",
        "n_risk",
        "d",
        "c",
        lnf.alias("_lnf"),
        F.max((F.col("d") >= F.col("n_risk")).cast("int")).over(wc).alias(
            "_dead"
        ),
        F.sum(lnf).over(wc).alias("_lnsum"),
    )
    return stepped.select(
        "t",
        "n_risk",
        "d",
        "c",
        F.when(F.col("_dead") == 1, F.lit(0.0))
        .otherwise(roundn(F.exp(F.col("_lnsum")), 6))
        .alias("survival"),
    ).orderBy("t")


def chi2_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Per-cell chi-square contributions for independence of two
    categorical columns — the corpus-health cross-check ("is language
    independent of source?", "is quality flag independent of host?").

        e_ab = n_a * n_b / N ;  contrib = (o_ab - e_ab)^2 / e_ab

    One groupBy for cells; margins are re-aggregations of the cell frame
    (category-sized, broadcast). Expected/contrib are fixed-order double
    expressions over exact BIGINTs (squares via x*x, no pow), so both
    engines produce identical values onto the 6-grid.
    """
    cells = (
        df.select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    ma = cells.groupBy("a").agg(F.sum("o").cast("long").alias("n_a"))
    mb = cells.groupBy("b").agg(F.sum("o").cast("long").alias("n_b"))
    nn = cells.groupBy().agg(F.sum("o").cast("long").alias("n_all"))
    e = F.col("n_a") * F.col("n_b") / F.col("n_all")
    diff = F.col("o") - F.col("n_a") * F.col("n_b") / F.col("n_all")
    return (
        cells.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("a").alias(col_a),
            F.col("b").alias(col_b),
            "o",
            roundn(e, 6).alias("expected"),
            roundn(diff * diff / e, 6).alias("contrib"),
        )
        .orderBy(col_a, col_b)
    )


def concentration_metrics(
    df: DataFrame,
    *,
    group_col: str = "source",
    top_shares: tuple[int, ...] = (1, 10),
) -> DataFrame:
    """Corpus concentration over a grouping key — ONE row of inequality
    metrics answering "is this crawl dominated by a few hosts?":

        hhi  = sum over groups of (n_g / N)^2     (Herfindahl–Hirschman)
        gini = sum_g (2·rank_g - G - 1)·n_g / (G·N)   (ranks ascending)
        top{k}_share = share of the k largest groups

    Everything reduces to exact BIGINT sums: the Gini numerator is an
    integer (ranks are dense over the SORTED group-count frame, ties
    broken by key so both engines rank identically — equal counts
    contribute the same SUM either way, so the tie order cannot change
    the value), HHI's numerator is a sum of squares below 2^53 for any
    real host distribution, and shares divide two BIGINTs. The group
    frame is |groups| rows (host-bounded), so its single-partition
    window is driver-sized by construction.
    """
    g = (
        df.select(F.col(group_col).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy(F.lit(1)).orderBy(F.col("n"), F.col("g"))
    wd = Window.partitionBy(F.lit(1)).orderBy(
        F.col("n").desc(), F.col("g")
    )
    ranked = g.select(
        "n",
        F.row_number().over(w).cast("long").alias("r"),
        F.row_number().over(wd).cast("long").alias("rd"),
    )
    agg = ranked.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_sq"),
        F.sum(F.col("n") * (2 * F.col("r"))).cast("long").alias("wsum"),
        *[
            F.sum(F.when(F.col("rd") <= k, F.col("n")).otherwise(0))
            .cast("long")
            .alias(f"_top{k}")
            for k in top_shares
        ],
    )
    gini = (
        F.col("wsum") - (F.col("n_groups") + 1) * F.col("n_total")
    ) / (F.col("n_groups") * F.col("n_total"))
    return agg.select(
        "n_groups",
        "n_total",
        roundn(F.col("sum_sq") / (F.col("n_total") * F.col("n_total")), 9)
        .alias("hhi"),
        roundn(gini, 9).alias("gini"),
        *[
            roundn(F.col(f"_top{k}") / F.col("n_total"), 6).alias(
                f"top{k}_share"
            )
            for k in top_shares
        ],
    )


# log10(1 + 1/d) snapped to 12 decimals — LITERALS, not libm calls, so
# both engines use bit-identical constants
_BENFORD_P = {
    1: 0.301029995664, 2: 0.176091259056, 3: 0.124938736608,
    4: 0.096910013008, 5: 0.079181246048, 6: 0.066946789631,
    7: 0.057991946978, 8: 0.051152522447, 9: 0.045757490561,
}


def benford_first_digit(
    df: DataFrame,
    amount_col: str,
) -> DataFrame:
    """Benford's-law first-significant-digit screen (Newcomb 1881;
    Benford 1938; Nigrini's fraud-audit standard): natural multi-scale
    amounts follow P(d) = log10(1+1/d); fabricated or constrained
    figures don't — THE classic forensic test for exactly this repo's
    invoice-amount domain.

    Digit extraction is string-exact (amount -> DECIMAL(18,2) string ->
    first [1-9]), never floor(x/10^floor(log10 x)) — no libm in the
    digit path and no float-boundary drift; the reference probabilities
    are 12-decimal literals, so expected counts and chi-square
    contributions are fixed-order double expressions both engines
    reproduce exactly. Non-positive/NULL amounts are excluded (Benford
    applies to positive quantities; report them upstream).

    Output: one row per digit 1-9 (digits with zero observations
    included): (digit, n, frac, p_expected, expected, chi2_contrib).
    """
    amt = F.col(amount_col).cast("double")
    s = amt.cast("decimal(18,2)").cast("string")
    digit = F.regexp_extract(s, "[1-9]", 0)
    obs = (
        df.where(amt > 0)
        .select(digit.alias("ds"))
        .where(F.col("ds") != "")
        .groupBy("ds")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    spark = df.sparkSession
    digits = spark.range(1, 10).select(
        F.col("id").cast("int").alias("digit"),
        F.col("id").cast("string").alias("ds"),
    )
    tot = obs.groupBy().agg(F.sum("n").cast("long").alias("n_tot"))
    p_expr = F.element_at(
        F.array(*[F.lit(_BENFORD_P[d]) for d in range(1, 10)]),
        F.col("digit"),
    )
    joined = (
        digits.join(obs, "ds", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0).cast("long")).alias("n"),
            "n_tot",
            p_expr.alias("p_expected"),
        )
    )
    expected = F.col("n_tot") * F.col("p_expected")
    diff = F.col("n") - F.col("n_tot") * F.col("p_expected")
    return joined.select(
        "digit",
        "n",
        roundn(F.col("n") / F.col("n_tot"), 6).alias("frac"),
        "p_expected",
        roundn(expected, 4).alias("expected"),
        roundn(diff * diff / expected, 6).alias("chi2_contrib"),
    ).orderBy("digit")


def amount_anomalies(
    df: DataFrame,
    amount_col: str,
    *,
    threshold: float = 5000.0,
    band_frac: float = 0.02,
) -> DataFrame:
    """Round-number bias + approval-threshold bunching — the two
    companion screens to the Benford digit test (Nigrini's number-
    duplication / threshold tests): fabricated amounts over-use round
    figures, and amounts engineered to dodge an approval limit bunch
    JUST BELOW it (count just-below vs just-above the threshold band).

    Cents are judged on the DECIMAL(18,2) string (never fmod on doubles
    — 0.1-step floats don't fmod cleanly); multiples of 100/1000 are
    integer checks on the cent value. ONE conditional aggregate row.
    """
    amt = F.col(amount_col).cast("double")
    pos = F.when(amt > 0, amt)
    s = pos.cast("decimal(18,2)").cast("string")
    cents_00 = F.endswith(s, F.lit(".00"))
    cents = pos.cast("decimal(18,2)") * 100
    cents_l = cents.cast("long")
    mult_100 = cents_00 & (cents_l % 10000 == 0)
    mult_1000 = cents_00 & (cents_l % 100000 == 0)
    lo = float(threshold) * (1.0 - float(band_frac))
    hi = float(threshold) * (1.0 + float(band_frac))
    below = (pos >= lo) & (pos < float(threshold))
    above = (pos >= float(threshold)) & (pos < hi)

    def cnt(c):
        return F.sum(F.when(c, 1).otherwise(0)).cast("long")

    agg = df.groupBy().agg(
        F.count(pos).cast("long").alias("n_pos"),
        cnt(cents_00).alias("n_cents_00"),
        cnt(mult_100).alias("n_mult_100"),
        cnt(mult_1000).alias("n_mult_1000"),
        cnt(below).alias("n_just_below"),
        cnt(above).alias("n_just_above"),
    )
    return agg.select(
        "n_pos",
        "n_cents_00",
        "n_mult_100",
        "n_mult_1000",
        "n_just_below",
        "n_just_above",
        roundn(F.col("n_cents_00") / F.nullif("n_pos", F.lit(0)), 6).alias(
            "frac_cents_00"
        ),
        roundn(
            F.col("n_just_below")
            / F.nullif(F.col("n_just_below") + F.col("n_just_above"), F.lit(0)),
            6,
        ).alias("below_share"),
    )


def benford_by_group(
    df: DataFrame,
    amount_col: str,
    group_col: str,
    *,
    min_n: int = 20,
) -> DataFrame:
    """Per-group Benford deviation ranking — which vendor/host/source
    looks fabricated: the digit test of benford_first_digit computed per
    group with ONE conditional aggregate (9 count columns, no pivot
    shuffle) and the chi-square total assembled as a FIXED-ORDER sum of
    the 9 per-digit terms (never a groupBy sum over exploded digit rows,
    whose float addition order is engine-dependent). Groups with fewer
    than `min_n` positive amounts are dropped (the test is meaningless
    on tiny samples). Ordered worst-first (chi2 desc, group asc).
    """
    amt = F.col(amount_col).cast("double")
    s = F.when(amt > 0, amt).cast("decimal(18,2)").cast("string")
    dg = F.regexp_extract(s, "[1-9]", 0)
    aggs = [
        F.sum(F.when(F.col("_d") == str(d), 1).otherwise(0))
        .cast("long")
        .alias(f"n{d}")
        for d in range(1, 10)
    ]
    g = (
        df.select(F.col(group_col).alias("grp"), dg.alias("_d"))
        .where(F.col("_d") != "")
        .groupBy("grp")
        .agg(*aggs)
    )
    n_tot = sum((F.col(f"n{d}") for d in range(2, 10)), F.col("n1"))
    terms = None
    for d in range(1, 10):
        e = n_tot * F.lit(_BENFORD_P[d])
        t = (F.col(f"n{d}") - e) * (F.col(f"n{d}") - e) / e
        terms = t if terms is None else terms + t
    out = g.select(
        F.col("grp").alias(group_col),
        n_tot.cast("long").alias("n"),
        *[F.col(f"n{d}") for d in range(1, 10)],
        roundn(terms, 6).alias("chi2"),
    ).where(F.col("n") >= int(min_n))
    return out.orderBy(F.col("chi2").desc(), group_col)
