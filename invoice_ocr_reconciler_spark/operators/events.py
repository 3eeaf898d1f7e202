"""Event-stream batch operators: gap sessionization and a scalable as-of join.

Both are single-shuffle plans over the event key (user_id): sessionization is
two stacked window functions over one sort, and the as-of join uses the
union-and-carry-forward pattern — tag both sides, union, one window
`last(ignorenulls)` — instead of a range join, so there is no pair explosion
and no BroadcastNestedLoopJoin at any scale. Per-key skew is bounded by that
key's own event count (the same bound a range join would hit, without the
quadratic candidate set).

The as-of semantics match DuckDB's ASOF LEFT JOIN (greatest right.ts <=
left.ts per key), which is exactly how the `asof_enrich` oracle replays it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    events: DataFrame,
    gap_minutes: float = 30.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since the
    user's previous event exceeds `gap_minutes`.

    Adds (session_seq, session_id). One shuffle on user_id; both windows
    share the same partitioning + sort, so Catalyst plans a single exchange
    and a single sort.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    gap_sec = float(gap_minutes) * 60.0
    prev_ts = F.lag(ts_col).over(w)
    # timestampdiff works for TIMESTAMP and TIMESTAMP_NTZ alike
    is_new = F.when(
        prev_ts.isNull()
        | (
            F.timestamp_diff("MICROSECOND", prev_ts, F.col(ts_col))
            > int(gap_sec * 1_000_000)
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    seq = F.sum(is_new).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.withColumn("session_seq", seq).withColumn(
        "session_id",
        F.concat_ws("-", F.col(user_col).cast("string"), F.col("session_seq")),
    )


def session_stats(
    events: DataFrame,
    gap_minutes: float = 30.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-session rollup over sessionize(): bounds, duration, event count,
    value sum. Reuses the sessionize shuffle — groupBy re-partitions on
    (user, session_seq) which is a strict refinement of the window key."""
    s = sessionize(events, gap_minutes, user_col=user_col, ts_col=ts_col)
    return s.groupBy(user_col, "session_seq", "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (
            F.timestamp_diff("MICROSECOND", F.min(ts_col), F.max(ts_col))
            / 1_000_000.0
        ).alias("duration_sec"),
        F.count("*").alias("n_events"),
        F.round(F.sum(value_col), 2).alias("value_sum"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    right_cols: tuple = ("event_id", "value"),
    right_prefix: str = "asof_",
    tolerance_sec: float | None = None,
) -> DataFrame:
    """As-of LEFT join: for each left row, the right row with the greatest
    ts <= left.ts for the same key (DuckDB `ASOF LEFT JOIN` semantics).

    Plan: tag sides, union on (key, ts), carry the right payload forward
    with one `last(ignorenulls)` window — a single exchange + sort, linear
    in |left| + |right|. Right-side ts ties are broken deterministically by
    the order of `right_cols[0]` (highest wins), matching a pre-deduped
    right side.

    `tolerance_sec` optionally voids matches older than the window
    (left.ts - right.ts > tolerance -> null payload), applied as a plain
    post-filter column expression.
    """
    payload = list(right_cols)
    rtypes = dict(right.dtypes)
    ltypes = dict(left.dtypes)
    lcols = list(left.columns)
    # side marker orders right rows BEFORE a left row at the same (key, ts):
    # the as-of predicate is inclusive (right.ts <= left.ts). Left columns
    # ride the union as nulls on right rows — no join-back on a synthetic
    # row id, so the whole operator is ONE exchange + sort.
    r = right.select(
        F.col(key_col).alias("_k"),
        F.col(ts_col).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(ltypes[c]).alias(f"_l_{c}") for c in lcols],
        *[F.col(c).alias(f"_r_{c}") for c in payload],
    )
    l = left.select(
        F.col(key_col).alias("_k"),
        F.col(ts_col).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.col(c).alias(f"_l_{c}") for c in lcols],
        *[F.lit(None).cast(rtypes[c]).alias(f"_r_{c}") for c in payload],
    )
    # order within ties: right rows by ascending first payload col (native
    # ordering, works for any orderable type) so the LAST carried value is
    # the highest-ordered right row at that ts. nulls_FIRST is the
    # load-bearing half: with nulls_last a right row whose payload[0] is
    # NULL would sort after every non-null same-ts row and win the carry —
    # "highest wins" must mean highest NON-NULL, and among several
    # all-null-key rows the window order (hence the carried row) would be
    # nondeterministic besides. Left rows are unaffected either way: the
    # _side flag already orders them after every same-ts right row.
    order_tie = F.col(f"_r_{payload[0]}").asc_nulls_first()
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side", order_tie)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry the whole right row as ONE struct: per-column last(ignorenulls)
    # would mix fields from DIFFERENT right rows whenever a payload column
    # is null on the nearest row (a non-null value from an older row leaks
    # forward for that column only). The struct is null exactly on left
    # rows, so last(ignorenulls) lands on the true nearest right row —
    # null payload fields and all.
    r_struct = F.when(
        F.col("_side") == 0,
        F.struct(
            *[F.col(f"_r_{c}").alias(c) for c in payload],
            F.col("_ts").alias("__rts"),
        ),
    )
    carried = (
        l.unionByName(r)
        .select(
            "_side",
            "_ts",
            *[F.col(f"_l_{c}") for c in lcols],
            F.last(r_struct, ignorenulls=True).over(w).alias("_c"),
        )
        .select(
            "_side",
            "_ts",
            *[F.col(f"_l_{c}") for c in lcols],
            *[F.col("_c").getField(c).alias(f"_c_{c}") for c in payload],
            F.col("_c").getField("__rts").alias("_c_ts"),
        )
        .filter(F.col("_side") == 1)
    )
    in_tol: Column = F.lit(True)
    if tolerance_sec is not None:
        tol_us = int(tolerance_sec * 1_000_000)
        in_tol = F.timestamp_diff("MICROSECOND", F.col("_c_ts"), F.col("_ts")) <= tol_us
    return carried.select(
        *[F.col(f"_l_{c}").alias(c) for c in lcols],
        *[
            F.when(in_tol, F.col(f"_c_{c}")).alias(f"{right_prefix}{c}")
            for c in payload
        ],
        F.when(in_tol, F.col("_c_ts")).alias(f"{right_prefix}{ts_col}"),
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket_width: int = 3600,
    broadcast_intervals: bool = True,
) -> DataFrame:
    """Point-in-interval join (lo <= point <= hi), intervals may OVERLAP.

    The overlapping case is what asof_join cannot express (as-of picks ONE
    nearest row; an event inside two incident windows must match both) and
    what Spark itself would plan as a BroadcastNestedLoopJoin theta join —
    O(|points| * |intervals|) comparisons. This operator replaces that with
    bucket expansion (the standard interval-join decomposition, cf. the
    overlap-interval-join literature and Spark's own stream-stream range
    join hints): every interval explodes to its covered coarse buckets of
    width `bucket_width` (integer units of the point domain — epoch seconds,
    cents, ...), points map to exactly ONE bucket, the join runs as an
    equi-join on the bucket key, and the exact predicate filters residues.

    Cost model at 10^12 points: per-interval expansion is
    ceil(span/bucket_width) + 1 rows — pick bucket_width ~ the median span
    so expansion stays O(1) per interval; the points side carries one extra
    long column and never explodes. `broadcast_intervals=True` (dimension
    table fits: incident windows, maintenance calendars, price bands)
    avoids shuffling the fact side entirely; False degrades to a
    shuffle-hash equi-join on the bucket key, where co-partitioning by
    bucket also bounds skew (a hot bucket holds only the intervals that
    cross it).

    Column names must be disjoint between the two frames (asserted).
    Emits inner-join rows; callers wanting empty-interval accounting join
    the result back to `intervals` (see q_interval_agg).
    """
    overlap = set(points.columns) & set(intervals.columns)
    assert not overlap, f"column collision: {overlap}"
    w = int(bucket_width)
    assert w > 0
    p = F.col(point_col)
    lo, hi = F.col(lo_col), F.col(hi_col)
    pb = points.withColumn("_ij_bucket", F.floor(p / w).cast("long"))
    ivb = (
        intervals.filter(lo <= hi)  # sequence() would count DOWN on lo>hi
        .withColumn(
            "_ij_bucket",
            F.explode(
                F.sequence(
                    F.floor(lo / w).cast("long"), F.floor(hi / w).cast("long")
                )
            ),
        )
    )
    if broadcast_intervals:
        ivb = F.broadcast(ivb)
    return (
        pb.join(ivb, "_ij_bucket")
        .filter((p >= lo) & (p <= hi))
        .drop("_ij_bucket")
    )


def detect_bursts(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    bucket_secs: int = 3600,
    trailing: int = 6,
    factor: int = 3,
    min_base: int = 1,
    warmup: int | None = None,
) -> DataFrame:
    """Temporal burst detection -> (key, bucket, bucket_start, cnt,
    base_sum, is_burst): per key and time bucket, flag buckets whose
    event count exceeds ``factor`` x the trailing-window average.

    The crawl/abuse anomaly lens: a host suddenly publishing 50x its
    usual page volume, an error type spiking after a deploy, a submit
    endpoint under bot fire. The comparison is the integer
    cross-multiplication  cnt * trailing > factor * base_sum  — exact in
    any engine, no float mean ever computed.

    EMPTY buckets count: the trailing base is a RANGE window over the
    integer bucket value (rangeBetween -trailing..-1), so a key silent
    for 5 of the last 6 hours has those hours in the denominator as
    zeros — a rows-based frame would silently shrink the base and
    under-flag exactly the bursty keys. Two cold-start guards:
    ``min_base`` (no flag until the base has that many events) and
    ``warmup`` (no flag until the key is ``warmup`` buckets past its
    FIRST bucket, default = trailing) — before-history hours are "no
    data", not "zero traffic": a key ramping from nothing would
    otherwise flag its second hour against a one-hour base.

    One partial-agg'd groupBy(key, bucket) collapses events to
    bucket cardinality BEFORE the window; the window partitions by key
    (skew bound = a key's bucket count, i.e. time span / bucket_secs,
    never its event count).
    """
    b = F.floor(
        F.unix_seconds(F.col(ts_col).cast("timestamp")) / F.lit(int(bucket_secs))
    ).cast("bigint")
    per = (
        events.select(F.col(key_col).alias("key"), b.alias("bucket"))
        .groupBy("key", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wu = int(trailing if warmup is None else warmup)
    w = (
        Window.partitionBy("key")
        .orderBy("bucket")
        .rangeBetween(-int(trailing), -1)
    )
    wfirst = (
        Window.partitionBy("key")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("bigint")
    first = F.min("bucket").over(wfirst)
    return per.select(
        "key",
        "bucket",
        F.timestamp_seconds(F.col("bucket") * int(bucket_secs))
        .cast("timestamp_ntz")
        .alias("bucket_start"),
        "cnt",
        base.alias("base_sum"),
        (F.col("bucket") - first).alias("_age"),
    ).select(
        "key",
        "bucket",
        "bucket_start",
        "cnt",
        "base_sum",
        (
            (F.col("_age") >= wu)
            & (F.col("base_sum") >= int(min_base))
            & (F.col("cnt") * int(trailing) > int(factor) * F.col("base_sum"))
        ).alias("is_burst"),
    )


def funnel_stages(
    events: DataFrame,
    steps: list[str],
    *,
    window_minutes: float | None = 120.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Greedy earliest-advance event funnel (the standard product-analytics
    funnel: each step must happen strictly after the previous step, and —
    when `window_minutes` is set — within that window of it).

    Semantics: per user, t1 = first `steps[0]` event; t_{i+1} = first
    `steps[i]` event with t_i < ts <= t_i + window. Greedy from the first
    occurrence (not the max-completion assignment) — the common definition.

    Plan: ONE shuffle (groupBy user), then a pure-codegen `aggregate` fold
    over the user's (ts, order)-sorted event array — no window, no second
    exchange, no Python. Per-user array size is bounded by that user's own
    event count, the same bound any per-user sessionization carries. Output
    is per-user: (user_id, stage_reached, t_first, t_last).

    Cross-engine contract: time riding as unix microseconds (exact
    integers); the fold is replayable as a K-level min()-chain in ANSI SQL
    because greedy-first-advance == the chained-min recurrence above.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    w_us = (
        None
        if window_minutes is None
        else int(float(window_minutes) * 60.0 * 1_000_000)
    )
    ev = events.select(
        F.col(user_col).alias("user_id"),
        F.struct(
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
            F.col(order_col).cast("long").alias("oid"),
            F.col(type_col).alias("et"),
        ).alias("e"),
    )
    per = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list("e")).alias("evs")
    )

    zero = F.struct(
        F.lit(0).alias("stage"),
        F.lit(0).cast("long").alias("t"),
        F.lit(0).cast("long").alias("t1"),
    )

    def merge(acc, e):
        out = acc
        # the (acc.stage == i) conditions are mutually exclusive, so the
        # when-chain order is immaterial; built in step order for reading
        chain = None
        for i, step in enumerate(steps):
            cond = (acc["stage"] == i) & (e["et"] == F.lit(step))
            if i > 0:
                cond = cond & (e["us"] > acc["t"])
                if w_us is not None:
                    cond = cond & (e["us"] <= acc["t"] + F.lit(w_us))
            nxt = F.struct(
                F.lit(i + 1).alias("stage"),
                e["us"].alias("t"),
                (e["us"] if i == 0 else acc["t1"]).alias("t1"),
            )
            chain = (
                F.when(cond, nxt) if chain is None else chain.when(cond, nxt)
            )
        return chain.otherwise(out)

    fin = F.aggregate(F.col("evs"), zero, merge)
    return per.select(
        "user_id",
        fin["stage"].alias("stage_reached"),
        F.when(fin["stage"] >= 1, F.timestamp_micros(fin["t1"]))
        .cast("timestamp_ntz")
        .alias("t_first"),
        F.when(fin["stage"] >= 1, F.timestamp_micros(fin["t"]))
        .cast("timestamp_ntz")
        .alias("t_last"),
    )


def funnel_summary(
    events: DataFrame,
    steps: list[str],
    *,
    window_minutes: float | None = 120.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Stage-level funnel rollup: for each step s (1-based), the number of
    users whose funnel reached AT LEAST s, conversion from stage 1 and from
    the previous stage (floor-half-up 6-grid rationals).

    The cumulative count is computed by exploding sequence(1, stage) per
    user — one partial-aggregated groupBy, no descending-cumulative window.
    The final frame is K rows (K = number of steps), so the lag window over
    it is a driver-sized formality, not a shuffle concern.
    """
    per = funnel_stages(
        events,
        steps,
        window_minutes=window_minutes,
        user_col=user_col,
        ts_col=ts_col,
        type_col=type_col,
        order_col=order_col,
    )
    reached = per.select(
        F.explode(
            F.when(
                F.col("stage_reached") >= 1,
                F.sequence(F.lit(1), F.col("stage_reached")),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("stage")
    ).groupBy("stage").agg(F.count(F.lit(1)).cast("long").alias("n_users"))

    names = F.array(*[F.lit(s) for s in steps])
    first = reached.where(F.col("stage") == 1).select(
        F.col("n_users").alias("n_first")
    )
    from invoice_ocr_reconciler_spark.plans.relational import roundn

    w = Window.partitionBy(F.lit(1)).orderBy("stage")  # K-row frame
    out = (
        reached.crossJoin(F.broadcast(first))
        .withColumn("n_prev", F.lag("n_users").over(w))
        .select(
            "stage",
            F.element_at(names, F.col("stage")).alias("step"),
            "n_users",
            roundn(F.col("n_users") / F.col("n_first"), 6).alias(
                "conv_from_first"
            ),
            roundn(
                F.col("n_users") / F.coalesce(F.col("n_prev"), F.col("n_users")),
                6,
            ).alias("conv_from_prev"),
        )
    )
    return out.orderBy("stage")


def retention_cohorts(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention-cohort matrix: cohort_week = ISO week (Monday
    truncation) of the user's first event; a user is retained at offset k
    if they have any event in cohort_week + k weeks. retention = active /
    cohort_size on the 6-grid.

    Plan: first-event agg (one shuffle on user) joined back to the
    distinct (user, week) activity set on the SAME key — co-partitioned
    equi-join, no broadcast needed at any scale — then one partial-agg
    groupBy(cohort_week, offset). cohort_size rides a broadcast of the
    offset-0 slice (one row per cohort week — calendar-bounded, tiny
    forever). Both engines truncate weeks to Monday, so offsets are exact
    integers: datediff(day)/7 of two Monday dates.
    """
    wk = F.date_trunc("week", F.col(ts_col).cast("timestamp")).cast("date")
    first = (
        events.select(F.col(user_col).alias("user_id"), wk.alias("week"))
        .groupBy("user_id")
        .agg(F.min("week").alias("cohort_week"))
    )
    active = (
        events.select(F.col(user_col).alias("user_id"), wk.alias("week"))
        .distinct()
    )
    cell = (
        active.join(first, "user_id")
        .select(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("offset_weeks"),
        )
        .groupBy("cohort_week", "offset_weeks")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    size = cell.where(F.col("offset_weeks") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    from invoice_ocr_reconciler_spark.plans.relational import roundn

    return (
        cell.join(F.broadcast(size), "cohort_week")
        .select(
            "cohort_week",
            "offset_weeks",
            "n_active",
            "cohort_size",
            roundn(F.col("n_active") / F.col("cohort_size"), 6).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "offset_weeks")
    )


def event_transitions(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix of the per-user event stream:
    for each (from_type, to_type) of consecutive events, the count and
    the row-normalized probability — the user-journey summary behind
    funnel design (which funnels exist) and anomaly detection (rare
    transitions).

    ONE shuffle: the lag window on (user, ts, order) + a partial-agg
    pair groupBy; row totals join back as a broadcast (state-space-sized,
    tiny forever). Probabilities are single divides on the 6-grid.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    pairs = (
        events.select(
            F.lag(type_col).over(w).alias("from_type"),
            F.col(type_col).alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("n_from")
    )
    from invoice_ocr_reconciler_spark.plans.relational import roundn

    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            "n_from",
            roundn(F.col("n") / F.col("n_from"), 6).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


def dispersion_index(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Fano dispersion index of daily activity per key — the classic
    burstiness statistic (variance-to-mean ratio of per-day event
    counts): ~1 for Poisson-like organic traffic, >>1 for bursty
    (campaign/bot/scraper) keys, <1 for metronomic automation. The
    denominator span is the GLOBAL [min_day, max_day] calendar (zero
    days count), so keys are comparable.

    Everything reduces to three exact integers per key (n events = Σx,
    Σx², N days) combined in ONE fixed-order rational:

        fano = (N·Σx² - (Σx)²) / (N·Σx)

    Plan: per-(key, day) partial-agg counts -> per-key sums; the global
    span rides a broadcast 1-row aggregate. 6-grid output.
    """
    from invoice_ocr_reconciler_spark.plans.relational import roundn

    day = F.date_trunc("day", F.col(ts_col).cast("timestamp")).cast("date")
    per = (
        events.select(F.col(key_col).alias("key"), day.alias("d"))
        .groupBy("key", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    span = per.groupBy().agg(
        (F.datediff(F.max("d"), F.min("d")) + 1)
        .cast("long")
        .alias("n_days")
    )
    agg = per.groupBy("key").agg(
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.count(F.lit(1)).cast("long").alias("active_days"),
    )
    fano = (
        F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    ) / (F.col("n_days") * F.col("sx"))
    return (
        agg.crossJoin(F.broadcast(span))
        .select(
            F.col("key").alias(key_col),
            F.col("sx").alias("n_events"),
            "active_days",
            "n_days",
            roundn(F.col("sx") / F.col("n_days"), 6).alias("mean_per_day"),
            roundn(fano, 6).alias("fano"),
        )
        .orderBy(key_col)
    )
