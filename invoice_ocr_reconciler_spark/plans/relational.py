"""Relational query surface (SURVEY.md §2): the reference's SQL operators
re-expressed as Catalyst-optimizable DataFrame plans over the testdata star
schema. Each function takes (spark, sf_dir) and returns a DataFrame whose
column names match the DuckDB oracle in __spark_entry__.py exactly.

Every aggregate over money is rounded to 2 places on BOTH sides so the
driver's value-hash comparison is stable across engines' summation orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.functions.normalize import normalize_vendor_col


def roundn(x: Column, places: int) -> Column:
    """Tie-free floor-half-up rounding: floor(x*10^p + 0.5)/10^p — pure
    double ops, bit-identical across engines (ROUND() tie-breaking is not).
    The single source of the cross-engine rounding contract every oracle
    replays as floor(x * 1eP + 0.5) / 1eP."""
    scale = float(10**places)
    return F.floor(x * scale + F.lit(0.5)) / scale


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def stats_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (backend/server.js:236-257): the reference's 6 parallel scalar
    aggregates collapsed into ONE conditional-aggregation job."""
    orders = load(spark, sf_dir, "orders")
    return orders.agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_amount"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_finished"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_pending"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_amount"),
    )


def monthly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/O4 (backend/server.js:260-277): month bucket, count+sum, last 6
    months descending then presented ascending."""
    orders = load(spark, sf_dir, "orders")
    by_month = (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy(F.col("month").desc())
        .limit(6)
    )
    return by_month.orderBy("month")


def pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 (backend/server.js:363-367): whitelisted ORDER BY + LIMIT/OFFSET."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .offset(10)
        .limit(20)
    )


def status_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13 (backend/server.js:521): status IN-list filter (pushed to scan)."""
    orders = load(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderstatus").isin("O", "P")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


def search_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14 (backend/server.js:357-360): LIKE-OR-LIKE search predicate."""
    customer = load(spark, sf_dir, "customer")
    return customer.filter(
        F.col("c_name").like("%0001%") | F.col("c_mktsegment").like("%AUTO%")
    ).select("c_custkey", "c_name", "c_mktsegment")


def key_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15/P16 (backend/server.js:386,517-519): id IN-list point lookups."""
    orders = load(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey").isin(1, 7, 32, 4096)).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5/J3 window: top-10 orders per priority by amount (rank <= k)."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rnk")
    )


def recent_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O3 (backend/server.js:256,569): ORDER BY recency LIMIT n."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .limit(20)
    )


def anti_join_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (backend/reconciliationEngine.js:199): rows with no matching fact —
    orders that have no returned ('R') lineitem (non-trivially non-empty at
    the driver's sf, unlike parts-never-ordered which is empty there)."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey, "left_anti"
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


def left_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 (backend/server.js:583-588): results x invoices LEFT JOIN projection."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left")
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


def inner_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8/A-style (backend/server.js:250-255): join + filter + grouped count."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        orders.filter(F.col("o_orderstatus") != "O")
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


def amount_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (backend/reconciliationEngine.js:25-35): the 1% amount-tolerance
    predicate applied between order totals and their lineitem-derived sums."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    # money discipline at scale: double addition is not associative, so a
    # shuffled sum differs run-to-run in the last ulp. Cast the operands to
    # exact decimals, multiply/sum in decimal (exact + associative), and do
    # any final rounding tie-free (floor(x*100+0.5)) so every engine and
    # every partitioning produces the identical cent.
    line_rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    li = lineitem.groupBy("l_orderkey").agg(
        (F.floor(F.sum(line_rev).cast("double") * 100 + 0.5) / 100).alias("li_total")
    )
    j = orders.join(li, orders.o_orderkey == li.l_orderkey)
    diff = F.abs(F.col("o_totalprice") - F.col("li_total"))
    bigger = F.greatest(F.col("o_totalprice"), F.col("li_total"))
    within = F.when(bigger == 0, F.lit(True)).otherwise(diff / bigger <= 0.01)
    return (
        j.withColumn("within_tolerance", within)
        .withColumn("discrepancy", F.floor(diff * 100 + 0.5) / 100)
        .select("o_orderkey", "o_totalprice", "li_total", "discrepancy", "within_tolerance")
    )


def normalize_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1a (backend/reconciliationEngine.js:15-23) as pure column exprs."""
    supplier = load(spark, sf_dir, "supplier")
    return supplier.select(
        "s_suppkey",
        "s_name",
        normalize_vendor_col(F.col("s_name")).alias("s_norm"),
    )


# the (first-token, size) block vocabulary is FIXED (~400 combinations), so
# block membership grows LINEARLY with the table and the within-block
# self-join quadratically — the same degenerate-group hazard as the dedup
# sketches. Blocks above the cap are dropped, not joined (and the DuckDB
# oracle replicates the cap), bounding pair fan-out at any scale.
FUZZY_HOT_BLOCK_CAP = 256


def fuzzy_block_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 skeleton with an oracle: block on (first token, p_size) of part
    names, score pairs with Levenshtein, keep close pairs. The same
    block->score->threshold shape as the reconciliation join, expressible in
    both engines (levenshtein is built in to Spark AND DuckDB). Hot blocks
    above FUZZY_HOT_BLOCK_CAP are dropped on both sides (see above)."""
    part = load(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        "p_size",
        F.lower(F.col("p_name")).alias("p_norm"),
    ).withColumn("blk", F.substring_index("p_norm", " ", 1))
    w_blk = Window.partitionBy("blk", "p_size")
    p = p.withColumn("_blk_n", F.count("*").over(w_blk)).filter(
        F.col("_blk_n") <= FUZZY_HOT_BLOCK_CAP
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"), F.col("p_norm").alias("norm_a"), "blk", "p_size"
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"), F.col("p_norm").alias("norm_b"), "blk", "p_size"
    )
    return (
        a.join(b, ["blk", "p_size"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("lev", F.levenshtein("norm_a", "norm_b"))
        .filter(F.col("lev") <= 10)
        .select("key_a", "key_b", "lev")
    )


def events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar JSON extraction over events.props + grouped aggregation."""
    events = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def dates_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 scalar function band: date_format, substr, concat, round, abs,
    greatest, upper/lower/trim in one projection (oracle-checked)."""
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.concat(F.lit("ORD-"), F.col("o_orderkey").cast("string")).alias("tag"),
        F.round(F.abs(F.col("o_totalprice") - 1000.0), 2).alias("abs_diff"),
        F.greatest(F.col("o_totalprice"), F.lit(50000.0)).alias("floored"),
        F.upper(F.trim(F.col("o_orderstatus"))).alias("status_uc"),
    )


def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit skew-salted two-phase aggregation (SURVEY.md §4.3-2).

    Phase 1 aggregates on (key, salt) — hot keys spread over 16 reducers —
    phase 2 merges partials. Exact for algebraic aggregates, so the DuckDB
    oracle is the plain GROUP BY."""
    li = load(spark, sf_dir, "lineitem")
    salted = li.withColumn("salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(16)))
    partial = salted.groupBy("l_suppkey", "salt").agg(
        F.sum("l_quantity").alias("q"), F.count("*").alias("n")
    )
    return partial.groupBy("l_suppkey").agg(
        F.sum("q").alias("sum_qty"), F.sum("n").alias("n_items")
    )


def rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets breadth beyond the reference: ROLLUP(status, priority)."""
    orders = load(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )


def pivot_status_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot breadth: per-month counts by order status (fixed value list)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0, ["O", "F", "P"])
    )


def explode_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 array band: per-order array build then explode (the line_items
    ArrayType(Struct) pattern, backend/server.js:318-324)."""
    lineitem = load(spark, sf_dir, "lineitem")
    nested = lineitem.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("line"),
                    F.col("l_quantity").alias("qty"),
                    F.round(F.col("l_extendedprice"), 2).alias("price"),
                )
            )
        ).alias("items")
    )
    ex = nested.select("l_orderkey", F.explode("items").alias("it"))
    return ex.select(
        "l_orderkey",
        F.col("it.line").alias("line"),
        F.col("it.qty").alias("qty"),
        F.col("it.price").alias("price"),
    )


def monthly_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (median / p90 / p99) of order totals per
    month — linear-interpolation `percentile`, the same definition DuckDB's
    quantile_cont uses, floor-rounded to 4 places for cross-engine identity.

    Scale note: exact percentiles sort each group; at 10^12 rows swap in
    `approx_percentile` (t-digest sketch, mergeable map-side) — same plan
    shape, bounded error, no per-group sort. The exact version stays as the
    correctness oracle at test scale.
    """
    orders = load(spark, sf_dir, "orders")
    r4 = lambda c: roundn(c, 4)
    return (
        orders.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month")
        )
        .agg(
            F.count("*").alias("n"),
            r4(F.percentile("o_totalprice", 0.5)).alias("p50"),
            r4(F.percentile("o_totalprice", 0.9)).alias("p90"),
            r4(F.percentile("o_totalprice", 0.99)).alias("p99"),
        )
    )
