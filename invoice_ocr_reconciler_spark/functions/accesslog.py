"""Common Log Format (CLF) access-log parsing — the web-ops telemetry
side of a crawl/serving stack: every CDN, reverse proxy and crawler
fetch log ships lines like

    10.2.3.4 - frank [10/Oct/2000:13:55:36 +0000] "GET /a.html HTTP/1.1" 200 2326

This band parses them with pure-codegen regexp_extract (one pattern,
anchored, no backtracking hazards — every field is a bounded class) and
rolls traffic up to /24 subnets, the standard abuse/bot aggregation.

Dialect note: the pattern uses only constructs with identical semantics
in Java regex (Spark) and RE2-ish engines — character classes, bounded
quantifiers, no backreferences, no lookaround — the parse_fields
dialect-audit contract. Unparseable lines surface as NULL fields (never
dropped silently); `parsed_ok` makes the reject path filterable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# groups: ip, ident, user, ts, method, path, proto, status, bytes
CLF_RE = (
    r'^(\S+) (\S+) (\S+) \[([^\]]+)\] "([A-Z]+) (\S+) ([^"]+)" '
    r"(\d{3}) (\d+|-)$"
)


def clf_cols(line: Column) -> dict[str, Column]:
    """Parsed CLF fields from a log line column; '' extractions on a
    failed match become NULLs, '-' bytes become 0 (the CLF convention
    for byteless responses)."""
    def g(i: int) -> Column:
        x = F.regexp_extract(line, CLF_RE, i)
        return F.when(x == "", F.lit(None)).otherwise(x)

    raw_bytes = g(9)
    return {
        "ip": g(1),
        "remote_user": g(3),
        "ts_raw": g(4),
        "method": g(5),
        "path": g(6),
        "status": g(8).cast("int"),
        "n_bytes": F.when(raw_bytes == "-", F.lit(0))
        .otherwise(raw_bytes.cast("long"))
        .alias("n_bytes"),
        "parsed_ok": F.regexp_extract(line, CLF_RE, 1) != "",
    }


def subnet24(ip: Column) -> Column:
    """Dotted-quad /24 prefix ('10.2.3.4' -> '10.2.3'). NULL-safe."""
    return F.when(
        ip.isNotNull(),
        F.concat_ws(
            ".",
            F.split_part(ip, F.lit("."), F.lit(1)),
            F.split_part(ip, F.lit("."), F.lit(2)),
            F.split_part(ip, F.lit("."), F.lit(3)),
        ),
    )


def subnet_traffic(
    logs: DataFrame,
    line_col: str = "line",
    error_status: int = 500,
) -> DataFrame:
    """Per-/24 traffic rollup from raw CLF lines: request count, bytes,
    distinct paths, error rate (status >= error_status) — the
    bot/abuse-detection aggregation. Unparseable lines are COUNTED into
    a NULL-subnet row rather than vanishing (the reject path stays
    visible). One parse projection + one partial-agg groupBy.
    """
    from invoice_ocr_reconciler_spark.plans.relational import roundn

    c = clf_cols(F.col(line_col))
    parsed = logs.select(
        subnet24(c["ip"]).alias("subnet"),
        c["path"].alias("path"),
        c["status"].alias("status"),
        c["n_bytes"].alias("n_bytes"),
    )
    return (
        parsed.groupBy("subnet")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_req"),
            F.sum(F.coalesce("n_bytes", F.lit(0)))
            .cast("long")
            .alias("total_bytes"),
            F.count_distinct("path").cast("long").alias("n_paths"),
            F.sum(
                F.when(F.col("status") >= int(error_status), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_errors"),
        )
        .select(
            "subnet",
            "n_req",
            "total_bytes",
            "n_paths",
            "n_errors",
            roundn(F.col("n_errors") / F.col("n_req"), 6).alias(
                "error_rate"
            ),
        )
        .orderBy("subnet")
    )
