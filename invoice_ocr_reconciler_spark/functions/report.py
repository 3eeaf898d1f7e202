"""Report sinks (SURVEY.md §2.1 S6/S7).

S6 (CSV) projects ``enrich_results``, the LEFT JOIN below, and writes it
with df.write.csv (sources/reports.py). S7 is the reference's PDF report
(reference: backend/server.js:605-657) — presentation colors aside, its
CONTENT is a summary block plus one line per result:

    [STATUS] vendor — Invoice #num — $total   (+ optional flag-reason line)

re-rendered here as deterministic text. Deviations, documented: no
generated-at timestamp (wall-clock breaks the determinism contract) and
rows ordered by invoice_url (the reference inherits SQL result order).

JS falsy semantics mirrored exactly: `vendor_name || 'Unknown'` treats the
EMPTY STRING as missing, `(total_amount || 0).toFixed(2)` renders null/0 as
'0.00'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_STATUS_ORDER = ["matched", "mismatch", "missing", "duplicate"]


def enrich_results(results: DataFrame, invoices: DataFrame) -> DataFrame:
    """J7: results x invoices LEFT JOIN, the one join every report sink
    projects from (reference: backend/server.js:589-599, 611-616): each
    result column plus the invoice's number, vendor and total.

    NO broadcast hint: ``invoices`` is the FACT table — results and invoices
    are both corpus-sized (one row per url), so the right plan at scale is a
    shuffle join on invoice_url (co-located for free when both sides carry
    the url-bucketed layout). AQE still broadcasts small sessions on its
    own; a forced broadcast of a 10^12-row side would be fatal (round-2
    self-review fix)."""
    inv = invoices.select(
        F.col("url").alias("invoice_url"), "invoice_number", "vendor_name", "total_amount"
    )
    return results.join(inv, "invoice_url", "left")


def _money(x) -> str:
    """HALF_UP 2-decimal render of a double, matching Spark's format_number
    (Java DecimalFormat rounds the double's shortest decimal repr HALF_UP;
    Python f'{x:.2f}' is round-half-even and disagrees on ties like 8.125 —
    Decimal(str(x)) reproduces the shortest-repr + HALF_UP pipeline)."""
    from decimal import ROUND_HALF_UP, Decimal

    return str(Decimal(str(float(x))).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def _result_line(r) -> str:
    vendor = r["vendor_name"] or "Unknown"
    invno = r["invoice_number"] or "N/A"
    total = r["total_amount"] or 0
    lines = [
        f"[{(r['match_status'] or '').upper()}] {vendor} — "
        f"Invoice #{invno} — ${_money(total)}"
    ]
    if r["flag_reason"]:
        lines.append(f"  ⚠ {r['flag_reason']}")
    return "\n".join(lines)


def text_report(results: DataFrame, invoices: DataFrame, summary: DataFrame) -> str:
    """Full report as one deterministic string (small-session path, the
    direct analog of the reference's PDF body). Rows stream through
    toLocalIterator — the driver never holds the whole frame."""
    s = summary.collect()[0]
    out = [
        "Invoice Reconciliation Report",
        "",
        "Summary",
        f"Total Invoices: {s['total_invoices']}",
        f"Matched: {s['matched']}",
        f"Mismatched: {s['mismatched']}",
        f"Missing: {s['missing_invoices']}",
        f"Duplicates: {s['duplicate']}",
        "",
        "Reconciliation Results",
    ]
    enriched = enrich_results(results, invoices).orderBy("invoice_url")
    for r in enriched.toLocalIterator():
        out.append(_result_line(r))
    return "\n".join(out)


def write_text_report(
    results: DataFrame, invoices: DataFrame, path: str
) -> None:
    """Distributed render: one text part per partition (the scale path —
    10^9-row report bodies never touch the driver). Line format identical
    to text_report; global order = invoice_url (sorted within and across
    parts via range partitioning on the sort)."""
    enriched = enrich_results(results, invoices).orderBy("invoice_url")
    total = F.coalesce(F.col("total_amount"), F.lit(0.0))
    vendor = F.when(
        F.col("vendor_name").isNull() | (F.col("vendor_name") == ""),
        F.lit("Unknown"),
    ).otherwise(F.col("vendor_name"))
    invno = F.when(
        F.col("invoice_number").isNull() | (F.col("invoice_number") == ""),
        F.lit("N/A"),
    ).otherwise(F.col("invoice_number"))
    line = F.concat(
        F.lit("["), F.upper(F.coalesce(F.col("match_status"), F.lit(""))), F.lit("] "),
        vendor, F.lit(" — Invoice #"), invno,
        # format_number inserts thousands separators; JS toFixed does not
        F.lit(" — $"), F.regexp_replace(F.format_number(total, 2), ",", ""),
    )
    line = F.when(
        F.col("flag_reason").isNotNull(),
        F.concat(line, F.lit("\n  ⚠ "), F.col("flag_reason")),
    ).otherwise(line)
    enriched.select(line.alias("value")).write.mode("overwrite").text(path)
