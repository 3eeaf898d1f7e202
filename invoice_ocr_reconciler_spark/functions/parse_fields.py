"""Structured-field extraction from raw extracted text.

Faithful reimplementation of the reference's regex-cascade parser semantics
(reference: backend/invoiceParser.js:5-128) in Python ``re``, vectorized as a
struct-returning pandas UDF. Cascade semantics: try patterns in order, return
the FIRST group-1 capture, trimmed (reference: backend/invoiceParser.js:61-67).

Dialect notes (JS -> Python audit, SURVEY.md §7 hard parts):
- JS ``.match(p)`` without /g == ``re.search``;
- /i -> re.I, /m -> re.M, /gm exec-loop -> ``re.finditer`` with re.M;
- JS ``parseFloat`` parses a numeric *prefix* ('1.2.3' -> 1.2); mirrored by
  ``_parse_float_prefix``;
- JS falsy coalescing (``x || y`` treats 0/NaN/'' as missing) mirrored by
  ``_js_or``.

Deviation (documented): the reference falls back to a wall-clock id
``INV-${Date.now()}`` (backend/invoiceParser.js:117) — non-deterministic, so
we derive ``INV-<md5(url)[:12]>`` instead (determinism contract).
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# --- pattern cascades (reference: backend/invoiceParser.js:5-50) ---

PATTERNS = {
    "invoice_number": [  # backend/invoiceParser.js:7-12
        re.compile(r"invoice\s*(?:#|no\.?|number|num\.?)[:\s]*([A-Z0-9\-\/]+)", re.I),
        re.compile(r"inv\s*[#:]?\s*([A-Z0-9\-\/]+)", re.I),
        re.compile(r"bill\s*(?:#|no\.?)[:\s]*([A-Z0-9\-\/]+)", re.I),
        re.compile(r"#\s*([A-Z0-9\-]{4,20})", re.I),
    ],
    "vendor_name": [  # backend/invoiceParser.js:14-17
        # hardening deviation: the reference's unbounded lazy capture ("+?")
        # scans to end-of-text on adversarial pages (O(n) per label hit);
        # vendor names are short, so the capture is bounded at 200 chars
        re.compile(
            r"(?:from|bill\s*from|billed\s*by|company)[:\s]+([A-Za-z0-9\s&.,'-]{1,200}?)(?:\n|ltd|inc|llc|corp)",
            re.I,
        ),
        re.compile(
            r"^([A-Z][A-Za-z0-9\s&.,'-]{2,40}(?:Ltd|Inc|LLC|Corp|Co\.|Services|Solutions|Group))",
            re.M,
        ),
    ],
    "date": [  # backend/invoiceParser.js:19-24
        re.compile(
            r"(?:invoice\s*date|date\s*of\s*issue|issued?)[:\s]*(\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{2,4})",
            re.I,
        ),
        re.compile(
            r"(?:invoice\s*date|date)[:\s]*([A-Za-z]{1,20}\s+\d{1,2},?\s+\d{4})", re.I
        ),
        re.compile(r"(\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{4})"),
        # hardening deviation: the reference's bare '[A-Za-z]+ \d...' is
        # quadratic on long letter runs (1 MB single-line page -> hang);
        # month names are <= 20 letters, so the run is bounded
        re.compile(r"([A-Za-z]{1,20} \d{1,2},? \d{4})"),
    ],
    "due_date": [  # backend/invoiceParser.js:26-29
        re.compile(
            r"(?:due\s*date|payment\s*due|pay\s*by)[:\s]*(\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{2,4})",
            re.I,
        ),
        re.compile(
            r"(?:due\s*date|payment\s*due|pay\s*by)[:\s]*([A-Za-z]{1,20}\s+\d{1,2},?\s+\d{4})",
            re.I,
        ),
    ],
    "total": [  # backend/invoiceParser.js:31-34
        re.compile(
            r"(?:total\s*(?:amount\s*)?due|grand\s*total|amount\s*due|total)[:\s]*\$?\s*([\d,]+\.?\d{0,2})",
            re.I,
        ),
        re.compile(r"total[:\s]*(?:USD|EUR|GBP|INR)?\s*([\d,]+\.?\d{0,2})", re.I),
    ],
    "subtotal": [  # backend/invoiceParser.js:36-39
        re.compile(r"(?:subtotal|sub\s*total)[:\s]*\$?\s*([\d,]+\.?\d{0,2})", re.I),
        re.compile(r"(?:net\s*amount|net)[:\s]*\$?\s*([\d,]+\.?\d{0,2})", re.I),
    ],
    "tax": [  # backend/invoiceParser.js:41-44
        re.compile(r"(?:tax|vat|gst|hst)[:\s]*(?:\d+%\s*)?\$?\s*([\d,]+\.?\d{0,2})", re.I),
        re.compile(r"(?:sales\s*tax|service\s*tax)[:\s]*\$?\s*([\d,]+\.?\d{0,2})", re.I),
    ],
    "currency": [  # backend/invoiceParser.js:46-49
        re.compile(r"\b(USD|EUR|GBP|INR|CAD|AUD|JPY|CNY|CHF|SGD)\b", re.I),
        re.compile(r"(\$|€|£|₹|¥)"),
    ],
}

# backend/invoiceParser.js:52
CURRENCY_SYMBOLS = {"$": "USD", "€": "EUR", "£": "GBP", "₹": "INR", "¥": "JPY"}

# backend/invoiceParser.js:72
LINE_ITEM_RE = re.compile(
    r"^(.{3,40}?)\s{2,}(\d+(?:\.\d+)?)\s{1,}\$?([\d,.]+)\s{1,}\$?([\d,.]+)\s*$", re.M
)

_FLOAT_PREFIX_RE = re.compile(r"^[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?")


def _parse_float_prefix(s: str) -> float | None:
    """JS parseFloat: longest valid numeric prefix, else NaN (-> None)."""
    m = _FLOAT_PREFIX_RE.match(s.strip())
    return float(m.group(0)) if m else None


def parse_amount(s: str | None) -> float | None:
    """reference: backend/invoiceParser.js:54-59 (strip commas, parseFloat)."""
    if not s:
        return None
    return _parse_float_prefix(s.replace(",", "").strip())


def extract_field(text: str, patterns: list[re.Pattern]) -> str | None:
    """First-match-wins cascade (reference: backend/invoiceParser.js:61-67)."""
    for pattern in patterns:
        m = pattern.search(text)
        if m and m.group(1):
            return m.group(1).strip()
    return None


def parse_line_items(text: str) -> list[dict]:
    """reference: backend/invoiceParser.js:69-86 (0 < amount < 1e6 filter)."""
    items = []
    for m in LINE_ITEM_RE.finditer(text):
        amount = parse_amount(m.group(4))
        if amount and 0 < amount < 1_000_000:
            qty = _parse_float_prefix(m.group(2))
            unit = parse_amount(m.group(3))
            items.append(
                {
                    "description": m.group(1).strip(),
                    "quantity": qty if qty else 1.0,  # JS: parseFloat(..)||1
                    "unit_price": unit if unit else amount,  # JS: ..||amount
                    "amount": amount,
                }
            )
    return items


def _js_or(*vals):
    """JS ||-chain: first truthy value (0, None, '' are falsy)."""
    for v in vals:
        if v:
            return v
    return vals[-1] if vals else None


def _fallback_invoice_number(url: str) -> str:
    # deterministic replacement for INV-${Date.now()} (invoiceParser.js:117)
    return "INV-" + hashlib.md5(url.encode("utf-8")).hexdigest()[:12].upper()


# invoice fields appear in the head of a document; capping the regex input
# bounds worst-case scan cost per doc (executor-protection at 10^12 docs)
PARSE_MAX_CHARS = 500_000


def parse_invoice_text(raw_text: str | None, url: str = "") -> dict:
    """One document -> structured fields (reference: backend/invoiceParser.js:88-128)."""
    text = (raw_text or "")[:PARSE_MAX_CHARS]

    invoice_number = extract_field(text, PATTERNS["invoice_number"])
    vendor_name = extract_field(text, PATTERNS["vendor_name"])
    invoice_date = extract_field(text, PATTERNS["date"])
    due_date = extract_field(text, PATTERNS["due_date"])
    total = parse_amount(extract_field(text, PATTERNS["total"]))
    subtotal = parse_amount(extract_field(text, PATTERNS["subtotal"]))
    tax = parse_amount(extract_field(text, PATTERNS["tax"]))

    currency = "USD"
    cur = extract_field(text, PATTERNS["currency"])
    if cur:
        currency = CURRENCY_SYMBOLS.get(cur, cur.upper())

    line_items = parse_line_items(text)

    # confidence: round(100 * nonnull/4) (backend/invoiceParser.js:111-114);
    # JS .filter(Boolean) counts truthy only, so total==0.0 does not count
    fields = [invoice_number, vendor_name, invoice_date, total]
    confidence = round(sum(1 for f in fields if f) / 4 * 100)

    return {
        "invoice_number": _js_or(invoice_number, _fallback_invoice_number(url)),
        "vendor_name": _js_or(vendor_name, "Unknown Vendor"),
        "invoice_date": invoice_date,
        "due_date": due_date,
        # JS falsy-coalesce chains (backend/invoiceParser.js:121-123)
        "subtotal": _js_or(
            subtotal, (total - tax) if (total and tax) else None, total, 0.0
        )
        or 0.0,
        "tax": tax or 0.0,
        "total_amount": _js_or(total, subtotal, 0.0) or 0.0,
        "currency": currency,
        "line_items": line_items,
        "confidence": confidence,
    }


LINE_ITEM_SCHEMA = T.StructType(
    [
        T.StructField("description", T.StringType()),
        T.StructField("quantity", T.DoubleType()),
        T.StructField("unit_price", T.DoubleType()),
        T.StructField("amount", T.DoubleType()),
    ]
)

FIELDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("invoice_number", T.StringType()),
        T.StructField("vendor_name", T.StringType()),
        T.StructField("invoice_date", T.StringType()),
        T.StructField("due_date", T.StringType()),
        T.StructField("subtotal", T.DoubleType()),
        T.StructField("tax", T.DoubleType()),
        T.StructField("total_amount", T.DoubleType()),
        T.StructField("currency", T.StringType()),
        T.StructField("line_items", T.ArrayType(LINE_ITEM_SCHEMA)),
        T.StructField("confidence", T.IntegerType()),
    ]
)


def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [
            {"url": u, "extracted_text": t, **parse_invoice_text(t, u)}
            for u, t in zip(pdf["url"], pdf["extracted_text"])
        ]
        yield pd.DataFrame(
            rows,
            columns=[f.name for f in FIELDS_SCHEMA.fields],
        )


SCALAR_SUBSET_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("invoice_number_raw", T.StringType()),
        T.StructField("total_parsed", T.DoubleType()),
        T.StructField("tax_parsed", T.DoubleType()),
        T.StructField("currency", T.StringType()),
    ]
)


def parse_scalar_fields(
    frame: DataFrame, id_col: str = "doc_id", text_col: str = "extracted_text"
) -> DataFrame:
    """Oracle-checkable scalar kernel subset (P1 invoice-number cascade, P7
    total cascade, tax cascade + P9 parseFloat-prefix amount parse, P8
    currency resolution) — the SAME code paths parse_invoice_fields runs
    (PATTERNS / extract_field / parse_amount / CURRENCY_SYMBOLS), minus the
    fallback/coalescing layers, so each raw capture gets a value-hash check
    against a DuckDB regexp replay instead of only goldens."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                text = (t or "")[:PARSE_MAX_CHARS]
                cur = extract_field(text, PATTERNS["currency"])
                out.append(
                    {
                        "doc_id": int(i),
                        "invoice_number_raw": extract_field(
                            text, PATTERNS["invoice_number"]
                        ),
                        "total_parsed": parse_amount(
                            extract_field(text, PATTERNS["total"])
                        ),
                        "tax_parsed": parse_amount(extract_field(text, PATTERNS["tax"])),
                        "currency": CURRENCY_SYMBOLS.get(cur, cur.upper())
                        if cur
                        else "USD",
                    }
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in SCALAR_SUBSET_SCHEMA.fields]
            )

    return frame.select(id_col, text_col).mapInPandas(gen, schema=SCALAR_SUBSET_SCHEMA)


def parse_invoice_fields(extracted: DataFrame) -> DataFrame:
    """extracted(url, extracted_text, ...) -> one struct row per document.

    Vectorized over Arrow batches; all P1-P12 cascades in one Python pass
    (one JVM<->Python crossing per batch, not per field). Keeps its input's
    partitioning, like extract_pages.
    """
    return extracted.select("url", "extracted_text").mapInPandas(
        _parse_batches, schema=FIELDS_SCHEMA
    )
