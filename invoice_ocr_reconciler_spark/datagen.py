"""Deterministic synthetic corpus: Common-Crawl-style pages + reference ledger.

Shape is exactly the BASELINE.json input_hint:
``pages(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``
plus a ``ledger`` dimension (the analog of the reference's payment_records
table, reference: backend/db.js:125-135).

Every value is a pure function of the row index via md5 — no wall clock, no
RNG object, no cross-row state — so the corpus is identical at any scale
factor prefix, any partitioning, and any parallelism. Distributed generation
goes through ``spark.range(n) -> util.map_rows`` so 100 TB-scale corpora
generate partition-parallel with no driver materialization.

Host distribution is Zipf-skewed (a few hot hosts take ~35% of urls) to
exercise the skew-salting path (SURVEY.md §4.3-2).
"""

from __future__ import annotations

import datetime as dt
import hashlib
from functools import lru_cache as _lru_cache

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from invoice_ocr_reconciler_spark.util import map_rows, with_scan_parallelism

BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

HOT_HOSTS = ["portal.megacorp-billing.example", "docs.archive-crawl.example"]
COLD_HOSTS = [f"site-{i:03d}.example" for i in range(50)]

# ~16,000 synthetic vendors (200 first tokens x 20 lines x 4 legal suffixes).
# First tokens are the fuzzy-join block keys: 200 distinct blocks keep the
# blocked join + per-block greedy well above executor-count parallelism
# (web-scale vendor diversity is far higher still), while same-first-token
# vendors exercise within-block fuzzy discrimination.
_V_BASES = [
    "Acme", "Globex", "Initech", "Umbrella", "Stark", "Wayne", "Cyberdyne",
    "Tyrell", "Wonka", "Oscorp", "Hooli", "Vandelay", "Dunder", "Sterling",
    "Bluth", "Gekko", "Prestige", "Soylent", "Aperture", "Monarch", "Zenith",
    "Quantum", "Pinnacle", "Vertex", "Meridian",
]
_V_REGIONS = ["", "North", "East", "South", "West", "Global", "Pacific", "Atlas"]
_V_FIRST = [f"{b}{r}" for b in _V_BASES for r in _V_REGIONS]  # 200 first tokens
_V_SECOND = [
    "Industries", "Systems", "Holdings", "Logistics", "Dynamics", "Partners",
    "Labs", "Ventures", "Solutions", "Consulting", "Manufacturing", "Trading",
    "Analytics", "Networks", "Energy", "Capital", "Robotics", "Softworks",
    "Materials", "Media",
]
_V_SUFFIX = ["Inc", "LLC", "Ltd", "Corp"]
VENDORS = [f"{a} {b} {s}" for a in _V_FIRST for b in _V_SECOND for s in _V_SUFFIX]

LANGS = ["en", "fr", "es", "de", "zh"]


def _h(s: str) -> int:
    """Deterministic 64-bit hash (stable across processes, unlike hash())."""
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")


def _money(i: int, tag: str, lo: float = 50.0, hi: float = 99_999.0) -> float:
    cents = _h(f"{tag}:{i}") % int((hi - lo) * 100)
    return round(lo + cents / 100.0, 2)


def host_for(i: int) -> str:
    r = _h(f"host:{i}") % 100
    if r < 35:  # Zipf head: 35% of the crawl on 2 hot hosts
        return HOT_HOSTS[r % len(HOT_HOSTS)]
    return COLD_HOSTS[_h(f"coldhost:{i}") % len(COLD_HOSTS)]


def url_for(i: int) -> str:
    return f"https://{host_for(i)}/doc/{i:012d}.html"


def vendor_for(i: int) -> str:
    return VENDORS[_h(f"vendor:{i}") % len(VENDORS)]


def invoice_number_for(i: int) -> str:
    return f"A{_h(f'invno:{i}') % 10_000_000:07d}"


def _invoice_body(i: int) -> str:
    """Invoice-like text covering every parser regex branch by row index."""
    vendor = vendor_for(i)
    invno = invoice_number_for(i)
    sub = _money(i, "subtotal")
    tax = round(sub * 0.08, 2)
    total = round(sub + tax, 2)
    label = _h(f"label:{i}") % 4
    if label == 0:
        head = f"Invoice # {invno}"
    elif label == 1:
        head = f"INV: {invno}"
    elif label == 2:
        head = f"Bill No. {invno}"
    else:
        head = f"# {invno}"
    day = 1 + _h(f"day:{i}") % 28
    month = 1 + _h(f"month:{i}") % 12
    if label >= 2:
        # keep these documents free of 'inv' substrings so the bill-no and
        # bare-# patterns (backend/invoiceParser.js:10-11) genuinely fire
        # (the 'inv' cascade would otherwise capture 'oice' out of
        # 'Invoice Date' first — a faithful reference quirk covered by unit
        # tests instead of dominating the corpus)
        date_line = f"Issued: {month:02d}/{day:02d}/2024"
        due_line = f"Pay by: {month:02d}/{min(day + 14, 28):02d}/2024"
    elif _h(f"dstyle:{i}") % 2 == 0:
        date_line = f"Invoice Date: {month:02d}/{day:02d}/2024"
        due_line = f"Due Date: {month:02d}/{min(day + 14, 28):02d}/2024"
    else:
        months = ["January", "February", "March", "April", "May", "June", "July",
                  "August", "September", "October", "November", "December"]
        date_line = f"Invoice Date: {months[month - 1]} {day}, 2024"
        due_line = f"Payment Due: {months[month - 1]} {min(day + 14, 28)}, 2024"
    cur = "$" if _h(f"cur:{i}") % 3 else "USD "
    tax_label = "Tax: 8% " if _h(f"taxl:{i}") % 2 else "VAT: "
    qty = 1 + _h(f"qty:{i}") % 9
    unit = round(sub / qty, 2)
    return "\n".join(
        [
            f"From: {vendor}",
            head,
            date_line,
            due_line,
            "",
            f"Professional services rendered  {qty}  {cur}{unit:,.2f}  {cur}{sub:,.2f}",
            "",
            f"Subtotal: {cur}{sub:,.2f}",
            f"{tax_label}{cur}{tax:,.2f}",
            f"Total Due: {cur}{total:,.2f}",
        ]
    )


_NAV = (
    '<nav class="top"><ul>'
    + "".join(f'<li><a href="/s/{k}">section {k} link text here</a></li>' for k in range(8))
    + "</ul></nav>"
)
_FOOTER = (
    "<footer><div>"
    + " | ".join(f'<a href="/f/{k}">footer link {k}</a>' for k in range(10))
    + "</div></footer>"
)
_SIDEBAR = (
    '<aside><div class="links">'
    + "".join(f'<a href="/r/{k}">related article link number {k}</a>' for k in range(12))
    + "</div></aside>"
)

_ARTICLE_SENTENCES = [
    "The quarterly report shows steady growth across all regional markets.",
    "Researchers announced a new method for large scale data processing.",
    "The committee will meet next week to discuss the revised proposal.",
    "Local infrastructure projects continue despite budget constraints.",
    "Analysts expect the trend to continue through the next fiscal year.",
    "The study highlights the importance of reproducible measurement.",
]


def _article_body(i: int) -> str:
    n = 3 + _h(f"nsent:{i}") % 4
    return " ".join(
        _ARTICLE_SENTENCES[_h(f"sent:{i}:{k}") % len(_ARTICLE_SENTENCES)]
        for k in range(n)
    )


def make_document_text(i: int) -> str:
    """Deterministic web-text document with the dup structure curation needs
    (non-recursive — base bodies are referenced directly):
    - every doc with i % 29 == 7 carries doc 7's body verbatim: ONE large
      boilerplate class of exact duplicates (n/29 members — the unbounded
      group the exact-dedup window must handle);
    - every doc with i % 13 == 5 (i >= 13) is a NEAR duplicate of its
      neighbor i-1 (same body, an appended footnote — MinHash-close,
      fingerprint-distinct)."""
    # the per-doc ref token keeps PLAIN docs fingerprint-distinct (the
    # sentence pool is small, so bare bodies would collide accidentally);
    # exact duplicates are exactly the planted boilerplate class
    if i % 29 == 7:
        return _article_body(7) + " ref-7"
    if i >= 13 and i % 13 == 5:
        return _article_body(i - 1) + f" ref-{i - 1} appended footnote {i % 3}"
    return _article_body(i) + f" ref-{i}"


DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _document_row(row: dict) -> dict:
    i = row["id"]
    text = make_document_text(i)
    return {
        "doc_id": i,
        "text": text,
        "lang": LANGS[_h(f"lang:{i}") % len(LANGS)],
        "source": f"synthetic/{i % 10}",
        "n_chars": len(text),
    }


def documents_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic documents table (doc_id, text, lang,
    source, n_chars) — the large-scale stand-in for the driver's
    documents.parquet, used by the curation bench leg."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4)
    ids = spark.range(0, n, numPartitions=partitions)
    return map_rows(ids, _document_row, DOCUMENTS_SCHEMA)


def _html_page(i: int, body_text: str) -> bytes:
    paragraphs = "".join(f"<p>{ln}</p>" if ln else "<br/>" for ln in body_text.split("\n"))
    page = (
        "<!DOCTYPE html><html><head><title>doc</title>"
        "<script>var t=1;function f(){return t;}</script>"
        "<style>.x{color:red}</style></head><body>"
        "<!-- boilerplate wrapper -->"
        f"{_NAV}{_SIDEBAR}"
        f'<main><article>{paragraphs}</article></main>'
        f"{_FOOTER}</body></html>"
    )
    return page.encode("utf-8")


def _pdf_page(body_text: str) -> bytes:
    ops = "\n".join(
        "({}) Tj".format(ln.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)"))
        for ln in body_text.split("\n")
    )
    return (f"%PDF-1.4\n1 0 obj\nstream\nBT\n{ops}\nET\nendstream\nendobj\n%%EOF").encode(
        "utf-8"
    )


def make_page(i: int) -> dict:
    """One pages row; pure function of the index."""
    kind = i % 10
    if kind == 9 and i >= 10:
        # duplicate: reuse an earlier invoice's number (exercises A4 duplicate flags)
        base = i - 9
        body = _invoice_body(base)
        html = _html_page(i, body)
    elif kind == 8:
        edge = _h(f"edge:{i}") % 3
        if edge == 0:
            html = b"<!DOCTYPE html><html><head></head><body></body></html>"
        elif edge == 1:
            html = _html_page(i, "short")  # below MIN_BLOCK_CHARS -> empty extract
        else:
            html = _html_page(i, "Résumé fiscal — facture numéro "
                                 "spéciale pour la société " + vendor_for(i))
    elif kind == 7:
        html = _pdf_page(_invoice_body(i))
    elif kind == 6:
        html = _html_page(i, _article_body(i))
    else:
        html = _html_page(i, _invoice_body(i))
    return {
        "url": url_for(i),
        "warc_ts": BASE_TS + dt.timedelta(seconds=int(_h(f"ts:{i}") % 31_536_000)),
        "html": html,
        "text": "",  # pre-extracted hint column; pipeline must not depend on it
        "lang": LANGS[_h(f"lang:{i}") % len(LANGS)],
    }


PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def pages_pdf(n: int, start: int = 0) -> pd.DataFrame:
    rows = [make_page(i) for i in range(start, start + n)]
    return pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA.fields])


def pages_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic generation: spark.range -> util.map_rows."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4)
    ids = spark.range(0, n, numPartitions=partitions)
    return map_rows(ids, lambda row: make_page(row["id"]), PAGES_SCHEMA)


def _page_from_document(row: dict) -> dict:
    i = row["doc_id"]
    if i % 10 not in (6, 8):
        return make_page(i)
    return {
        "url": url_for(i),
        "warc_ts": BASE_TS + dt.timedelta(seconds=int(_h(f"ts:{i}") % 31_536_000)),
        "html": _html_page(i, row["text"] or ""),
        "text": "",
        "lang": LANGS[_h(f"lang:{i}") % len(LANGS)],
    }


def pages_from_documents(docs: DataFrame) -> DataFrame:
    """Wrap the driver-provided ``documents`` table into pages rows.

    Pure per-row: doc_id drives the same kind layout as ``make_page`` so the
    ledger generator's invoice alignment holds; kinds 6 and 8 carry the real
    document text as the main-content block (those rows are the
    extraction-identity oracle subset: extracted_text == text for them).

    The driver's documents.parquet is a single small file -> ONE scan
    partition, which would serialize the whole (CPU-bound) extraction stage
    behind it. The projected columns are tiny (html is synthesized AFTER the
    exchange), so widening the scan is a ~free shuffle that unlocks every
    core. Real page tables (many files, hash-bucketed) never hit this path.
    """
    slim = with_scan_parallelism(docs.select("doc_id", "text"))
    return map_rows(slim, _page_from_document, PAGES_SCHEMA)


# --- ledger dimension (analog of payment_records, backend/db.js:125-135) ---

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("record_id", T.StringType(), False),
        T.StructField("vendor_name", T.StringType(), True),
        T.StructField("expected_amount", T.DoubleType(), True),
        T.StructField("due_date", T.StringType(), True),
        T.StructField("reference_number", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
    ]
)

# vendor-name noise variants exercising normalizeVendor + fuzzy scoring
_VENDOR_VARIANTS = [
    lambda v: v,
    lambda v: v.upper(),
    lambda v: v.lower(),
    lambda v: v.replace(" ", "  ") + ".",
    lambda v: v + " Pvt. Ltd.",
    lambda v: v.replace("Corp", "Corporation").replace("Inc", "Incorporated"),
]


@_lru_cache(maxsize=65536)
def extracted_invoice_for(i: int) -> tuple:
    """(vendor_name, total_amount) the pipeline extracts from page i (pure)."""
    from invoice_ocr_reconciler_spark.extraction.html_extract import extract_payload
    from invoice_ocr_reconciler_spark.functions.parse_fields import parse_invoice_text

    p = make_page(i)
    f = parse_invoice_text(extract_payload(p["html"]), p["url"])
    return f["vendor_name"], f["total_amount"]


def make_ledger_record(j: int, n_pages: int) -> dict:
    """Record j aligned to invoice page index (so every branch is exercised).

    j maps to page index i = (j * 7) % n_pages; expected_amount is the
    *pipeline-extracted* total of that page scaled exact / off-by-0.5% /
    off-by-8% by j % 3 — exercising the 1% tolerance
    (reference: backend/reconciliationEngine.js:25-35). Every 11th record uses
    a vendor absent from the pages (missing-record anti join,
    reference: backend/reconciliationEngine.js:199).
    """
    if j % 11 == 10:
        vendor = f"Phantom Holdings {j} GmbH"
        amount = _money(j, "phantom")
        ref = f"R-NOINV-{j}"
    else:
        i = (j * 7) % max(n_pages, 1)
        # snap to an invoice-bearing page kind (0-5, 7, 9)
        while i % 10 in (6, 8):
            i = (i + 1) % max(n_pages, 1)
        base_i = i - 9 if (i % 10 == 9 and i >= 10) else i
        vendor = _VENDOR_VARIANTS[_h(f"vv:{j}") % len(_VENDOR_VARIANTS)](
            vendor_for(base_i)
        )
        base = extracted_invoice_for(base_i)[1]
        factor = [1.0, 1.005, 1.08][j % 3]
        amount = round(base * factor, 2)
        ref = invoice_number_for(i)
    return {
        "record_id": f"R-{j:06d}",
        "vendor_name": vendor,
        "expected_amount": amount,
        "due_date": f"{1 + _h(f'ldm:{j}') % 12:02d}/{1 + _h(f'ldd:{j}') % 28:02d}/2024",
        "reference_number": ref,
        "status": "unpaid",
    }


def ledger_pdf(n_records: int, n_pages: int) -> pd.DataFrame:
    rows = [make_ledger_record(j, n_pages) for j in range(n_records)]
    return pd.DataFrame(rows, columns=[f.name for f in LEDGER_SCHEMA.fields])


def ledger_df(spark: SparkSession, n_records: int, n_pages: int) -> DataFrame:
    return spark.createDataFrame(ledger_pdf(n_records, n_pages), schema=LEDGER_SCHEMA)
