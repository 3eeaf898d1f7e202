"""Seeded benchmark inputs, built only from the package's pure generators.

The seed picks the page-index window and the ledger rows. Every value is then
a pure function of its index (``datagen.make_page`` /
``datagen.make_ledger_record``), so one (seed, size) always gives the same
bytes. Inputs are landed as parquet / CSV with pyarrow and pandas in this
process: they stand for files an upstream crawler and a register upload left
behind, so landing them runs no Spark job and set-up time is the session plus
this generation.
"""

from __future__ import annotations

import os
import random
import re
import zlib

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from invoice_ocr_reconciler_spark import datagen

# Page kinds 6 (article) and 8 (edge cases) carry no invoice, so no ledger
# record targets them (make_ledger_record would snap to the next page).
_NO_INVOICE_KINDS = (6, 8)

_URL_INDEX = re.compile(r"/doc/(\d{12})\.html$")


def window_start(seed: int) -> int:
    """First page index for a seed: a multiple of 10, so datagen's page-kind
    layout (``i % 10``) and with it the status mix is the same for every
    seed, while urls, hosts, vendors and amounts all change."""
    return 10 * (1 + (seed * 7_919_993) % 50_000_000)


def page_index(url: str) -> int:
    """Inverse of ``datagen.url_for``."""
    return int(_URL_INDEX.search(url).group(1))


def pages_table(start: int, n: int) -> pa.Table:
    return pa.Table.from_pandas(datagen.pages_pdf(n, start), preserve_index=False)


def ledger_frame(seed: int, start: int, n_pages: int, n_records: int) -> pd.DataFrame:
    """``n_records`` ledger rows whose invoices lie in [start, start + n_pages).

    ``make_ledger_record(j, n)`` aims record j at page ``7j mod n``. With n
    coprime to 7 that map is a bijection, so each sampled invoice page i is
    reached by exactly one j = i * 7^-1 mod n. Records with j % 11 == 10 come
    out as phantom vendors absent from every page, as datagen intends.
    """
    n = start + n_pages + (1 if (start + n_pages) % 7 == 0 else 0)
    inv7 = pow(7, -1, n)
    bearing = [
        i for i in range(start, start + n_pages) if i % 10 not in _NO_INVOICE_KINDS
    ]
    targets = random.Random(seed).sample(bearing, n_records)
    return pd.DataFrame(
        [datagen.make_ledger_record(i * inv7 % n, n) for i in targets],
        columns=[f.name for f in datagen.LEDGER_SCHEMA.fields],
    )


def land_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    # Spark reads microsecond timestamps, not pandas' nanoseconds
    pq.write_table(table, os.path.join(path, "part-00000.parquet"), coerce_timestamps="us")


def land_bucketed(table: pa.Table, root: str, n_buckets: int) -> dict[int, int]:
    """Land pages as ``url_bucket=K/`` directories, url-sorted within a
    bucket; returns rows per bucket. The bucket is crc32(url) mod n_buckets,
    a pure function of the url that needs no Spark job."""
    urls = table.column("url").to_pylist()
    buckets = [zlib.crc32(u.encode()) % n_buckets for u in urls]
    rows = {}
    for b in range(n_buckets):
        idx = sorted((i for i, k in enumerate(buckets) if k == b), key=urls.__getitem__)
        land_parquet(table.take(idx), os.path.join(root, f"url_bucket={b}"))
        rows[b] = len(idx)
    return rows
