"""Output checks and digests. Each check returns a list of failure strings;
an empty list is a pass. The runner counts every failed check as a failed
operation."""

from __future__ import annotations

import hashlib
import json
import random
from collections import Counter

STATUSES = ("matched", "mismatch", "missing", "duplicate")

# Share of a delta batch's result rows per status, per input size. The
# window start keeps datagen's page-kind layout fixed, so the mix barely
# moves between seeds (README.md lists the observed ranges); a batch outside
# its band means the inputs or the pipeline changed meaning, not speed.
STATUS_BANDS = {
    "full": {"matched": (0.18, 0.32), "mismatch": (0.34, 0.50),
             "missing": (0.17, 0.31), "duplicate": (0.09, 0.11)},
    # 200-page batches: a few dozen records decide each share
    "tiny": {"matched": (0.15, 0.55), "mismatch": (0.10, 0.40),
             "missing": (0.15, 0.50), "duplicate": (0.08, 0.12)},
}


def digest(rows: list[dict]) -> str:
    """sha256 of the rows as sorted canonical JSON lines."""
    h = hashlib.sha256()
    for line in sorted(json.dumps(r, sort_keys=True, default=str) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def status_counts(results: list[dict]) -> dict[str, int]:
    c = Counter(r["match_status"] for r in results)
    return {s: c.get(s, 0) for s in STATUSES}


def check_delta_batch(
    results: list[dict], summary: dict, urls: list[str], n_ledger: int, bands: dict
) -> list[str]:
    """One run_pipeline batch: coverage, 1:1 assignment, summary parity."""
    bad = []
    seen = Counter(r["invoice_url"] for r in results)
    if set(seen) != set(urls) or len(results) != len(urls):
        bad.append(
            f"results cover {len(seen)} urls in {len(results)} rows, "
            f"batch has {len(urls)} urls"
        )
    twice = [u for u, k in seen.items() if k > 1]
    if twice:
        bad.append(f"{len(twice)} urls have more than one result row")
    ids = Counter(r["record_id"] for r in results if r["record_id"] is not None)
    reused = [i for i, k in ids.items() if k > 1]
    if reused:
        bad.append(f"{len(reused)} record_ids matched twice")
    counts = status_counts(results)
    want = {
        "total_invoices": len(results),
        "matched": counts["matched"],
        "mismatched": counts["mismatch"],
        "missing_invoices": counts["missing"],
        "duplicate": counts["duplicate"],
        "total_records": n_ledger,
        "missing_records": n_ledger - len(ids),
    }
    for key, value in want.items():
        if summary.get(key) != value:
            bad.append(f"summary {key}={summary.get(key)} but results give {value}")
    for status, (lo, hi) in bands.items():
        share = counts[status] / max(len(results), 1)
        if not lo <= share <= hi:
            bad.append(f"{status} share {share:.3f} outside [{lo}, {hi}]")
    return bad


def check_text_sample(
    rows: list[dict], expected_text, seed: int, k: int = 64
) -> list[str]:
    """A seeded sample of urls must carry extracted text byte-identical to
    ``expected_text(url)`` (extract_payload of the same page, run in this process)."""
    by_url = {r["url"]: r["extracted_text"] for r in rows}
    sample = random.Random(seed).sample(sorted(by_url), min(k, len(by_url)))
    wrong = [u for u in sample if by_url[u] != expected_text(u)]
    return [f"{len(wrong)}/{len(sample)} sampled urls differ from extract_payload"] if wrong else []


def check_ingest_run(
    result: dict,
    manifest_rows: dict[int, int],
    output_rows: dict[int, int],
    input_rows: dict[int, int],
    expect_processed: set[int],
) -> list[str]:
    """One run_resumable call: the right buckets ran, nothing failed, and
    every bucket's output and manifest hold exactly its input rows."""
    bad = []
    if result["failed"]:
        bad.append(f"buckets failed: {result['failed']}")
    if set(result["processed"]) != expect_processed:
        extra = sorted(set(result["processed"]) - expect_processed)
        missed = sorted(expect_processed - set(result["processed"]))
        bad.append(f"reprocessed {extra} beyond, and skipped {missed} of, the expected buckets")
    for b, n in input_rows.items():
        if manifest_rows.get(b) != n or output_rows.get(b) != n:
            bad.append(
                f"bucket {b}: input {n} rows, manifest {manifest_rows.get(b)}, "
                f"output {output_rows.get(b)}"
            )
    return bad
