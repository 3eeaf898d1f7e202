"""Self-test of the benchmark: the output checks, the seeded inputs and a
tiny-size smoke run of every workload, untraced and traced.

    python3 perfbench/selftest.py

Run from the root of a checkout; takes a few minutes (each smoke run starts
its own Spark session). Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import inputs  # noqa: E402
from invoice_ocr_reconciler_spark import datagen  # noqa: E402

BANDS = checks.STATUS_BANDS["tiny"]


def _delta_case():
    urls = [f"u{i}" for i in range(20)]
    status = ["matched"] * 8 + ["mismatch"] * 4 + ["missing"] * 6 + ["duplicate"] * 2
    results = [
        {"invoice_url": u, "match_status": s,
         "record_id": f"r{i}" if s in ("matched", "mismatch") else None}
        for i, (u, s) in enumerate(zip(urls, status))
    ]
    summary = {"total_invoices": 20, "matched": 8, "mismatched": 4,
               "missing_invoices": 6, "duplicate": 2, "total_records": 30,
               "missing_records": 18}
    return results, summary, urls


def test_delta_checks() -> None:
    results, summary, urls = _delta_case()
    assert checks.check_delta_batch(results, summary, urls, 30, BANDS) == []
    lost = checks.check_delta_batch(results[1:], summary, urls, 30, BANDS)
    assert any("cover" in f for f in lost), lost
    doubled = checks.check_delta_batch(results + results[:1], summary, urls, 30, BANDS)
    assert any("more than one" in f for f in doubled), doubled
    reused = [dict(r) for r in results]
    reused[1]["record_id"] = "r0"
    assert any("matched twice" in f for f in
               checks.check_delta_batch(reused, summary, urls, 30, BANDS))
    off = dict(summary, matched=9)
    assert any("summary matched" in f for f in
               checks.check_delta_batch(results, off, urls, 30, BANDS))
    skewed = [dict(r, match_status="missing", record_id=None) for r in results]
    assert any("share" in f for f in
               checks.check_delta_batch(skewed, summary, urls, 30, BANDS))


def test_ingest_checks() -> None:
    rows = {0: 5, 1: 7}
    run = {"processed": [0, 1], "failed": [], "skipped": []}
    assert checks.check_ingest_run(run, rows, rows, rows, {0, 1}) == []
    assert checks.check_ingest_run(run, rows, rows, rows, {1})
    assert checks.check_ingest_run(run, rows, {0: 5, 1: 6}, rows, {0, 1})
    assert checks.check_ingest_run(dict(run, failed=[(1, "boom")]), rows, rows, rows, {0, 1})
    text = [{"url": "a", "extracted_text": "x"}, {"url": "b", "extracted_text": "y"}]
    assert checks.check_text_sample(text, {"a": "x", "b": "y"}.get, 0) == []
    assert checks.check_text_sample(text, {"a": "x", "b": "z"}.get, 0)
    assert checks.digest(text) == checks.digest(text[::-1])
    assert checks.digest(text) != checks.digest(text[:1])


def test_inputs() -> None:
    for seed in (0, 1, 7, 10**6):
        start = inputs.window_start(seed)
        assert start % 10 == 0 and start > 0
        assert inputs.page_index(datagen.url_for(start + 3)) == start + 3
    start, n = inputs.window_start(3), 500
    ledger = inputs.ledger_frame(3, start, n, 100)
    assert ledger.equals(inputs.ledger_frame(3, start, n, 100))
    window = {datagen.invoice_number_for(i) for i in range(start, start + n)}
    real = ledger[~ledger["reference_number"].str.startswith("R-NOINV")]
    assert len(real) > 80 and set(real["reference_number"]) <= window


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
        text=True, timeout=600,
    )


def test_smoke() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        digests = set()
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            p = _run(["--workload", w["name"], "--seed", "5", "--seconds", "1",
                      "--trace", str(trace), "--size", "tiny"], ROOT)
            assert p.returncode == 0, p.stderr[-3000:]
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
            assert result["correct"] and result["failed"] == 0, lines[-2]
            assert set(result["metrics"]) == {m["name"] for m in spec[kind]}, result
            info = json.loads(lines[-2].split(" ", 1)[1])
            digests.add(info["digest"])
            print(f"ok {w['name']} trace={trace} attempted={result['attempted']}")
        assert len(digests) == 1, f"{w['name']}: digests differ across runs {digests}"


def test_refuses_without_package() -> None:
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = _run(["--workload", "delta", "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
        assert p.returncode != 0 and '"correct"' not in p.stdout, (p.returncode, p.stdout)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    for test in (test_delta_checks, test_ingest_checks, test_inputs,
                 test_refuses_without_package, test_smoke):
        test()
        print(f"ok {test.__name__}")
