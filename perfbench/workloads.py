"""The benchmark's workloads: closed loops with one client.

Each workload lands its seeded inputs (``generate``), runs one untimed warm
unit, then runs units back to back until ``seconds`` of measured unit time
have passed (at least one). A unit starts only after the previous one has
finished and its outputs have been checked.

``trace`` runs the warm unit, then the same unit twice: once plain and once
with its Spark jobs tagged by a span's job group; the difference is the
tracing overhead. A third unit runs the layers one by one, each inside its
own span with its output materialized, and gives the per-layer counters.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import time
import traceback
from contextlib import nullcontext

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import inputs
from invoice_ocr_reconciler_spark import datagen
from invoice_ocr_reconciler_spark.extraction.html_extract import extract_payload
from invoice_ocr_reconciler_spark.operators.reconcile import (
    candidate_pairs,
    reconcile,
    with_duplicate_flags,
)
from invoice_ocr_reconciler_spark.pipeline import extract_and_parse, run_pipeline
from invoice_ocr_reconciler_spark.sources.pages import read_pages
from invoice_ocr_reconciler_spark.sources.registers import read_register_csv
from invoice_ocr_reconciler_spark.streaming.resume import (
    BucketRunError,
    CheckpointManifest,
    run_resumable,
)

# per-layer metrics of a layer the workload never calls
NO_RECONCILE = {
    "reconcile.jobs": 0, "reconcile.stages": 0, "reconcile.tasks": 0,
    "reconcile.busy_s": 0.0, "reconcile.shuffle_write_bytes": 0,
    "reconcile.max_task_skew": 0.0, "reconcile.candidate_pairs": 0,
    "reconcile.pairs_per_invoice": 0.0, "reconcile.matched_frac": 0.0,
}
NO_RESUME = {
    "resume.jobs": 0, "resume.tasks": 0, "resume.bucket_p50_ms": 0.0,
    "resume.bytes_committed": 0, "resume.skipped_buckets": 0,
}


class Tally:
    """Attempted and failed operations: batches, buckets and output checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def ops(self, what: str, attempted: int, failures: list[str]) -> None:
        """``attempted`` operations, one failed per entry of ``failures``."""
        self.attempted += attempted
        self.failed += len(failures)
        self.failures.extend(f"{what}: {f}" for f in failures)

    def check(self, what: str, failures: list[str]) -> None:
        """One output check, failed if it reported anything."""
        self.attempted += 1
        self.failed += bool(failures)
        self.failures.extend(f"{what}: {f}" for f in failures)


def _expected_text(url: str) -> str:
    return extract_payload(datagen.make_page(inputs.page_index(url))["html"])


def _extract_metrics(c: dict, n_docs: int, empty_frac: float) -> dict:
    return {
        "extract.busy_s": c["busy_s"],
        # docs per executor-busy second: independent of how many run at once
        "extract.docs_per_s": n_docs / c["busy_s"] if c["busy_s"] else 0.0,
        "extract.tasks": c["tasks"],
        # pages with no invoice content: empty text or a non-invoice page
        "extract.empty_frac": empty_frac,
    }


class Delta:
    """Successive ~2k-page batches through ``run_pipeline``, each reconciled
    against a register CSV (read with ``read_register_csv``, as
    jobs/run_extract_reconcile.py does) that is larger than the batch.
    Batch 0 is the warm pass; batch 1 is measured, again and again if
    ``seconds`` allows, and a batch seen again must give the same rows."""

    SIZES = {
        "full": {"batch_pages": 2000, "ledger": 3000},
        "tiny": {"batch_pages": 200, "ledger": 300},
    }
    # a run_pipeline call costs about the same at any size up to 10k pages,
    # so the check's time budget allows one measured batch per run
    BATCHES = 2
    # the register spans the pages of three batches (the session's two and
    # one not uploaded), which sets the status mix that STATUS_BANDS bound
    LEDGER_SPAN = 3

    def __init__(self, size: str, seed: int):
        self.cfg = self.SIZES[size]
        self.size = size
        self.seed = seed
        self.start = inputs.window_start(seed)
        self.digests: dict[int, str] = {}
        self.counts: dict[int, dict] = {}

    def generate(self, root: str) -> None:
        n, per = self.BATCHES, self.cfg["batch_pages"]
        for b in range(n):
            inputs.land_parquet(
                inputs.pages_table(self.start + b * per, per), f"{root}/batch-{b}"
            )
        ledger = inputs.ledger_frame(
            self.seed, self.start, self.LEDGER_SPAN * per, self.cfg["ledger"]
        )
        ledger.to_csv(f"{root}/ledger.csv", index=False)
        self.root = root

    def _urls(self, b: int) -> list[str]:
        first = self.start + b * self.cfg["batch_pages"]
        return [datagen.url_for(i) for i in range(first, first + self.cfg["batch_pages"])]

    def _check(self, spark, b: int, results, summary, tally: Tally) -> None:
        spark.catalog.clearCache()  # reconcile leaves its frames persisted
        rows = [r.asDict(recursive=True) for r in results]
        tally.check(
            f"batch {b}",
            checks.check_delta_batch(
                rows, summary[0].asDict(), self._urls(b), self.cfg["ledger"],
                checks.STATUS_BANDS[self.size],
            ),
        )
        d = checks.digest(rows)
        if b in self.digests:  # a batch seen again must give the same rows
            tally.check(f"batch {b} repeat",
                        [] if self.digests[b] == d else ["output changed on rerun"])
        self.digests.setdefault(b, d)
        self.counts.setdefault(b, checks.status_counts(rows))

    def _batch(self, spark, b: int, tally: Tally, around=nullcontext) -> float:
        t0 = time.perf_counter()
        try:
            with around():
                out = run_pipeline(
                    read_pages(spark, f"{self.root}/batch-{b}"),
                    read_register_csv(spark, f"{self.root}/ledger.csv"),
                )
                results, summary = out["results"].collect(), out["summary"].collect()
        except Exception as exc:  # a failed batch is counted; the loop goes on
            traceback.print_exc()
            tally.ops(f"batch {b}", 1, [repr(exc)])
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        tally.ops(f"batch {b}", 1, [])
        self._check(spark, b, results, summary, tally)
        return dt

    def determinism(self) -> dict:
        """Digest and status counts of batches 0 and 1, which every run
        processes, so they repeat exactly for one (seed, size)."""
        if not {0, 1} <= set(self.digests):
            return {"digest": None}
        return {
            "digest": checks.digest([{"batches": [self.digests[0], self.digests[1]]}]),
            "status_counts": {
                s: self.counts[0][s] + self.counts[1][s] for s in checks.STATUSES
            },
        }

    def run(self, spark, seconds: float, tally: Tally, session_s: float) -> tuple[dict, dict]:
        warm = self._batch(spark, 0, tally)
        times = []
        while not times or sum(times) < seconds:
            times.append(self._batch(spark, 1, tally))
        metrics = {
            "docs_per_s": self.cfg["batch_pages"] * len(times) / sum(times),
            "batch_s": statistics.median(times),
            # a restarted client's wait for its first result: session start
            # plus the cold first batch (the warm pass, kept out of batch_s)
            "resume_s": session_s + warm,
        }
        return metrics, {"batch_samples": len(times), "batch_times": times,
                         **self.determinism()}

    def trace(self, spark, tally: Tally, tracer, rest) -> tuple[dict, dict]:
        self._batch(spark, 0, tally)  # warm
        plain = self._batch(spark, 1, tally)
        tagged = self._batch(spark, 1, tally, around=lambda: tracer.span("pipeline"))

        # batch 1 again, layer by layer: the steps run_pipeline composes,
        # each materialized inside its own span; the rows must not change
        t0 = time.perf_counter()
        with tracer.span("decomposed"):
            with tracer.span("sources.pages"):
                pages = read_pages(spark, f"{self.root}/batch-1").cache()
                pages.count()
            with tracer.span("sources.registers"):
                ledger = read_register_csv(spark, f"{self.root}/ledger.csv").cache()
                ledger.count()
            with tracer.span("extraction"):
                invoices = extract_and_parse(pages, include_text=False).cache()
                n_docs = invoices.count()
            with tracer.span("reconcile"):
                out = reconcile(invoices, ledger)
                results, summary = out["results"].collect(), out["summary"].collect()
        decomposed = time.perf_counter() - t0
        # reconcile's first step again, outside the reconcile span, to count
        # the candidate pairs its blocked join produces
        with tracer.span("reconcile.candidates"):
            live = with_duplicate_flags(
                invoices.select("url", "invoice_number", "vendor_name", "total_amount")
            ).filter(~F.col("is_duplicate"))
            n_pairs = candidate_pairs(live, ledger).count()
        n_empty = invoices.filter(F.col("confidence") == 0).count()
        tally.ops("batch 1 decomposed", 1, [])
        self._check(spark, 1, results, summary, tally)

        c = rest.counters(
            {k: tracer.group(k) for k in ("reconcile", "extraction")},
            skew_for={"reconcile"},
        )
        counts = self.counts[1]
        n_live = len(results) - counts["duplicate"]
        r = c["reconcile"]
        metrics = {
            **{f"reconcile.{k}": r[k] for k in
               ("jobs", "stages", "tasks", "busy_s", "shuffle_write_bytes", "max_task_skew")},
            "reconcile.candidate_pairs": n_pairs,
            "reconcile.pairs_per_invoice": n_pairs / max(n_live, 1),
            "reconcile.matched_frac": (counts["matched"] + counts["mismatch"]) / max(n_live, 1),
            **_extract_metrics(c["extraction"], n_docs, n_empty / max(n_docs, 1)),
            **NO_RESUME,
            "sources.ledger_read_s": tracer.wall("sources.registers"),
            "trace.overhead_s": tagged - plain,
            "trace.decomposed_s": decomposed,
        }
        return metrics, {"plain_s": plain, "tagged_s": tagged, **self.determinism()}


class Ingest:
    """``run_resumable(..., extract_and_parse)`` over url-bucketed pages on a
    fresh manifest, then again after about half its entries are dropped."""

    SIZES = {
        "full": {"pages": 6000, "buckets": 12},
        "tiny": {"pages": 400, "buckets": 4},
    }

    def __init__(self, size: str, seed: int):
        self.cfg = self.SIZES[size]
        self.seed = seed
        self.start = inputs.window_start(seed)
        self.digest: str | None = None

    def generate(self, root: str) -> None:
        table = inputs.pages_table(self.start, self.cfg["pages"])
        self.input_rows = inputs.land_bucketed(table, f"{root}/pages", self.cfg["buckets"])
        self.root = root

    def _output_rows(self, out: str) -> dict[int, int]:
        return {
            b: sum(
                pq.read_metadata(f).num_rows
                for f in glob.glob(f"{out}/url_bucket={b}/*.parquet")
            )
            for b in self.input_rows
        }

    def _output(self, out: str) -> list[dict]:
        cols = ["url", "extracted_text", "invoice_number", "vendor_name",
                "total_amount", "confidence"]
        return pq.read_table(out, columns=cols).to_pylist()

    def _resumable(self, spark, what, out, manifest, transform, expect, tally) -> tuple:
        t0 = time.perf_counter()
        try:
            result = run_resumable(spark, f"{self.root}/pages", out, manifest, transform)
        except BucketRunError as exc:  # committed buckets stay; failed ones count
            result = {"processed": exc.processed, "failed": exc.failed,
                      "skipped": sorted(set(self.input_rows) - expect)}
        dt = time.perf_counter() - t0
        tally.ops(what, len(expect), [f"bucket {b}: {e}" for b, e in result["failed"]])
        tally.check(
            f"{what} output",
            checks.check_ingest_run(
                result,
                {m["bucket"]: m["rows"] for m in manifest.all_metrics()},
                self._output_rows(out),
                self.input_rows,
                expect,
            ),
        )
        return result, dt

    def _unit(self, spark, k: int, tally: Tally, rerun: bool = True,
              transform=extract_and_parse) -> dict:
        """Fresh run; then drop about half the manifest and rerun."""
        out = f"{self.root}/out-{k}"
        manifest = CheckpointManifest(f"{self.root}/manifest-{k}")
        everything = set(self.input_rows)
        _, fresh = self._resumable(spark, f"unit {k} fresh", out, manifest,
                                   transform, everything, tally)
        entries = manifest.all_metrics()
        rows = self._output(out)
        d = checks.digest(rows)
        tally.check(f"unit {k} text",
                    checks.check_text_sample(rows, _expected_text, self.seed + k))
        tally.check(f"unit {k} digest",
                    [] if self.digest in (None, d) else ["output differs from the first run"])
        self.digest = self.digest or d
        unit = {
            "fresh_s": fresh, "rerun_s": 0.0, "redone": 0, "skipped": 0,
            "bucket_ms": [m["wall_ms"] for m in entries],
            "bytes": sum(m["bytes"] for m in entries),
            "empty": sum(r["confidence"] == 0 for r in rows),
        }
        if rerun:
            drop = set(random.Random(self.seed * 1000 + k).sample(
                sorted(everything), len(everything) // 2))
            for b in drop:
                os.remove(os.path.join(manifest.dir, f"bucket-{b}.json"))
            result, unit["rerun_s"] = self._resumable(
                spark, f"unit {k} rerun", out, manifest, transform, drop, tally)
            tally.check(
                f"unit {k} rerun",
                ([] if set(result["skipped"]) == everything - drop
                 else ["skipped the wrong buckets"])
                + ([] if checks.digest(self._output(out)) == d
                   else ["rerun changed the output"]),
            )
            unit["redone"] = sum(self.input_rows[b] for b in drop)
            unit["skipped"] = len(result["skipped"])
            unit["bytes"] += sum(m["bytes"] for m in manifest.all_metrics()
                                 if m["bucket"] in drop)
        shutil.rmtree(out)
        shutil.rmtree(manifest.dir)
        return unit

    def run(self, spark, seconds: float, tally: Tally, session_s: float) -> tuple[dict, dict]:
        self._unit(spark, 0, tally, rerun=False)  # warm
        units = []
        while not units or sum(u["fresh_s"] + u["rerun_s"] for u in units) < seconds:
            units.append(self._unit(spark, len(units) + 1, tally))
        docs = sum(self.cfg["pages"] + u["redone"] for u in units)
        metrics = {
            "docs_per_s": docs / sum(u["fresh_s"] + u["rerun_s"] for u in units),
            "batch_s": statistics.median(u["fresh_s"] for u in units),
            "resume_s": statistics.median(u["rerun_s"] for u in units),
        }
        return metrics, {"unit_samples": len(units),
                         "unit_times": [[u["fresh_s"], u["rerun_s"]] for u in units],
                         "digest": self.digest}

    def trace(self, spark, tally: Tally, tracer, rest) -> tuple[dict, dict]:
        self._unit(spark, 0, tally, rerun=False)  # warm
        plain = self._unit(spark, 1, tally)

        # run_resumable runs each bucket in a pool thread, which does not
        # inherit the caller's job group: the transform tags its thread, so
        # the bucket's extraction, write and commit jobs carry the span's group
        def tagging(span):
            def transform(df):
                tracer.tag(span)
                return extract_and_parse(df)
            return transform

        with tracer.span("resume") as span:
            tagged = self._unit(spark, 2, tally, transform=tagging(span))

        # extraction materialized in its own span per bucket; leaving that
        # span re-tags the bucket thread with the enclosing one for the
        # bucket's write and commit
        def materializing(span):
            def transform(df):
                with tracer.span("extraction", parent=span):
                    out = extract_and_parse(df).cache()
                    out.count()
                return out
            return transform

        with tracer.span("decomposed") as span:
            decomposed = self._unit(spark, 3, tally, transform=materializing(span))
        spark.catalog.clearCache()
        c = rest.counters(
            {k: tracer.group(k) for k in ("resume", "extraction")}, skew_for=set()
        )
        n_docs = self.cfg["pages"] + decomposed["redone"]
        wall = {k: u["fresh_s"] + u["rerun_s"] for k, u in
                (("plain", plain), ("tagged", tagged), ("decomposed", decomposed))}
        metrics = {
            **NO_RECONCILE,
            **_extract_metrics(c["extraction"], n_docs,
                               decomposed["empty"] / self.cfg["pages"]),
            "resume.jobs": c["resume"]["jobs"],
            "resume.tasks": c["resume"]["tasks"],
            # the library's own per-bucket wall, from the run without spans
            "resume.bucket_p50_ms": statistics.median(plain["bucket_ms"]),
            "resume.bytes_committed": tagged["bytes"],
            "resume.skipped_buckets": tagged["skipped"],
            "sources.ledger_read_s": 0.0,
            "trace.overhead_s": wall["tagged"] - wall["plain"],
            "trace.decomposed_s": wall["decomposed"],
        }
        return metrics, {"plain_s": wall["plain"], "tagged_s": wall["tagged"],
                         "digest": self.digest}


WORKLOADS = {"delta": Delta, "ingest": Ingest}
