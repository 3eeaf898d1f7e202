"""Batch-incremental checkpointing: per-partition completion manifest with
lineage + rows/bytes metrics, and resumable reruns (SURVEY.md §4.3-4).

The reference has no streaming (SURVEY.md §2.9); its transactional persist
(backend/server.js:531-550) maps to atomic per-bucket commits here. The unit
of work is a url hash bucket (sources/pages.py): a rerun anti-joins the input
bucket list against the manifest and recomputes ONLY incomplete buckets —
"resumable from checkpoint" per the north_rule. On Iceberg the same manifest
rides on snapshot ids; in the sandbox it is a JSON-file-per-bucket directory
with atomic rename commits.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections.abc import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_BUCKET_RE = re.compile(r"url_bucket=(\d+)$")


class BucketRunError(RuntimeError):
    """One or more buckets failed; committed work is NOT lost.

    .processed — buckets that committed (and are in the manifest) this run;
    .failed    — [(bucket, error-str)] for buckets that raised.
    """

    def __init__(self, processed: list[int], failed: list[tuple[int, str]]):
        self.processed = processed
        self.failed = failed
        names = ", ".join(f"{b}: {e}" for b, e in failed)
        super().__init__(
            f"{len(failed)} bucket(s) failed ({names}); "
            f"{len(processed)} committed and resumable from the manifest"
        )


class CheckpointManifest:
    """One JSON file per completed bucket; commit = write-tmp + atomic rename."""

    def __init__(self, manifest_dir: str):
        self.dir = manifest_dir
        os.makedirs(manifest_dir, exist_ok=True)

    def completed_buckets(self) -> set[int]:
        out = set()
        for name in os.listdir(self.dir):
            m = re.match(r"bucket-(\d+)\.json$", name)
            if m:
                out.add(int(m.group(1)))
        return out

    def entry(self, bucket: int) -> dict | None:
        path = os.path.join(self.dir, f"bucket-{bucket}.json")
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def record(self, bucket: int, metrics: dict) -> None:
        path = os.path.join(self.dir, f"bucket-{bucket}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"bucket": bucket, **metrics}, fh, sort_keys=True)
        os.replace(tmp, path)  # atomic commit

    def all_metrics(self) -> list[dict]:
        return [self.entry(b) for b in sorted(self.completed_buckets())]


def manifest_df(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """Checkpoint manifest as a queryable DataFrame — the analog of the
    reference's reconciliation_sessions listing (`GET /api/reconciliations`,
    backend/server.js:566-574: run-level counters, recency-ordered). One
    row per committed bucket with rows/bytes/wall/lineage/attempt; order
    and limit with plain DataFrame ops (e.g. .orderBy(F.desc('wall_ms'))).
    """
    path = os.path.join(manifest_dir, "bucket-*.json")
    return spark.read.json(path).select(
        F.col("bucket").cast("int"),
        F.col("rows").cast("bigint"),
        F.col("bytes").cast("bigint"),
        F.col("wall_ms").cast("bigint"),
        "min_url",
        "max_url",
        F.col("attempt").cast("int"),
        "input_path",
    )


def _discover_buckets(input_path: str) -> list[int]:
    out = []
    for name in os.listdir(input_path):
        m = _BUCKET_RE.search(name)
        if m and os.path.isdir(os.path.join(input_path, name)):
            out.append(int(m.group(1)))
    return sorted(out)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def run_resumable(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    manifest: CheckpointManifest,
    transform: Callable[[DataFrame], DataFrame] | None,
    fail_after: int | None = None,
    transform_factory: Callable[[int], Callable[[DataFrame], DataFrame]] | None = None,
) -> dict:
    """Process each incomplete url bucket through ``transform`` and commit.

    Buckets are dispatched as CONCURRENT Spark jobs from a driver-side
    thread pool ``defaultParallelism`` wide, one bucket per core. With
    extract_and_parse or extract_pages, which add no exchange, each
    one-file bucket is one task, and the pool fills the cores when at least
    as many buckets as cores are pending; transforms that shuffle inside
    every bucket (write_back_bucketed's MERGE join, build_corpus_resumable's
    latest-snapshot window) run at the same width. Each pool thread
    inherits the caller's Spark local properties (job group, description)
    and session tags, so a bucket's jobs are attributed to the calling
    context.

    With extract_and_parse, a bucket costs two Spark jobs: reading its
    input's parquet footer, and the write. The
    manifest's ``rows``/``min_url``/``max_url`` come from an ``Observation``
    on the written frame, read after the write returns, so the committed
    output is never scanned again. Each bucket commits its manifest entry
    atomically and independently, so a kill leaves exactly the completed
    buckets durable.

    ``fail_after`` (tests only) stops dispatching after N buckets to
    simulate a mid-job kill (runs sequentially for determinism); the
    following run resumes from the manifest.
    Returns {'processed': [...], 'skipped': [...], 'failed': [...]}.

    Failure contract: every bucket is attempted; failures never discard the
    list of buckets that DID commit. If any bucket fails, a BucketRunError
    is raised carrying .processed (committed this run) and .failed
    ([(bucket, error-str)]) — the manifest already holds the committed
    entries, so the next run resumes exactly the failed/unattempted set.
    """
    if (transform is None) == (transform_factory is None):
        raise ValueError("pass exactly one of transform / transform_factory")
    all_buckets = _discover_buckets(input_path)
    done = manifest.completed_buckets()
    todo = [b for b in all_buckets if b not in done]

    def _one(bucket: int) -> int:
        t0 = time.monotonic()
        src = f"{input_path}/url_bucket={bucket}"
        dst = f"{output_path}/url_bucket={bucket}"
        df = spark.read.parquet(src)
        # transform_factory: bucket-aware transforms (e.g. a MERGE that
        # routes its updates frame to this bucket's key slice)
        tf = transform_factory(bucket) if transform_factory is not None else transform
        obs = Observation()
        tf(df).observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.min("url").alias("min_url"),
            F.max("url").alias("max_url"),
        ).write.mode("overwrite").parquet(dst)
        stats = obs.get  # filled by the write; read only after it returned
        prior = manifest.entry(bucket)
        manifest.record(
            bucket,
            {
                "rows": stats["rows"],
                "bytes": _dir_bytes(dst),
                "wall_ms": int((time.monotonic() - t0) * 1000),
                "min_url": stats["min_url"],
                "max_url": stats["max_url"],
                "attempt": (prior or {}).get("attempt", 0) + 1,
                "input_path": src,
            },
        )
        return bucket

    processed = []
    failed: list[tuple[int, str]] = []
    if fail_after is not None:
        for n, bucket in enumerate(todo):
            if n >= fail_after:
                break
            processed.append(_one(bucket))
    else:
        from concurrent.futures import ThreadPoolExecutor, as_completed

        with ThreadPoolExecutor(max_workers=spark.sparkContext.defaultParallelism) as pool:
            # wrapped per bucket: a wrapper clones the caller's local
            # properties once and installs that one object in its thread, so
            # a wrapper shared by the pool would let a bucket that sets its
            # own job group relabel the other buckets' jobs
            futures = {
                pool.submit(inheritable_thread_target(spark)(_one), b): b for b in todo
            }
            for fut in as_completed(futures):
                bucket = futures[fut]
                try:
                    processed.append(fut.result())
                except Exception as exc:  # noqa: BLE001 — per-bucket isolation
                    failed.append((bucket, str(exc)))
        if failed:
            raise BucketRunError(sorted(processed), sorted(failed))
    return {"processed": sorted(processed), "skipped": sorted(done), "failed": failed}
