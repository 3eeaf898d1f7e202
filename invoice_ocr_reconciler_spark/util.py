"""Small shared plan utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def with_scan_parallelism(df: DataFrame) -> DataFrame:
    """Ensure a CPU-bound stage is fed at least defaultParallelism partitions.

    A small corpus in one parquet file yields ONE scan split, which serializes
    every downstream Arrow/pandas UDF onto a single core. When the upstream
    partition count is below the cluster's default parallelism, repartition up
    (round-robin). At web scale the scan has thousands of file splits and this
    is a no-op.

    The exchange is not cheap when many such frames run side by side: under
    run_resumable's bucket pool on 4 cores it tripled the executor time of
    per-bucket extraction. So only the caller decides: extract_and_parse,
    extract_pages and parse_invoice_fields keep their input's partitioning,
    and run_pipeline, whose single batch may be one file, widens its pages
    before extraction.

    Values are partition-invariant everywhere this is used (pure per-row
    functions; pinned by the two-parallelism determinism tests).
    """
    if df.isStreaming:  # .rdd is illegal on streaming frames; micro-batch
        return df  # parallelism is the source's concern (maxFilesPerTrigger)
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
