"""Small shared plan utilities."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def map_rows(df: DataFrame, fn: Callable[[dict], dict], schema: T.StructType) -> DataFrame:
    """Apply a stateless per-row Python function in one ``mapInArrow``.

    The core's one way across the JVM/Python boundary: each Arrow batch
    becomes row dicts (``to_pylist``), ``fn`` maps every row to an output
    dict, and the outputs become one batch of ``schema``. Keys outside
    ``schema`` are dropped, so ``fn`` may return more than the caller keeps
    (a missing key is null). No pandas frame is built on either side, and
    the input's partitioning is kept: select the columns ``fn`` reads
    first, since nothing else need cross.
    """

    def batches(it):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
        for batch in it:
            rows = [fn(row) for row in batch.to_pylist()]
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return df.mapInArrow(batches, schema=schema)


def with_scan_parallelism(df: DataFrame) -> DataFrame:
    """Ensure a CPU-bound stage is fed at least defaultParallelism partitions.

    A small corpus in one parquet file yields ONE scan split, which serializes
    every downstream Python crossing onto a single core. When the upstream
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
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
