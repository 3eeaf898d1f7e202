"""Register (ledger) ingestion: CSV/JSON with column-alias coalescing.

Reimplements the reference's register upload normalization (reference:
backend/server.js:136-159,458-463): lowercase+underscore column names,
coalesce alias columns, strip [$,] from amounts, default status 'unpaid',
one synthesized id per row (a uuid in the reference, backend/server.js:79).

``record_id`` is the register's key, and it is deterministic: a content hash
of the row, plus an ordinal for each later identical row. Rows that share a
hash are numbered in the order of all five output columns, so the rows that
order ties on are identical and any numbering of them gives the same
output at any parallelism."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# alias precedence mirrors backend/server.js:147-154
_VENDOR_ALIASES = ["vendor_name", "vendor", "company", "name"]
_AMOUNT_ALIASES = ["expected_amount", "amount", "total"]
_DUE_ALIASES = ["due_date", "due", "date"]
_REF_ALIASES = ["reference_number", "ref", "invoice_number", "invoice_no"]


def _norm_col(name: str) -> str:
    return re.sub(r"\s+", "_", name.strip().lower())


def _coalesce_present(df: DataFrame, aliases: list[str]):
    present = [a for a in aliases if a in df.columns]
    if not present:
        return F.lit(None).cast("string")
    return F.coalesce(*[F.col(a).cast("string") for a in present])


def normalize_register(df: DataFrame) -> DataFrame:
    """Raw register frame -> canonical ledger schema."""
    df = df.toDF(*[_norm_col(c) for c in df.columns])
    amount_str = _coalesce_present(df, _AMOUNT_ALIASES)
    status = (
        F.coalesce(F.col("status").cast("string"), F.lit("unpaid"))
        if "status" in df.columns
        else F.lit("unpaid")
    )
    out = df.select(
        _coalesce_present(df, _VENDOR_ALIASES).alias("vendor_name"),
        # strip [$,] then parseFloat||0 (backend/server.js:150)
        F.coalesce(
            F.regexp_replace(amount_str, r"[$,]", "").cast("double"), F.lit(0.0)
        ).alias("expected_amount"),
        _coalesce_present(df, _DUE_ALIASES).alias("due_date"),
        _coalesce_present(df, _REF_ALIASES).alias("reference_number"),
        status.alias("status"),
    )
    # R-<12 hex of the content hash> (every field but status) for the first
    # row of each hash; its later identical twins get -2, -3, ... so every
    # row keeps its own id and greedy can claim each of them
    fields = ["vendor_name", "expected_amount", "due_date", "reference_number", "status"]
    digest = F.concat(
        F.lit("R-"), F.substring(F.md5(F.concat_ws("|", *fields[:4])), 1, 12)
    )
    twin = F.row_number().over(Window.partitionBy("record_id").orderBy(*fields))
    return (
        out.withColumn("record_id", digest)
        .withColumn("twin", twin)
        .select(
            F.when(F.col("twin") == 1, F.col("record_id"))
            .otherwise(F.concat("record_id", F.lit("-"), F.col("twin").cast("string")))
            .alias("record_id"),
            *fields,
        )
    )


def read_register_csv(spark: SparkSession, path: str) -> DataFrame:
    raw = spark.read.option("header", True).csv(path)
    return normalize_register(raw)


def read_register_json(spark: SparkSession, path: str) -> DataFrame:
    raw = spark.read.option("multiLine", True).json(path)
    return normalize_register(raw)
