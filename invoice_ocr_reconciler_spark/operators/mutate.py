"""Row-level mutation operators: MERGE/upsert, delete, status write-back.

Reference semantics covered (batch analogs of the transactional endpoints):
- reconcile status write-back — per result row, UPDATE invoices SET
  status = result.match_status (reference: backend/server.js:539; the
  manual-approve variant :479);
- manual field update + line_items replace — UPDATE invoices SET <fields>,
  DELETE + re-INSERT line_items in one transaction (backend/server.js:
  397-427). Here line_items is an array column of the invoices table, so
  the whole endpoint is ONE upsert whose update_cols include line_items;
- delete invoice — DELETE FROM invoices WHERE id = ? (backend/server.js:
  436-445) -> anti join against a deletes key-set;
- manual link — upsert a reconciliation result to matched/100%/'Manually
  reconciled' (backend/server.js:471-505).

Spark-first shape: MERGE is a full-outer (insert_missing) or left
(update-only — broadcastable) join plus a coalesce projection; Catalyst
picks broadcast vs sort-merge and AQE splits skewed keys. On Iceberg the
same statement is `MERGE INTO target USING updates ON key` with a
snapshot commit (session.py catalog gate); in the sandbox the durable
variant is write_back_bucketed: the url-hash-bucketed table is rewritten
per bucket with atomic manifest commits (streaming/resume.py), so a kill
mid-write-back leaves exactly the committed buckets durable and the next
run resumes the rest — same unit of atomicity a MERGE snapshot gives per
partition spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_MATCH_FLAG = "_upsert_matched"


def _keys(key: str | list[str]) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def upsert(
    target: DataFrame,
    updates: DataFrame,
    key: str | list[str] = "url",
    update_cols: list[str] | None = None,
    insert_missing: bool = True,
    validate_unique: bool = False,
) -> DataFrame:
    """MERGE INTO target USING updates ON key — as a declarative join.

    WHEN MATCHED: every column in ``update_cols`` (default: all non-key
    update columns that exist in the target) takes the update value — even
    when that value is null, matching SQL UPDATE (the reference's UPDATE
    sets every listed field unconditionally, backend/server.js:404-408).
    WHEN NOT MATCHED (``insert_missing``): the update row is inserted;
    target columns it lacks become null. Output schema == target schema.

    Like SQL MERGE, ``updates`` must be key-unique: a duplicated key would
    fan out the matched target row (SQL MERGE raises "cannot update the
    same row twice"). ``validate_unique=True`` enforces this with one cheap
    agg over the (small) updates side and raises ValueError — spend it when
    the updates frame comes from an untrusted producer.

    Plan shape: ``insert_missing=True`` needs a full-outer join (shuffle on
    key, AQE-skew-splittable); ``insert_missing=False`` degrades to a LEFT
    join, which Catalyst broadcasts when updates are small — the cheap path
    for UPDATE-only flows like the status write-back.
    """
    keys = _keys(key)
    if validate_unique:
        dup = (
            updates.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(5)
            .collect()
        )
        if dup:
            samples = [tuple(r[k] for k in keys) for r in dup]
            raise ValueError(
                f"updates frame has duplicate merge keys (sample: {samples}); "
                "MERGE requires key-unique updates"
            )
    tcols = target.columns
    if update_cols is None:
        update_cols = [c for c in updates.columns if c not in keys and c in tcols]
    missing = [c for c in update_cols if c not in updates.columns]
    if missing:
        raise ValueError(f"updates frame lacks update_cols {missing}")
    # mirror check on the target: the projection below iterates
    # target.columns, so an update_col absent from the target would be
    # silently DROPPED — a MERGE that "succeeded" but lost a field
    not_in_target = [c for c in update_cols if c not in tcols]
    if not_in_target:
        raise ValueError(
            f"target frame lacks update_cols {not_in_target} — the update "
            "values would be silently discarded"
        )
    u = updates.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"_u_{c}") for c in update_cols],
        F.lit(True).alias(_MATCH_FLAG),
    )
    how = "full_outer" if insert_missing else "left"
    joined = target.join(u, keys, how)
    matched = F.col(_MATCH_FLAG).isNotNull()
    proj = []
    for c in tcols:
        if c in keys:
            proj.append(F.col(c))
        elif c in update_cols:
            proj.append(F.when(matched, F.col(f"_u_{c}")).otherwise(F.col(c)).alias(c))
        else:
            proj.append(F.col(c))
    return joined.select(*proj)


def delete_rows(
    target: DataFrame, deletes: DataFrame, key: str | list[str] = "url"
) -> DataFrame:
    """DELETE FROM target WHERE key IN (deletes) (backend/server.js:436-445).

    left_anti join — broadcastable for small key-sets, shuffle otherwise."""
    keys = _keys(key)
    return target.join(deletes.select(*keys).dropDuplicates(keys), keys, "left_anti")


def status_writeback(
    invoices: DataFrame,
    results: DataFrame,
    status_col: str = "status",
    inv_key: str = "url",
    res_key: str = "invoice_url",
) -> DataFrame:
    """UPDATE invoices SET status = result.match_status per result row
    (backend/server.js:539). Invoices without a result keep their status.

    UPDATE-only MERGE -> left join (broadcast-eligible): the results frame
    (one row per reconciled url) is typically far smaller than the corpus.

    validate_unique is ON: this is the durable write-back path, and a
    results frame with two rows for one url (a reconcile run concatenated
    with a manual_link output, a replayed batch) would silently fan the
    invoice row out and corrupt the table's row count at the next bucket
    commit. The uniqueness probe is one cheap agg over the small side.
    """
    upd = results.select(
        F.col(res_key).alias(inv_key), F.col("match_status").alias(status_col)
    )
    return upsert(
        invoices,
        upd,
        key=inv_key,
        update_cols=[status_col],
        insert_missing=False,
        validate_unique=True,
    )


def manual_link(
    results: DataFrame,
    links: DataFrame,
    res_key: str = "invoice_url",
) -> DataFrame:
    """Manual reconciliation link (backend/server.js:471-505): per link row
    (invoice_url/res_key, record_id[, discrepancy]) the reconciliation
    result is upserted to matched / 'Manually reconciled' / confidence 100
    (update when a result row exists, insert otherwise — the reference's
    SELECT-then-UPDATE-or-INSERT). Compose with status_writeback to mirror
    the endpoint's invoices.status='matched' side effect (ref :479)."""
    disc = (
        F.coalesce(F.col("discrepancy"), F.lit(0.0))
        if "discrepancy" in links.columns
        else F.lit(0.0)
    )
    upd = links.select(
        F.col(res_key),
        F.col("record_id"),
        F.lit("matched").alias("match_status"),
        disc.cast("double").alias("discrepancy"),
        F.lit("Manually reconciled").alias("flag_reason"),
        F.lit(100).alias("confidence_score"),
    )
    return upsert(
        results,
        upd,
        key=res_key,
        update_cols=[
            "record_id",
            "match_status",
            "discrepancy",
            "flag_reason",
            "confidence_score",
        ],
        insert_missing=True,
    )


def write_back_bucketed(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    manifest,
    updates: DataFrame,
    key: str = "url",
    update_cols: list[str] | None = None,
    insert_missing: bool = True,
    n_buckets: int | None = None,
    fail_after: int | None = None,
) -> dict:
    """Durable MERGE over the url-hash-bucketed table (Iceberg MERGE INTO
    analog): each url_bucket=K partition is rewritten as
    upsert(bucket, updates ∩ bucket) and committed atomically via the
    checkpoint manifest — a kill mid-run leaves exactly the committed
    buckets durable (kill-resume tested), the batch analog of the
    reference's BEGIN/COMMIT around the status UPDATE loop
    (backend/server.js:531-550).

    Updates are routed to buckets by the same hash (pmod(xxhash64(key), N))
    that laid out the table (sources/pages.py:url_bucket_col), so inserted
    keys land in their correct bucket and each bucket job touches only its
    slice of the updates frame (partition-pruned on both sides).
    ``n_buckets`` defaults to the bucket count discovered on disk.
    """
    from invoice_ocr_reconciler_spark.streaming.resume import (
        _discover_buckets,
        run_resumable,
    )

    if n_buckets is None:
        found = _discover_buckets(input_path)
        n_buckets = (max(found) + 1) if found else 1
        # a SPARSE layout (some url_bucket=K dirs empty/absent) makes the
        # max+1 inference wrong: updates routed with the inferred modulus
        # would land in different buckets than the layout hash placed their
        # keys. Refuse to guess — the writer knows its bucket count.
        if found and set(found) != set(range(n_buckets)):
            missing = sorted(set(range(n_buckets)) - set(found))
            raise ValueError(
                f"bucket dirs are sparse (missing {missing[:8]}...); pass "
                "n_buckets explicitly to match the table's layout hash"
            )
    bucket_of = F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")

    def factory(bucket: int):
        def transform(df: DataFrame) -> DataFrame:
            return upsert(
                df,
                updates.filter(bucket_of == bucket),
                key=key,
                update_cols=update_cols,
                insert_missing=insert_missing,
            )

        return transform

    return run_resumable(
        spark,
        input_path,
        output_path,
        manifest,
        transform=None,
        transform_factory=factory,
        fail_after=fail_after,
    )


def scd2_history(
    snaps: DataFrame,
    *,
    key_col: str = "url",
    ts_col: str = "ts",
    attr_cols: tuple[str, ...] = ("digest",),
) -> DataFrame:
    """Slowly-changing-dimension (type 2) history: collapse consecutive
    same-content captures of a key into validity intervals.

    The warehouse view of a revisit crawl: per url, consecutive captures
    whose tracked attributes are unchanged merge into one version row
    with [valid_from, valid_to) bounds; valid_to is the NEXT version's
    valid_from (NULL = current). Change detection is null-safe
    (IS DISTINCT FROM semantics), so NULL->NULL is "unchanged" and
    NULL->value is a new version.

    Plan: ONE shuffle on the key — both windows (lag change flag, running
    version sum) share partitionBy(key)/orderBy(ts) so Catalyst plans a
    single exchange+sort; the per-(key, version) groupBy is a strict
    refinement of that partitioning, and the final lead() window rides
    the same key partitioning again. Capture ts must be unique per key
    (a capture index guarantees this; ties would make run order
    ill-defined on any engine).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col)
    changed = F.lit(False)
    for a in attr_cols:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    is_new = F.when(
        F.lag(ts_col).over(w).isNull() | changed, F.lit(1)
    ).otherwise(F.lit(0))
    runs = snaps.withColumn(
        "_version",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ver = runs.groupBy(key_col, "_version").agg(
        F.min(ts_col).alias("valid_from"),
        F.count(F.lit(1)).cast("long").alias("n_captures"),
        # every row in a run carries identical attrs by construction
        # (that's what defines the run), so first() is value-deterministic
        *[F.first(a).alias(a) for a in attr_cols],
    )
    wv = Window.partitionBy(key_col).orderBy("_version")
    return (
        ver.withColumn("valid_to", F.lead("valid_from").over(wv))
        .select(
            key_col,
            F.col("_version").cast("int").alias("version"),
            *attr_cols,
            "valid_from",
            "valid_to",
            "n_captures",
            F.col("valid_to").isNull().alias("is_current"),
        )
        .orderBy(key_col, "version")
    )


def duplicate_payments(
    payments: DataFrame,
    *,
    id_col: str = "payment_id",
    key_cols: tuple[str, ...] = ("vendor",),
    amount_col: str = "amount",
    date_col: str = "pay_date",
    window_days: int = 7,
) -> DataFrame:
    """Duplicate-payment detection — the classic accounts-payable audit
    the reference's reconciliation feeds (same vendor, same amount, paid
    again within a few days = double-pay until proven otherwise; the
    extension of the reference's exact-duplicate scan,
    backend/reconciliationEngine.js:43-51, to a DATE-WINDOWED rule).

    ONE shuffle: window over (key..., amount) ordered by (date, id); a
    row is flagged when its predecessor in the group is within
    `window_days`. Output is the FLAGGED rows with their predecessor
    reference and the day gap — chains of 3+ payments flag every
    follow-up against its immediate predecessor.
    """
    w = Window.partitionBy(
        *key_cols, amount_col
    ).orderBy(F.col(date_col), F.col(id_col))
    prev_id = F.lag(id_col).over(w)
    prev_date = F.lag(date_col).over(w)
    gap = F.datediff(F.col(date_col), prev_date)
    return (
        payments.select(
            F.col(id_col),
            *key_cols,
            amount_col,
            date_col,
            prev_id.alias("prev_id"),
            prev_date.alias("prev_date"),
            gap.alias("gap_days"),
        )
        .where(
            F.col("prev_id").isNotNull()
            & (F.col("gap_days") <= int(window_days))
        )
        .orderBy(id_col)
    )
