"""Mutation operators (operators/mutate.py): MERGE/upsert, delete, status
write-back, manual link, and the bucketed atomic write-back (kill-resume).

Reference parity targets: backend/server.js:397-427 (manual update),
:436-445 (delete), :471-505 (manual link), :539 (status write-back),
:531-550 (transactional commit around the write-back loop).
"""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.operators.mutate import (
    delete_rows,
    manual_link,
    status_writeback,
    upsert,
    write_back_bucketed,
)


@pytest.fixture()
def target(spark):
    return spark.createDataFrame(
        [
            Row(url="u1", status="pending", amount=10.0, note="a"),
            Row(url="u2", status="pending", amount=20.0, note="b"),
            Row(url="u3", status="matched", amount=30.0, note="c"),
        ]
    )


def test_upsert_update_insert_and_keep(spark, target):
    updates = spark.createDataFrame(
        [
            Row(url="u2", status="mismatch", amount=99.0),  # update
            Row(url="u9", status="new", amount=1.0),  # insert
        ]
    )
    out = {r["url"]: r for r in upsert(target, updates, key="url").collect()}
    assert len(out) == 4
    assert out["u1"]["status"] == "pending" and out["u1"]["note"] == "a"
    assert out["u2"]["status"] == "mismatch" and out["u2"]["amount"] == 99.0
    # non-update columns survive an update untouched
    assert out["u2"]["note"] == "b"
    # inserted row: target-only columns become null
    assert out["u9"]["status"] == "new" and out["u9"]["note"] is None


def test_upsert_null_overwrites_on_match(spark, target):
    # SQL UPDATE semantics: a matched row takes the update value EVEN IF null
    updates = spark.createDataFrame(
        [("u3", None, None)], "url string, status string, amount double"
    )
    out = {r["url"]: r for r in upsert(target, updates, key="url").collect()}
    assert out["u3"]["status"] is None and out["u3"]["amount"] is None
    assert out["u3"]["note"] == "c"


def test_upsert_update_only_mode_never_inserts(spark, target):
    updates = spark.createDataFrame([Row(url="zzz", status="x", amount=0.0)])
    out = upsert(target, updates, key="url", insert_missing=False)
    assert out.count() == 3
    assert out.filter(F.col("url") == "zzz").count() == 0


def test_upsert_missing_update_col_raises(spark, target):
    updates = spark.createDataFrame([Row(url="u1", status="x")])
    with pytest.raises(ValueError, match="amount"):
        upsert(target, updates, key="url", update_cols=["status", "amount"])


def test_upsert_update_col_missing_from_target_raises(spark, target):
    # regression: the projection iterates target.columns, so an update_col
    # absent from the target was silently DROPPED — a MERGE that
    # "succeeded" but lost the field
    updates = spark.createDataFrame([Row(url="u1", status="x", flag="f")])
    with pytest.raises(ValueError, match="flag.*silently discarded"):
        upsert(target, updates, key="url", update_cols=["status", "flag"])


def test_status_writeback_duplicate_results_raise(spark, target):
    from invoice_ocr_reconciler_spark.operators.mutate import status_writeback

    results = spark.createDataFrame(
        [Row(invoice_url="u1", match_status="matched"),
         Row(invoice_url="u1", match_status="mismatch")]
    )
    # the durable write-back path must not fan the invoice row out
    with pytest.raises(ValueError, match="duplicate merge keys"):
        status_writeback(target, results).collect()


def test_delete_rows(spark, target):
    deletes = spark.createDataFrame([Row(url="u1"), Row(url="u9")])
    left = sorted(r["url"] for r in delete_rows(target, deletes, key="url").collect())
    assert left == ["u2", "u3"]


def test_status_writeback_semantics(spark, target):
    # ref server.js:539 — every result row overwrites status; others keep it
    results = spark.createDataFrame(
        [
            Row(invoice_url="u1", match_status="matched"),
            Row(invoice_url="u2", match_status="duplicate"),
        ]
    )
    out = {r["url"]: r["status"] for r in status_writeback(target, results).collect()}
    assert out == {"u1": "matched", "u2": "duplicate", "u3": "matched"}


def test_manual_link_update_and_insert(spark):
    results = spark.createDataFrame(
        [
            Row(invoice_url="u1", record_id="R-1", match_status="mismatch",
                discrepancy=5.0, flag_reason="Amount mismatch",
                confidence_score=40),
            Row(invoice_url="u2", record_id=None, match_status="missing",
                discrepancy=20.0, flag_reason="No match", confidence_score=0),
        ]
    )
    links = spark.createDataFrame(
        [
            Row(invoice_url="u1", record_id="R-9", discrepancy=1.5),  # update
            Row(invoice_url="u7", record_id="R-7", discrepancy=None),  # insert
        ]
    )
    out = {r["invoice_url"]: r for r in manual_link(results, links).collect()}
    assert len(out) == 3
    linked = out["u1"]
    # ref server.js:483-487: matched / 'Manually reconciled' / confidence 100
    assert linked["record_id"] == "R-9"
    assert linked["match_status"] == "matched"
    assert linked["discrepancy"] == 1.5
    assert linked["flag_reason"] == "Manually reconciled"
    assert linked["confidence_score"] == 100
    # untouched result row unchanged
    assert out["u2"]["match_status"] == "missing"
    # insert branch (ref :488-493): defaults discrepancy 0
    assert out["u7"]["match_status"] == "matched"
    assert out["u7"]["discrepancy"] == 0.0


N_BUCKETS = 4


def _mk_bucketed_table(spark, tmp_path) -> str:
    path = os.path.join(tmp_path, "inv_table")
    rows = [
        Row(url=f"https://h.example/doc/{i}", status="pending", amount=float(i))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows).withColumn(
        "url_bucket", F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("int")
    )
    df.repartition(N_BUCKETS, "url_bucket").write.partitionBy("url_bucket").parquet(path)
    return path


def test_write_back_bucketed_kill_resume(spark, tmp_path):
    """A kill mid-write-back leaves exactly the committed buckets durable;
    the rerun completes only the remainder; final state == one-shot MERGE."""
    from invoice_ocr_reconciler_spark.streaming.resume import CheckpointManifest

    tmp = str(tmp_path)
    in_path = _mk_bucketed_table(spark, tmp)
    out_path = os.path.join(tmp, "out")
    manifest = CheckpointManifest(os.path.join(tmp, "manifest"))

    updates = spark.createDataFrame(
        [Row(url=f"https://h.example/doc/{i}", status="matched") for i in range(0, 40, 3)]
        + [Row(url="https://h.example/doc/new-1", status="inserted")]
    )

    # simulated kill after 2 of 4 buckets
    r1 = write_back_bucketed(
        spark, in_path, out_path, manifest, updates, key="url",
        update_cols=["status"], fail_after=2,
    )
    assert len(r1["processed"]) == 2
    assert manifest.completed_buckets() == set(r1["processed"])

    # resume: only the remaining buckets run; nothing reprocessed
    r2 = write_back_bucketed(
        spark, in_path, out_path, manifest, updates, key="url",
        update_cols=["status"],
    )
    assert set(r2["skipped"]) == set(r1["processed"])
    on_disk = sorted(
        int(d.split("=")[1]) for d in os.listdir(in_path) if d.startswith("url_bucket=")
    )
    assert sorted(r1["processed"] + r2["processed"]) == on_disk

    got = spark.read.parquet(out_path)
    assert got.count() == 41  # 40 originals + 1 insert
    assert got.filter(F.col("status") == "matched").count() == 14  # ceil(40/3)
    ins = got.filter(F.col("url") == "https://h.example/doc/new-1").collect()
    assert len(ins) == 1 and ins[0]["status"] == "inserted"
    # the insert landed in ITS hash bucket (routing parity with the layout)
    expect_bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("https://h.example/doc/new-1")), F.lit(N_BUCKETS))
    ).collect()[0][0]
    src = {os.path.basename(os.path.dirname(f["file"])) for f in
           got.filter(F.col("url") == "https://h.example/doc/new-1")
              .withColumn("file", F.input_file_name()).collect()}
    assert src == {f"url_bucket={expect_bucket}"}

    # metrics/lineage recorded per bucket
    m = manifest.all_metrics()
    assert len(m) == len(on_disk)
    assert all(e["rows"] > 0 and e["bytes"] > 0 for e in m)


def test_run_resumable_requires_exactly_one_transform(spark, tmp_path):
    from invoice_ocr_reconciler_spark.streaming.resume import (
        CheckpointManifest,
        run_resumable,
    )

    manifest = CheckpointManifest(os.path.join(str(tmp_path), "m"))
    with pytest.raises(ValueError):
        run_resumable(spark, str(tmp_path), str(tmp_path), manifest, transform=None)


def test_upsert_idempotent(spark, target):
    """MERGE with the same updates twice == once (UPDATE is idempotent;
    the inserted row is matched-and-overwritten on the second pass)."""
    updates = spark.createDataFrame(
        [Row(url="u2", status="mismatch", amount=99.0),
         Row(url="u9", status="new", amount=1.0)]
    )
    once = upsert(target, updates, key="url")
    twice = upsert(once, updates, key="url")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_upsert_then_delete_restores_target(spark, target):
    """Deleting exactly the inserted keys after an insert-only MERGE returns
    the original table (update_cols=[] touches no existing values)."""
    inserts = spark.createDataFrame([Row(url="zz1", status="s", amount=5.0)])
    merged = upsert(target, inserts, key="url",
                    update_cols=["status", "amount"])
    restored = delete_rows(merged, inserts.select("url"), key="url")
    assert sorted(map(tuple, restored.collect())) == sorted(
        map(tuple, target.collect())
    )


def test_status_writeback_idempotent(spark, target):
    results = spark.createDataFrame(
        [Row(invoice_url="u1", match_status="matched")]
    )
    once = status_writeback(target, results)
    twice = status_writeback(once, results)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_upsert_validate_unique_rejects_dup_keys(spark, target):
    updates = spark.createDataFrame(
        [Row(url="u1", status="a", amount=1.0), Row(url="u1", status="b", amount=2.0)]
    )
    with pytest.raises(ValueError, match="duplicate merge keys"):
        upsert(target, updates, key="url", validate_unique=True)
    # without validation the caller gets MERGE-style fan-out (documented)
    assert upsert(target, updates, key="url").count() == 4


def test_pipeline_status_writeback_integration(spark):
    """The reference's E2 flow end-to-end (server.js:516-550): extract ->
    reconcile -> UPDATE invoices SET status = match_status per result row.
    Every invoice gets a status from the result set (results are one row
    per url), and status counts equal the reconcile summary's."""
    from invoice_ocr_reconciler_spark import datagen
    from invoice_ocr_reconciler_spark.pipeline import run_pipeline

    pages = datagen.pages_df(spark, 200)
    ledger = datagen.ledger_df(spark, 30, 200)
    out = run_pipeline(pages, ledger, include_text=False)
    invoices = out["invoices"].withColumn("status", F.lit("pending"))
    written = status_writeback(invoices, out["results"])
    assert written.count() == 200
    by_status = {r["status"]: r["count"]
                 for r in written.groupBy("status").count().collect()}
    assert "pending" not in by_status  # every url got a result row
    res_status = {r["match_status"]: r["count"]
                  for r in out["results"].groupBy("match_status").count().collect()}
    assert by_status == res_status


def test_write_back_bucketed_sparse_layout_rejected(spark, tmp_path):
    """max+1 inference on a sparse bucket layout would mis-route updates;
    the operator refuses to guess."""
    from invoice_ocr_reconciler_spark.streaming.resume import CheckpointManifest

    tmp = str(tmp_path)
    in_path = os.path.join(tmp, "t")
    rows = [Row(url=f"u{i}", status="pending") for i in range(10)]
    df = spark.createDataFrame(rows).withColumn("url_bucket", F.lit(5))
    df.write.partitionBy("url_bucket").parquet(in_path)  # only bucket 5
    updates = spark.createDataFrame([Row(url="u1", status="x")])
    manifest = CheckpointManifest(os.path.join(tmp, "m"))
    with pytest.raises(ValueError, match="sparse"):
        write_back_bucketed(spark, in_path, os.path.join(tmp, "o"),
                            manifest, updates, key="url", update_cols=["status"])
    # explicit n_buckets is accepted
    r = write_back_bucketed(spark, in_path, os.path.join(tmp, "o"),
                            manifest, updates, key="url",
                            update_cols=["status"], n_buckets=6)
    assert r["processed"] == [5]


def test_manifest_df_lists_sessions(spark, tmp_path):
    """reconciliation_sessions analog (server.js:566-574): the checkpoint
    manifest is queryable as a DataFrame with run-level counters."""
    from invoice_ocr_reconciler_spark.streaming.resume import (
        CheckpointManifest,
        manifest_df,
    )

    tmp = str(tmp_path)
    in_path = _mk_bucketed_table(spark, tmp)
    manifest = CheckpointManifest(os.path.join(tmp, "m"))
    updates = spark.createDataFrame([Row(url="https://h.example/doc/1",
                                         status="matched")])
    write_back_bucketed(spark, in_path, os.path.join(tmp, "o"), manifest,
                        updates, key="url", update_cols=["status"])
    df = manifest_df(spark, manifest.dir)
    rows = {r["bucket"]: r for r in df.collect()}
    assert set(rows) == manifest.completed_buckets()
    assert all(r["rows"] > 0 and r["bytes"] > 0 and r["attempt"] == 1
               for r in rows.values())
    assert all(r["min_url"] <= r["max_url"] for r in rows.values())
    # recency-style listing: order + limit are plain DataFrame ops
    top = df.orderBy(F.desc("wall_ms")).limit(2).collect()
    assert len(top) == 2
