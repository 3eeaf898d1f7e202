"""Operator tests: dedup family, similarity search, multimodal plumbing,
register sources, resumable checkpoint."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),  # near dup
        (3, "completely different text about spark query engines and shuffles"),
        (4, ""),
        (5, "der hund und die katze sind nicht mit der maus"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    from invoice_ocr_reconciler_spark.operators.dedup import exact_duplicates

    out = {r["doc_id"]: r.asDict() for r in exact_duplicates(docs).collect()}
    assert out[0]["is_duplicate"] is False and out[0]["group_size"] == 2
    assert out[1]["is_duplicate"] is True and out[1]["dup_rank"] == 2
    assert out[2]["is_duplicate"] is False  # near dup, not exact
    assert out[0]["fingerprint"] == out[1]["fingerprint"] != out[2]["fingerprint"]


def test_minhash_lsh_finds_near_dups(docs):
    from invoice_ocr_reconciler_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in
             minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0  # identical docs -> identical signatures
    assert (0, 2) in pairs and pairs[(0, 2)] >= 0.5  # near dup caught
    assert (0, 3) not in pairs  # unrelated not caught


def test_simhash_near_pairs(docs):
    from invoice_ocr_reconciler_spark.operators.dedup import simhash_near_pairs

    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             simhash_near_pairs(docs, max_hamming=10).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 10


def test_ngram_jaccard_verify(docs, spark):
    from invoice_ocr_reconciler_spark.operators.dedup import ngram_jaccard_verify

    cands = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "doc_a long, doc_b long")
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           ngram_jaccard_verify(cands, docs, threshold=0.0).collect()}
    assert out[(0, 1)] == 1.0
    assert 0.0 < out[(0, 2)] < 1.0
    assert out[(0, 3)] == 0.0


def test_brute_force_topk_self_similarity(spark):
    from invoice_ocr_reconciler_spark.operators.similarity import brute_force_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(df, df.filter("vec_id = 0"), k=3).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order == [1, 2, 3]  # by descending cosine
    assert [r["query_id"] for r in out] == [0, 0, 0]


def test_lsh_topk_subset_of_exact(spark):
    from invoice_ocr_reconciler_spark.operators.similarity import lsh_topk

    rows = [(i, [float((i * 7 + d * 3) % 13 - 6) for d in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = lsh_topk(df, df.filter("vec_id < 3"), k=5).collect()
    # sane shape: ranks start at 1, no self pairs, cosine within [-1, 1]
    assert all(1 <= r["nb_rank"] if "nb_rank" in r.asDict() else r["rank"] for r in out)
    assert all(r["neighbor_id"] != r["query_id"] for r in out)
    assert all(-1.0001 <= r["cosine"] <= 1.0001 for r in out)


def test_multimodal_image_features(spark):
    from invoice_ocr_reconciler_spark.operators.multimodal import (
        image_features,
        phash_near_dup_pairs,
        sample_video_frames,
    )

    rows = [
        ("m1", "image", b"\x89PNG-fake-payload-1", {"src": "a"}),
        ("m2", "image", b"\x89PNG-fake-payload-1", {"src": "b"}),  # same bytes
        ("m3", "image", b"\x89PNG-other-payload", {}),
        ("v1", "video", b"0123456789abcdef" * 8, {}),
    ]
    media = spark.createDataFrame(
        rows, "media_id string, kind string, payload binary, meta map<string,string>"
    )
    feats = image_features(media, fake=True)
    got = {r["media_id"]: r for r in feats.collect()}
    assert set(got) == {"m1", "m2", "m3"}  # video row filtered out
    assert got["m1"]["phash"] == got["m2"]["phash"] != got["m3"]["phash"]
    assert len(got["m1"]["feature"]) == 8

    dups = phash_near_dup_pairs(feats, max_hamming=0).collect()
    assert [(r["media_a"], r["media_b"]) for r in dups] == [("m1", "m2")]

    frames = sample_video_frames(media, n_frames=4, fake=True).collect()
    assert len(frames) == 4 and all(r["media_id"] == "v1" for r in frames)


def test_multimodal_real_decoder_gate(spark):
    """fake=False now returns the real stdlib PNG/BMP/JPEG/TIFF decoder;
    formats that need a codec library still raise per payload, and a
    corrupt TIFF structure raises ValueError (the honest gate — full
    coverage in tests/test_real_codec.py)."""
    from invoice_ocr_reconciler_spark.operators.multimodal import _get_decoder

    dec = _get_decoder(fake=False)
    with pytest.raises(ValueError):
        dec.decode_image(b"II*\x00 tiff magic")  # corrupt TIFF, decoded now
    with pytest.raises(NotImplementedError):
        dec.decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")
    with pytest.raises(NotImplementedError):
        dec.sample_frames(b"video-bytes", 4)


def test_register_csv_alias_coalesce(spark, tmp_path):
    from invoice_ocr_reconciler_spark.sources.registers import read_register_csv

    p = tmp_path / "reg.csv"
    p.write_text(
        'Vendor,Amount,Due,Invoice No\n"Acme Corp","$1,234.56",01/02/2024,A-1\n'
    )
    row = read_register_csv(spark, str(p)).collect()[0]
    assert row["vendor_name"] == "Acme Corp"
    assert row["expected_amount"] == 1234.56
    assert row["reference_number"] == "A-1"
    assert row["status"] == "unpaid"
    assert row["record_id"].startswith("R-")


def test_resumable_checkpoint(spark, tmp_path):
    import pyarrow.parquet as pq

    from invoice_ocr_reconciler_spark import datagen
    from invoice_ocr_reconciler_spark.extraction.udfs import extract_pages
    from invoice_ocr_reconciler_spark.sources.pages import write_pages_bucketed
    from invoice_ocr_reconciler_spark.streaming.resume import (
        CheckpointManifest,
        run_resumable,
    )

    pages_path = str(tmp_path / "pages")
    out_path = str(tmp_path / "out")
    write_pages_bucketed(datagen.pages_df(spark, 120), pages_path, n_buckets=4)
    # an empty bucket: schema, no rows
    spark.read.parquet(f"{pages_path}/url_bucket=0").limit(0).write.parquet(
        f"{pages_path}/url_bucket=4"
    )
    manifest = CheckpointManifest(str(tmp_path / "manifest"))

    r1 = run_resumable(spark, pages_path, out_path, manifest, extract_pages, fail_after=2)
    assert len(r1["processed"]) == 2
    r2 = run_resumable(spark, pages_path, out_path, manifest, extract_pages)
    assert len(r2["processed"]) == 3 and len(r2["skipped"]) == 2
    metrics = manifest.all_metrics()
    assert sum(m["rows"] for m in metrics) == 120
    # the observed commit stats equal an independent read of each bucket
    for m in metrics:
        urls = pq.read_table(
            f"{out_path}/url_bucket={m['bucket']}", columns=["url"]
        ).column("url").to_pylist()
        assert m["bytes"] > 0
        assert (m["rows"], m["min_url"], m["max_url"]) == (
            len(urls), min(urls, default=None), max(urls, default=None)
        )
    assert manifest.entry(4)["rows"] == 0
    # resumed run is a no-op
    r3 = run_resumable(spark, pages_path, out_path, manifest, extract_pages)
    assert r3["processed"] == []


def _bucketed_pages(spark, path: str) -> list[int]:
    """120 pages in 4 url buckets under ``path``; returns the bucket ids."""
    from invoice_ocr_reconciler_spark import datagen
    from invoice_ocr_reconciler_spark.sources.pages import write_pages_bucketed

    write_pages_bucketed(datagen.pages_df(spark, 120), path, n_buckets=4)
    return sorted(int(n.split("=")[1]) for n in os.listdir(path) if n.startswith("url_bucket="))


def test_resumable_buckets_inherit_job_group(spark, tmp_path):
    """Pool threads carry the caller's job group: every bucket's jobs are
    attributed to it."""
    import time

    from invoice_ocr_reconciler_spark.pipeline import extract_and_parse
    from invoice_ocr_reconciler_spark.streaming.resume import (
        CheckpointManifest,
        run_resumable,
    )

    pages_path = str(tmp_path / "pages")
    buckets = _bucketed_pages(spark, pages_path)
    assert len(buckets) == 4
    sc = spark.sparkContext
    group = f"resume-inherit-{tmp_path.name}"
    sc.setJobGroup(group, "run_resumable under a job group")
    try:
        result = run_resumable(
            spark, pages_path, str(tmp_path / "out"),
            CheckpointManifest(str(tmp_path / "manifest")), extract_and_parse,
        )
    finally:
        sc.setJobGroup(None, None)
    assert result["processed"] == buckets
    # the status store is fed by an asynchronous listener
    deadline = time.monotonic() + 30
    while (len(sc.statusTracker().getJobIdsForGroup(group)) < 2 * len(buckets)
           and time.monotonic() < deadline):
        time.sleep(0.1)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs >= len(buckets), f"{jobs} jobs in the caller's group for {len(buckets)} buckets"
    # the per-bucket cost, separate from inheritance: Spark's parquet footer
    # job on read plus the write job
    assert jobs == 2 * len(buckets), (
        f"job group inherited, but buckets cost {jobs / len(buckets):g} jobs each, not 2"
    )


def test_resumable_failure_contract(spark, tmp_path):
    """One bucket's Spark job fails: the others commit, the error names the
    failed bucket, it leaves no manifest entry or temp file, and a rerun
    redoes exactly that bucket."""
    from invoice_ocr_reconciler_spark.pipeline import extract_and_parse
    from invoice_ocr_reconciler_spark.streaming.resume import (
        BucketRunError,
        CheckpointManifest,
        run_resumable,
    )

    pages_path = str(tmp_path / "pages")
    out_path = str(tmp_path / "out")
    buckets = _bucketed_pages(spark, pages_path)
    bad = buckets[1]
    manifest = CheckpointManifest(str(tmp_path / "manifest"))

    def failing(df):
        out = extract_and_parse(df)
        boom = F.raise_error(F.lit("boom"))
        return out.withColumn("url", F.when(F.col("url").isNotNull(), boom).otherwise(F.col("url")))

    def factory(bucket):
        return failing if bucket == bad else extract_and_parse

    with pytest.raises(BucketRunError) as info:
        run_resumable(spark, pages_path, out_path, manifest, None, transform_factory=factory)
    assert info.value.processed == [b for b in buckets if b != bad]
    assert [b for b, _ in info.value.failed] == [bad]
    assert "boom" in info.value.failed[0][1]
    assert manifest.entry(bad) is None
    assert not [n for n in os.listdir(manifest.dir) if n.endswith(".tmp")]
    assert manifest.completed_buckets() == set(buckets) - {bad}

    rerun = run_resumable(spark, pages_path, out_path, manifest, extract_and_parse)
    assert rerun["processed"] == [bad]
    assert rerun["skipped"] == [b for b in buckets if b != bad]
    assert sum(m["rows"] for m in manifest.all_metrics()) == 120


def test_report_csv_sink(spark, tmp_path):
    """S6 (backend/server.js:577-602): LEFT JOIN report projection -> CSV."""
    import glob

    from invoice_ocr_reconciler_spark import datagen
    from invoice_ocr_reconciler_spark.pipeline import run_pipeline
    from invoice_ocr_reconciler_spark.sources.reports import write_report_csv

    out = run_pipeline(datagen.pages_df(spark, 60), datagen.ledger_df(spark, 12, 60))
    path = str(tmp_path / "report")
    write_report_csv(out["results"], out["invoices"], path)
    files = glob.glob(path + "/part-*.csv")
    assert len(files) == 1
    back = spark.read.option("header", True).csv(path)
    assert back.count() == 60
    assert back.columns == [
        "invoice_number", "vendor_name", "total_amount", "match_status",
        "discrepancy", "flag_reason", "confidence_score", "invoice_url",
    ]


def test_ivf_topk_recall_and_determinism(spark):
    from invoice_ocr_reconciler_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    rows = [(i, [float((i * 7 + d * 3) % 13 - 6) for d in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id < 5")
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(df, q, k=3).collect()}
    ivf = ivf_topk(df, q, k=3, n_centroids=8, n_probe=4).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    # shape: no self pairs, ranks from 1, bounded cosine
    assert all(r["neighbor_id"] != r["query_id"] for r in ivf)
    assert all(-1.0001 <= r["cosine"] <= 1.0001 for r in ivf)
    # probing half the cells must recover most exact neighbors on this corpus
    assert len(got & exact) / len(exact) >= 0.6
    # deterministic across runs (fixed init, stable tie-breaks)
    again = {(r["query_id"], r["neighbor_id"]) for r in
             ivf_topk(df, q, k=3, n_centroids=8, n_probe=4).collect()}
    assert got == again


def test_ivf_sq8_matches_float_ivf_after_rerank(spark):
    from invoice_ocr_reconciler_spark.operators.similarity import (
        ivf_sq8_topk,
        ivf_topk,
    )

    rows = [(i, [float((i * 7 + d * 3) % 13 - 6) for d in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id < 5")
    f = {(r["query_id"], r["neighbor_id"]) for r in
         ivf_topk(df, q, k=3, n_centroids=8, n_probe=4).collect()}
    s8 = ivf_sq8_topk(df, q, k=3, n_centroids=8, n_probe=4).collect()
    g = {(r["query_id"], r["neighbor_id"]) for r in s8}
    # the exact re-rank recovers SQ8 error: the neighbor sets coincide with
    # the float IVF path (same cells, same probes, same final exact scores)
    assert g == f
    # exact cosines reported, not the quantized approximation
    assert all(-1.0001 <= r["cosine"] <= 1.0001 for r in s8)
    assert all(r["neighbor_id"] != r["query_id"] for r in s8)
    # partition invariance (the determinism contract)
    a = sorted(map(tuple, ivf_sq8_topk(df.repartition(2), q, k=3,
                                       n_centroids=8, n_probe=4).collect()))
    b = sorted(map(tuple, ivf_sq8_topk(df.repartition(7), q, k=3,
                                       n_centroids=8, n_probe=4).collect()))
    assert a == b


def test_ivf_sq8_empty_corpus_and_zero_vectors(spark):
    from invoice_ocr_reconciler_spark.operators.similarity import ivf_sq8_topk

    rows = [(i, [float((i * 7 + d * 3) % 13 - 6) for d in range(8)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id < 2")
    assert ivf_sq8_topk(df.filter("vec_id < 0"), q, k=3).count() == 0
    # a zero vector in the corpus (scale 0, all-zero code) must not crash
    import pyspark.sql.functions as F

    withz = df.union(
        spark.createDataFrame([(999, [0.0] * 8)], "vec_id long, embedding array<float>")
    )
    out = ivf_sq8_topk(withz, q, k=3, n_centroids=4, n_probe=4).collect()
    assert len(out) > 0


def test_ivf_topk_custom_id_col(spark):
    # regression: ivf_assign's Arrow schema hardcodes 'vec_id'; ivf_topk
    # joined on id_col without renaming and crashed for any other name
    from invoice_ocr_reconciler_spark.operators.similarity import ivf_topk

    rows = [(i, [float((i * 7 + d * 3) % 13 - 6) for d in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<float>")
    out = ivf_topk(df, df.filter("doc_id < 3"), k=2,
                   n_centroids=4, n_probe=2, id_col="doc_id")
    rowsc = out.collect()
    assert len(rowsc) > 0
    assert all(r["neighbor_id"] != r["query_id"] for r in rowsc)


def test_ivf_centroids_deterministic(spark):
    import numpy as np

    from invoice_ocr_reconciler_spark.operators.similarity import fit_ivf_centroids

    rows = [(i, [float((i * 5 + d) % 11 - 5) for d in range(6)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c1 = fit_ivf_centroids(df, n_centroids=4)
    c2 = fit_ivf_centroids(df.repartition(7), n_centroids=4)
    assert np.array_equal(c1, c2)  # stable across input partitioning


def test_ivf_fit_k_over_sample_cap_raises(spark):
    """Round-3 ADVICE: k > sample_cap must fail loudly, not silently clamp
    (the clamp broke semantic_dedup's cell-size math past ~1M vectors)."""
    import pytest

    from invoice_ocr_reconciler_spark.operators.similarity import fit_ivf_centroids

    rows = [(i, [float(i), 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="sample_cap"):
        fit_ivf_centroids(df, n_centroids=5000, sample_cap=4096)


def test_multimodal_audio_features(spark):
    import hashlib

    from invoice_ocr_reconciler_spark.operators.multimodal import audio_features

    rows = [
        ("a1", "audio", b"RIFF-fake-wav-1", {"src": "x"}),
        ("a2", "audio", b"", None),
        ("v1", "video", b"not-audio", None),  # filtered out
    ]
    df = spark.createDataFrame(
        rows, "media_id string, kind string, payload binary, meta map<string,string>"
    )
    out = {r["media_id"]: r for r in audio_features(df, fake=True).collect()}
    assert set(out) == {"a1", "a2"}
    h = hashlib.md5(b"RIFF-fake-wav-1").digest()
    assert out["a1"]["sample_rate"] == [8000, 16000, 22050, 44100, 48000][h[2] % 5]
    assert out["a1"]["duration_ms"] == 500 + (int.from_bytes(h[4:6], "big") % 600000)
    assert out["a2"]["n_bytes"] == 0


def test_report_sinks(spark, tmp_path):
    """S7 analog: driver text render and the distributed text sink emit
    byte-identical report bodies; summary block mirrors the reference's
    counters (backend/server.js:629-637)."""
    from invoice_ocr_reconciler_spark import datagen
    from invoice_ocr_reconciler_spark.functions.report import (
        text_report,
        write_text_report,
    )
    from invoice_ocr_reconciler_spark.pipeline import run_pipeline

    out = run_pipeline(datagen.pages_df(spark, 300), datagen.ledger_df(spark, 40, 300))
    inv = out["invoices"]
    rep = text_report(out["results"], inv, out["summary"])
    assert rep.splitlines()[0] == "Invoice Reconciliation Report"
    assert "Total Invoices: 300" in rep
    assert "[MATCHED]" in rep and "[DUPLICATE]" in rep
    # distributed sink: same body lines in the same order
    path = str(tmp_path / "report_txt")
    write_text_report(out["results"], inv, path)
    import glob

    parts = sorted(glob.glob(f"{path}/part-*"))
    dist_lines = []
    for p in parts:
        dist_lines.extend(open(p, encoding="utf-8").read().splitlines())
    body = rep.split("Reconciliation Results\n", 1)[1].splitlines()
    assert dist_lines == body


def test_lsh_multiprobe_recall(spark):
    """Multi-probe (flipping lowest-margin bits) must be a superset path:
    every single-probe hit survives, and recall vs brute force does not
    decrease (strictly improves on this fixture)."""
    from invoice_ocr_reconciler_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    rows = [(i, [float((i * 7 + d * 3) % 13 - 6) for d in range(8)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id < 8")
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(df, q, k=5).collect()}
    single = {(r["query_id"], r["neighbor_id"]) for r in
              lsh_topk(df, q, k=5, n_tables=1, n_probe_bits=0).collect()}
    multi = {(r["query_id"], r["neighbor_id"]) for r in
             lsh_topk(df, q, k=5, n_tables=1, n_probe_bits=3).collect()}
    r_single = len(single & exact) / len(exact)
    r_multi = len(multi & exact) / len(exact)
    assert r_multi >= r_single
    assert r_multi > 0.5
    # the default configuration (tables=8, probe=4) must do at least as
    # well as the single-table multiprobe path it superseded
    default = {(r["query_id"], r["neighbor_id"]) for r in
               lsh_topk(df, q, k=5).collect()}
    assert len(default & exact) / len(exact) >= r_multi
    # deterministic across runs
    again = {(r["query_id"], r["neighbor_id"]) for r in
             lsh_topk(df, q, k=5, n_tables=1, n_probe_bits=3).collect()}
    assert multi == again


def test_money_render_half_up_ties():
    """Driver-side render must agree with format_number (HALF_UP) on ties
    like 8.125 where Python's f-string (half-even) would print 8.12."""
    from invoice_ocr_reconciler_spark.functions.report import _money

    assert _money(8.125) == "8.13"
    assert _money(2.675) == "2.68"
    assert _money(0) == "0.00"
    assert _money(1e6) == "1000000.00"


def test_iceberg_gate_config_assembly():
    """The catalog gate's configs are pinned here (the runtime jar is absent
    in the sandbox — PLANS.md documents the attempt); a submitter providing
    SPARK_GRAFT_ICEBERG_JAR gets the SparkCatalog + hadoop warehouse wiring."""
    from invoice_ocr_reconciler_spark.session import iceberg_confs

    assert iceberg_confs({}) == {}
    got = iceberg_confs({"SPARK_GRAFT_ICEBERG_JAR": "/x/iceberg.jar",
                         "SPARK_GRAFT_WAREHOUSE": "/wh"})
    assert got["spark.jars"] == "/x/iceberg.jar"
    assert got["spark.sql.catalog.local"] == "org.apache.iceberg.spark.SparkCatalog"
    assert got["spark.sql.catalog.local.type"] == "hadoop"
    assert got["spark.sql.catalog.local.warehouse"] == "/wh"


def test_executor_mode_pins_executor_memory(built_conf):
    """Round-4 regression pin: local-cluster[E,C,M] budgets only the
    WORKER; without an explicit spark.executor.memory the executor JVMs
    launch at the 1g default (found when '8g' executors peaked at ~880MB
    and OOM'd growing a BytesToBytesMap). The builder must carry the
    requested size."""
    conf = built_conf(cores=2, executors=3, executor_mem_mb=4096)
    assert conf["master"] == "local-cluster[3,2,4096]"
    assert conf["spark.executor.memory"] == "4096m"


def test_driver_memory_fits_the_box(monkeypatch, built_conf):
    """The stock driver heap is a quarter of physical memory, at most 4g,
    so a runaway plan fails with an OutOfMemoryError instead of growing
    the shared JVM until the OS kills it; SPARK_GRAFT_DRIVER_MEM still
    overrides it."""
    import invoice_ocr_reconciler_spark.session as sess

    gib = 1024**3
    pages = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(sess.os, "sysconf", lambda k: pages[k])
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    for ram, want in ((15 * gib, "3g"), (64 * gib, "4g"), (2 * gib, "1g")):
        pages["SC_PHYS_PAGES"] = ram // 4096
        assert built_conf(cores=2)["spark.driver.memory"] == want, ram
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert built_conf(cores=2)["spark.driver.memory"] == "6g"


def test_aqe_may_coalesce_cached_plans(built_conf):
    """Every session get_spark builds lets AQE change a persisted frame's
    output partitioning, so a small cached frame (reconcile's assignment)
    coalesces below the shuffle width like any other shuffle — on the
    stock sizing path and with an explicit shuffle_partitions pin alike."""
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    for kwargs in ({}, {"shuffle_partitions": 8}):
        assert built_conf(cores=2, **kwargs)[key] == "true", kwargs


def test_detect_hot_hosts_single_job(spark):
    """VERDICT round-1 item 7 done-criterion: hot-host detection folds the
    corpus total into the grouped-count aggregation — exactly ONE Spark job
    (round 1 ran pages.count() first: two full scans per pipeline run)."""
    from pyspark.sql import Row

    from invoice_ocr_reconciler_spark.sources.pages import detect_hot_hosts

    rows = [Row(url=f"https://hot.example/doc/{i}") for i in range(300)] + [
        Row(url=f"https://site-{i:03d}.example/doc/{i}") for i in range(100)
    ]
    pages = spark.createDataFrame(rows)
    pages.count()  # materialize inputs outside the measured group
    sc = spark.sparkContext
    # AQE materializes each query stage as its own job, so job count only
    # equals ACTION count with AQE off; the claim under test is one action
    # (one scan of pages), not one AQE stage
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("hot-hosts-single-job", "one-job assertion")
    try:
        hot = detect_hot_hosts(pages)
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    job_ids = sc.statusTracker().getJobIdsForGroup("hot-hosts-single-job")
    assert len(job_ids) == 1, f"expected 1 job, saw {len(job_ids)}"
    assert hot == ["hot.example"]


# ------------------------------------------------------------ hard negatives


def _hn_df(spark):
    rows = [
        # anchor: label A, unit-x
        (0, [1.0, 0.0, 0.0], "A"),
        # same-label near-twin: must be excluded (it's a positive)
        (1, [0.99, 0.14, 0.0], "A"),
        # different-label near-miss: the hard negative we want first
        (2, [0.9, 0.43, 0.0], "B"),
        # different-label exact duplicate: cosine 1.0 >= ceiling -> dropped
        (3, [2.0, 0.0, 0.0], "B"),
        # different-label, far: a soft negative, ranks after vec 2
        (4, [0.0, 1.0, 0.0], "B"),
        # unlabeled rows: NULL label
        (5, [0.95, 0.31, 0.0], None),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )


def test_hard_negatives_excludes_positives_and_dups(spark):
    from invoice_ocr_reconciler_spark.operators.similarity import (
        hard_negatives,
    )
    from pyspark.sql import functions as F

    emb = _hn_df(spark)
    out = hard_negatives(
        emb, emb.filter(F.col("vec_id") == 0), k=5
    ).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in out]
    # vec1 (same label) and vec3 (>= ceiling) excluded; 5 (NULL label) is
    # a valid negative for a labeled anchor and lands between 2 and 4
    assert got == [(5, 1), (2, 2), (4, 3)]
    assert all(r["query_id"] == 0 for r in out)


def test_hard_negatives_null_anchor_label(spark):
    """NULL-label anchor: NULL-label rows are 'same class' (excluded);
    labeled rows qualify."""
    from invoice_ocr_reconciler_spark.operators.similarity import (
        hard_negatives,
    )
    from pyspark.sql import functions as F

    emb = _hn_df(spark)
    out = hard_negatives(
        emb, emb.filter(F.col("vec_id") == 5), k=10
    ).collect()
    ids = {r["neighbor_id"] for r in out}
    assert 5 not in ids and ids <= {0, 1, 2, 3, 4}
    assert len(ids) > 0


def test_hard_negatives_candidates_path_matches_brute(spark):
    """Feeding pre-scored candidate pairs (the LSH/IVF scale path) must
    reproduce the brute-force result when candidates cover the corpus."""
    from invoice_ocr_reconciler_spark.operators.similarity import (
        brute_force_topk,
        hard_negatives,
    )
    from pyspark.sql import functions as F

    emb = _hn_df(spark)
    anchors = emb.filter(F.col("vec_id") == 0)
    brute = hard_negatives(emb, anchors, k=3)
    cands = brute_force_topk(emb, anchors, k=100)
    via = hard_negatives(emb, anchors, k=3, candidates=cands)
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, brute.collect()), key=lambda t: (t[0], t[4])) == \
        sorted(map(tuple, via.collect()), key=lambda t: (t[0], t[4]))
