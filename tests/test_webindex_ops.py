"""CDX index, mirror detection, sentence split, hash split, zipf fit,
JSON-LD harvest, embedding outliers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- CDX


def _caps(spark):
    import datetime as dt

    rows = [
        ("https://www.a.b.example/x/y.html?q=1", dt.datetime(2024, 3, 5, 12, 34, 56), b"payload-one"),
        ("https://a.b.example/x/y.html", dt.datetime(2024, 3, 6, 0, 0, 1), b"payload-two"),
        ("https://site-007.example/doc.html", dt.datetime(2024, 1, 1, 0, 0, 0), b"p3"),
        ("https://Site-007.example", dt.datetime(2024, 1, 2, 0, 0, 0), b"p4"),
    ]
    return spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")


# ------------------------------------------------------- mirror hosts


def test_mirror_hosts_pairs_and_cap(spark):
    from invoice_ocr_reconciler_spark.operators.graph import mirror_hosts

    rows = (
        # a and b mirror two fingerprints; c shares one with a
        [("a.example", "t1"), ("a.example", "t2"), ("a.example", "t3")]
        + [("b.example", "t1"), ("b.example", "t2")]
        + [("c.example", "t1")]
        # boilerplate on every host incl. d: must be dropped by the cap
        + [(h, "boiler") for h in ("a.example", "b.example", "c.example", "d.example")]
    )
    df = spark.createDataFrame(rows, "host string, text string")
    got = {
        (r["host_a"], r["host_b"]): r
        for r in mirror_hosts(df, max_hosts_per_fp=3).collect()
    }
    # d.example only shares the capped boilerplate fp -> no pair rows
    assert not any("d.example" in k for k in got)
    ab = got[("a.example", "b.example")]
    assert ab["shared_fps"] == 2 and ab["pair_weight"] == 2
    # mirror_score = shared / min(total fps): b holds 3 fps (t1,t2,boiler)
    assert ab["mirror_score"] == pytest.approx(2 / 3, abs=1e-6)
    ac = got[("a.example", "c.example")]
    assert ac["shared_fps"] == 1
    # c holds 2 fps (t1, boiler) -> score 1/2
    assert ac["mirror_score"] == pytest.approx(0.5, abs=1e-6)


def test_mirror_hosts_capture_counts_weighting(spark):
    from invoice_ocr_reconciler_spark.operators.graph import mirror_hosts

    rows = [("a", "x"), ("a", "x"), ("a", "x"), ("b", "x")]
    df = spark.createDataFrame(rows, "host string, text string")
    [r] = mirror_hosts(df).collect()
    assert r["pair_weight"] == 3  # 3 captures on a x 1 on b


def test_mirror_hosts_degenerate_corpus_bounded(spark):
    """10k copies of one doc across 100 hosts with the cap at 16: the
    degenerate fingerprint exceeds the cap and produces ZERO pairs
    instead of 100^2 — the scale guard."""
    from invoice_ocr_reconciler_spark.operators.graph import mirror_hosts

    df = spark.range(10_000).select(
        F.format_string("h%d.example", (F.col("id") % 100).cast("int")).alias("host"),
        F.lit("same text").alias("text"),
    )
    assert mirror_hosts(df, max_hosts_per_fp=16).count() == 0


# ----------------------------------------------------- sentence split


def test_split_sentences_rules(spark):
    from invoice_ocr_reconciler_spark.functions.text import split_sentences

    rows = [
        (0, "One here. Two there! Three? Four"),
        (1, "No boundary at all"),
        (2, "lower case. not a boundary"),
        (3, "Tight.NoSpace stays"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = split_sentences(df).collect()
    by_doc: dict[int, list] = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert [r["sentence"] for r in sorted(by_doc[0], key=lambda r: r["sent_idx"])] == [
        "One here.",
        "Two there!",
        "Three?",
        "Four",
    ]
    assert all(r["n_sents"] == 4 for r in by_doc[0])
    assert len(by_doc[1]) == 1 and by_doc[1][0]["sentence"] == "No boundary at all"
    # lowercase follow-on and missing whitespace are not boundaries
    assert len(by_doc[2]) == 1
    assert len(by_doc[3]) == 1
    # empty text -> zero rows (posexplode of empty array)
    assert 4 not in by_doc


# --------------------------------------------------------- hash split


def test_hash_split_deterministic_and_complete(spark):
    from invoice_ocr_reconciler_spark.operators.sampling import hash_split

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    got = hash_split(df).groupBy("split").count().collect()
    by = {r["split"]: r["count"] for r in got}
    assert set(by) == {"train", "validation", "test"}
    assert sum(by.values()) == 2000
    # roughly 90/5/5 (md5 is uniform; generous tolerance)
    assert 1700 < by["train"] < 1900
    # stable across recomputation and independent of partitioning
    again = {
        r["split"]: r["count"]
        for r in hash_split(df.repartition(7)).groupBy("split").count().collect()
    }
    assert again == by
    # salt changes the assignment
    other = hash_split(df, salt="split-v2").groupBy("split").count().collect()
    assert {r["split"]: r["count"] for r in other} != by or True  # counts may tie
    a = {r["doc_id"]: r["split"] for r in hash_split(df).collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(df, salt="split-v2").collect()}
    assert any(a[k] != b[k] for k in a)


def test_hash_split_grow_stability(spark):
    """Growing the corpus never reassigns an existing id."""
    from invoice_ocr_reconciler_spark.operators.sampling import hash_split

    small = {r["doc_id"]: r["split"] for r in hash_split(
        spark.range(500).withColumnRenamed("id", "doc_id")).collect()}
    big = {r["doc_id"]: r["split"] for r in hash_split(
        spark.range(1500).withColumnRenamed("id", "doc_id")).collect()}
    assert all(big[k] == v for k, v in small.items())


def test_hash_split_rejects_bad_weights(spark):
    from invoice_ocr_reconciler_spark.operators.sampling import hash_split

    with pytest.raises(ValueError):
        hash_split(spark.range(1), weights={"train": 50, "test": 40})


# --------------------------------------------- group split / leakage audit


def test_group_split_never_straddles_groups(spark):
    from invoice_ocr_reconciler_spark.operators.sampling import group_split

    # 300 docs in 40 groups + 100 ungrouped (NULL component)
    rows = [(i, i % 40) for i in range(300)] + [
        (i, None) for i in range(300, 400)
    ]
    df = spark.createDataFrame(rows, "doc_id long, component long")
    out = group_split(df, "component")
    grouped = (
        out.filter(F.col("component").isNotNull())
        .groupBy("component")
        .agg(F.countDistinct("split").alias("n"))
        .collect()
    )
    assert all(r["n"] == 1 for r in grouped)
    # singletons spread across all three splits (uniform solo fallback)
    solo = {
        r["split"]
        for r in out.filter(F.col("component").isNull()).select("split").collect()
    }
    assert "train" in solo and len(solo) >= 2
    # deterministic across partitioning
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in group_split(df.repartition(7), "component").collect()
    }
    assert a == b


def test_group_split_rejects_bad_weights(spark):
    from invoice_ocr_reconciler_spark.operators.sampling import group_split

    with pytest.raises(ValueError):
        group_split(
            spark.range(1).withColumn("g", F.lit(1)),
            "g",
            id_col="id",
            weights={"train": 99},
        )


def test_split_leakage_audit_hash_leaks_group_doesnt(spark):
    from invoice_ocr_reconciler_spark.operators.sampling import (
        group_split,
        hash_split,
        split_leakage_audit,
    )

    # near-dup pairs: docs 2k and 2k+1 are copies of each other
    docs = spark.createDataFrame(
        [(i, i // 2) for i in range(400)], "doc_id long, component long"
    )
    pairs = spark.createDataFrame(
        [(2 * k, 2 * k + 1) for k in range(200)], "doc_a long, doc_b long"
    )
    leaky = split_leakage_audit(hash_split(docs), pairs)
    assert leaky.count() > 0  # id-hash split DOES leak pairs across splits
    for r in leaky.limit(5).collect():
        assert r["split_a"] != r["split_b"]
    safe = split_leakage_audit(group_split(docs, "component"), pairs)
    assert safe.count() == 0  # group split can't leak by construction


# ------------------------------------------------------------ zipf


def test_zipf_fit_matches_numpy(spark):
    import numpy as np

    from invoice_ocr_reconciler_spark.operators.profile import zipf_fit

    # deterministic zipf-ish corpus: term k appears ~N/k times
    words = []
    for k in range(1, 40):
        words += [f"w{k:02d}"] * (400 // k)
    docs = spark.createDataFrame(
        [(0, " ".join(words[:800])), (1, " ".join(words[800:]))],
        "doc_id long, text string",
    )
    [row] = zipf_fit(docs, top_n=30).collect()
    assert row["n_terms"] == 39
    assert row["n_tokens"] == len(words)
    # replicate the exact integer-scaled OLS in numpy
    from collections import Counter

    cnt = Counter(words)
    head = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    x = np.floor(np.log(np.arange(1, 31).astype(float)) * 1e6 + 0.5).astype(np.int64)
    y = np.floor(np.log(np.array([c for _, c in head], dtype=float)) * 1e6 + 0.5).astype(np.int64)
    n = 30
    num = n * int((x * y).sum()) - int(x.sum()) * int(y.sum())
    den = n * int((x * x).sum()) - int(x.sum()) ** 2
    slope = num / den
    assert row["zipf_slope"] == pytest.approx(slope, abs=2e-6)
    assert -1.2 < row["zipf_slope"] < -0.8  # zipf-ish by construction


# ----------------------------------------------------------- JSON-LD


# ------------------------------------------------- embedding outliers


def test_embedding_outliers_finds_planted_outlier(spark):
    from invoice_ocr_reconciler_spark.operators.similarity import embedding_outliers

    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for vid in range(20):
        rows.append((vid, [float(x) for x in rng.normal(0, 0.01, 8)], "lab"))
    rows.append((99, [5.0] * 8, "lab"))  # planted far point
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    got = embedding_outliers(emb, top_k=3).collect()
    assert len(got) == 3
    assert got[0]["outlier_rank"] == 1 or {r["outlier_rank"] for r in got} == {1, 2, 3}
    top = [r for r in got if r["outlier_rank"] == 1][0]
    assert top["vec_id"] == 99
    assert top["dist2"] > 100


def test_embedding_outliers_per_label_isolation(spark):
    from invoice_ocr_reconciler_spark.operators.similarity import embedding_outliers

    rows = [
        (1, [0.0, 0.0], "a"),
        (2, [1.0, 1.0], "a"),
        (3, [0.0, 0.0], "b"),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    got = embedding_outliers(emb, top_k=5).collect()
    labels = {r["label"] for r in got}
    assert labels == {"a", "b"}
    # a singleton label sits exactly on its centroid
    b = [r for r in got if r["label"] == "b"][0]
    assert b["dist2"] == 0.0


def test_mirror_clusters_transitive_and_disjoint(spark):
    from invoice_ocr_reconciler_spark.operators.graph import (
        mirror_clusters,
        mirror_hosts,
    )

    rows = (
        # cluster 1: a-b-c chained through shared pages (a~b, b~c, no a~c)
        [("a.example", "p1"), ("b.example", "p1")]
        + [("b.example", "p2"), ("c.example", "p2")]
        # cluster 2: d-e
        + [("d.example", "p3"), ("e.example", "p3")]
        # unpaired host: no cluster row
        + [("f.example", "p4")]
    )
    df = spark.createDataFrame(rows, "host string, text string")
    pairs = mirror_hosts(df)
    got = {r["host"]: r["cluster_rep"] for r in mirror_clusters(pairs).collect()}
    assert set(got) == {"a.example", "b.example", "c.example", "d.example", "e.example"}
    # transitivity: a, b, c share one representative
    assert got["a.example"] == got["b.example"] == got["c.example"]
    assert got["d.example"] == got["e.example"]
    assert got["a.example"] != got["d.example"]
    # the representative is a member of its own cluster
    assert got[got["a.example"]] == got["a.example"]


def test_mirror_clusters_min_score_cuts_weak_edges(spark):
    from invoice_ocr_reconciler_spark.operators.graph import (
        mirror_clusters,
        mirror_hosts,
    )

    rows = (
        [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")]  # full mirror (score 1.0)
        + [("a", "z1"), ("a", "z2"), ("a", "z3"), ("a", "z4"),
           ("a", "z5"), ("a", "z6"), ("a", "z7"), ("a", "z8"),
           ("c", "x"), ("c", "c1"), ("c", "c2"), ("c", "c3")]  # weak a~c overlap
    )
    df = spark.createDataFrame(rows, "host string, text string")
    pairs = mirror_hosts(df)
    strong = mirror_clusters(pairs, min_score=0.9).collect()
    hosts = {r["host"] for r in strong}
    assert hosts == {"a", "b"}  # c's weak edge cut


def test_url_templates_trap_detection(spark):
    from invoice_ocr_reconciler_spark.functions.urls import url_templates

    rows = (
        # calendar trap: 120 urls, one template
        [(f"https://trap.example/cal/2024/{m:02d}/{d:02d}",) for m in range(1, 11) for d in range(1, 13)]
        # healthy host: varied templates
        + [("https://ok.example/about",), ("https://ok.example/contact",),
           ("https://ok.example/post/77",)]
    )
    df = spark.createDataFrame(rows, "url string")
    got = {(r["host"], r["template"]): r for r in url_templates(
        df, trap_share=0.5, trap_min_urls=50).collect()}
    trap = got[("trap.example", "/cal/N/N/N")]
    assert trap["n_urls"] == 120 and trap["n_paths"] == 120
    assert trap["template_share"] == 1.0 and trap["is_trap"]
    assert not any(r["is_trap"] for (h, _), r in got.items() if h == "ok.example")
    # digitless templates pass through unchanged
    assert ("ok.example", "/about") in got
    assert got[("ok.example", "/post/N")]["n_urls"] == 1


def test_url_templates_min_count_guard(spark):
    """A dominating template on a TINY host is not a trap — dominance
    only matters with volume."""
    from invoice_ocr_reconciler_spark.functions.urls import url_templates

    df = spark.createDataFrame(
        [("https://small.example/p/1",), ("https://small.example/p/2",)],
        "url string",
    )
    [r] = url_templates(df, trap_share=0.5, trap_min_urls=100).collect()
    assert r["template_share"] == 1.0 and not r["is_trap"]


def test_url_templates_query_string_and_empty_path(spark):
    from invoice_ocr_reconciler_spark.functions.urls import url_templates

    df = spark.createDataFrame(
        [("https://h.example/s?page=3&id=99",), ("https://h.example",)],
        "url string",
    )
    got = {r["template"] for r in url_templates(df).collect()}
    assert got == {"/s?page=N&id=N", "/"}


def test_split_sentences_matches_python_re_on_fuzz(spark):
    """One batched job: the Spark sentinel rule equals a Python re
    reference over 400 seeded random ASCII strings (incl. punctuation
    runs, boundary-adjacent capitals, whitespace varieties)."""
    import random
    import re

    rng = random.Random(1234)
    alphabet = "aA.bB! ?\t\nzZ .Q"
    rows = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60))))
        for i in range(400)
    ]

    def py_split(text):
        marked = re.sub(r"([.!?])\s+([A-Z])", "\\1\x01\\2", text)
        return [p for p in (q.strip(" ") for q in marked.split("\x01")) if p]

    from invoice_ocr_reconciler_spark.functions.text import split_sentences

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in split_sentences(df).collect():
        got.setdefault(r["doc_id"], []).append((r["sent_idx"], r["sentence"]))
    for i, text in rows:
        expect = py_split(text)
        have = [s for _, s in sorted(got.get(i, []))]
        assert have == expect, (i, text, have, expect)


def test_registrable_domain_psl_semantics(spark):
    from pyspark.sql import functions as F

    from invoice_ocr_reconciler_spark.functions.urls import (
        registrable_domain_col,
    )

    psl = ["co.uk", "uk", "com"]
    df = spark.createDataFrame(
        [
            ("a.b.example.co.uk",),   # longest match co.uk -> example.co.uk
            ("example.co.uk",),       # bare registrable under co.uk
            ("co.uk",),               # IS a public suffix -> NULL
            ("x.example.com",),       # com -> example.com
            ("deep.site.weirdtld",),  # unlisted TLD: '*' rule -> site.weirdtld
            ("weirdtld",),            # single unlisted label -> NULL
            ("Site.CO.UK",),          # case-normalized before matching
            ("example.com.",),        # trailing root dot stripped
        ],
        "host string",
    )
    got = {
        r.host: r.reg
        for r in df.select(
            "host", registrable_domain_col(F.col("host"), psl).alias("reg")
        ).collect()
    }
    assert got["a.b.example.co.uk"] == "example.co.uk"
    assert got["example.co.uk"] == "example.co.uk"
    assert got["co.uk"] is None
    assert got["x.example.com"] == "example.com"
    assert got["deep.site.weirdtld"] == "site.weirdtld"
    assert got["weirdtld"] is None
    assert got["Site.CO.UK"] == "site.co.uk"
    assert got["example.com."] == "example.com"


def test_link_reciprocity_hand_computed(spark):
    from invoice_ocr_reconciler_spark.operators.graph import link_reciprocity

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"),          # reciprocal pair
            ("a", "c"),                       # one-way
            ("c", "c"),                       # self-loop dropped
            ("a", "b"),                       # duplicate edge collapsed
            ("d", "a"),                       # one-way into a
        ],
        "src_host string, dst_host string",
    )
    out = {r.host: r for r in link_reciprocity(edges).collect()}
    assert out["a"].out_deg == 2 and out["a"].n_reciprocal == 1
    assert abs(out["a"].reciprocity - 0.5) < 1e-6
    assert out["b"].out_deg == 1 and abs(out["b"].reciprocity - 1.0) < 1e-6
    # pure sink: no out-edges after self-loop drop
    assert out["c"].out_deg == 0 and out["c"].reciprocity == 0.0
    assert out["c"].in_deg == 1
    assert out["d"].in_deg == 0 and out["d"].out_deg == 1


def test_extract_links_pathless_page_url(spark):
    from invoice_ocr_reconciler_spark.functions.urls import extract_links

    df = spark.createDataFrame(
        [("https://bare.example", b'<a href="about.html">about</a>')],
        "url string, html binary",
    )
    assert extract_links(df).collect()[0]["link"] == (
        "https://bare.example/about.html"
    )
