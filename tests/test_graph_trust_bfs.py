"""trust_rank, bfs_distance, cooccurrence, extraction_f1 unit contracts."""

import math

from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.operators.graph import (
    bfs_distance,
    pagerank,
    trust_rank,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


def _seeds(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "node long")


# ------------------------------------------------------------ trust_rank


def test_trust_rank_unreachable_island_gets_zero(spark):
    # seed cluster 0->1->2; island 10<->11 unreachable from the seed
    e = _edges(spark, [(0, 1), (1, 2), (10, 11), (11, 10)])
    t = {r["node"]: r["trust"] for r in trust_rank(e, _seeds(spark, [0])).collect()}
    assert t[10] == 0.0 and t[11] == 0.0
    assert t[0] > 0 and t[1] > 0 and t[2] > 0
    # raw pagerank gives the island plenty of mass — the spam-mass gap
    pr = {r["node"]: r["rank"] for r in pagerank(e).collect()}
    assert pr[10] > 0.1  # high raw rank, zero trust = spam signature


def test_trust_rank_mass_conservation_and_seed_teleport(spark):
    # dangling node 2 returns its mass to the seeds, not uniformly
    e = _edges(spark, [(0, 1), (1, 2), (2 * 0 + 5, 0), (5, 1)])
    out = trust_rank(e, _seeds(spark, [0, 5]), n_iter=4).collect()
    total = sum(r["trust"] for r in out)
    assert math.isclose(total, 1.0, abs_tol=1e-6)


def test_trust_rank_mass_conserved_with_dangling_deep(spark):
    # pagerank's dangling-node graph (9 has no outlinks) at 8 rounds: each
    # round's lineage is cut, so the plan stays flat and the mass stays 1
    e = _edges(spark, [(1, 9), (2, 9), (3, 9), (1, 2), (2, 3), (3, 1)])
    total = (
        trust_rank(e, _seeds(spark, [1]), n_iter=8)
        .agg(F.sum("trust").alias("s"))
        .collect()[0]["s"]
    )
    assert abs(total - 1.0) < 1e-6


def test_trust_rank_no_seed_in_graph_is_all_zero(spark):
    e = _edges(spark, [(0, 1)])
    out = trust_rank(e, _seeds(spark, [99])).collect()
    assert {r["trust"] for r in out} == {0.0}


def test_trust_rank_empty_edges(spark):
    e = _edges(spark, []).filter(F.lit(False))
    assert trust_rank(e, _seeds(spark, [0])).count() == 0


# ---------------------------------------------------------- bfs_distance


def test_bfs_distance_levels_and_unreachable(spark):
    # 0 -> 1 -> 2 -> 3 ; 7 -> 8 island ; shortcut 0 -> 2
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (7, 8), (0, 2)])
    d = {r["node"]: r["dist"] for r in bfs_distance(e, _seeds(spark, [0])).collect()}
    assert d == {0: 0, 1: 1, 2: 1, 3: 2}  # shortcut wins; island absent


def test_bfs_distance_multi_source_min(spark):
    e = _edges(spark, [(0, 1), (1, 2), (5, 2)])
    d = {
        r["node"]: r["dist"]
        for r in bfs_distance(e, _seeds(spark, [0, 5])).collect()
    }
    assert d[2] == 1  # via 5, not 2 hops via 0
    assert d[0] == 0 and d[5] == 0


def test_bfs_distance_max_depth_truncates(spark):
    e = _edges(spark, [(0, 1), (1, 2), (2, 3)])
    d = {
        r["node"]: r["dist"]
        for r in bfs_distance(e, _seeds(spark, [0]), max_depth=2).collect()
    }
    assert 3 not in d and d[2] == 2


def test_bfs_distance_cycle_terminates(spark):
    e = _edges(spark, [(0, 1), (1, 0)])
    d = {r["node"]: r["dist"] for r in bfs_distance(e, _seeds(spark, [0])).collect()}
    assert d == {0: 0, 1: 1}


# ---------------------------------------------------------- cooccurrence


# --------------------------------------------------------- extraction_f1


def test_extraction_f1_multiset_and_identity(spark):
    from invoice_ocr_reconciler_spark.operators.extract_eval import extraction_f1

    pairs = spark.createDataFrame(
        [
            (1, "a b b c", "a b d"),  # inter: a + one b = 2
            (2, "same text", "same text"),
            (3, "", "gold only here"),
            (4, None, None),
        ],
        "doc_id long, pred_text string, gold_text string",
    )
    rows = {r["doc_id"]: r for r in extraction_f1(pairs).collect()}
    r1 = rows[1]
    assert (r1["n_pred"], r1["n_gold"], r1["n_inter"]) == (4, 3, 2)
    assert r1["precision"] == 2 / 4 and r1["recall"] == 2 / 3
    assert r1["f1"] == 2 * 2 / (4 + 3)
    assert rows[2]["f1"] == 1.0
    assert rows[3]["precision"] is None and rows[3]["recall"] == 0.0
    assert rows[4]["f1"] is None  # no tokens either side


def test_extraction_f1_summary_micro(spark):
    from invoice_ocr_reconciler_spark.operators.extract_eval import (
        extraction_f1,
        extraction_f1_summary,
    )

    pairs = spark.createDataFrame(
        [(1, "a b", "a b"), (2, "x", "y")],
        "doc_id long, pred_text string, gold_text string",
    )
    s = extraction_f1_summary(extraction_f1(pairs)).collect()[0]
    assert (s["n_docs"], s["t_pred"], s["t_gold"], s["t_inter"]) == (2, 3, 3, 2)
    assert s["micro_f1"] == 2 * 2 / 6


def test_extraction_f1_duplicate_ids_pool_to_one_row(spark):
    from invoice_ocr_reconciler_spark.operators.extract_eval import (
        extraction_f1,
        extraction_f1_summary,
    )

    pairs = spark.createDataFrame(
        [(1, "a b", "a b"), (1, "c", "c"), (2, "x", "x")],
        "doc_id long, pred_text string, gold_text string",
    )
    rows = extraction_f1(pairs).collect()
    assert len(rows) == 2  # one row per DISTINCT id, counts pooled
    r1 = {r["doc_id"]: r for r in rows}[1]
    assert (r1["n_pred"], r1["n_gold"], r1["n_inter"]) == (3, 3, 3)
    s = extraction_f1_summary(extraction_f1(pairs)).collect()[0]
    assert s["n_docs"] == 2 and s["t_pred"] == 4
