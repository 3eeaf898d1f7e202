"""Frequent-itemset mining + association rules (operators/itemsets.py)
and SCC condensation (operators/graph.py:condensation)."""

from invoice_ocr_reconciler_spark.operators.graph import condensation, scc


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


CORPUS = [
    "milk bread",
    "milk bread butter",
    "milk bread",
    "milk tea",
    "tea butter",
]


def test_condensation_collapses_scc_edges(spark):
    # 1 <-> 2 -> 3 -> 4 -> 3 : SCCs {1,2} and {3,4}; two cross links? no —
    # only 2->3 crosses; in-SCC edges vanish
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3)], "src long, dst long"
    )
    comps = scc(edges)
    out = condensation(edges, comps).collect()
    assert [(r.scc_a, r.scc_b, r.n_links) for r in out] == [(1, 3, 1)]


def test_condensation_counts_parallel_cross_links(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (2, 3)], "src long, dst long"
    )
    comps = scc(edges)
    out = condensation(edges, comps).collect()
    assert [(r.scc_a, r.scc_b, r.n_links) for r in out] == [(1, 3, 2)]


def test_canonical_best_keeps_highest_score(spark):
    from invoice_ocr_reconciler_spark.operators.cluster import canonical_best

    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (9, 7)], "doc_id long, n_chars long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r for r in canonical_best(docs, pairs, "n_chars").collect()}
    # component {1,2,3}: 2 and 3 tie at 50 -> lower id 2 survives
    assert out[2].is_canonical and out[2].keep_rank == 1
    assert not out[1].is_canonical and not out[3].is_canonical
    assert out[3].keep_rank == 2 and out[1].keep_rank == 3
    # singleton 9 survives trivially
    assert out[9].is_canonical and out[9].component == 9
