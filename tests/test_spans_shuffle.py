"""Tests for exact duplicated-span detection (operators/spans.py) and the
deterministic shuffle-shard export layout (operators/chunking.py)."""

import pytest
from pyspark.sql import functions as F

# a 40-token verbatim passage (license-boilerplate analog); words chosen
# to not collide with the filler vocabularies below
RUN = " ".join(f"shared{i:02d}" for i in range(40))


@pytest.fixture(scope="module")
def span_docs(spark):
    rows = [
        # RUN embedded at DIFFERENT token offsets (10 vs 7): a positional
        # stride would sample out-of-phase windows and miss the overlap
        (0, " ".join(f"fillA{i}" for i in range(10)) + " " + RUN),
        (1, " ".join(f"fillB{i}" for i in range(7)) + " " + RUN),
        # internal-only repetition: its own passage twice, shared with no one
        (2, "echo1 echo2 echo3 echo4 echo5 echo6 echo7 echo8 "
            "echo1 echo2 echo3 echo4 echo5 echo6 echo7 echo8 tail9"),
        # unique long doc
        (3, " ".join(f"only{i}" for i in range(30))),
        # shorter than the 8-token window: no spans defined
        (4, "too short for any window"),
        (5, ""),
        (6, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def shuffle_docs(spark):
    return spark.range(200).select(F.col("id").alias("doc_id"))


def test_shuffle_is_a_balanced_permutation(shuffle_docs):
    from invoice_ocr_reconciler_spark.operators.chunking import shuffle_shards

    rows = shuffle_shards(shuffle_docs, n_shards=8).collect()
    assert len(rows) == 200
    assert sorted(r["doc_id"] for r in rows) == list(range(200))
    by_shard = {}
    for r in rows:
        assert 0 <= r["shard"] < 8
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    # pos is dense 1..size within every shard
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # i.i.d. hash balance: no shard is empty or hogs the corpus
    sizes = [len(v) for v in by_shard.values()]
    assert len(by_shard) == 8 and max(sizes) < 3 * min(sizes)


def test_shuffle_deterministic_and_salted(shuffle_docs):
    from invoice_ocr_reconciler_spark.operators.chunking import shuffle_shards

    a = sorted(map(tuple, shuffle_shards(shuffle_docs, n_shards=8).collect()))
    b = sorted(map(tuple,
                   shuffle_shards(shuffle_docs.repartition(5), n_shards=8).collect()))
    assert a == b  # partition/retry invariant
    c = sorted(map(tuple,
                   shuffle_shards(shuffle_docs, n_shards=8, salt="epoch2").collect()))
    assert a != c  # a different salt draws a different permutation


def test_shuffle_shard_assignment_incrementally_stable(spark):
    from invoice_ocr_reconciler_spark.operators.chunking import shuffle_shards

    old = spark.range(100).select(F.col("id").alias("doc_id"))
    grown = spark.range(150).select(F.col("id").alias("doc_id"))
    shard_old = {r["doc_id"]: r["shard"]
                 for r in shuffle_shards(old, n_shards=8).collect()}
    shard_new = {r["doc_id"]: r["shard"]
                 for r in shuffle_shards(grown, n_shards=8).collect()}
    # shard is a pure function of the id: appending rows moves nobody
    assert all(shard_new[i] == s for i, s in shard_old.items())


def test_shuffle_empty_frame(spark):
    from invoice_ocr_reconciler_spark.operators.chunking import shuffle_shards

    empty = spark.createDataFrame([], "doc_id long")
    assert shuffle_shards(empty).count() == 0
