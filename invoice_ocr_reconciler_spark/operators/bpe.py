"""BPE vocabulary induction over a distributed corpus.

Tokenizer training is the one corpus-scale computation every pretraining
pipeline runs besides dedup/filtering: byte-pair encoding (Sennrich et al.
2016) learns a merge table from word frequencies. The distributed shape is
fixed by the algorithm's structure:

  - ONE corpus-sized job: tokenize + explode + groupBy word -> the word
    frequency table. 10^12 documents collapse to ~10^6-10^8 word types;
    everything after runs at TYPE cardinality, never corpus cardinality.
    (This is also how production tokenizer trainers work — they train on
    word counts, not raw text.)
  - the type table is capped to the `vocab_cap` most frequent types
    (TakeOrdered, count desc / word asc — deterministic). The cap bounds
    per-round cost; the dropped tail is a vanishing share of token mass
    (Zipf), and the cut is logged via the returned coverage metrics.
  - each merge round is two vocab-sized steps: (a) adjacent-pair counts
    weighted by word frequency — a codegen transform over the symbol
    array + explode + partial-agg'd groupBy, (b) argmax collected to the
    driver (ONE row: the algorithm is inherently sequential in the merge
    choice), then the merge applied to every symbol array as a codegen
    F.aggregate fold (leftmost-first, non-overlapping — standard BPE
    application order). localCheckpoint truncates lineage per round so
    n_merges rounds don't stack a growing plan.

Determinism: ties in pair counts break by (left, right) ascending; the
word-frequency input is exact; reruns at any parallelism produce the same
merge table (pinned against a pure-Python reference implementation in
tests/test_bpe.py).

SQL replay (round 4): both halves ARE value-checked in DuckDB — the merge
rounds unroll as CTEs (the fs_em precedent) with the leftmost-first fold
expressed as non-overlapping string replace() over separator-wrapped
symbols, and the greedy encode loop as a recursive CTE
(__spark_entry__._bpe_learn_block); the pytest pure-Python parity golden
remains as the second, engine-independent pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.functions.text import tokens_col

END_MARK = "</w>"  # end-of-word symbol (Sennrich et al. 2016)

MERGES_SCHEMA = "merge_rank int, left string, right string, pair_count long"


def word_frequencies(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, n) over the shared whitespace/lowercase tokenization — the
    one corpus-sized pass of BPE training (everything downstream is
    type-cardinality)."""
    return (
        docs.select(F.explode(tokens_col(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _symbolize(words: DataFrame) -> DataFrame:
    """(syms: array<string>, n): each word as its character symbols plus
    the end-of-word marker."""
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != "")
    return words.select(
        F.concat(chars, F.array(F.lit(END_MARK))).alias("syms"),
        F.col("n"),
    )


def _pair_counts(syms: DataFrame) -> DataFrame:
    """(left, right, pair_count): adjacent-symbol pair frequencies weighted
    by word frequency. Codegen transform + explode over arrays of
    (word-length) size; the groupBy partial-aggregates map-side."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("syms") - 1),
        lambda i: F.struct(
            F.element_at(F.col("syms"), i).alias("left"),
            F.element_at(F.col("syms"), i + 1).alias("right"),
        ),
    )
    return (
        syms.filter(F.size("syms") >= 2)
        .select(F.explode(pairs).alias("p"), "n")
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("n").alias("pair_count"))
    )


def _apply_merge(syms_df: DataFrame, left: str, right: str) -> DataFrame:
    """Replace every non-overlapping (left, right) adjacency with the
    concatenated symbol, leftmost-first — one codegen fold per word, no
    Python. try_element_at returns NULL on the empty accumulator (ANSI
    element_at(-1) would throw), and NULL == left is NULL -> falsy."""
    merged = F.lit(left + right)
    fold = F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, t: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(left))
            & (t == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(t))),
    )
    return syms_df.select(fold.alias("syms"), "n")


def bpe_learn(
    docs: DataFrame,
    n_merges: int = 50,
    vocab_cap: int = 50_000,
    min_pair_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Learn a BPE merge table -> (merge_rank, left, right, pair_count),
    merge_rank 1..n_merges in learned order. Stops early when no pair
    reaches min_pair_count (a merge supported by one occurrence encodes
    noise). Empty corpus -> empty table, stable schema.
    """
    spark = docs.sparkSession
    freqs = word_frequencies(docs, text_col)
    # deterministic cap: TakeOrdered on (n desc, word asc); the capped
    # frame is vocab-sized — localCheckpoint materializes it so the rounds
    # never re-run the corpus pass
    capped = freqs.orderBy(F.col("n").desc(), F.col("word")).limit(int(vocab_cap))
    syms = _symbolize(capped).localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, int(n_merges) + 1):
        top = (
            _pair_counts(syms)
            .orderBy(F.col("pair_count").desc(), F.col("left"), F.col("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["pair_count"] < min_pair_count:
            break
        left, right, pc = top[0]["left"], top[0]["right"], int(top[0]["pair_count"])
        merges.append((rank, left, right, pc))
        syms = _apply_merge(syms, left, right).localCheckpoint(eager=True)
    return spark.createDataFrame(merges, MERGES_SCHEMA)


ENCODE_SCHEMA = "doc_id bigint, tokens array<string>, n_tokens int"


def _encode_word(word: str, ranks: dict, cache: dict) -> list:
    """Greedy BPE application to one word: repeatedly merge the
    lowest-rank adjacent pair, leftmost-first non-overlapping within a
    pass — the exact application order of training's _apply_merge fold,
    so encode(learn-corpus) reproduces the training segmentation."""
    hit = cache.get(word)
    if hit is not None:
        return hit
    syms = list(word) + [END_MARK]
    while len(syms) > 1:
        best_rank = None
        best_pair = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_pair = (syms[i], syms[i + 1])
        if best_pair is None:
            break
        left, right = best_pair
        out = []
        i = 0
        n = len(syms)
        while i < n:
            if i < n - 1 and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    cache[word] = syms
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize documents with a learned merge table
    -> (doc_id, tokens, n_tokens).

    The consumption half of BPE: bpe_learn runs once per tokenizer
    version, encode runs over every corpus build (token budgeting,
    pack_sequences, context-length stats all want REAL token counts, not
    the whitespace proxy).

    Scale shape: the merge table is vocab-sized (n_merges rows) — it
    collects to the driver once and ships to executors as a broadcast
    closure (the IVF-centroid pattern); the corpus crosses Arrow ONCE,
    column-pruned to (id, text), and each batch memoizes encodings per
    word TYPE, so the per-batch cost is ~unique-words x merge-depth,
    not tokens x merge-depth (Zipf makes the type/token ratio tiny).
    No shuffle anywhere — a pure map stage that fuses into the scan.

    Tokenization is the shared functions/text.py:tokens_col contract
    (lowercase, whitespace), applied in pandas — pinned equal by test.
    """
    rows = merges.select("merge_rank", "left", "right").collect()
    ranks = {(r["left"], r["right"]): r["merge_rank"] for r in rows}
    bc = docs.sparkSession.sparkContext.broadcast(ranks)

    def gen(batches):
        import re

        import pandas as pd

        # Java \s is ASCII-only ([ \t\n\x0B\f\r]); Python str.split()
        # splits Unicode whitespace too — use the exact Java class so the
        # pandas tokenization equals tokens_col byte for byte
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        rk = bc.value
        cache: dict = {}
        for pdf in batches:
            toks_out = []
            counts = []
            for text in pdf[text_col]:
                words = [w for w in ws.split(str(text or "").lower()) if w]
                toks: list = []
                for w in words:
                    toks.extend(_encode_word(w, rk, cache))
                toks_out.append(toks)
                counts.append(len(toks))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "tokens": toks_out,
                    "n_tokens": pd.Series(counts, dtype="int32"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(gen, schema=ENCODE_SCHEMA)


def vocab_coverage(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_col: str = "token",
) -> DataFrame:
    """Per-document tokenizer-vocabulary coverage -> (doc_id, n_tokens,
    n_oov, oov_rate): how much of each document a fixed vocabulary can
    represent without falling back to unknowns.

    The pre-training gate a tokenizer change always needs: a vocab fit
    on one slice silently shreds out-of-distribution text into <unk>/
    byte-fallback soup, and per-DOCUMENT rates localize the damage
    (which sources, which languages) where a corpus-mean hides it.

    Shape: one scan -> shared tokens_col explode -> LEFT join against the
    (deduped, broadcast) vocabulary -> partial-agg groupBy(doc).
    Token-cardinality rows carry only (doc_id, token); zero-token docs
    are preserved by the final left join at corpus cardinality.
    oov_rate rides the 1e-6 grid (roundn) so engines agree bitwise.
    """
    from invoice_ocr_reconciler_spark.functions.text import tokens_col
    from invoice_ocr_reconciler_spark.plans.relational import roundn

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(F.col(text_col))).alias("token"),
    )
    v = vocab.select(F.col(vocab_col).alias("token")).distinct().withColumn(
        "in_vocab", F.lit(1)
    )
    per = (
        toks.join(F.broadcast(v), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("bigint").alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
                roundn(F.col("n_oov") / F.col("n_tokens"), 6)
            ),
        )
    )


def oov_top_terms(
    docs: DataFrame,
    vocab: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_col: str = "token",
) -> DataFrame:
    """Corpus-level top-k out-of-vocabulary terms -> (token, n_occurrences,
    n_docs, oov_rank): WHAT the tokenizer is missing, ranked by damage.
    The actionable half of vocab_coverage — these terms are the merge/
    vocab-entry candidates for the next tokenizer build.

    Anti-join against the broadcast vocab at token cardinality, then one
    partial-agg'd groupBy(token); the global top-k is orderBy().limit(k)
    — Spark plans it as TakeOrderedAndProject (per-partition heaps, no
    single-partition window over the possibly-huge OOV-type set) — and
    the rank window runs on the k survivors only.
    """
    from invoice_ocr_reconciler_spark.functions.text import tokens_col

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(F.col(text_col))).alias("token"),
    )
    v = vocab.select(F.col(vocab_col).alias("token")).distinct()
    top = (
        toks.join(F.broadcast(v), "token", "left_anti")
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(k)
    )
    return top.withColumn(
        "oov_rank",
        F.row_number()
        .over(Window.orderBy(F.col("n_occurrences").desc(), F.col("token")))
        .cast("int"),
    )
