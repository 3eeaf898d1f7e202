"""Deduplication operators for the training-data pipeline.

- exact:          md5-fingerprint groupBy (JVM-side, shuffle on fingerprint)
- MinHash + LSH:  shingle -> 64-hash signature (vectorized numpy in a pandas
                  UDF) -> banded bucket join -> signature-similarity verify
- SimHash:        64-bit simhash + 16-bit chunk blocking for near-dup pairs
- n-gram Jaccard: exact Jaccard verification over candidate pairs

Scale notes: signatures are O(1) per doc and embarrassingly parallel; the
only shuffles are the band-bucket exchange (16 rows/doc) and the candidate
self-join. Buckets are capped (HOT_BUCKET_CAP) so a degenerate bucket (e.g.
boilerplate-identical shingle sets across millions of docs) cannot produce a
quadratic pair explosion — overflow buckets are dropped and logged rather
than joined, the standard web-dedup guard.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from collections.abc import Iterator
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from invoice_ocr_reconciler_spark.functions.text import fingerprint_col

N_HASHES = 64
N_BANDS = 16  # r = 4 rows/band -> s-curve threshold ~ (1/16)^(1/4) ≈ 0.5
HOT_BUCKET_CAP = 64
# SimHash chunk groups see 4 rows/doc (vs 16 band rows for MinHash) but a
# degenerate chunk value (empty/boilerplate docs all hashing to 0) would
# otherwise self-join quadratically — same guard, same drop-and-log contract.
HOT_CHUNK_CAP = 64


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one row per doc with fingerprint, group size, keeper flag.

    First occurrence (min id) wins — mirrors the reference's first-wins
    duplicate rule (backend/reconciliationEngine.js:43-51) applied to text.
    """
    fp = fingerprint_col(F.col(text_col))
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (
        docs.select(F.col(id_col), fp.alias("fingerprint"))
        .withColumn("dup_rank", F.row_number().over(w))
        .withColumn("group_size", F.count("*").over(Window.partitionBy("fingerprint")))
        .withColumn("is_duplicate", F.col("dup_rank") > 1)
    )


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer: deterministic 64-bit avalanche."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


# 64 deterministic seeds (md5-derived constants, no RNG object)
_MH_SEEDS = np.array(
    [
        int.from_bytes(hashlib.md5(f"minhash-v2:{i}".encode()).digest()[:8], "big")
        for i in range(N_HASHES)
    ],
    dtype=np.uint64,
)

@lru_cache(maxsize=1 << 20)
def _md5_u64(s: str) -> int:
    """High 8 md5 bytes as uint64 — the one SQL-replayable string hash
    (('0x'||substr(md5(s),1,16))::UBIGINT in the DuckDB oracles).

    Memoized per worker process: web corpora are Zipf-heavy, so the same
    tokens/grams recur across documents in a batch; re-hashing every
    occurrence made md5 the dominant CPU cost of the signature stage
    (round-3 ADVICE). The cache is pure (md5 is deterministic), so
    memoization cannot change a signature bit. Bounded at 2^20 entries
    (~100 MB worst case) so a pathological vocabulary cannot OOM a worker."""
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")


def _shingle_hashes(text: str, k: int = 3) -> np.ndarray:
    """Word k-gram shingles -> stable 64-bit hashes.

    A gram's hash is the high 8 bytes of md5 over the SPACE-JOINED gram
    string — exactly the gram strings the ngram_jaccard_exact oracle
    builds, so a DuckDB oracle replays the hash with
    ('0x'||substr(md5(g),1,16))::UBIGINT and the whole MinHash pipeline
    becomes value-checkable (round 2 used crc32+positional multiplies:
    faster per token but not expressible in SQL). Short texts (<k
    tokens) collapse to one joined gram, mirroring the oracle's
    short-text branch; empty text hashes to [0].
    """
    toks = text.lower().split()
    if not toks:
        return np.array([np.uint64(0)], dtype=np.uint64)
    if len(toks) < k:
        grams: set[str] = {" ".join(toks)}
    else:
        grams = {
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        }
    return np.unique(
        np.array([_md5_u64(g) for g in grams], dtype=np.uint64)
    )


def _minhash_signature(text: str) -> list[int]:
    h = _shingle_hashes(text)
    # min over shingles of splitmix64(gram ^ seed_i), per hash function —
    # one vectorized (64 x n_grams) pass
    vals = _splitmix64(np.bitwise_xor.outer(_MH_SEEDS, h))
    return [int(v) for v in vals.min(axis=1).astype(np.int64)]


from invoice_ocr_reconciler_spark.util import (  # noqa: E402 — after constants
    with_scan_parallelism as _with_scan_parallelism,
)


def capped_member_groups(
    df: DataFrame, keys: list[str], payload, cap: int
) -> DataFrame:
    """(keys..., members<array>) for groups with 2..cap rows — hot groups
    are dropped by a WINDOW COUNT over the same partitioning BEFORE any
    array is built. Collecting first and filtering on size() after (the
    round-2 interim shape) materializes a multi-MB array row per degenerate
    group only to discard it — measured 1,919 hot buckets of up to 58k
    signatures on the 200k near-dup-dense corpus. The window and the
    groupBy share one exchange (same keys), so this costs no extra shuffle.
    """
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("_grp_n", F.count("*").over(w))
        .filter((F.col("_grp_n") >= 2) & (F.col("_grp_n") <= cap))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(payload)).alias("members"))
    )

def pair_expansion_expr(a_alias: str = "doc_a", b_alias: str = "doc_b") -> str:
    """SQL snippet generating all ordered pairs (m_i, m_j), i < j, from a
    sorted `members` array — the one definition of the subtle 1-based
    i+2 / size-i-1 slice arithmetic every capped-group pair generator
    shares (minhash network-lean, embedding dedup, semantic dedup,
    phash). The ship_signatures MinHash branch keeps its own struct
    variant (it also computes the estimate inside the expression)."""
    return f"""
        flatten(transform(members, (m, i) ->
          transform(slice(members, i + 2, size(members) - i - 1), o ->
            struct(m AS {a_alias}, o AS {b_alias}))))
    """


MINHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("signature", T.ArrayType(T.LongType()), False),
    ]
)


def minhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "signature": [_minhash_signature(t or "") for t in pdf[text_col]],
                }
            )

    return _with_scan_parallelism(docs.select(id_col, text_col)).mapInPandas(
        gen, schema=MINHASH_SCHEMA
    )


def _band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, signature, band, bucket) from a (doc_id, signature) frame —
    the banded LSH layout. The single definition of the band hash: every
    consumer (batch-internal pairs, incremental index join) bands through
    here, so the hash family cannot drift between legs."""
    r = N_HASHES // N_BANDS
    band_ids = F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
            lambda b: F.xxhash64(
                F.concat_ws("-", F.slice("signature", b * r + 1, r)), b
            ),
        )
    ).alias("band", "bucket")
    return sig.select("doc_id", "signature", band_ids)


def _sig_agreement(a, b) -> F.Column:
    """Estimated Jaccard = fraction of agreeing minhash positions (1e-4
    grid) — the one estimate every join-shaped verify leg shares."""
    return F.round(
        F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda z: z))
        / F.lit(float(N_HASHES)),
        4,
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    ship_signatures: bool = True,
    sig: DataFrame | None = None,
    bucket_cap: int = HOT_BUCKET_CAP,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH + signature verify.

    ``sig``: inject a precomputed (doc_id, signature) frame (the
    minhash_signatures layout) to skip the signature pass — the
    incremental path reuses one batch signature job across the
    batch-internal and batch-vs-index legs.

    Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b and estimated
    Jaccard (fraction of agreeing minhashes) >= threshold. Two physically
    different plans, identical results (equivalence-tested):

    - ``ship_signatures=True`` (default): band rows carry the signature, so
      ONE signature pass feeds everything and the estimate is computed
      inside the capped bucket groups — the CPU-lean shape (fastest on a
      single host / fast local shuffle; measured best at 200k docs);
    - ``ship_signatures=False``: the band exchange carries 24-byte
      (doc_id, band, bucket) triples instead of 16 signature copies per doc
      (~1.6 GB saved per 200k docs); pairs dedup ACROSS bands first, then
      join the signatures back and pay the estimate once per DISTINCT pair.
      The signature lineage is recomputed for the join sides (~80us/doc) —
      the NETWORK-lean shape for clusters where shuffle bytes, not CPU, are
      the constraint.
    """
    if sig is None:
        sig = minhash_signatures(docs, text_col, id_col)

    if ship_signatures:
        bands = _band_rows(sig)
        grouped = capped_member_groups(
            bands, ["band", "bucket"], F.struct("doc_id", "signature"), bucket_cap
        )
        pairs_expr = f"""
            filter(
              flatten(transform(members, (m, i) ->
                transform(slice(members, i + 2, size(members) - i - 1), o ->
                  struct(m.doc_id AS doc_a, o.doc_id AS doc_b,
                         round(size(filter(zip_with(m.signature, o.signature,
                                                    (x, y) -> x = y), z -> z))
                               / CAST({N_HASHES} AS DOUBLE), 4) AS est_jaccard)))),
              p -> p.est_jaccard >= CAST({threshold!r} AS DOUBLE))
        """
        return (
            grouped.select(F.explode(F.expr(pairs_expr)).alias("p"))
            .select("p.doc_a", "p.doc_b", "p.est_jaccard")
            .dropDuplicates(["doc_a", "doc_b"])
        )

    bands = _band_rows(sig).select("doc_id", "band", "bucket")
    grouped = capped_member_groups(bands, ["band", "bucket"], F.col("doc_id"), bucket_cap)
    pairs_expr = pair_expansion_expr()
    cand = (
        grouped.select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b"))
    est = _sig_agreement("sig_a", "sig_b")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


# --- SimHash ---

_SH_BITS = 64


def _simhash(text: str) -> int:
    """64-bit SimHash over whitespace tokens (per-occurrence votes).

    Token hash = high 8 md5 bytes — SQL-replayable exactly like the
    MinHash gram hash (('0x'||substr(md5(t),1,16))::UBIGINT), so the
    dedup_simhash oracle can rebuild signatures bit-exactly (round 2
    used crc32+splitmix64, not expressible in SQL).

    Votes fold over DISTINCT tokens weighted by occurrence count (one
    memoized md5 + one bit-expansion row per distinct token, not per
    occurrence): sum_occurrences(2*bit-1) == 2*sum_tok(count*bit) - n,
    so the signature is bit-identical to the per-occurrence loop while
    the md5 work drops to the Heaps-law distinct count."""
    toks = (text or "").lower().split()
    if not toks:
        return 0
    counts = Counter(toks)
    hashes = np.array([_md5_u64(t) for t in counts], dtype=np.uint64)
    wts = np.fromiter(counts.values(), dtype=np.int64, count=len(counts))
    bits = ((hashes[:, None] >> np.arange(_SH_BITS, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
    vote = (bits * wts[:, None]).sum(axis=0) * 2 - len(toks)  # +count set, -count unset
    out = 0
    for i in range(_SH_BITS):
        if vote[i] > 0:
            out |= 1 << i
    return out - (1 << 63)  # store as signed int64


SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("simhash", T.LongType(), False),
    ]
)


def simhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "simhash": [_simhash(t) for t in pdf[text_col]],
                }
            )

    return _with_scan_parallelism(docs.select(id_col, text_col)).mapInPandas(
        gen, schema=SIMHASH_SCHEMA
    )


def simhash_near_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: block on 16-bit chunks (pigeonhole: any pair
    within hamming distance 3 shares at least one of 4 chunks), verify exact
    hamming distance with bit_count (JVM-side).

    Same degenerate-bucket guard as MinHash: one exchange on
    (chunk_pos, chunk_val), members collected into a sorted array per chunk
    group, pair generation + the hamming verify run inside codegen array
    expressions, and groups above HOT_CHUNK_CAP are dropped instead of
    joined. Empty/boilerplate-identical docs all share simhash 0 — without
    the cap that one chunk value self-joins O(n^2) at web scale (the round-1
    scale defect); with it the pair fan-out is quadratic only in the cap.
    Exact duplicates dropped this way are exact_duplicates()' job, not ours.
    """
    sig = simhash_signatures(docs, text_col, id_col)
    chunks = sig.select(
        "doc_id", "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), c * 16).bitwiseAND(F.lit(0xFFFF))
                    for c in range(4)
                ]
            )
        ).alias("chunk_pos", "chunk_val"),
    )
    grouped = capped_member_groups(
        chunks, ["chunk_pos", "chunk_val"], F.struct("doc_id", "simhash"), HOT_CHUNK_CAP
    )
    # members sorted by doc_id -> doc_a < doc_b by construction; only passing
    # (a, b, hamming) triples reach the dedup exchange
    pairs_expr = f"""
        filter(
          flatten(transform(members, (m, i) ->
            transform(slice(members, i + 2, size(members) - i - 1), o ->
              struct(m.doc_id AS doc_a, o.doc_id AS doc_b,
                     bit_count(m.simhash ^ o.simhash) AS hamming)))),
          p -> p.hamming <= {int(max_hamming)})
    """
    return (
        grouped.select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b", F.col("p.hamming").cast("int").alias("hamming"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


# --- exact n-gram Jaccard verification ---

NGRAM_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("doc_a", T.LongType(), False),
        T.StructField("doc_b", T.LongType(), False),
        T.StructField("jaccard", T.DoubleType(), False),
    ]
)


def ngram_jaccard_verify(candidates: DataFrame, docs: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         k: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact word-k-gram Jaccard over (doc_a, doc_b) candidate pairs.

    Texts are joined in (broadcast when small; shuffle join at scale), then
    Jaccard computed vectorized per Arrow batch.
    """
    texts = docs.select(F.col(id_col).alias("jid"), F.col(text_col).alias("jtext"))
    joined = (
        candidates.join(texts.withColumnRenamed("jid", "doc_a")
                        .withColumnRenamed("jtext", "text_a"), "doc_a")
        .join(texts.withColumnRenamed("jid", "doc_b")
              .withColumnRenamed("jtext", "text_b"), "doc_b")
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def jac(sa: set[int], sb: set[int]) -> float:
            if not sa and not sb:
                return 1.0
            return len(sa & sb) / len(sa | sb)

        for pdf in batches:
            # a doc meets many partners in one batch: shingle it once per
            # batch, not once per pair (the cache lives for one batch only)
            sets: dict[int, set[int]] = {}

            def shingles(doc_id: int, text: str) -> set[int]:
                if doc_id not in sets:
                    sets[doc_id] = set(map(int, _shingle_hashes(text or "", k)))
                return sets[doc_id]

            yield pd.DataFrame(
                {
                    "doc_a": pdf["doc_a"].astype("int64"),
                    "doc_b": pdf["doc_b"].astype("int64"),
                    "jaccard": [
                        round(jac(shingles(ia, a), shingles(ib, b)), 4)
                        for ia, ib, a, b in zip(
                            pdf["doc_a"], pdf["doc_b"], pdf["text_a"], pdf["text_b"]
                        )
                    ],
                }
            )

    return (
        joined.select("doc_a", "doc_b", "text_a", "text_b")
        .mapInPandas(gen, schema=NGRAM_PAIR_SCHEMA)
        .filter(F.col("jaccard") >= threshold)
    )


def line_dedup(
    docs: DataFrame,
    max_doc_freq: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    scope_col: str | None = None,
) -> DataFrame:
    """Global line-level deduplication (the C4 / RefinedWeb boilerplate
    cut): any trimmed non-blank line that occurs in >= max_doc_freq
    DISTINCT documents is boilerplate (nav bars, cookie banners, footers)
    and is removed from EVERY document; the survivors are re-assembled in
    original order.

    ``scope_col`` (e.g. the host/source column) switches the frequency
    scope: a line counts as boilerplate only within documents sharing the
    scope value — the RefinedWeb per-site form, which protects a phrase
    that is legitimately common ACROSS sites (quotes, idioms) while still
    cutting each site's own template lines. Scoped mode also sharpens the
    plan at web scale: the boilerplate key becomes (scope, line), so the
    flag join's hash key can never concentrate on one globally-hot line.

    Returns one row per input document:
      (doc_id, text_clean, n_lines_kept, n_lines_removed)
    where text_clean joins the kept trimmed lines with '\\n' ('' if none).

    Plan shape (scales to a 10^12-row corpus):
      1. posexplode lines — narrow, no shuffle;
      2. line document-frequency: groupBy(line) with count(distinct doc)
         (two-phase partial agg: the map-side partial collapses exactly the
         hot boilerplate lines, so the exchange carries ~unique lines);
      3. flag join back on the line key (AQE picks broadcast when the
         boilerplate set is small, shuffle-hash otherwise — both fine: the
         key is the line text, uniformly hashed);
      4. ONE groupBy(doc) rebuilding the text with collect_list(struct(pos,
         line)) + array_sort — null structs (removed lines) are skipped by
         collect_list, so kept/removed counts fall out of the same pass;
      5. left join to the input preserves documents with no surviving (or
         no non-blank) lines.

    No Python crossing anywhere — pure codegen + two agg exchanges + two
    joins.
    """
    scope = [scope_col] if scope_col else []
    lines = (
        docs.select(id_col, text_col, *scope)
        .select(
            F.col(id_col),
            *[F.col(s) for s in scope],
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), r"\r?\n")
            ).alias("pos", "raw_line"),
        )
        .withColumn("line", F.trim(F.col("raw_line")))
        .filter(F.col("line") != "")
        .select(id_col, *scope, "pos", "line")
    )
    boiler = (
        lines.groupBy(*scope, "line")
        .agg(F.count_distinct(F.col(id_col)).alias("line_df"))
        .filter(F.col("line_df") >= int(max_doc_freq))
        .withColumn("is_boiler", F.lit(True))
        .select(*scope, "line", "is_boiler")
    )
    flagged = lines.join(boiler, [*scope, "line"], "left").withColumn(
        "is_boiler", F.coalesce(F.col("is_boiler"), F.lit(False))
    )
    kept_struct = F.when(
        ~F.col("is_boiler"), F.struct(F.col("pos"), F.col("line"))
    )  # NULL for boilerplate rows -> skipped by collect_list
    rebuilt = flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
            ),
            "\n",
        ).alias("text_clean"),
        F.sum((~F.col("is_boiler")).cast("long")).alias("n_lines_kept"),
        F.sum(F.col("is_boiler").cast("long")).alias("n_lines_removed"),
    )
    return (
        docs.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).alias("n_lines_kept"),
            F.coalesce(F.col("n_lines_removed"), F.lit(0)).alias("n_lines_removed"),
        )
    )


def minhash_incremental(
    new_docs: DataFrame,
    index_sig: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    bucket_cap: int = HOT_BUCKET_CAP,
    checkpoint_dir: str | None = None,
) -> dict:
    """Dedup a NEW crawl batch against a standing corpus using only the
    corpus's persisted MinHash index — the daily-ingest shape at 100 TB.

    Recomputing near-dup over corpus+batch costs a full-corpus signature
    pass per ingest; the right plan touches the corpus TEXT zero times:
    ``index_sig`` is the stored (doc_id, signature) table
    (minhash_signatures output, appended run over run), the batch gets ONE
    signature pass, and both legs — batch-vs-index and batch-internal —
    band those signatures. The index side ships 24-byte (band, bucket)
    keys + signatures through one equi-join keyed on (band, bucket);
    degenerate buckets are capped PER SIDE (a boilerplate bucket with >cap
    index members is dropped, same contract as HOT_BUCKET_CAP) so a hot
    bucket never drives a quadratic join.

    Verdict semantics (exact, via connected components over the
    batch-internal pairs): a batch doc is kept iff
      - it matches no index doc, and
      - its batch component contains NO index-matched member ("anchored"
        components already exist in the corpus — admitting the unmatched
        tail would re-ingest the cluster), and
      - it is the component minimum (the repo's canonical-survivor rule);
    singletons keep themselves.

    Returns {"signatures", "index_pairs", "new_pairs", "verdicts"}:
    ``signatures`` holds the KEPT batch docs' signatures — the frame to
    append to the index after the run. Appending every batch signature
    (dropped duplicates included) would grow hot content's (band, bucket)
    entries by one per run until they breach bucket_cap, after which the
    per-side cap silently BLINDS the index join to exactly the
    most-duplicated content; kept-only appends keep each content cluster
    at one index entry forever. index_pairs = (doc_id, index_id,
    est_jaccard); new_pairs = (doc_a, doc_b, est_jaccard); verdicts =
    (doc_id, dup_of_index, in_anchored_cluster, is_kept) — one row per
    batch doc. new_sig and index_pairs are persisted internally (each
    feeds 2+ downstream branches — without the persist the batch
    signature UDF pass and the full-index band scan replay per consumer).
    """
    from invoice_ocr_reconciler_spark.operators.cluster import (
        connected_components,
    )

    new_sig = minhash_signatures(new_docs, text_col, id_col).persist()
    new_pairs = minhash_lsh_pairs(
        new_docs,
        text_col,
        id_col,
        threshold=threshold,
        sig=new_sig,
        bucket_cap=bucket_cap,
    )

    nb = _band_rows(new_sig)
    ib = _band_rows(index_sig).select(
        F.col("doc_id").alias("index_id"),
        F.col("signature").alias("sig_i"),
        "band",
        "bucket",
    )
    # per-side degenerate-bucket caps share the join's (band, bucket)
    # partitioning — the window adds no extra exchange
    wn = Window.partitionBy("band", "bucket")
    nb = nb.withColumn("_n", F.count("*").over(wn)).filter(
        F.col("_n") <= bucket_cap
    )
    ib = ib.withColumn("_n", F.count("*").over(wn)).filter(
        F.col("_n") <= bucket_cap
    )
    index_pairs = (
        nb.join(ib, ["band", "bucket"])
        .select(
            "doc_id",
            "index_id",
            _sig_agreement("signature", "sig_i").alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["doc_id", "index_id"])
        .persist()
    )

    idx_matched = index_pairs.select("doc_id").distinct().withColumn(
        "dup_of_index", F.lit(True)
    )
    comp = connected_components(new_pairs, checkpoint_dir=checkpoint_dir)
    anchored = (
        comp.join(idx_matched.select("doc_id"), "doc_id")
        .select("component")
        .distinct()
        .withColumn("_anchored", F.lit(True))
    )
    verdicts = (
        new_docs.select(F.col(id_col).alias("doc_id"))
        .join(idx_matched, "doc_id", "left")
        .join(comp, "doc_id", "left")
        .join(F.broadcast(anchored), "component", "left")
        .select(
            "doc_id",
            F.coalesce("dup_of_index", F.lit(False)).alias("dup_of_index"),
            F.coalesce("_anchored", F.lit(False)).alias("in_anchored_cluster"),
            (
                ~F.coalesce("dup_of_index", F.lit(False))
                & ~F.coalesce("_anchored", F.lit(False))
                & (F.coalesce("component", F.col("doc_id")) == F.col("doc_id"))
            ).alias("is_kept"),
        )
    )
    kept_sig = new_sig.join(
        verdicts.filter(F.col("is_kept")).select("doc_id"), "doc_id"
    )
    return {
        "signatures": kept_sig,
        "index_pairs": index_pairs,
        "new_pairs": new_pairs,
        "verdicts": verdicts,
    }
