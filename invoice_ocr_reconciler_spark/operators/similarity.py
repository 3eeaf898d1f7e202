"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: JVM-side dot product via zip_with/aggregate
  (whole-stage codegen, no Python crossing) against a broadcast query set —
  the correctness baseline;
- LSH-bucketed ANN (random hyperplanes): deterministic signature via a
  pandas UDF + numpy, bucket join, exact cosine re-rank within buckets —
  a 100 TB scale path (touches only colliding buckets instead of the
  full corpus per query);
- IVF ANN: deterministic driver-side spherical k-means coarse quantizer,
  distributed cell assignment, n_probe nearest cells probed per query with
  exact re-rank — the other standard scale path (recall tunable via
  n_probe, cells align with a hash-partitioned layout).

WHICH ANN PATH TO USE (measured recall@5 on the bench corpus, reported
per round under ``ann_recall_at_5`` in BENCH_r*.json):

============  ========  =====================================================
path          recall@5  when to choose it
============  ========  =====================================================
ivf_topk       0.76     DEFAULT for batch pipelines: best recall/cost at its
  (probe 4)             defaults; needs a one-off driver-side fit (seconds).
                        probe_all=1.0 recall when you can afford more cells.
lsh_topk       0.60     no fit job at all — streaming-friendly, index rows
  (defaults)            derive purely from the vector, so incremental /
                        structured-streaming ingest can index on arrival.
                        n_tables=16,n_probe_bits=4 reaches 0.82 at 2x index.
ivf_sq8_topk   =ivf     ivf recall at 4x smaller index: MEASURED equal to
                        full-precision ivf at probe 4 AND probe 8 on the
                        bench corpus (quantization loss ~0; routing is the
                        recall bottleneck) — prefer it whenever the index
                        dominates storage.
pq_topk        0.12-    STANDALONE pq is a low-recall path on isotropic
  (m4/m8,k16)  0.16     vectors (measured round 5) — treat it as a MEMORY
                        FORMAT, not a search strategy: compose with IVF
                        (feed probed cells as `corpus`) so ADC only ranks
                        within cells, and re-rank the ADC top-k' with
                        exact vectors when recall matters. Real text
                        embeddings (anisotropic) will sit higher; the
                        bench number is the regression floor.
brute_force    1.00     exact baseline; fine up to ~10^6 corpus x small
                        query sets, and the truth-set generator for recall
                        measurement of every other path.
============  ========  =====================================================

A pytest floor (tests/test_scale_guards.py) pins lsh_topk default recall
>= 0.5 so no future default change can silently regress to the round-1
0.02-recall configuration.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from invoice_ocr_reconciler_spark.util import with_scan_parallelism


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_sim(a: Column, b: Column) -> Column:
    denom = _norm(a) * _norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(_dot(a, b) / denom)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (query set broadcast by
    default — the standard shape for a small probe batch; pass
    broadcast_queries=False for corpus-sized query sets, letting the
    planner pick a shuffle join).

    Output: (query_id, neighbor_id, cosine, rank); self-pairs excluded.
    Rank orders by cosine rounded to 6 places with neighbor_id tiebreak so
    results are stable across engines and summation orders.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = with_scan_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    )
    scored = (
        c.crossJoin(F.broadcast(q) if broadcast_queries else q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine_sim(F.col("q_vec"), F.col("c_vec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# --- LSH (random hyperplane) ANN ---

N_PLANES = 8  # floor; lsh_n_planes() scales this with the corpus size


def lsh_n_planes(n_vectors: int, target_rows: int = 64) -> int:
    """Planes per table scaled so the EXPECTED bucket holds ~target_rows:
    2^p buckets with p = ceil(log2(n / target)), floor 8 — the same
    corpus-scaled sizing emb_planes_per_band uses for the dedup path.
    At 10^9 vectors p = 24, so a probe scans ~64 candidates instead of
    the fixed-256-bucket n/256 of the round-1 configuration."""
    import math

    if n_vectors <= 0:
        return N_PLANES
    return max(N_PLANES, int(math.ceil(math.log2(max(n_vectors / target_rows, 2.0)))))


def _planes(dim: int, seed: str = "ann-lsh-v1", n_planes: int = N_PLANES) -> np.ndarray:
    """Deterministic hyperplanes: md5-derived uniform values, no RNG object."""
    raw = np.array(
        [
            [
                int.from_bytes(hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()[:4], "big")
                for d in range(dim)
            ]
            for p in range(n_planes)
        ],
        dtype=np.float64,
    )
    return raw / (1 << 31) - 1.0  # roughly uniform in [-1, 1)


LSH_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("tbl", T.IntegerType(), False),
        T.StructField("bucket", T.LongType(), False),  # long: up to 2^p, p>31 at extreme n
    ]
)


def _table_seed(t: int) -> str:
    # table 0 keeps the original seed so single-table results are stable
    return "ann-lsh-v1" if t == 0 else f"ann-lsh-v1:t{t}"


def lsh_buckets(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """(vec_id, tbl, bucket): exact LSH bucket per hash table (independent
    deterministic hyperplane sets per table — the classic L-tables recall
    lever: a true neighbor is found if ANY table colocates the pair)."""
    return lsh_probe_buckets(vectors, 0, id_col, vec_col, n_tables, n_planes)


def lsh_probe_buckets(
    vectors: DataFrame,
    n_flip: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """(vec_id, tbl, bucket) with MULTI-PROBE expansion per table: besides
    the exact bucket, probe the buckets reached by flipping each of the
    ``n_flip`` LOWEST-MARGIN hyperplane bits (the planes the vector sits
    closest to — exactly the bits most likely to differ for a true near
    neighbor). (1 + n_flip) * n_tables rows per vector.

    The flip ordering ranks |projection| on the repo's 1e-8 integer grid
    (plane-index tiebreak) so a DuckDB oracle summing the same products in
    a different order picks the identical flip set."""
    n_flip = min(n_flip, n_planes)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if planes is None:
                planes = [
                    _planes(mat.shape[1], seed=_table_seed(t), n_planes=n_planes)
                    for t in range(n_tables)
                ]
            ids = pdf[id_col].astype("int64").to_numpy()
            out_ids, out_tbl, out_buckets = [], [], []
            for t, pl in enumerate(planes):
                proj = mat @ pl.T
                base = ((proj > 0) * weights).sum(axis=1).astype("int64")
                out_ids.append(ids)
                out_tbl.append(np.full(len(ids), t, dtype="int32"))
                out_buckets.append(base)
                if n_flip > 0:
                    # per row, indices of the n_flip smallest grid-rounded
                    # |projection|s (stable sort -> plane-index tiebreak)
                    margin = np.floor(np.abs(proj) * 1e8 + 0.5)
                    order = np.argsort(margin, axis=1, kind="stable")[:, :n_flip]
                    for j in range(order.shape[1]):
                        out_ids.append(ids)
                        out_tbl.append(np.full(len(ids), t, dtype="int32"))
                        out_buckets.append(base ^ (1 << order[:, j]))
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_ids),
                    "tbl": np.concatenate(out_tbl),
                    "bucket": np.concatenate(out_buckets).astype("int64"),
                }
            )

    return with_scan_parallelism(vectors.select(id_col, vec_col)).mapInPandas(
        gen, schema=LSH_SCHEMA
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe_bits: int = 4,
    n_tables: int = 8,
    broadcast_queries: bool = True,
    n_planes: int | None = None,
    bucket_cap: int = 256,
) -> DataFrame:
    """ANN top-k: join on (table, LSH bucket), exact cosine re-rank within
    the colliding buckets.

    Recall < 1 by construction; the bucket join replaces the full cross
    product. DEFAULTS are the measured-recall configuration (tables=8,
    probe=4 — recall@5 ~0.6 on the test corpus vs 0.02 for the round-1
    single-table/no-probe setting), and ``n_planes`` is sized from the
    corpus count (lsh_n_planes: expected bucket ~64 rows) unless pinned,
    so candidate work per probe stays O(target_rows) at any corpus size.
    Two orthogonal recall levers, both measured by ann_recall:
    - ``n_probe_bits``: multi-probe on the QUERY side (each query also
      probes across its n lowest-margin hyperplanes) — more candidates per
      table at zero index cost;
    - ``n_tables``: L independent hyperplane sets; a true neighbor is found
      if ANY table colocates the pair (1-(1-p^b)^L vs p^b) — the classic
      LSH lever, at the cost of L index rows per corpus vector."""
    if n_planes is None:
        # one count job to size the index; at pipeline scale callers pass
        # a known corpus size instead (the IVF fit makes the same trade)
        n_planes = lsh_n_planes(corpus.count())
    cb = lsh_buckets(corpus, id_col, vec_col, n_tables, n_planes).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    if bucket_cap:
        # degenerate-bucket guard (the HOT_BUCKET_CAP pattern): a bucket
        # holding a duplicate pile-up (e.g. 10k identical vectors) would
        # otherwise hand every probing query the whole pile as candidates.
        # Keep the bucket_cap LOWEST ids per (table, bucket) — deterministic,
        # oracle-replayable (QUALIFY row_number), and >=4x the expected
        # ~64-row bucket so non-degenerate buckets are untouched. Recall in
        # a capped bucket degrades gracefully: near-dup piles score
        # near-identically, so any cap-surviving members fill top-k.
        wcap = Window.partitionBy("tbl", "bucket").orderBy("neighbor_id")
        cb = (
            cb.withColumn("_bkt_rn", F.row_number().over(wcap))
            .filter(F.col("_bkt_rn") <= bucket_cap)
            .drop("_bkt_rn")
        )
    qb = lsh_probe_buckets(
        queries, n_probe_bits, id_col, vec_col, n_tables, n_planes
    ).withColumnRenamed("vec_id", "query_id")
    # ids-only through the bucket join and the collision dedup — attaching
    # the embeddings first would ship every candidate's full float arrays
    # through the dropDuplicates exchange (the same ids-not-vectors rule
    # embedding_cosine_dedup follows)
    cand = (
        cb.join(F.broadcast(qb) if broadcast_queries else qb, ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    if n_probe_bits > 0 or n_tables > 1:
        # a pair can collide in several probed buckets/tables; dedup BEFORE
        # scoring so each pair pays one cosine and one window slot
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    c_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    scored = cand.join(
        F.broadcast(q_vecs) if broadcast_queries else q_vecs, "query_id"
    ).join(c_vecs, "neighbor_id")
    scored = scored.withColumn(
        "cosine", F.round(cosine_sim(F.col("q_vec"), F.col("c_vec")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def recall_vs_truth(approx: DataFrame, truth: DataFrame, label: str) -> DataFrame:
    """One-row frame (method, recall): |approx ∩ truth| / |truth| over
    (query_id, neighbor_id) pairs — turns 'recall < 1 by design' into a
    measured, regression-guarded number for the ANN scale paths."""
    pairs = ["query_id", "neighbor_id"]
    hits = (
        truth.select(*pairs)
        .join(approx.select(*pairs), pairs, "left_semi")
        .agg(F.count("*").alias("hits"))
    )
    tot = truth.agg(F.count("*").alias("total"))
    return hits.crossJoin(tot).select(
        F.lit(label).alias("method"),
        F.round(F.col("hits") / F.greatest(F.col("total"), F.lit(1)), 4).alias("recall"),
    )


# --- banded hyperplane LSH for embedding near-dup (the 100 TB path) ---

EMB_DEDUP_BANDS = 8  # candidate iff ANY band's full signature agrees
EMB_TARGET_BUCKET_ROWS = 128  # sizes planes_per_band from the corpus count
EMB_HOT_BUCKET_CAP = 128  # degenerate-bucket guard (drop, never self-join)

EMB_BAND_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("bucket", T.LongType(), False),
    ]
)


def emb_planes_per_band(n_vectors: int, target_rows: int = EMB_TARGET_BUCKET_ROWS) -> int:
    """Planes per band scaled so the EXPECTED bucket holds ~target_rows:
    2^p buckets per band with p = ceil(log2(n / target)), floor 8. At 10^9
    vectors p = 23 — the within-bucket work stays O(n * target) instead of
    the fixed-256-bucket O(n^2/256) of the round-1 single-probe path."""
    import math

    if n_vectors <= 0:
        return 8
    return max(8, int(math.ceil(math.log2(max(n_vectors / target_rows, 2.0)))))


def _banded_emb_buckets(
    vectors: DataFrame,
    n_bands: int,
    planes_per_band: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(vec_id, band, bucket): one matmul per Arrow batch over all bands'
    planes (deterministic md5-derived hyperplanes, seed keyed by band)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        weights = (1 << np.arange(planes_per_band)).astype(np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if planes is None:
                planes = np.concatenate(
                    [
                        _planes(mat.shape[1], seed=f"emb-dedup-v1:{b}",
                                n_planes=planes_per_band)
                        for b in range(n_bands)
                    ]
                )  # (n_bands * p, dim)
            signs = (mat @ planes.T) > 0  # (n, n_bands * p)
            signs = signs.reshape(len(mat), n_bands, planes_per_band)
            buckets = (signs * weights).sum(axis=2).astype("int64")  # (n, n_bands)
            ids = pdf[id_col].astype("int64").to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, n_bands),
                    "band": np.tile(np.arange(n_bands, dtype="int32"), len(mat)),
                    "bucket": buckets.reshape(-1),
                }
            )

    return with_scan_parallelism(vectors.select(id_col, vec_col)).mapInPandas(
        gen, schema=EMB_BAND_SCHEMA
    )


def embedding_cosine_dedup(
    vectors: DataFrame,
    threshold: float = 0.995,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    n_bands: int = EMB_DEDUP_BANDS,
    planes_per_band: int | None = None,
    n_vectors: int | None = None,
    bucket_cap: int = EMB_HOT_BUCKET_CAP,
) -> DataFrame:
    """Embedding near-dup pairs (doc_a < doc_b, cosine >= threshold).

    ``exact=True`` scores every (a < b) pair — O(n^2), the oracle-verifiable
    correctness baseline (same role brute_force_topk plays for ANN).

    The default path is banded hyperplane LSH, the 100 TB shape:
    - ``planes_per_band`` SCALES WITH THE CORPUS (emb_planes_per_band; one
      column-pruned count job when ``n_vectors`` isn't supplied) so expected
      bucket size stays ~EMB_TARGET_BUCKET_ROWS regardless of corpus size;
    - candidate pairs are generated INSIDE each (band, bucket) group from a
      sorted id array with codegen expressions — groups above ``bucket_cap``
      (degenerate: e.g. zero vectors all landing in one bucket) are dropped,
      never self-joined, so fan-out is quadratic only in the cap;
    - only surviving (doc_a, doc_b) id pairs are joined back to vectors for
      the exact cosine verify (ids through the exchanges, not embeddings).

    Recall: a true pair at cosine c collides per plane w.p. 1 - arccos(c)/pi
    (~0.968 at c=0.995); with p=23 planes/band and 8 bands the any-band
    collision probability is ~0.92 — tunable via n_bands (recall) and
    threshold-vs-planes (candidate volume). Recall < 1 by construction,
    like every LSH path here.
    """
    if exact:
        left = vectors.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("va"))
        right = vectors.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("vb"))
        # no broadcast hint: in exact mode BOTH sides are the corpus; the
        # mode is a deliberately-quadratic oracle baseline, but a forced
        # corpus broadcast would OOM before the quadratic even starts
        return (
            left.crossJoin(right)
            .filter(F.col("doc_a") < F.col("doc_b"))
            .withColumn("cosine", F.round(cosine_sim(F.col("va"), F.col("vb")), 6))
            .filter(F.col("cosine") >= threshold)
            .select("doc_a", "doc_b", "cosine")
        )
    if planes_per_band is None:
        if n_vectors is None:
            n_vectors = vectors.count()
        planes_per_band = emb_planes_per_band(n_vectors)
    from invoice_ocr_reconciler_spark.operators.dedup import (
        capped_member_groups,
        pair_expansion_expr,
    )

    sig = _banded_emb_buckets(vectors, n_bands, planes_per_band, id_col, vec_col)
    grouped = capped_member_groups(sig, ["band", "bucket"], F.col("vec_id"), bucket_cap)
    pairs_expr = pair_expansion_expr()
    cand = (
        grouped.select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    va = vectors.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("va"))
    vb = vectors.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("cosine", F.round(cosine_sim(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


# --- IVF (inverted-file) ANN ---

IVF_ASSIGN_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("centroid_id", T.IntegerType(), False),
    ]
)


def deterministic_sample_matrix(
    vectors: DataFrame,
    sample_cap: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """THE shared driver-side fit sample (fit_ivf_centroids, pq codebook
    fit): a deterministic xxhash64(id) keep-filter retains ~3x
    sample_cap rows (unbiased — the round-1 smallest-ids sample was
    biased and needed a full corpus sort; Chernoff makes < sample_cap
    survivors vanishingly unlikely for n >> cap, and for n <= 3*cap the
    filter keeps everything), then a top-K by (hash, id) — a distributed
    TakeOrdered over the filtered sliver, not a global sort — pins the
    exact sample. Returns a float64 matrix, shape (0, 0) on an empty
    corpus. One count job + one TakeOrdered job."""
    n = vectors.count()
    if n == 0:
        return np.zeros((0, 0), dtype=np.float64)
    mod = 1_000_000
    keep = min(mod, int(mod * min(1.0, 3.0 * sample_cap / n)) + 1)
    h = F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod))
    rows = (
        vectors.select(id_col, vec_col)
        .filter(h < keep)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_cap)
        .collect()
    )
    return np.array([np.asarray(r[vec_col], dtype=np.float64) for r in rows])


def fit_ivf_centroids(
    vectors: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 10,
    sample_cap: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic spherical k-means coarse quantizer, fit driver-side.

    The training sample is the `sample_cap` smallest ids (stable across
    partitioning, unlike .sample()); init = the first n_centroids sample
    vectors; assignment ties break toward the lower centroid index and an
    emptied centroid keeps its previous position — every step is
    deterministic, so reruns reproduce identical cells (the checkpoint
    contract). At 10^12 rows this driver-side fit is the standard IVF shape:
    the quantizer trains on a tiny sample, only assignment is distributed.

    Sampling: a deterministic xxhash64(id) filter keeps ~3x sample_cap rows
    (unbiased — the round-1 smallest-ids sample was biased and needed a full
    corpus sort), then a top-K by hash (distributed TakeOrdered over the
    filtered sliver, not a global sort) pins the exact sample. An empty
    corpus returns an empty (0, 0) centroid array instead of crashing.
    """
    if n_centroids > sample_cap:
        # fail-loud (dense_cap precedent): silently clamping k to the
        # sample size breaks the caller's cell-size math — semantic_dedup's
        # corpus-scaled k=n/256 would stop growing past ~1M vectors, cells
        # would grow linearly again, and clusters over cluster_cap would be
        # silently dropped from dedup. Callers with a large k must scale
        # the training sample with it (semantic_dedup passes 4*k).
        raise ValueError(
            f"fit_ivf_centroids: n_centroids={n_centroids} exceeds "
            f"sample_cap={sample_cap}; the fit would silently clamp k to "
            f"the training-sample size. Pass sample_cap >= n_centroids "
            f"(recommended 4*n_centroids)."
        )
    mat = deterministic_sample_matrix(vectors, sample_cap, id_col, vec_col)
    if mat.size == 0:
        return np.zeros((0, 0), dtype=np.float64)
    return _kmeans_spherical(mat, n_centroids, n_iter)


def _kmeans_spherical(mat: np.ndarray, n_centroids: int, n_iter: int) -> np.ndarray:
    """The Lloyd loop shared by the Spark fit and the local oracle-side
    replay (fit_ivf_centroids_local) — ONE definition so both produce
    bit-identical centroids from the same sample matrix."""
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    k = min(n_centroids, len(mat))
    cent = mat[:k].copy()
    for _ in range(n_iter):
        sims = mat @ cent.T  # cosine on the unit sphere
        assign = np.argmax(sims, axis=1)  # argmax ties -> lowest index
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def xxhash64_long(value: int, seed: int = 42) -> int:
    """Pure-Python replay of Spark's ``xxhash64`` over ONE LongType column
    (XXH64 of the 8-byte value, Spark's default seed 42) — the hash behind
    deterministic_sample_matrix's keep-filter and sort key, so an
    oracle-side fit can reproduce the training sample without a Spark
    session. Returns the SIGNED 64-bit value Spark returns; parity with
    F.xxhash64 is pinned by tests/test_semantic_dedup.py."""
    p1, p2, p3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
    p4, p5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
    mask = (1 << 64) - 1

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & mask

    h = (seed + p5 + 8) & mask
    k1 = ((value & mask) * p2) & mask
    k1 = (rotl(k1, 31) * p1) & mask
    h ^= k1
    h = (rotl(h, 27) * p1 + p4) & mask
    h ^= h >> 33
    h = (h * p2) & mask
    h ^= h >> 29
    h = (h * p3) & mask
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def fit_ivf_centroids_local(
    ids: np.ndarray,
    vecs: np.ndarray,
    n_centroids: int,
    n_iter: int = 10,
    sample_cap: int = 4096,
) -> np.ndarray:
    """Driver/oracle-side twin of fit_ivf_centroids over in-memory arrays:
    identical deterministic sample (xxhash64 keep-filter + (hash, id)
    top-K) and identical Lloyd loop (_kmeans_spherical), so it reproduces
    the Spark fit BIT-FOR-BIT. Exists so the semantic_dedup DuckDB oracle
    can feed the fitted centroids in as a table and value-check everything
    downstream of the fit (assignment, pair graph, components, survivor)
    without a SparkSession at oracle-generation time."""
    if len(ids) == 0:
        return np.zeros((0, 0), dtype=np.float64)
    if n_centroids > sample_cap:
        raise ValueError(
            f"fit_ivf_centroids_local: n_centroids={n_centroids} exceeds "
            f"sample_cap={sample_cap}"
        )
    mat = local_sample_matrix(ids, vecs, sample_cap)
    return _kmeans_spherical(mat, n_centroids, n_iter)


def local_sample_matrix(
    ids: np.ndarray, vecs: np.ndarray, sample_cap: int
) -> np.ndarray:
    """In-memory twin of deterministic_sample_matrix: same xxhash64
    keep-filter and (hash, id) top-K, so every local fit twin (IVF
    centroids, PQ codebooks) trains on the byte-identical sample the
    Spark fit sees."""
    n = len(ids)
    if n == 0:
        return np.zeros((0, 0), dtype=np.float64)
    mod = 1_000_000
    keep = min(mod, int(mod * min(1.0, 3.0 * sample_cap / n)) + 1)
    hashes = np.array([xxhash64_long(int(i)) for i in ids], dtype=np.int64)
    m = hashes % mod  # Python %: already the positive pmod
    sel = np.where(m < keep)[0]
    order = np.lexsort((ids[sel], hashes[sel]))  # (hash, id) ascending
    take = sel[order][:sample_cap]
    return np.asarray(vecs[take], dtype=np.float64)


def _nearest_centroids(mat: np.ndarray, cent: np.ndarray, n: int) -> np.ndarray:
    norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    sims = (mat / norms) @ cent.T
    # stable top-n by (-sim, index): lowest index wins ties, like np.argmax
    order = np.argsort(-sims, axis=1, kind="stable")
    return order[:, :n]


def ivf_assign(
    vectors: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, centroid_id): nearest-cell assignment, vectorized per batch."""
    cent = centroids.copy()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            near = _nearest_centroids(mat, cent, 1)[:, 0].astype("int32")
            yield pd.DataFrame(
                {"vec_id": pdf[id_col].astype("int64"), "centroid_id": near}
            )

    # the Arrow schema is fixed ('vec_id'); rename to the caller's id_col
    # so joins on id_col work for any id name (no-op when id_col='vec_id')
    return (
        with_scan_parallelism(vectors.select(id_col, vec_col))
        .mapInPandas(gen, schema=IVF_ASSIGN_SCHEMA)
        .withColumnRenamed("vec_id", id_col)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus into cells, probe the n_probe
    nearest cells per query, exact cosine re-rank inside probed cells.

    The second scale path next to lsh_topk: per query it touches
    ~n_probe/n_centroids of the corpus; the cell exchange replaces the
    all-pairs crossJoin. Recall < 1 by construction (cell boundaries).
    """
    cent = fit_ivf_centroids(corpus, n_centroids=n_centroids,
                             id_col=id_col, vec_col=vec_col)

    assigned = corpus.select(F.col(id_col), F.col(vec_col)).join(
        ivf_assign(corpus, cent, id_col, vec_col), id_col
    )

    def probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = min(n_probe, len(cent))
        for pdf in batches:
            if len(pdf) == 0 or n == 0:  # n == 0: empty corpus -> no cells
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            near = _nearest_centroids(mat, cent, n)
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids.to_numpy(), n),
                    "centroid_id": near.reshape(-1).astype("int32"),
                }
            )

    probe_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("centroid_id", T.IntegerType(), False),
        ]
    )
    q_probes = queries.select(id_col, vec_col).mapInPandas(probes, schema=probe_schema)
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    q_side = q_probes.join(q_vecs, "query_id")
    if broadcast_queries:
        q_side = F.broadcast(q_side)

    scored = (
        assigned.join(q_side, "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("cosine", F.round(cosine_sim(F.col("q_vec"), F.col(vec_col)), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col(id_col).alias("neighbor_id"), "cosine", "rank"
        )
    )


def ivf_sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF ANN over int8-quantized codes with exact float re-rank — the
    memory-bound variant of ivf_topk for 10^9+-vector corpora.

    ivf_topk's probed-cell scan carries the full float vectors (8 bytes/dim)
    through the cell join; here the scan side carries the SQ8 codes from
    quantize_embeddings_int8 (1 byte/dim, 4-8x smaller rows through the
    exchange and executor cache). The per-row symmetric scale CANCELS in
    cosine (cos(s*q, x) = cos(q, x) for s > 0), so the approximate score is
    one codegen zip_with dot over the int codes — no dequantization pass.
    Quantization can perturb NEAR-TIED candidates, so the top
    rerank_factor*k by approximate cosine join their float vectors back
    (candidate ids only through that exchange) for an exact re-rank; the
    final top-k therefore differs from ivf_topk only where SQ8 error
    exceeds the true score gap beyond the re-rank horizon.

    Same cell structure and recall knobs as ivf_topk (n_centroids,
    n_probe); rerank_factor trades one small join against SQ8 ranking
    error. Returns (query_id, neighbor_id, cosine, rank) with EXACT
    cosines, like every other ANN here.
    """
    cent = fit_ivf_centroids(
        corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
    )
    codes = quantize_embeddings_int8(corpus, vec_col=vec_col, id_col=id_col)
    assigned = codes.select(F.col(id_col), "qvec").join(
        ivf_assign(corpus, cent, id_col, vec_col), id_col
    )

    def probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = min(n_probe, len(cent))
        for pdf in batches:
            if len(pdf) == 0 or n == 0:
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            near = _nearest_centroids(mat, cent, n)
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids.to_numpy(), n),
                    "centroid_id": near.reshape(-1).astype("int32"),
                }
            )

    probe_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("centroid_id", T.IntegerType(), False),
        ]
    )
    q_probes = queries.select(id_col, vec_col).mapInPandas(probes, schema=probe_schema)
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    q_side = q_probes.join(q_vecs, "query_id")
    if broadcast_queries:
        q_side = F.broadcast(q_side)

    qd = F.transform(F.col("qvec"), lambda x: x.cast("double"))
    approx = cosine_sim(F.col("q_vec"), qd)  # scale cancels in cosine
    cand_w = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col(id_col)
    )
    cands = (
        assigned.join(q_side, "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("approx", approx)
        .withColumn("_cr", F.row_number().over(cand_w))
        .filter(F.col("_cr") <= rerank_factor * k)
        .select("query_id", "q_vec", F.col(id_col))
    )
    vecs = corpus.select(F.col(id_col), F.col(vec_col).alias("_fv"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        cands.join(vecs, id_col)
        .withColumn("cosine", F.round(cosine_sim(F.col("q_vec"), F.col("_fv")), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cosine", "rank")
    )


def label_centroids(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Feature-wise centroid per label -> (label, dim, centroid, n_vecs).

    posexplode + one grouped avg: the dimension index rides the group key,
    so the shuffle carries (label, dim, partial sum/count) — fully map-side
    combined, |labels| x |dims| result rows regardless of corpus size. The
    exploded shape (no array re-assembly) keeps the whole plan in codegen
    and is directly joinable for distance-to-centroid scoring.
    Centroids floor-rounded to 6 places for cross-engine comparability.
    """
    ex = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("dim", "val"),
    )
    from invoice_ocr_reconciler_spark.plans.relational import roundn

    return ex.groupBy("label", "dim").agg(
        roundn(F.avg("val"), 6).alias("centroid"),
        F.count("*").alias("n_vecs"),
    )


def quantize_embeddings_int8(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: 4x storage cut for a
    10^12-row vector corpus, with the scale kept per row for dequant.

    q_i = round_half_up(v_i / scale), scale = max(|v|)/127 — all codegen
    array expressions (aggregate for the max, transform for the quant), no
    Python crossing. Returns (id, scale, qvec:array<int>, max_abs_err)
    where max_abs_err = max_i |v_i - q_i * scale| is the per-row
    reconstruction error (bounded by scale/2); emitting it makes the
    compression loss measurable instead of assumed. Zero vectors get
    scale 0 and an all-zero code.
    """
    from invoice_ocr_reconciler_spark.plans.relational import roundn

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = amax / F.lit(127.0)
    # floor(x+0.5) half-up quantizer, matching the engines' shared rounding
    q = F.when(scale > 0, F.transform(
        v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")
    )).otherwise(F.transform(v, lambda x: F.lit(0)))
    err = F.when(scale > 0, F.aggregate(
        F.zip_with(v, q, lambda x, c: F.abs(x - c.cast("double") * scale)),
        F.lit(0.0),
        lambda acc, e: F.greatest(acc, e),
    )).otherwise(F.lit(0.0))
    return emb.select(
        F.col(id_col),
        roundn(scale, 8).alias("scale"),
        q.alias("qvec"),
        roundn(err, 6).alias("max_abs_err"),
    )


SEMDEDUP_TARGET_CELL = 256  # expected cluster occupancy the k knob aims for


def semdedup_n_centroids(n_vectors: int, target: int = SEMDEDUP_TARGET_CELL) -> int:
    """Corpus-scaled centroid count: n/target cells (floor 8) keeps the
    expected cluster at ~target members, so within-cell pair expansion
    stays O(n * target) — a FIXED k makes cells grow linearly with the
    corpus and pairs quadratically (measured: k=8 at 20k vectors OOMs a
    24g single-JVM heap; k=n/256 runs in seconds). Same sizing contract
    as lsh_n_planes / emb_planes_per_band."""
    import math

    if n_vectors <= 0:
        return 8
    return max(8, int(math.ceil(n_vectors / target)))


def semantic_dedup(
    vectors: DataFrame,
    eps: float = 0.05,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_cap: int = 4096,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup via cluster-then-prune.

    Near-duplicate PAIRS (embedding_cosine_dedup) answer "which pairs are
    close"; SemDeDup answers "which documents to KEEP when semantically
    redundant groups are larger than pairs". The public recipe: k-means
    the embeddings, compare pairs only WITHIN a cluster, threshold at
    cosine >= 1 - eps, and keep one representative per duplicate group —
    the member FARTHEST from its cluster centroid (the paper's rule:
    prefer the least prototypical exemplar), ties toward the lower id.

    Composition of existing pieces, each already scale-audited:
      - coarse quantizer: fit_ivf_centroids (driver-side fit on a
        deterministic hash sample — the standard IVF shape) + distributed
        ivf_assign; n_centroids bounds within-cluster work to O(n^2 / k)
        and DEFAULTS to the corpus-scaled semdedup_n_centroids sizing
        (expected cell ~256 members; ~4M clusters at 10^9 docs — the
        SemDeDup shape), so pair expansion stays linear in n.
      - within-cluster pairs: capped_member_groups on centroid_id (the
        window count and groupBy share one exchange; clusters above
        cluster_cap are dropped, never self-joined) + codegen pair
        expansion, exact cosine verify on joined-back vectors.
      - duplicate groups: exact connected components over the threshold
        graph (large-star/small-star), NOT per-doc max-sim thresholding —
        a doc chained to a group through one neighbor lands in the group.
      - survivor rule: min (cent_sim, id) per component — "farthest from
        centroid" on the deterministic rounding grid.

    Returns (id, centroid_id, cent_sim, component, is_kept): every input
    row, singletons kept with component = own id. Correctness gate:
    rows-only (the k-means fit is not SQL-replayable) — pinned instead by
    units: planted duplicate groups, survivor-rule identity, partition
    invariance, empty corpus.
    """
    if n_centroids is None:
        # one count job to size k from the corpus (the IVF-fit trade);
        # callers with a known corpus size pass n_centroids explicitly
        n_centroids = semdedup_n_centroids(vectors.count())
    cent = fit_ivf_centroids(
        vectors,
        n_centroids=n_centroids,
        id_col=id_col,
        vec_col=vec_col,
        # the training sample scales WITH k (round-3 ADVICE): the default
        # 4096-row sample silently clamped k past ~1M vectors, cells grew
        # linearly again, and over-cap clusters dropped out of dedup. 4
        # sample vectors per requested centroid keeps the fit honest at
        # any corpus size (the fit stays a driver-side O(sample * k * d)
        # numpy job — at 10^9 docs / k~4M that is the point where a real
        # deployment swaps in a distributed k-means; the raise in
        # fit_ivf_centroids makes that boundary loud, not silent).
        sample_cap=max(4096, 4 * n_centroids),
    )
    if cent.size == 0:
        return vectors.sparkSession.createDataFrame(
            [],
            f"{id_col} long, centroid_id int, cent_sim double, "
            f"component long, is_kept boolean",
        )
    # assign feeds THREE consumers (cent_sim scoring, the pair generator,
    # and — through them — every downstream action); without a persist each
    # one replays the corpus-wide assignment matmul. The persisted frame is
    # 2 slim columns (id, centroid_id), MEMORY_AND_DISK, same contract as
    # reconcile's persisted intermediates. Measured at sf0.1: 9.8s -> 6.1s.
    assign = ivf_assign(vectors, cent, id_col=id_col, vec_col=vec_col).persist()

    # per-doc similarity to its own centroid (the survivor-rule key),
    # computed in the same vectorized pass shape as ivf_assign
    cent_rows = [
        (int(i), [float(x) for x in cent[i]]) for i in range(len(cent))
    ]
    cent_df = vectors.sparkSession.createDataFrame(
        cent_rows, "centroid_id int, cvec array<double>"
    )
    va = vectors.select(F.col(id_col), F.col(vec_col).alias("v"))
    # persisted for the same reason: the survivor join reads it once per
    # output action and it is 3 slim columns
    scored = (
        assign.join(va, id_col)
        .join(F.broadcast(cent_df), "centroid_id")
        .select(
            F.col(id_col),
            "centroid_id",
            F.round(cosine_sim(F.col("v"), F.col("cvec")), 6).alias("cent_sim"),
        )
        .persist()
    )

    # within-cluster candidate pairs -> exact cosine -> threshold graph
    from invoice_ocr_reconciler_spark.operators.cluster import (
        connected_components,
    )
    from invoice_ocr_reconciler_spark.operators.dedup import (
        capped_member_groups,
        pair_expansion_expr,
    )

    # members carry (id, UNIT vector) INTO the group collect: the pair
    # explode, the cosine, and the threshold all run in one pipeline with
    # zero joins (the previous shape exploded bare id pairs and joined
    # vectors back through two shuffles, and the CC checkpoint
    # re-materialized that expensive plan). Normalizing PER MEMBER is the
    # load-bearing half: higher-order array functions are interpreted, not
    # codegen'd, and cosine_sim's expression tree evaluates ~5 array
    # aggregates per PAIR (norms duplicated through the zero guard) —
    # measured 6-10s for 250k pairs at dim 64. Unit vectors pay 2 passes
    # per member (n rows) and leave 2 per pair (zip_with + sum); a zero
    # vector stays all-zero, so its dot is 0 — exactly cosine_sim's
    # zero-denominator contract. _nrm is a bound column, not an inline
    # subtree: an inline norm would re-aggregate once per element inside
    # the transform. Group rows stay bounded: cluster_cap x (8B + dim*8B).
    unit = assign.join(va, id_col).withColumn(
        "_nrm",
        F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x)),
    ).select(
        "centroid_id",
        F.struct(
            F.col(id_col).alias("id"),
            F.when(
                F.col("_nrm") > 0,
                F.transform("v", lambda x: x / F.col("_nrm")),
            ).otherwise(F.col("v")).alias("v"),
        ).alias("m"),
    )
    grouped = capped_member_groups(unit, ["centroid_id"], F.col("m"), cluster_cap)
    pairs_expr = pair_expansion_expr()
    edges = (
        grouped.select(F.explode(F.expr(pairs_expr)).alias("p"))
        .filter(
            F.round(_dot(F.col("p.doc_a.v"), F.col("p.doc_b.v")), 6)
            >= F.lit(1.0 - eps)
        )
        .select(
            F.col("p.doc_a.id").alias("doc_a"),
            F.col("p.doc_b.id").alias("doc_b"),
        )
    )
    comp = connected_components(edges, checkpoint_dir=checkpoint_dir)

    # survivor per component: min (cent_sim, id) = farthest-from-centroid
    out = scored.join(
        comp.withColumnRenamed("doc_id", id_col), id_col, "left"
    ).withColumn("component", F.coalesce("component", F.col(id_col)))
    w = Window.partitionBy("component").orderBy(
        F.col("cent_sim").asc(), F.col(id_col).asc()
    )
    return out.withColumn(
        "is_kept", F.row_number().over(w) == 1
    ).select(id_col, "centroid_id", "cent_sim", "component", "is_kept")


def embedding_outliers(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    top_k: int = 5,
) -> DataFrame:
    """Per-label embedding outliers: the top_k vectors farthest (squared
    L2) from their label centroid.

    The standard contamination/mislabel sweep over an embedded corpus
    (the SemDeDup/D4 companion move: centroids find *clusters*, outliers
    find *junk*): encoder glitches, mislabeled documents, and off-topic
    pages all land far from their class mean.

    Plan: reuses label_centroids (posexplode + ONE grouped avg — partial
    aggs, |labels| x |dims| rows) and joins it back on (label, dim); the
    centroid side is tiny and broadcasts, so the big side never shuffles
    for the join — only the final per-(label, id) distance agg exchanges,
    carrying (label, id, partial sum) triples. Top-k per label is one
    window over the |labels|-sized aggregate. Distances ride the 1e-6
    grid AFTER the one distance sum (centroids are already grid-snapped),
    the repo's cross-engine contract.
    """
    from pyspark.sql import Window

    from invoice_ocr_reconciler_spark.plans.relational import roundn

    cent = label_centroids(emb, label_col=label_col, vec_col=vec_col)
    ex = emb.select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("vec_id"),
        F.posexplode(vec_col).alias("dim", "val"),
    )
    d2 = (
        ex.join(F.broadcast(cent.select("label", "dim", "centroid")), ["label", "dim"])
        .groupBy("label", "vec_id")
        .agg(
            F.sum(
                (F.col("val") - F.col("centroid"))
                * (F.col("val") - F.col("centroid"))
            ).alias("_d2")
        )
        .select("label", "vec_id", roundn(F.col("_d2"), 6).alias("dist2"))
    )
    w = Window.partitionBy("label").orderBy(F.col("dist2").desc(), F.col("vec_id"))
    return (
        d2.withColumn("outlier_rank", F.row_number().over(w))
        .filter(F.col("outlier_rank") <= top_k)
        .select("label", "outlier_rank", "vec_id", "dist2")
    )


def pool_embeddings(
    chunks: DataFrame,
    *,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    grid: int = 1_000_000,
) -> DataFrame:
    """Mean-pool chunk embeddings into one document embedding — the
    standard reduction when documents are embedded chunk-wise (long docs,
    context-window limits) but dedup/ANN/clustering want one vector per
    document.

    Determinism contract: naive ``avg()`` over doubles is partition-order
    dependent (float addition doesn't associate). Components are instead
    quantized to an integer grid (``floor(v*grid + 0.5)`` as BIGINT),
    summed EXACTLY (integer addition associates — any partitioning, any
    order), and divided once at the end: bit-identical output at any
    parallelism, same trick as the repo's money-cents aggregation.

    Plan: posexplode to (doc, dim, q) -> ONE partial-agg'd groupBy
    (doc, dim) -> per-doc re-assembly via sorted collect. Rows shuffled
    are docs x dims integers — at 10^12 chunks the explode is the scan
    and both aggs combine map-side.

    -> (doc_id, n_chunks, pooled: array<double> on the 1/grid grid).
    """
    q = F.floor(F.col("v").cast("double") * grid + F.lit(0.5)).cast("bigint")
    exploded = chunks.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("pos", "v")
    ).select(id_col, "pos", q.alias("q"))
    n_chunks = chunks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks")
    )
    sums = exploded.groupBy(id_col, "pos").agg(F.sum("q").alias("sq"))
    pooled = (
        sums.join(n_chunks, id_col)
        .withColumn(
            "mean",
            F.col("sq").cast("double")
            / (F.col("n_chunks") * F.lit(float(grid))),
        )
        .groupBy(id_col, "n_chunks")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mean"))),
                lambda s: s["mean"],
            ).alias("pooled")
        )
    )
    return pooled


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dup_ceiling: float = 0.99,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Mine hard negatives for contrastive training -> (query_id,
    neighbor_id, neg_label, cosine, rank): per anchor, the k most-similar
    vectors whose label DIFFERS from the anchor's (the near-miss
    confusers that actually move a contrastive loss — random negatives
    are trivially separable; see DPR, Karpukhin et al. 2020 §5.2).

    Two false-positive guards that every production miner needs:
      - same-label rows are excluded with a null-safe comparison (two
        NULL labels count as "same class" — unlabeled data must not
        leak in as negatives);
      - cosine >= dup_ceiling rows are dropped: a near-duplicate of the
        anchor with a different label is almost always a LABELING error,
        and training on it as a negative poisons the encoder (the
        standard false-negative ceiling trick).

    Scale path: pass ``candidates`` — pre-scored (query_id, neighbor_id,
    cosine) pairs from lsh_topk/ivf_topk — and the cross product never
    materializes; labels join on at pair cardinality. Without it, the
    anchor batch broadcasts against the corpus (the exact baseline, same
    shape as brute_force_topk). The per-anchor cut is a bounded top-k
    window either way.
    """
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("neg_label")
    )
    a_labels = anchors.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("q_label")
    )
    if candidates is None:
        q = anchors.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.col(label_col).alias("q_label"),
        )
        c = with_scan_parallelism(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("c_vec"),
                F.col(label_col).alias("neg_label"),
            )
        )
        scored = (
            c.crossJoin(F.broadcast(q))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn(
                "cosine", F.round(cosine_sim(F.col("q_vec"), F.col("c_vec")), 6)
            )
        )
    else:
        scored = (
            candidates.select("query_id", "neighbor_id", "cosine")
            .join(labels, "neighbor_id")
            .join(a_labels, "query_id")
        )
    negs = scored.filter(
        ~F.col("neg_label").eqNullSafe(F.col("q_label"))
    ).filter(F.col("cosine") < F.lit(float(dup_ceiling)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        negs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neg_label", "cosine", "rank")
    )
