"""PCA dimensionality reduction for the embedding stack.

At 10^9+ vectors the cheapest ANN speedup is fewer dimensions: project
64-dim embeddings onto their top-k principal components and run the
existing brute-force / LSH / IVF operators in the reduced space (recall
measured by the same recall_vs_truth harness the ANN band already
ships). This is the classic two-stage shape production vector search
uses (OPQ/PCA prefix before the index).

Distributed shape — the only corpus-sized work is ONE codegen pass:

  1. ``covariance_stats``: quantize components to an integer grid
     (floor(v*grid + 0.5) — the pool_embeddings/cents trick), build the
     upper-triangle products ``q_i * q_j`` as a codegen pair array,
     posexplode, and partial-agg sum. Integer sums associate, so the
     moment table is BIT-IDENTICAL at any parallelism — and exactly
     replayable by the DuckDB oracle (a float covariance would be
     partition-order noise). First moments and the count ride the same
     union so one job returns all stats.
  2. ``pca_fit``: collects the d(d+1)/2 + d + 1 stat rows (d=64 ->
     2,081 rows — driver-side by design, the IVF-centroid contract),
     assembles the exact covariance in float64, numpy ``eigh`` (LAPACK,
     deterministic for identical input — and the input IS identical by
     step 1), takes the top-k eigenvectors, and fixes signs (largest-
     magnitude coefficient positive) so the basis is unique.
  3. ``pca_project``: broadcasts the k x d matrix as array literals; each
     output coordinate is one zip_with/aggregate fold — row-local fixed
     -order float math, pure JVM codegen, no Python, no shuffle.

Scale notes: the pair explode is O(d^2/2) per vector (2,080 structs at
d=64) and collapses map-side to d^2 rows per partition — the shuffle is
partition-count-sized, not corpus-sized. Moment magnitudes: |q| <=
grid (unit-scale components), so sum(q_i*q_j) <= n*grid^2 — BIGINT-safe
to n ~ 9e10 vectors at grid=1e4; above that raise to DECIMAL(38,0) (one
cast, documented knob). For d >= 256 the d^2 blowup argues for the SQ8 /
random-projection path instead; PCA targets the d<=128 regime.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invoice_ocr_reconciler_spark.plans.relational import roundn

GRID = 10_000  # quantization grid for the moment pass


def covariance_stats(
    emb: DataFrame, vec_col: str = "embedding", grid: int = GRID
) -> DataFrame:
    """Exact integer moment table -> (i, j, s) rows, all BIGINT.

    Row kinds (distinguished by index convention):
      - (i, j, sum q_i*q_j) for 0 <= i <= j < d — second moments;
      - (i, -1, sum q_i)                        — first moments;
      - (-1, -1, n)                             — the vector count.
    """
    q = F.transform(
        F.col(vec_col),
        lambda v: F.floor(v.cast("double") * grid + F.lit(0.5)).cast("bigint"),
    )
    # quantize in a PRIOR projection: the pair builder references qv per
    # element, and HOF lambdas re-evaluate captured EXPRESSIONS per
    # element — a materialized column reference is read, not recomputed
    qv = emb.select(q.alias("qv"))
    idx = F.sequence(F.lit(0), F.size("qv") - 1)
    pairs = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.sequence(i, F.size("qv") - 1),
                lambda j: F.struct(
                    i.cast("int").alias("i"),
                    j.cast("int").alias("j"),
                    (
                        F.element_at("qv", i.cast("int") + 1)
                        * F.element_at("qv", j.cast("int") + 1)
                    ).alias("p"),
                ),
            ),
        )
    )
    second = (
        qv.select(F.explode(pairs).alias("s"))
        .select(F.col("s.i").alias("i"), F.col("s.j").alias("j"), F.col("s.p").alias("p"))
        .groupBy("i", "j")
        .agg(F.sum("p").alias("s"))
    )
    first = (
        qv.select(F.posexplode("qv").alias("i", "q"))
        .groupBy("i")
        .agg(F.sum("q").alias("s"))
        .select("i", F.lit(-1).alias("j"), "s")
    )
    count = qv.agg(F.count(F.lit(1)).alias("s")).select(
        F.lit(-1).alias("i"), F.lit(-1).alias("j"), "s"
    )
    return second.unionByName(first).unionByName(count)


def pca_fit(
    emb: DataFrame, k: int, vec_col: str = "embedding", grid: int = GRID
) -> dict:
    """Fit the top-k principal components. -> {components: k x d list,
    explained: k ratios, mean: d list, n: int}.

    Driver-side eigendecomposition of the exactly-aggregated covariance
    (population normalization). Components are sign-fixed: the largest-
    magnitude coefficient of each is positive (ties: lowest index wins
    via numpy argmax) — reruns and resorts cannot flip a basis vector.
    """
    rows = covariance_stats(emb, vec_col=vec_col, grid=grid).collect()
    n = next(r.s for r in rows if r.i == -1 and r.j == -1)
    if n == 0:
        raise ValueError("pca_fit: empty embedding frame")
    firsts = {r.i: r.s for r in rows if r.j == -1 and r.i >= 0}
    seconds = {(r.i, r.j): r.s for r in rows if r.i >= 0 and r.j >= 0}
    return _model_from_moments(int(n), firsts, seconds, k, grid)


def _model_from_moments(
    n: int,
    firsts: dict[int, int],
    seconds: dict[tuple[int, int], int],
    k: int,
    grid: int,
) -> dict:
    """Moments -> model, shared by the Spark fit and the oracle-side local
    twin (pca_fit_local) — the moments are EXACT integers in both paths,
    so one definition of the float reconstruction + eigh + sign fix makes
    the two fits bit-identical."""
    d = len(firsts)
    if not 0 < k <= d:
        raise ValueError(f"pca_fit: k must be in 1..{d}, got {k}")
    g = float(grid)
    mean = np.array([firsts[i] for i in range(d)], dtype=np.float64) / (n * g)
    cov = np.zeros((d, d), dtype=np.float64)
    for (i, j), s in seconds.items():
        # population covariance from exact integer moments
        c = s / (n * g * g) - (firsts[i] / (n * g)) * (firsts[j] / (n * g))
        cov[i, j] = c
        cov[j, i] = c
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = []
    explained = []
    total = float(vals.sum()) or 1.0
    for col in order:
        v = vecs[:, col].copy()
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append([float(x) for x in v])
        explained.append(float(vals[col]) / total)
    return {
        "components": comps,
        "explained": explained,
        "mean": [float(x) for x in mean],
        "n": int(n),
    }


def pca_fit_local(vecs: np.ndarray, k: int, grid: int = GRID) -> dict:
    """Oracle-side twin of pca_fit over an in-memory (n, d) matrix: the
    same floor-half-up integer quantization and EXACT integer moments
    (Python bigints, overflow-free), then the shared reconstruction —
    bit-identical to the Spark fit (parity pinned in tests/test_pca.py).
    Lets the pca_recall oracle feed the fitted components/mean to DuckDB
    as tables without a SparkSession."""
    n, d = vecs.shape
    if n == 0:
        raise ValueError("pca_fit_local: empty embedding frame")
    q = np.floor(vecs.astype(np.float64) * grid + 0.5).astype(np.int64)
    firsts = {i: int(q[:, i].sum()) for i in range(d)}
    seconds = {
        (i, j): int((q[:, i].astype(object) * q[:, j].astype(object)).sum())
        for i in range(d)
        for j in range(i, d)
    }
    return _model_from_moments(n, firsts, seconds, k, grid)


def pca_project(
    emb: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "reduced",
    places: int = 6,
) -> DataFrame:
    """Project vectors onto the fitted components — pure codegen.

    Each output coordinate is aggregate(zip_with(centered, comp, *), +)
    — a row-local fold in fixed array order (deterministic), one
    expression per component, no Python crossing, no shuffle. Output
    snapped to the 1e-places grid (the repo's cross-engine rounding
    contract).
    """
    mean = model["mean"]
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.array(*[F.lit(float(m)) for m in mean]),
        lambda x, m: x - m,
    )
    proj = emb.select("*", centered.alias("_c"))
    coords = [
        roundn(
            F.aggregate(
                F.zip_with(
                    F.col("_c"),
                    F.array(*[F.lit(float(w)) for w in comp]),
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            places,
        )
        for comp in model["components"]
    ]
    return proj.withColumn(out_col, F.array(*coords)).drop("_c")


# --- random projection: the d >= 256 regime where the PCA moment pass's
# d^2 explode stops paying ---

def rp_signs(dim: int, k: int, seed: str = "rp-v1") -> list[list[int]]:
    """Deterministic +-1 sign matrix (k rows x dim cols), Achlioptas 2003
    dense variant: sign bit = parity of the first hex nibble of
    md5(seed:j:i). A pure function of (seed, j, i) — identical on every
    worker, every run, every ENGINE (md5 is the repo's portable hash), so
    the DuckDB oracle can rebuild the very same matrix."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for i in range(dim)
        ]
        for j in range(k)
    ]


def rp_project(
    emb: DataFrame,
    dim: int,
    k: int,
    seed: str = "rp-v1",
    vec_col: str = "embedding",
    out_col: str = "reduced",
    grid: int = 1_000_000,
    places: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to k dims — pure codegen.

    Unlike PCA this needs NO fit pass at all: the projection matrix is a
    pure function of the seed, so the single corpus scan is the whole
    job. Distances are preserved within (1 +- eps) for k = O(log n /
    eps^2) (the JL lemma) regardless of d — the right tool when d^2
    moments are too wide or when the corpus is too hot for even one
    extra pass.

    Determinism contract: components quantize to grid ints, each output
    coordinate is an EXACT bigint sign-fold (zip_with + aggregate), and
    the single float division by (grid * sqrt(k)) happens once at the
    end, snapped to the 1e-places grid — bit-identical at any
    parallelism and replayable in DuckDB with the same embedded sign
    literals.
    """
    signs = rp_signs(dim, k, seed)
    inv = 1.0 / (grid * float(k) ** 0.5)
    q = F.transform(
        F.col(vec_col),
        lambda v: F.floor(v.cast("double") * grid + F.lit(0.5)).cast("bigint"),
    )
    # prior projection: fold lambdas must read a materialized column
    proj = emb.select("*", q.alias("_q"))
    coords = [
        roundn(
            F.aggregate(
                F.zip_with(
                    F.col("_q"),
                    F.array(*[F.lit(s).cast("bigint") for s in row]),
                    lambda x, s: x * s,
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).cast("double")
            * F.lit(inv),
            places,
        )
        for row in signs
    ]
    return proj.withColumn(out_col, F.array(*coords)).drop("_q")
