"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k (exact; blocked join + window).
Scale path: random-hyperplane LSH bucketing — candidates come only from
the query's bucket (plus optional multi-probe neighbors), turning the
O(|Q|·|C|) scan into bucket-local work. IVF with learned centroids
slots into the same bucket-column contract: brute force, LSH and IVF
all end in one scoring tail, `_cosine_topk`.

Numeric discipline: dot products fold left-to-right in double via
zip_with + aggregate → deterministic and bit-identical to an explicit
double fold in the DuckDB oracle.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def safe_cos(d: Column, na: Column, nb: Column) -> Column:
    """dot / (norm·norm) with the zero-vector guard: a zero-norm side
    makes the quotient 0/0 = NaN, and Spark orders NaN ABOVE every
    double — an unguarded zero embedding would out-rank every real
    neighbor and pass any `cos >= t` filter. Undefined similarity is
    NULL instead (dropped by filters; sorted last under desc)."""
    den = na * nb
    return F.when(den != 0, d / den)


def cosine(a: Column, b: Column) -> Column:
    return safe_cos(dot(a, b), norm(a), norm(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self).

    Plan: broadcast the (small) query set against the corpus scan —
    no shuffle of the corpus; then a window top-k on query id. At 100 TB
    corpus the scan parallelizes per-file; only k rows per query cross
    the final shuffle."""
    return _cosine_topk(queries, corpus, query_id, corpus_id, vec_col, k)


def _cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
    key: str | None = None,
    q_keys: Column | None = None,
    c_key: Column | None = None,
) -> DataFrame:
    """Exact cosine top-k per query over (query, corpus) pairs — the
    scoring tail of every top-k search here. Without `key` every pair is
    scored (broadcast cross join); with it, each query row explodes over
    its probe keys `q_keys` and meets only corpus rows whose `c_key`
    matches (broadcast equi-join on `key`). Self matches are excluded;
    ranks break cosine ties by corpus id."""
    # Norms are per-row invariants: fold them ONCE on each side before
    # the pair expansion (the interpreted HOF fold then runs once per
    # row + once per pair, not three times per pair — same left-to-right
    # double math, bit-identical cosines).
    q = queries.select(
        F.col(query_id).alias("qid"), F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
        *([F.explode(q_keys).alias(key)] if key else []),
    )
    c = corpus.select(
        F.col(corpus_id).alias("cid"), F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
        *([c_key.alias(key)] if key else []),
    )
    pairs = c.join(F.broadcast(q), key) if key else c.crossJoin(F.broadcast(q))
    scored = (
        pairs.filter(F.col("cid") != F.col("qid"))
        .withColumn(
            "cos", safe_cos(dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn"))
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.col("cid"))
    return (
        scored.filter(F.col("cos").isNotNull())  # zero-norm rows: no rank
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "cid", "cos", "rnk")
    )


def hyperplane_matrix(dim: int, planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed → stable buckets
    across runs/engines)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)]


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id (long) from the hyperplane projections."""
    bucket = F.lit(0).cast("long")
    for j, w in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in w])
        bit = F.when(dot(vec, lit_plane) >= 0, F.lit(1).cast("long")).otherwise(F.lit(0))
        bucket = bucket.bitwiseOR(F.shiftleft(bit, j))
    return bucket


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    planes: int = 8,
    seed: int = 42,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: exact cosine, but only within the query's LSH
    bucket(s). Recall/latency trade via `planes` (8 planes → 256
    buckets) and `probe_hamming` (multi-probe: near-boundary vectors
    land one bit off, so also search buckets at Hamming distance ≤ p —
    p=1 costs planes+1 probes and recovers single-plane flips).
    Scale shape: corpus bucketed once (can be persisted/partitioned by
    bucket); per-query work is bucket-local; only queries fan out."""
    pl = hyperplane_matrix(dim, planes, seed)
    qb = hyperplane_bucket(F.col(vec_col), pl)
    probes = [qb]
    if probe_hamming >= 1:
        probes += [qb.bitwiseXOR(F.lit(1 << j)) for j in range(planes)]
    if probe_hamming >= 2:
        probes += [
            qb.bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(planes) for j in range(i + 1, planes)
        ]
    return _cosine_topk(
        queries, corpus, query_id, corpus_id, vec_col, k, "bucket",
        F.array(*probes), hyperplane_bucket(F.col(vec_col), pl),
    )


# ---- IVF (inverted-file) variant ------------------------------------------

def learn_centroids(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample: int = 512,
    iters: int = 5,
) -> list[list[float]]:
    """Deterministic mini-Lloyd k-means on a fixed sample (lowest ids —
    stable across runs), computed driver-side. At 100 TB the sample stays
    driver-sized (centroid training reads a few thousand vectors, not the
    corpus); assignment below is the distributed part."""
    import numpy as np

    rows = (
        corpus.select(F.col(corpus_id).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(sample)
        .collect()
    )
    x = np.array([r.v for r in rows], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cent = x[:: max(1, len(x) // n_centroids)][:n_centroids].copy()
    for _ in range(iters):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)
        for j in range(len(cent)):
            members = x[assign == j]
            if len(members):
                m = members.mean(axis=0)
                cent[j] = m / max(float(np.linalg.norm(m)), 1e-12)
    return [[float(v) for v in c] for c in cent]


def _centroid_sims(vec: Column, centroids: list[list[float]]) -> Column:
    return F.array(*[dot(vec, F.array(*[F.lit(x) for x in c])) for c in centroids])


def ivf_assign(vec: Column, centroids: list[list[float]], nprobe: int = 1) -> Column:
    """Array of the nprobe nearest centroid indices (1-based) for `vec`.
    Pure built-in expressions (sorted (sim, idx) pairs) — stays in
    whole-stage codegen, no UDF."""
    sims = _centroid_sims(vec, centroids)
    pairs = F.transform(
        sims, lambda s, i: F.struct((-s).alias("neg"), i.alias("idx"))
    )
    return F.slice(F.transform(F.array_sort(pairs), lambda p: p["idx"] + 1), 1, nprobe)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF ANN: corpus partitioned into centroid cells once; each query
    searches only its `nprobe` nearest cells with exact cosine + window
    top-k. Same bucket-column contract as lsh_topk — at scale the corpus
    is written partitioned by `cell` and probes prune to nprobe/n_centroids
    of the data."""
    cent = learn_centroids(corpus, corpus_id, vec_col, n_centroids)
    return _cosine_topk(
        queries, corpus, query_id, corpus_id, vec_col, k, "cell",
        ivf_assign(F.col(vec_col), cent, nprobe),
        ivf_assign(F.col(vec_col), cent, 1)[0],
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_rows: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding-space decontamination: flag corpus rows whose cosine
    to ANY benchmark/eval embedding reaches `threshold` — the semantic
    complement of the n-gram `text.decontaminate` (paraphrased eval
    leakage that shares no 8-gram). The eval set is small by nature
    (benchmarks are thousands of rows), so it rides into the plan as
    LITERALS: per-row max-cosine is `greatest()` over one inline fold
    per eval vector — a pure map-side projection, ZERO joins and ZERO
    exchanges over the 100 TB corpus (plan-pinned), the bloom-probe
    pattern applied to vectors. Returns (id, max_cos, contaminated)."""
    cn = norm(F.col(vec_col))
    cosines = []
    for _eid, vec in eval_rows:
        ev = F.lit(vec)
        cosines.append(safe_cos(dot(F.col(vec_col), ev), cn, norm(ev)))
    mx = F.greatest(*cosines) if len(cosines) > 1 else cosines[0]
    return corpus.select(
        F.col(id_col),
        mx.alias("max_cos"),
        (mx >= F.lit(threshold)).alias("contaminated"),
    )
