"""Similarity search over the `embeddings` table (array<float> column).

- ann_topk_cosine: brute-force cosine top-k — broadcast the (small)
  query set against the corpus; at 100 TB the corpus side streams
  through executors with zero shuffle (the only shuffle is the final
  per-query top-k, k·|Q| rows).
- dedup_embedding: embedding-cosine near-duplicate pairs over a
  bucketed self-join.
- ann_lsh_cosine: random-hyperplane LSH — sign-bit bucket join, exact
  cosine only within buckets. The scale path: candidate generation is
  an equi-join on bucket id, never O(n²). Rows-only check (hyperplane
  sampling is not SQL-expressible).

Cosine is computed in DOUBLE with a sequential left fold on both
engines (Spark `aggregate`, DuckDB `list_cosine_similarity` over
DOUBLE[]), verified bit-identical at round-6.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_sudan__spark.operators import register
from duckdb_sudan__spark.session import load_table, local_frame

COSINE_SQL = """
aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)
/ (sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (acc, v) -> acc + v))
 * sqrt(aggregate(transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (acc, v) -> acc + v)))
"""


def cosine_expr(a: str, b: str):
    return F.expr(COSINE_SQL.format(a=a, b=b))


N_QUERIES = 10
TOP_K = 5

ANN_TOPK_ORACLE = f"""
SELECT query_id, neighbor_id, cos
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cos,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY
           round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC,
           c.vec_id) AS rn
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
)
WHERE rn <= {TOP_K}
ORDER BY query_id, cos DESC, neighbor_id
"""


def _foldmul_acc(X: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """Row×query dot products with the SAME fp-operation sequence as a
    scalar left-to-right fold (one rounded multiply + one rounded add
    per dimension): numpy never fuses or reorders the per-dim
    `acc += X[:,d] * Q[:,d]` updates, so every (row, query) dot is
    bit-identical to Spark's `aggregate(zip_with(...))` fold and to
    DuckDB's sequential list accumulation — ~100× faster than the
    interpreted Catalyst higher-order functions (dedup.py measured the
    same idiom gap for MinHash)."""
    acc = np.zeros((X.shape[0], Q.shape[0]))
    for d in range(X.shape[1]):
        acc += X[:, d : d + 1] * Q[None, :, d]
    return acc


def _fold_sq_norm(X: np.ndarray) -> np.ndarray:
    acc = np.zeros(X.shape[0])
    for d in range(X.shape[1]):
        acc += X[:, d] * X[:, d]
    return acc


def _brute_cosine_scored(spark: SparkSession, e: DataFrame) -> DataFrame | None:
    """All (query, corpus-row) cosine pairs for the N_QUERIES query set,
    Arrow-vectorized: the query vectors are a fixed-size model object
    pulled to the driver (same posture as the IVF centroids) and closed
    over by a mapInPandas scorer, so the corpus streams through
    executors with zero join and zero shuffle. The numpy per-dim fold
    reproduces the JVM fold's fp-op sequence exactly, so the emitted
    doubles — and the driver's value hash — are bit-identical to the
    interpreted-HOF plan (~8× slower at sf0.1). Returns None when the
    query set is empty."""
    qrows = e.where(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect()
    if not qrows:
        return None
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([r.embedding for r in qrows], dtype=np.float64)
    q_norm = np.sqrt(_fold_sq_norm(Q))

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            dots = _foldmul_acc(X, Q)
            denom = np.sqrt(_fold_sq_norm(X))[:, None] * q_norm[None, :]
            # zero-norm guard: an all-zero embedding has no defined cosine —
            # emit cos=0 (never NaN/±inf, which would leak through top-k /
            # threshold filters nondeterministically). The synthetic corpus
            # has no zero vectors, so this branch changes nothing on testdata.
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom == 0.0, 0.0, dots / np.where(denom == 0.0, 1.0, denom))
            n, m = cos.shape
            out = pd.DataFrame(
                {
                    "query_id": np.tile(q_ids, n),
                    "neighbor_id": np.repeat(pdf["vec_id"].to_numpy(), m),
                    "cos": cos.ravel(),
                }
            )
            yield out[out["query_id"] != out["neighbor_id"]]

    return e.select("vec_id", "embedding").mapInPandas(score, _SCORED_SCHEMA).withColumn(
        "cos", F.round(F.col("cos"), 6)
    )


_SCORED_SCHEMA = "query_id long, neighbor_id long, cos double"


@register("ann_topk_cosine", ANN_TOPK_ORACLE)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the vectorized scorer; the only
    shuffle is the final per-query top-k window over k·|Q| rows."""
    e = load_table(spark, sf_dir, "embeddings")
    scored = _brute_cosine_scored(spark, e)
    if scored is None:
        return local_frame(spark, [], _SCORED_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos")
        .orderBy("query_id", F.desc("cos"), "neighbor_id")
    )


# ---------------------------------------------------------------------------
# ann_range_search — threshold similarity search: every neighbor with
# cosine ≥ RANGE_TAU (the "find all near-matches" primitive, e.g.
# contamination scans of a training corpus against an eval set). Same
# zero-shuffle streamed scorer as top-k, but the selection is a pure
# map-side predicate — no window at all, so at 100 TB the entire query
# is one scan stage emitting only matches.
# ---------------------------------------------------------------------------

# τ tuned to the synthetic random-vector corpus (cos p99 ≈ 0.29,
# max ≈ 0.49): 0.30 selects ~1% of pairs at every SF. Real corpora
# would use ~0.9.
RANGE_TAU = 0.30

_ANN_RANGE_COS = (
    "round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), "
    "CAST(c.embedding AS DOUBLE[])), 6)"
)

ANN_RANGE_ORACLE = f"""
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_ANN_RANGE_COS} AS cos
FROM embeddings q, embeddings c
WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
  AND {_ANN_RANGE_COS} >= {RANGE_TAU}
ORDER BY query_id, neighbor_id
"""


@register("ann_range_search", ANN_RANGE_ORACLE)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    scored = _brute_cosine_scored(spark, e)
    if scored is None:
        return local_frame(spark, [], _SCORED_SCHEMA)
    return scored.where(F.col("cos") >= RANGE_TAU).orderBy("query_id", "neighbor_id")


# near-dup threshold tuned to the synthetic test embeddings (random
# vectors, cos ∈ [-0.35, 0.35]); real corpora would use ~0.9
NEAR_DUP_TAU = 0.22

DEDUP_EMB_ORACLE = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id AND a.label = b.label
  AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= {NEAR_DUP_TAU}
ORDER BY id_a, id_b
"""


def _emb_block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
    """In-block pairwise cosine kernel (r5 — replaces the interpreted
    aggregate(zip_with) self-join that ran 27 s at sf0.1; this is the
    same treatment dedup.py's ngram Gram-matrix rewrite got in r4).

    Bit-exactness: `_foldmul_acc` applies one rounded multiply + one
    rounded add per dimension in the same order as Spark's
    `aggregate(zip_with(...))` fold and DuckDB's sequential
    list_cosine_similarity accumulation, and the final
    `dot / (norm_a * norm_b)` is the same two rounded fp ops — so the
    raw doubles handed back to the JVM are identical to the old plan's
    and the driver's value hash is unchanged. Rounding to 6 decimals
    stays JVM-side (Spark HALF_UP ≠ numpy HALF_EVEN), so the kernel
    pre-filters with a half-ulp-of-round slack (keep unless
    cos < τ - 1e-6, which also keeps NaN exactly like the old plan's
    Spark-side `>=` would) and the exact τ filter runs after F.round.

    Memory: chunked over pair-matrix rows — the slab is
    chunk × n doubles, never n × n, so a skewed label block degrades
    to more chunks, not an OOM. Module-level for the equivalence test
    in tests/test_properties.py."""
    empty = pd.DataFrame(
        {"id_a": np.array([], dtype=np.int64),
         "id_b": np.array([], dtype=np.int64),
         "cos": np.array([], dtype=np.float64)}
    )
    if len(pdf) < 2:
        return empty
    pdf = pdf.sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    norms = np.sqrt(_fold_sq_norm(X))
    n = len(ids)
    frames = []
    chunk = max(1, (8 << 20) // max(n, 1))  # ~8M doubles per slab
    for lo in range(0, n, chunk):
        hi = min(n, lo + chunk)
        dots = _foldmul_acc(X[lo:hi], X)
        denom = norms[lo:hi, None] * norms[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dots / denom
        cols = np.arange(n)[None, :]
        rows_g = np.arange(lo, hi)[:, None]
        with np.errstate(invalid="ignore"):
            keep = (cols > rows_g) & ~(cos < NEAR_DUP_TAU - 1e-6)
        ii, jj = np.nonzero(keep)
        frames.append(pd.DataFrame(
            {"id_a": ids[ii + lo].astype(np.int64),
             "id_b": ids[jj].astype(np.int64),
             "cos": cos[ii, jj]}
        ))
    return pd.concat(frames, ignore_index=True) if frames else empty


@register("dedup_embedding", DEDUP_EMB_ORACLE)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on `label` (a cluster /
    shard key): ONE shuffle on the block key, then all pairing happens
    inside the block via an Arrow-batched numpy fold kernel — no join
    ever materializes the n² pair set as rows (reference parity:
    embedding near-dup semantics; plan shape mirrors
    dedup_ngram_jaccard). The pair relation is persisted before the
    output sort so the range-partitioner's sampling pass reuses it
    instead of re-running the quadratic kernel."""
    e = load_table(spark, sf_dir, "embeddings")
    pairs = (
        e.select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInPandas(_emb_block_pairs, "id_a long, id_b long, cos double")
        .withColumn("cos", F.round(F.col("cos"), 6))
        .where(F.col("cos") >= NEAR_DUP_TAU)
        .persist()
    )
    return pairs.orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# ann_mips_dot — maximum-inner-product search (recommendation-retrieval
# scoring: unnormalized embeddings where magnitude carries signal, so
# cosine is the wrong metric)
# ---------------------------------------------------------------------------

_MIPS_DOT = (
    "round(list_inner_product(CAST(q.embedding AS DOUBLE[]), "
    "CAST(c.embedding AS DOUBLE[])), 6)"
)

ANN_MIPS_ORACLE = f"""
SELECT query_id, neighbor_id, dot
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_MIPS_DOT} AS dot,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY {_MIPS_DOT} DESC, c.vec_id) AS rn
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
)
WHERE rn <= {TOP_K}
ORDER BY query_id, dot DESC, neighbor_id
"""


@register("ann_mips_dot", ANN_MIPS_ORACLE)
def ann_mips_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force MIPS top-k — the ann_topk_cosine scorer minus the
    normalization: raw inner products via the same `_foldmul_acc`
    per-dim fold (bit-identical to DuckDB's sequential
    list_inner_product accumulation), zero-shuffle corpus streaming,
    one k·|Q|-row top-k window. At 100 TB the LSH/IVF bucketing of the
    cosine family doesn't transfer directly to MIPS (magnitude breaks
    the triangle bounds); the standard reduction appends a
    sqrt(M²−‖x‖²) dimension and reuses cosine ANN — this entry is the
    exact tier those approximations are audited against."""
    e = load_table(spark, sf_dir, "embeddings")
    qrows = e.where(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect()
    if not qrows:
        return local_frame(spark, [], "query_id long, neighbor_id long, dot double")
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([r.embedding for r in qrows], dtype=np.float64)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            dots = _foldmul_acc(X, Q)
            n, m = dots.shape
            out = pd.DataFrame(
                {
                    "query_id": np.tile(q_ids, n),
                    "neighbor_id": np.repeat(pdf["vec_id"].to_numpy(), m),
                    "dot": dots.ravel(),
                }
            )
            yield out[out["query_id"] != out["neighbor_id"]]

    scored = (
        e.select("vec_id", "embedding")
        .mapInPandas(score, "query_id long, neighbor_id long, dot double")
        .withColumn("dot", F.round(F.col("dot"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "dot")
        .orderBy("query_id", F.desc("dot"), "neighbor_id")
    )


# ---------------------------------------------------------------------------
# emb_matryoshka_truncate — MRL-style prefix truncation audit
# ---------------------------------------------------------------------------

MRL_DIM = 8

MRL_ORACLE = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), folded AS (
  SELECT vec_id,
         list_reduce(list_transform(e[1:{MRL_DIM}], x -> x * x), (a, b) -> a + b) AS pref_sq,
         list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b) AS full_sq
  FROM base
)
SELECT vec_id,
       sqrt(pref_sq) AS prefix_l2,
       sqrt(full_sq) AS full_l2,
       pref_sq / full_sq AS energy_ratio
FROM folded
ORDER BY vec_id
"""


@register("emb_matryoshka_truncate", MRL_ORACLE)
def emb_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation audit: how much of each vector's energy
    the first MRL_DIM dimensions retain (prefix-truncated serving is
    the standard cheap-tier for MRL-trained embeddings; energy_ratio
    is cos²(full, zero-padded prefix), the quantity that decides
    whether the cheap tier is usable). Bit-stability: both engines run
    the same sequential square-sum fold (Spark `aggregate`, DuckDB
    `list_reduce`), then one sqrt / one division — exactly rounded on
    identical inputs (DETERMINISM.md rule 2). Pure map stage, zero
    shuffles before the output sort; the prefix slice never copies the
    tail at 100 TB."""
    e = load_table(spark, sf_dir, "embeddings")
    sq_fold = "aggregate(transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (a, v) -> a + v)"
    return (
        e.selectExpr(
            "vec_id",
            sq_fold.format(v=f"slice(embedding, 1, {MRL_DIM})") + " AS pref_sq",
            sq_fold.format(v="embedding") + " AS full_sq",
        )
        .select(
            "vec_id",
            F.sqrt("pref_sq").alias("prefix_l2"),
            F.sqrt("full_sq").alias("full_l2"),
            (F.col("pref_sq") / F.col("full_sq")).alias("energy_ratio"),
        )
        .orderBy("vec_id")
    )


N_PLANES = 12


@register("ann_lsh_cosine")  # rows-only: hyperplane sampling isn't SQL-expressible
def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: deterministic hyperplanes (seeded),
    sign-bit bucket id per vector, exact cosine within buckets only.

    Scale path: bucket id is ONE Arrow-batched numpy pass (r5 — the
    old form was 12 interpreted aggregate(zip_with) dot products per
    row, the idiom measured ~100× slower than numpy everywhere else);
    `_foldmul_acc` keeps the per-dim fold order, so sign bits — and
    bucket assignments — are bit-identical to the old JVM fold, not
    merely close (a BLAS matmul could flip a sign at an exact-zero
    dot). Map-only: the hyperplanes ride inside the UDF closure
    (O(12·dim) — no broadcast needed). The candidate join is an
    equi-join on bucket — at 1000 executors it hash-partitions on
    bucket id. Brute-force fallback covers recall evaluation (see
    tests).
    """
    import numpy as np

    rng = np.random.default_rng(42)
    e = load_table(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    planes = rng.standard_normal((N_PLANES, dim))
    bit_weights = (1 << np.arange(N_PLANES)).astype(np.int64)

    @F.pandas_udf("int")
    def bucket_of(embs: pd.Series) -> pd.Series:
        if not len(embs):
            return pd.Series([], dtype=np.int32)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in embs])
        dots = _foldmul_acc(X, planes)
        return pd.Series(((dots > 0) @ bit_weights).astype(np.int32))

    with_bucket = e.select("vec_id", "embedding", bucket_of(F.col("embedding")).alias("bucket"))

    a = with_bucket.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"), F.col("bucket").alias("bk_a")
    ).where(F.col("query_id") < N_QUERIES)
    b = with_bucket.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"), F.col("bucket").alias("bk_b")
    )
    scored = (
        a.join(b, (F.col("bk_a") == F.col("bk_b")) & (F.col("query_id") != F.col("neighbor_id")))
        .select("query_id", "neighbor_id", F.round(cosine_expr("q_emb", "c_emb"), 6).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos")
        .orderBy("query_id", F.desc("cos"), "neighbor_id")
    )


# ---------------------------------------------------------------------------
# ann_ivf_cosine — IVF (inverted-file) ANN: k-means coarse quantizer,
# cells as the partition key, exact rerank inside probed cells
# ---------------------------------------------------------------------------

N_CENTROIDS = 16
N_PROBE = 4
KMEANS_ITERS = 8
TRAIN_CAP = 4096  # centroid training reads ≤ this many vectors on the
# driver — a fixed-size model fit, independent of corpus size (the same
# posture as any ANN index build); everything after is distributed.


def _train_centroids(vecs):
    """Deterministic Lloyd's k-means on the (normalized) training
    sample: seeded init, KMEANS_ITERS rounds, cosine geometry (dot on
    unit vectors). Pure numpy; runs once on the driver."""
    import numpy as np

    x = np.asarray(vecs, dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    rng = np.random.default_rng(7)
    cent = x[rng.choice(len(x), size=min(N_CENTROIDS, len(x)), replace=False)]
    for _ in range(KMEANS_ITERS):
        assign = np.argmax(x @ cent.T, axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cent[c] = m / n
    return cent


@register("ann_ivf_cosine")  # rows-only: k-means training isn't SQL-expressible
def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: corpus vectors are assigned to their nearest of
    N_CENTROIDS k-means cells (one vectorized Arrow pass); each query
    probes its N_PROBE nearest cells; candidates come from an equi-join
    on cell id; exact cosine + top-k only within probed cells.

    Scale: the cell id is the IVF partition key — at 100 TB the corpus
    is written bucketed by cell, so a query touches N_PROBE/N_CENTROIDS
    of the data and the join shuffles only (query, cell) pairs. The
    centroid model is O(K·dim) and broadcast to every executor.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # deterministic training sample, capped — vec_id stride sampling
    sample = e.select("vec_id", "embedding").limit(TRAIN_CAP).collect()
    cent = _train_centroids([r.embedding for r in sample])
    cent_b = spark.sparkContext.broadcast(cent)

    @F.pandas_udf("int")
    def cell_of(embs: pd.Series) -> pd.Series:
        c = cent_b.value
        if not len(embs):  # empty Arrow batch: np.stack would raise
            return pd.Series(np.empty(0, dtype=np.int32))
        x = np.stack([np.asarray(v, dtype=np.float64) for v in embs])
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(x @ c.T, axis=1).astype(np.int32))

    @F.pandas_udf("array<int>")
    def probe_cells(embs: pd.Series) -> pd.Series:
        c = cent_b.value
        if not len(embs):  # empty Arrow batch: np.stack would raise
            return pd.Series([], dtype=object)
        x = np.stack([np.asarray(v, dtype=np.float64) for v in embs])
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(x @ c.T), axis=1)[:, :N_PROBE].astype(np.int32)
        return pd.Series(list(order))

    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        cell_of(F.col("embedding")).alias("cell"),
    )
    queries = (
        e.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(probe_cells(F.col("embedding"))).alias("cell"),
        )
    )
    scored = (
        corpus.join(F.broadcast(queries), ["cell"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(cosine_expr("q_emb", "c_emb"), 6).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos")
        .orderBy("query_id", F.desc("cos"), "neighbor_id")
    )


# ---------------------------------------------------------------------------
# ann_pq_adc — product quantization + asymmetric-distance scan
# (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
# Search"; the FAISS IndexPQ shape)
# ---------------------------------------------------------------------------
# The compressed-index tier the r8 verdict named missing: IVF's exact
# rerank still reads FULL float vectors for every probed cell, so at
# 100 TB of embeddings the scan is float-width-bound. PQ stores an
# M-byte code per vector (M=8 on dim-64 → 32× smaller than float32)
# and scores a query against codes with an M-term table-lookup sum —
# the hot scan consumes ONLY (vec_id, code). On a deployed index the
# codes are a STORED table (the encode job's parquet), so the ADC
# stage is code-width-bound — 32× less IO than the float scan; in
# this single-plan form the encode is fused upstream of the scan
# (same relation, one pass), which is the worst case and still reads
# the corpus exactly once.
# Recipe: (1) train per-subspace codebooks with the same seeded Lloyd
# posture as the IVF centroids (driver-side on a TRAIN_CAP sample — a
# fixed-size model fit); (2) encode the corpus map-only (Arrow); (3)
# ADC scan: per-query LUT[m][k] = q_m · c_{m,k} is an O(M·K·dim)
# model broadcast in the task closure, approx score = Σ_m LUT[m][
# code_m], per-batch local top-R then ONE global top-R window over
# R·|partitions|·|Q| rows (two-phase top-k); (4) exact cosine rerank
# touches only the R candidates' float vectors via a broadcast
# semi-probe. Rows-only (k-means training, same class as ann_ivf);
# recall vs the exact ann_topk_cosine is pinned in tests.

PQ_M = 8  # subspaces (dim 64 → 8 dims each)
PQ_K = 32  # codewords per subspace (5-bit codes; 256 in production)
PQ_ITERS = 12
PQ_RERANK = 200  # ADC candidates per query fed to the exact rerank


def _train_pq_codebooks(vecs) -> np.ndarray:
    """Per-subspace Lloyd in plain L2 over the NORMALIZED training
    sample (cosine geometry: unit vectors make inner-product ADC the
    cosine estimate): returns (M, K, dim/M). Deterministic — seeded
    init, fixed iteration count, empty cells keep their centroid."""
    x = np.asarray(vecs, dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dsub = x.shape[1] // PQ_M
    rng = np.random.default_rng(13)
    books = np.empty((PQ_M, PQ_K, dsub))
    for s in range(PQ_M):
        xs = x[:, s * dsub : (s + 1) * dsub]
        k = min(PQ_K, len(xs))
        cent = xs[rng.choice(len(xs), size=k, replace=False)].copy()
        for _ in range(PQ_ITERS):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=-1)
            a = np.argmin(d2, axis=1)
            for c in range(k):
                mem = xs[a == c]
                if len(mem):
                    cent[c] = mem.mean(axis=0)
        books[s, :k] = cent
        if k < PQ_K:
            books[s, k:] = cent[0]
    return books


@register("ann_pq_adc")  # rows-only: k-means codebook training isn't SQL
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k with exact rerank — same output
    contract as ann_topk_cosine (query_id, neighbor_id, cos), where
    cos is the EXACT rounded cosine of the reranked winners, so a
    recall audit is a plain set comparison against the brute tier."""
    e = load_table(spark, sf_dir, "embeddings")
    sample = e.select("embedding").limit(TRAIN_CAP).collect()
    if not sample:
        return local_frame(spark, [], _SCORED_SCHEMA)
    books = _train_pq_codebooks([r.embedding for r in sample])
    qrows = e.where(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect()
    if not qrows:
        return local_frame(spark, [], _SCORED_SCHEMA)
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([r.embedding for r in qrows], dtype=np.float64)
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    dsub = books.shape[2]
    # LUT[q, m, k] = q_m · c_{m,k} — the whole ADC model is nq·M·K doubles
    lut = np.einsum("qmd,mkd->qmk", Q.reshape(len(Q), PQ_M, dsub), books)
    books_b = spark.sparkContext.broadcast(books)
    lut_b = spark.sparkContext.broadcast((q_ids, lut))

    @F.pandas_udf("array<tinyint>")
    def encode(embs: pd.Series) -> pd.Series:
        bk = books_b.value
        if not len(embs):  # empty Arrow batch: np.stack would raise
            return pd.Series([], dtype=object)
        x = np.stack([np.asarray(v, dtype=np.float64) for v in embs])
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        ds = bk.shape[2]
        codes = np.empty((len(x), PQ_M), dtype=np.int8)
        for s in range(PQ_M):
            xs = x[:, s * ds : (s + 1) * ds]
            # argmin ||xs - c||² == argmax (xs·c - ||c||²/2), no n×k×d temp
            score = xs @ bk[s].T - 0.5 * (bk[s] * bk[s]).sum(axis=1)[None, :]
            codes[:, s] = np.argmax(score, axis=1).astype(np.int8)
        return pd.Series(list(codes))

    def adc_scan(batches):
        ids, tables = lut_b.value
        nq = len(ids)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["code"]])
            n = len(codes)
            acc = np.zeros((n, nq))
            for s in range(PQ_M):
                acc += tables[:, s, :].T[codes[:, s]]  # (n, nq) gather-add
            vids = pdf["vec_id"].to_numpy()
            r = min(PQ_RERANK, n)
            # local top-R per query inside the batch — the two-phase
            # top-k's phase 1, so the scan emits R·|Q| rows per batch,
            # never n·|Q|
            top = np.argpartition(-acc, r - 1, axis=0)[:r]
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(ids, r),
                    "neighbor_id": vids[top].T.ravel(),
                    "adc": np.take_along_axis(acc, top, axis=0).T.ravel(),
                }
            )
            yield out[out["query_id"] != out["neighbor_id"]]

    encoded = e.select("vec_id", encode(F.col("embedding")).alias("code"))
    scanned = encoded.mapInPandas(adc_scan, "query_id long, neighbor_id long, adc double")
    wr = Window.partitionBy("query_id").orderBy(F.desc("adc"), "neighbor_id")
    cands = (
        scanned.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= PQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    qdf = local_frame(
        spark, [(int(i), [float(v) for v in r.embedding]) for i, r in zip(q_ids, qrows)],
        "query_id long, q_emb array<double>",
    )
    reranked = (
        # broadcast the R·|Q|-row candidate set; the big embedding
        # relation is PROBED, never shuffled
        F.broadcast(cands)
        .join(e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")), "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", "neighbor_id", F.round(cosine_expr("q_emb", "c_emb"), 6).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        reranked.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos")
        .orderBy("query_id", F.desc("cos"), "neighbor_id")
    )


# ---------------------------------------------------------------------------
# ann_ivfpq — the full IVFADC composition (IVF coarse cells + PQ
# residual codes + asymmetric-distance scan + exact rerank): FAISS's
# default 100 TB architecture, built from the two tiers above.
# ---------------------------------------------------------------------------
# Why residuals: within a cell, x − c_cell is small and PQ codebooks
# trained on RESIDUALS quantize it far better than raw-vector books —
# score(q, x) ≈ q·c_cell + Σ_m q_m·book_m[code_m(x − c_cell)]. At
# 100 TB the corpus is stored bucketed by cell with M-byte codes: a
# query touches N_PROBE/N_CENTROIDS of the data and reads codes, not
# floats; the only float reads are the R reranked candidates.

IVFPQ_RERANK = 200


def _train_ivfpq(sample_vecs):
    """Coarse centroids (the IVF trainer) + per-subspace RESIDUAL
    codebooks trained on the sample's residuals. Deterministic: both
    trainers are seeded, fixed-iteration."""
    cent = _train_centroids(sample_vecs)
    x = np.asarray(sample_vecs, dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    assign = np.argmax(x @ cent.T, axis=1)
    resid = x - cent[assign]
    dsub = x.shape[1] // PQ_M
    rng = np.random.default_rng(29)
    books = np.empty((PQ_M, PQ_K, dsub))
    for s in range(PQ_M):
        xs = resid[:, s * dsub : (s + 1) * dsub]
        k = min(PQ_K, len(xs))
        cb = xs[rng.choice(len(xs), size=k, replace=False)].copy()
        for _ in range(PQ_ITERS):
            d2 = ((xs[:, None, :] - cb[None, :, :]) ** 2).sum(axis=-1)
            a = np.argmin(d2, axis=1)
            for c in range(k):
                mem = xs[a == c]
                if len(mem):
                    cb[c] = mem.mean(axis=0)
        books[s, :k] = cb
        if k < PQ_K:
            books[s, k:] = cb[0]
    return cent, books


@register("ann_ivfpq")  # rows-only: two k-means trainers upstream
def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ approximate top-k with exact rerank — same output
    contract as ann_topk_cosine/ann_pq_adc so recall audits compose.
    Plan: ONE map-only Arrow pass assigns (cell, residual code);
    queries explode to their N_PROBE cells and BROADCAST onto the
    corpus (cell equi-join — the partition-pruning shape: bucketed by
    cell at scale, a query reads nprobe/K of the data); ADC scores are
    a per-row table-lookup sum; top-R per query then the same
    broadcast-probe exact rerank as ann_pq_adc."""
    e = load_table(spark, sf_dir, "embeddings")
    sample = e.select("embedding").limit(TRAIN_CAP).collect()
    if not sample:
        return local_frame(spark, [], _SCORED_SCHEMA)
    cent, books = _train_ivfpq([r.embedding for r in sample])
    qrows = e.where(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect()
    if not qrows:
        return local_frame(spark, [], _SCORED_SCHEMA)
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([r.embedding for r in qrows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    dsub = books.shape[2]
    lut = np.einsum("qmd,mkd->qmk", Qn.reshape(len(Qn), PQ_M, dsub), books)
    qdotc = Qn @ cent.T  # (nq, K) — the coarse term of the ADC score
    qpos = {int(i): p for p, i in enumerate(q_ids)}
    model_b = spark.sparkContext.broadcast((cent, books, q_ids, lut, qdotc, qpos))

    @F.pandas_udf("struct<cell: int, code: array<tinyint>>")
    def encode(embs: pd.Series) -> pd.DataFrame:
        cent_, books_, *_ = model_b.value
        if not len(embs):  # empty Arrow batch: np.stack would raise
            return pd.DataFrame({"cell": np.empty(0, dtype=np.int32), "code": []})
        x = np.stack([np.asarray(v, dtype=np.float64) for v in embs])
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        cells = np.argmax(x @ cent_.T, axis=1)
        resid = x - cent_[cells]
        ds = books_.shape[2]
        codes = np.empty((len(x), PQ_M), dtype=np.int8)
        for s in range(PQ_M):
            xs = resid[:, s * ds : (s + 1) * ds]
            score = xs @ books_[s].T - 0.5 * (books_[s] * books_[s]).sum(axis=1)[None, :]
            codes[:, s] = np.argmax(score, axis=1).astype(np.int8)
        return pd.DataFrame({"cell": cells.astype(np.int32), "code": list(codes)})

    @F.pandas_udf("double")
    def adc_score(qid: pd.Series, cell: pd.Series, code: pd.Series) -> pd.Series:
        _, _, _, lut_, qdotc_, qpos_ = model_b.value
        if not len(qid):  # empty Arrow batch: np.stack would raise
            return pd.Series(np.empty(0, dtype=np.float64))
        qi = np.array([qpos_[int(i)] for i in qid])
        cells = cell.to_numpy()
        codes = np.stack([np.asarray(c, dtype=np.int64) for c in code])
        acc = qdotc_[qi, cells]
        for s in range(PQ_M):
            acc = acc + lut_[qi, s, codes[:, s]]
        return pd.Series(acc)

    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), encode(F.col("embedding")).alias("a")
    ).select("neighbor_id", F.col("a.cell").alias("cell"), F.col("a.code").alias("code"))
    probe_rows = [
        (int(q_ids[p]), [int(c) for c in np.argsort(-qdotc[p])[:N_PROBE]])
        for p in range(len(q_ids))
    ]
    probes = local_frame(spark, probe_rows, "query_id long, cells array<int>").select(
        "query_id", F.explode("cells").alias("cell")
    )
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            adc_score(F.col("query_id"), F.col("cell"), F.col("code")).alias("adc"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("adc"), "neighbor_id")
    cands = (
        scored.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= IVFPQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    qdf = local_frame(
        spark, [(int(i), [float(v) for v in r.embedding]) for i, r in zip(q_ids, qrows)],
        "query_id long, q_emb array<double>",
    )
    reranked = (
        F.broadcast(cands)
        .join(e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")), "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", "neighbor_id", F.round(cosine_expr("q_emb", "c_emb"), 6).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        reranked.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos")
        .orderBy("query_id", F.desc("cos"), "neighbor_id")
    )


# ---------------------------------------------------------------------------
# emb_centroids — per-label element-wise mean vector (vector agg via
# posexplode: the scalable form — (label, pos) partial aggs, no single
# reducer ever sees a whole group of vectors)
# ---------------------------------------------------------------------------

EMB_CENTROIDS_ORACLE = """
WITH exploded AS (
  SELECT label, vec_id, t.pos, CAST(embedding[t.pos] AS DOUBLE) AS val
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(pos)
)
SELECT label,
       CAST(COUNT(*) / COUNT(DISTINCT vec_id) AS BIGINT) AS dim,
       CAST(SUM(CAST(val AS DECIMAL(27,6))) AS DOUBLE) / COUNT(DISTINCT vec_id) AS centroid_sum
FROM exploded
GROUP BY label
ORDER BY label
"""


@register("emb_centroids", EMB_CENTROIDS_ORACLE)
def emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select("label", "vec_id", F.posexplode("embedding").alias("pos0", "valf")).select(
        "label", "vec_id", F.col("valf").cast("double").alias("val")
    )
    # Σ_pos mean(pos) ≡ Σ(all values) / n_vectors — the exact-decimal
    # identity avoids any per-position round-off, so both engines agree
    # bit-for-bit (round() itself diverges across engines at near-ties)
    return (
        exploded.groupBy("label")
        .agg(
            (F.count(F.lit(1)) / F.countDistinct("vec_id")).cast("bigint").alias("dim"),
            (
                F.sum(F.col("val").cast("decimal(27,6)")).cast("double") / F.countDistinct("vec_id")
            ).alias("centroid_sum"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# emb_random_projection — Johnson-Lindenstrauss dimensionality
# reduction: project embeddings onto PROJ_DIM fixed random Gaussian
# directions before ANN / clustering (the standard way to cut the
# cosine cost of everything downstream). The projection matrix is
# derived from a fixed seed, so every executor regenerates the SAME
# matrix locally — nothing is shuffled or broadcast, and the operator
# is a pure map stage at any scale. Rows-only: Gaussian sampling is
# not SQL-expressible.
# ---------------------------------------------------------------------------

PROJ_DIM = 16
_PROJ_SEED = 20240813


def _projection_matrix(in_dim: int) -> np.ndarray:
    rng = np.random.default_rng(_PROJ_SEED)
    return rng.standard_normal((in_dim, PROJ_DIM)) / np.sqrt(PROJ_DIM)


@register("emb_random_projection")  # rows-only
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")

    def project(batches):
        R = None
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            if R is None:
                R = _projection_matrix(X.shape[1])
            P = X @ R
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "proj": list(P)})

    return (
        e.select("vec_id", "embedding")
        .mapInPandas(project, "vec_id long, proj array<double>")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# emb_pca_covariance — one-pass distributed PCA (top components)
# ---------------------------------------------------------------------------

PCA_TOP_K = 8


def _pca_partial_moments(iterator):
    """mapInPandas kernel: per-batch partial moments (n, Σx, X^T X) —
    each partition reduces its rows to ONE fixed-size (1 + d + d²)
    record, so the driver only ever merges #partitions records
    regardless of row count. float64 accumulation."""
    for pdf in iterator:
        if len(pdf) == 0:
            continue
        X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        d = X.shape[1]
        yield pd.DataFrame(
            {
                "n": [np.int64(len(X))],
                "sum_x": [X.sum(axis=0).tolist()],
                "gram": [(X.T @ X).reshape(d * d).tolist()],
            }
        )


@register("emb_pca_covariance")  # rows-only: eigensolve is not SQL-expressible
def emb_pca_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding corpus in ONE pass: each
    partition reduces to partial moments (n, Σx, X^T X) via an Arrow
    kernel — a fixed-size d²+d+1 record per partition — the driver
    merges them (#partitions records, a model-sized collect, never
    rows), forms the covariance C = (G − n·x̄x̄ᵀ)/(n−1), and eigensolves
    the d×d matrix locally. This is the canonical 100 TB shape for
    spectral statistics: the cluster does one linear scan with
    map-side reduction; the O(d³) eigensolve happens once on a 64×64
    matrix. Output: top-8 components' eigenvalue + explained-variance
    ratio (property-tested against numpy PCA on the collected corpus
    at small SF — tests/test_llm_ops.py)."""
    e = load_table(spark, sf_dir, "embeddings").select("embedding")
    parts = e.mapInPandas(
        _pca_partial_moments, "n long, sum_x array<double>, gram array<double>"
    ).collect()  # ≤ #partitions fixed-size records — a model object, not data
    n = sum(p["n"] for p in parts)
    if n < 2:
        raise ValueError("emb_pca_covariance: need ≥ 2 vectors")
    sum_x = np.sum([np.asarray(p["sum_x"]) for p in parts], axis=0)
    d = sum_x.shape[0]
    gram = np.sum([np.asarray(p["gram"]).reshape(d, d) for p in parts], axis=0)
    mean = sum_x / n
    cov = (gram - n * np.outer(mean, mean)) / (n - 1)
    evals, _ = np.linalg.eigh(cov)  # ascending
    evals = evals[::-1]
    total = float(evals.sum())
    rows = [
        (int(i), float(evals[i]), float(evals[i] / total))
        for i in range(min(PCA_TOP_K, d))
    ]
    return local_frame(spark, rows, "component int, eigenvalue double, explained_ratio double")


# ---------------------------------------------------------------------------
# emb_knn_graph — k-nearest-neighbor graph within label cells
# ---------------------------------------------------------------------------

KNN_K = 3

KNN_GRAPH_ORACLE = f"""
SELECT id_a, id_b, cos, CAST(rn AS INTEGER) AS rank
FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos,
         row_number() OVER (PARTITION BY a.vec_id ORDER BY
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) DESC,
           b.vec_id) AS rn
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
)
WHERE rn <= {KNN_K}
ORDER BY id_a, rank
"""


def _emb_block_knn(pdf: pd.DataFrame) -> pd.DataFrame:
    """In-block k-NN candidate kernel: for every vector, the raw-cosine
    top-K neighbors within its label cell, with a 2e-6 slack band so
    the JVM-side round(.,6) + (cos DESC, id) window can settle rounded
    near-ties exactly like the oracle does (rounding moves a value by
    at most 5e-7, so any pair whose ROUNDED order could differ from
    the RAW order lies within the band and is emitted for the window
    to re-rank — final ranking never happens Python-side, per
    DETERMINISM.md rule 5). Same `_foldmul_acc` fp-fold as
    dedup_embedding, so the doubles are bit-identical to
    list_cosine_similarity's. Chunked like `_emb_block_pairs`: the
    slab is chunk×n, never n×n."""
    empty = pd.DataFrame(
        {"id_a": np.array([], dtype=np.int64),
         "id_b": np.array([], dtype=np.int64),
         "cos": np.array([], dtype=np.float64)}
    )
    if len(pdf) < 2:
        return empty
    pdf = pdf.sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    norms = np.sqrt(_fold_sq_norm(X))
    n = len(ids)
    frames = []
    chunk = max(1, (8 << 20) // max(n, 1))
    for lo in range(0, n, chunk):
        hi = min(n, lo + chunk)
        dots = _foldmul_acc(X[lo:hi], X)
        denom = norms[lo:hi, None] * norms[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom == 0.0, 0.0, dots / np.where(denom == 0.0, 1.0, denom))
        # self-similarity must never win a top-k slot
        for r in range(lo, hi):
            cos[r - lo, r] = -np.inf
        k = min(KNN_K, n - 1)
        # k-th largest raw cosine per row, then keep the slack band
        kth = np.partition(cos, n - k, axis=1)[:, n - k]
        keep = cos >= (kth - 2e-6)[:, None]
        ii, jj = np.nonzero(keep)
        frames.append(pd.DataFrame(
            {"id_a": ids[ii + lo].astype(np.int64),
             "id_b": ids[jj].astype(np.int64),
             "cos": cos[ii, jj]}
        ))
    return pd.concat(frames, ignore_index=True) if frames else empty


CELL_CAP = 2048  # max vectors one k-NN task handles on either Gram axis

# live persist() handles from the CURRENT emb_knn_graph invocation,
# released at the start of the next one (see docstring)
_KNN_CACHE_HANDLES: list[DataFrame] = []


def _unpack_tile(payload) -> tuple[np.ndarray, np.ndarray]:
    rows = list(payload)
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    return ids, X


def _knn_tile_kernel(batches):
    """Tile×tile k-NN candidate kernel for OVERSIZED label cells: each
    input row carries one (row-tile, col-tile) pair of ≤CELL_CAP
    vectors; the task computes the tile-local Gram and emits the
    per-row top-K(+slack) against THIS col-tile only. Correctness of
    the downstream merge: for any a-row, every member of its global
    top-K lives in some col-tile and is inside that tile's top-K for
    a (at most K global winners fall in one tile, each ≥ every
    non-winner there), and the slack-band algebra carries over —
    tile_kth ≥ global_kth, so a pair needed under the global band
    (cos ≥ global_kth − 2e-6) always satisfies the tile band too. The
    JVM round + window then ranks the union exactly as in the
    single-task path. Same `_foldmul_acc` per-pair fp fold, so the
    doubles are bit-identical regardless of which path emitted them."""
    for pdf in batches:
        frames = []
        for row in pdf.itertuples(index=False):
            ids_a, X_a = _unpack_tile(row.pa)
            ids_b, X_b = _unpack_tile(row.pb)
            norms_a = np.sqrt(_fold_sq_norm(X_a))
            norms_b = np.sqrt(_fold_sq_norm(X_b))
            dots = _foldmul_acc(X_a, X_b)
            denom = norms_a[:, None] * norms_b[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom == 0.0, 0.0, dots / np.where(denom == 0.0, 1.0, denom))
            same = ids_a[:, None] == ids_b[None, :]
            cos[same] = -np.inf
            nb = len(ids_b)
            n_valid = nb - 1 if row.ta == row.tb else nb
            if n_valid <= 0:
                continue
            k = min(KNN_K, n_valid)
            kth = np.partition(cos, nb - k, axis=1)[:, nb - k]
            keep = cos >= (kth - 2e-6)[:, None]
            ii, jj = np.nonzero(keep)
            frames.append(pd.DataFrame(
                {"id_a": ids_a[ii].astype(np.int64),
                 "id_b": ids_b[jj].astype(np.int64),
                 "cos": cos[ii, jj]}
            ))
        if frames:
            yield pd.concat(frames, ignore_index=True)


@register("emb_knn_graph", KNN_GRAPH_ORACLE)
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph construction — the neighborhood structure that feeds
    graph-based dedup clustering, kNN-classification of unlabeled
    docs, and diversity sampling. Neighbors are found WITHIN label
    cells (the IVF posture: at 100 TB the cell assignment is the
    coarse quantizer and each cell's graph is built independently —
    an all-pairs global graph is never materialized).

    Plan: ONE shuffle on the label key, Arrow-batched Gram-matrix
    kernel per cell emitting only top-K(+slack) candidates (~K rows
    per vector, not n²), then the exact JVM round + per-vector window
    re-ranks candidates into the final top-K. The window input is
    K-bounded per vector, so its shuffle moves ~K·n tiny rows.

    Skew guard (r6): a label cell larger than CELL_CAP would make ONE
    task do |cell|² work — the per-label count feeds a broadcast of
    ONLY the oversized labels (empty on a balanced corpus, so the
    healthy path is unchanged modulo the marker join), and hot labels
    are hash-tiled into ceil(m/CAP) tiles whose T² (row-tile,
    col-tile) pairs each run as an independent bounded task
    (_knn_tile_kernel); the same JVM window merges candidates from
    either path, so the result is oracle-exact in both."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    # previous invocation's caches are released HERE (the earliest
    # point they're provably consumed): bench runs this entry N+1
    # times per process, and persisted hot-cell payloads would
    # otherwise accumulate a copy per run in the block manager
    while _KNN_CACHE_HANDLES:
        _KNN_CACHE_HANDLES.pop().unpersist()
    # persisted: referenced by both branches and by both sides of the
    # tile join — hot-labels-only, so the cache is empty on a balanced
    # corpus and bounded by the skew mass otherwise (without it the
    # plan re-scans embeddings 6×)
    oversized = (
        e.groupBy("label").agg(F.count(F.lit(1)).alias("cell_n"))
        .where(F.col("cell_n") > CELL_CAP)
        .select("label", F.ceil(F.col("cell_n") / CELL_CAP).cast("int").alias("n_tiles"))
        .persist()
    )
    _KNN_CACHE_HANDLES.append(oversized)
    marked = e.join(F.broadcast(oversized), "label", "left")
    healthy = marked.where(F.col("n_tiles").isNull()).drop("n_tiles")
    hot = marked.where(F.col("n_tiles").isNotNull())

    cand_healthy = (
        healthy.groupBy("label")
        .applyInPandas(_emb_block_knn, "id_a long, id_b long, cos double")
    )
    tiles = (
        hot.withColumn("tile", F.pmod(F.xxhash64("vec_id"), F.col("n_tiles")).cast("int"))
        .groupBy("label", "tile")
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("payload"))
        .persist()
    )
    _KNN_CACHE_HANDLES.append(tiles)
    ta = tiles.select("label", F.col("tile").alias("ta"), F.col("payload").alias("pa"))
    tb = tiles.select("label", F.col("tile").alias("tb"), F.col("payload").alias("pb"))
    cand_hot = (
        ta.join(tb, "label")
        .select("ta", "pa", "tb", "pb")
        .mapInPandas(_knn_tile_kernel, "id_a long, id_b long, cos double")
    )

    w = Window.partitionBy("id_a").orderBy(F.desc("cos"), "id_b")
    return (
        cand_healthy.unionByName(cand_hot)
        .withColumn("cos", F.round(F.col("cos"), 6))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= KNN_K)
        .orderBy("id_a", "rank")
    )


# ---------------------------------------------------------------------------
# emb_outlier_centroid — farthest-from-centroid outliers per label cell
# ---------------------------------------------------------------------------

OUTLIER_TOP = 3


def _emb_block_outliers(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per label cell: cosine similarity of every vector to the cell
    MEAN vector, emitting the OUTLIER_TOP least-similar (mislabeled /
    corrupted-embedding candidates — the screening step before
    training on clustered data). Ties break on vec_id ascending.
    numpy float64 end-to-end; module-level for the equivalence test
    (rows-only entry: a cross-engine oracle would need the mean vector
    reproduced in SQL per dimension — the numpy reference test in
    tests/test_llm_ops.py is the contract instead)."""
    empty = pd.DataFrame(
        {"vec_id": np.array([], dtype=np.int64),
         "label": np.array([], dtype=np.int32),
         "cos_to_centroid": np.array([], dtype=np.float64)}
    )
    if not len(pdf):
        return empty
    ids = pdf["vec_id"].to_numpy()
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    c = X.mean(axis=0)
    denom = np.sqrt(_fold_sq_norm(X)) * np.sqrt(_fold_sq_norm(c[None, :])[0])
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(denom == 0.0, 0.0, _foldmul_acc(X, c[None, :])[:, 0] / np.where(denom == 0.0, 1.0, denom))
    order = np.lexsort((ids, cos))  # ascending cos, then vec_id
    keep = order[:OUTLIER_TOP]
    return pd.DataFrame(
        {"vec_id": ids[keep].astype(np.int64),
         "label": pdf["label"].to_numpy()[keep],
         "cos_to_centroid": cos[keep]}
    )


@register("emb_outlier_centroid")  # rows-only: ≡ numpy reference, tested
def emb_outlier_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid-distance outliers: ONE shuffle on the label
    key, then the mean + similarity + top-k all happen inside the
    Arrow kernel — O(cell) memory, no pair matrix at all (unlike the
    knn/dedup kernels this one is linear in the cell size). At 100 TB
    with cells too big for one task, the same statistic decomposes
    into the emb_centroids partial-agg mean followed by a broadcast
    map — this kernel is the single-pass form for partition-sized
    cells."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInPandas(_emb_block_outliers, "vec_id long, label int, cos_to_centroid double")
        .orderBy("label", "cos_to_centroid", "vec_id")
    )


# ---------------------------------------------------------------------------
# emb_quantize_int8 — symmetric int8 quantization + reconstruction error
# ---------------------------------------------------------------------------

QUANT_ORACLE = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), scaled AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
  FROM base
)
SELECT vec_id, scale,
       CAST(CASE WHEN scale = 0 THEN 0 ELSE
         list_reduce(list_transform(e, x -> round(x / scale)), (a, b) -> a + b)
       END AS BIGINT) AS qsum,
       CASE WHEN scale = 0 THEN 0.0 ELSE
         list_reduce(list_transform(e, x -> abs(x - round(x / scale) * scale)), (a, b) -> a + b)
       END AS err_l1
FROM scaled
ORDER BY vec_id
"""


@register("emb_quantize_int8", QUANT_ORACLE)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/serving
    compression step every embedding corpus goes through before ANN at
    scale: scale = max|x|/127, q = round(x/scale) (|q| ≤ 127 by
    construction, no clipping branch needed), plus the L1
    reconstruction error Σ|x − q·scale|. Bit-stability: round() is
    half-away-from-zero on DOUBLE in both engines (probed), x/scale
    and q·scale are single correctly-rounded IEEE ops on identical
    inputs, and both error folds are sequential left folds (Spark
    `aggregate`, DuckDB `list_reduce`) — so qsum is integer-exact and
    err_l1 is bit-identical. Pure map stage, zero shuffles before the
    output sort; the quantized form is 4× smaller than float32 on the
    wire, which is the point at 100 TB."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.selectExpr(
            "vec_id",
            "aggregate(transform(embedding, x -> abs(CAST(x AS DOUBLE))), 0D, (a, v) -> greatest(a, v)) / 127.0D AS scale",
            "embedding",
        )
        .selectExpr(
            "vec_id",
            "scale",
            """CAST(CASE WHEN scale = 0D THEN 0D ELSE
                 aggregate(transform(embedding, x -> round(CAST(x AS DOUBLE) / scale)), 0D, (a, v) -> a + v)
               END AS BIGINT) AS qsum""",
            """CASE WHEN scale = 0D THEN 0D ELSE
                 aggregate(transform(embedding, x -> abs(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / scale) * scale)), 0D, (a, v) -> a + v)
               END AS err_l1""",
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# dedup_translation_pairs — cross-lingual near-dup detection
# ---------------------------------------------------------------------------

TRANSLATION_ORACLE = f"""
SELECT p.id_a, p.id_b, da.lang AS lang_a, db.lang AS lang_b, p.cos
FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos
  FROM embeddings a, embeddings b
  WHERE a.vec_id < b.vec_id AND a.label = b.label
    AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= {NEAR_DUP_TAU}
) p
JOIN documents da ON da.doc_id = p.id_a
JOIN documents db ON db.doc_id = p.id_b
WHERE da.lang <> db.lang
ORDER BY id_a, id_b
"""


@register("dedup_translation_pairs", TRANSLATION_ORACLE)
def dedup_translation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual near-dup pairs — the translation-dedup decision a
    multilingual corpus needs and no LEXICAL tier can make (shingle /
    MinHash / SimHash all block or compare within a language; a
    document and its translation share ~no n-grams but sit adjacent in
    embedding space). Composition: the dedup_embedding pair relation
    (label-blocked Arrow Gram kernel) annotated with each side's
    document language via the 1:1 vec_id≡doc_id mapping, keeping only
    mixed-language pairs.

    Plan: the pair relation is near-dup-sized (≪ corpus), so the two
    language lookups are joins of a SMALL relation against a pruned
    2-column (doc_id, lang) scan — AQE broadcasts the pair side; the
    quadratic work happens once inside the already-bounded embedding
    kernel. At 100 TB the same shape holds: pairs ~ O(dups), not
    O(corpus²)."""
    pairs = dedup_embedding(spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        pairs.join(langs.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("lang_a")), "id_a")
        .join(langs.select(F.col("doc_id").alias("id_b"), F.col("lang").alias("lang_b")), "id_b")
        .where(F.col("lang_a") != F.col("lang_b"))
        .select("id_a", "id_b", "lang_a", "lang_b", "cos")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# emb_kmeans_lloyd — DISTRIBUTED Lloyd iterations over the full corpus
# ---------------------------------------------------------------------------
# ann_ivf_cosine trains its centroids on a driver-side capped sample
# (fine for coarse quantization); this entry is the full-data k-means
# a clustering/IVF-training job actually runs at 100 TB: per iteration
# ONE Arrow map stage assigns every vector to its nearest centroid and
# ONE map-combinable aggregate produces the K x dim component sums the
# driver folds into the next model. Data never leaves the executors —
# only the O(K·dim) model moves (broadcast out, aggregate back).

KMEANS_K = 8
KMEANS_LLOYD_ITERS = 4


def kmeans_lloyd_history(spark: SparkSession, sf_dir: str):
    """Run KMEANS_LLOYD_ITERS distributed Lloyd rounds; returns
    (summary DataFrame, per-iteration inertia list). Init is the K
    lowest-vec_id vectors (deterministic, orderBy + limit — a model-
    sized collect). Assignment = squared-L2 argmin via one Arrow
    kernel; update = posexplode + groupBy(cluster, pos) SUM — the
    partial-agg shuffle is K·dim rows, the collect is the model, and
    the inertia comes from the same aggregate (no extra pass)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seed_rows = e.orderBy("vec_id").limit(KMEANS_K).collect()
    cent = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in seed_rows])
    history: list[float] = []
    assigned = None
    for _ in range(KMEANS_LLOYD_ITERS):
        cent_b = spark.sparkContext.broadcast(cent)

        @F.pandas_udf("struct<cluster: int, sqdist: double>")
        def assign(embs: pd.Series) -> pd.DataFrame:
            c = cent_b.value
            if not len(embs):  # empty Arrow batch: np.stack would raise
                return pd.DataFrame(
                    {"cluster": np.empty(0, dtype=np.int32), "sqdist": np.empty(0)}
                )
            x = np.stack([np.asarray(v, dtype=np.float64) for v in embs])
            # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2, blockwise
            d2 = (
                (x * x).sum(axis=1, keepdims=True)
                - 2.0 * (x @ c.T)
                + (c * c).sum(axis=1)[None, :]
            )
            best = np.argmin(d2, axis=1)
            return pd.DataFrame(
                {"cluster": best.astype(np.int32), "sqdist": d2[np.arange(len(x)), best]}
            )

        assigned = e.select(
            "vec_id", "embedding", assign(F.col("embedding")).alias("a")
        ).select("vec_id", "embedding", F.col("a.cluster").alias("cluster"), F.col("a.sqdist").alias("sqdist"))
        upd = (
            assigned.select("cluster", "sqdist", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum(F.col("val").cast("double")).alias("s"),
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("pos") == 0, F.col("sqdist")).otherwise(0.0)).alias("inertia_part"),
            )
            .collect()
        )
        history.append(sum(r.inertia_part for r in upd))
        new_cent = cent.copy()
        counts = {}
        sums = np.zeros_like(cent)
        for r in upd:
            sums[r.cluster, r.pos] = r.s
            counts[r.cluster] = r.n
        for c in range(KMEANS_K):
            if counts.get(c):
                new_cent[c] = sums[c] / counts[c]
        cent = new_cent
    summary = (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("sqdist").alias("inertia"),
        )
        .orderBy("cluster")
    )
    return summary, history, cent


@register("emb_kmeans_lloyd")  # rows-only: iterative training isn't SQL-expressible
def emb_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster size + inertia after KMEANS_LLOYD_ITERS distributed
    Lloyd rounds (see kmeans_lloyd_history). Property-tested: inertia
    non-increasing across iterations, final assignment consistent with
    a local numpy recompute at sf0.001 (tests/test_properties.py)."""
    summary, _, _ = kmeans_lloyd_history(spark, sf_dir)
    return summary


# ---------------------------------------------------------------------------
# dedup_semantic_clusters — SemDeDup (Abbas et al. 2023, arXiv:2303.09540)
# ---------------------------------------------------------------------------
# The production dedup tier ABOVE near-dup: documents that are not
# textual copies but say the same thing land close in embedding space,
# and pruning them shrinks a crawl corpus 2-4x at equal model quality.
# The tractability bound that makes this runnable at 100 TB is the
# SemDeDup composition itself: train k-means (emb_kmeans_lloyd's
# distributed Lloyd — only the O(K·dim) model crosses the driver),
# assign every vector once, then generate cosine pairs ONLY INSIDE a
# cluster — pairing cost is sum(|cluster|^2), never |corpus|^2, and
# each cluster's decision runs in one Arrow task (groupBy(cluster) ->
# applyInPandas: ONE shuffle on the cluster id, no join anywhere —
# plan-pinned). At 100 TB you raise K so max|cluster| stays
# task-sized; an OVERSIZED cluster is sub-blocked exactly like the
# LSH degenerate-bucket guard (dedup.subsalt_oversized_buckets):
# clusters above SEMDEDUP_CLUSTER_CAP split into ceil(m/cap) hash-mod
# sub-groups, bounding each decide task's Gram matrix at ~cap² instead
# of |cluster|². The recall trade is the LSH guard's, stated not
# silent: pairs only form inside a sub-group, so an oversized
# cluster's τ-components are per-sub (the adversarial 1k-identical-
# vectors test pins the bound and the per-sub canonical contract);
# healthy corpora have sub = 0 everywhere and are bit-unchanged.
#
# Keep/drop rule (dedup_canonical_docs' policy transplanted to
# embedding space): within each within-cluster τ-component the
# CANONICAL member is the one closest to the trained centroid (most
# representative copy — the embedding analogue of keep-the-richest;
# ties break to the lowest vec_id), everything else is marked drop.
# Components, not raw pairs, so the decision is stable under pair
# enumeration order (a drop row names its kept canonical).
#
# Rows-only: k-means training is iterative (no SQL oracle possible —
# same class as emb_kmeans_lloyd); equivalence vs a straight-line
# local numpy replay of assign+pair+union-find is pinned exact in
# tests/test_properties.py, and the no-join single-shuffle shape in
# tests/test_plans.py.

SEMDEDUP_TAU = 0.35  # ~10-25% drop rate on the served corpora (calibrated)
SEMDEDUP_CLUSTER_CAP = 4096  # decide-task bound: Gram work ≤ ~cap² floats
_SEMDEDUP_HANDLES: list[DataFrame] = []


def _semdedup_decide(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-cluster SemDeDup decision (runs once per cluster inside
    applyInPandas; module-level so the numpy-replay test drives the
    IDENTICAL code path locally). Deterministic: members sorted by
    vec_id, cosine from one float64 Gram matrix, union-find over
    τ-edges, canonical = argmin (sqdist, vec_id) per component."""
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    sq = pdf["sqdist"].to_numpy(dtype=np.float64)
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    norms = np.sqrt((X * X).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = (X @ X.T) / np.outer(norms, norms)
    n = len(ids)
    parent = list(range(n))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    ii, jj = np.nonzero(np.triu(cos >= SEMDEDUP_TAU, k=1))
    for a, b in zip(ii.tolist(), jj.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.fromiter((find(i) for i in range(n)), dtype=np.int64, count=n)
    canon = np.empty(n, dtype=np.int64)
    group = np.empty(n, dtype=np.int64)
    for r in np.unique(roots):
        m = roots == r
        mi = np.nonzero(m)[0]
        best = mi[np.lexsort((ids[mi], sq[mi]))[0]]
        canon[m] = ids[best]
        group[m] = ids[mi[0]]  # members sorted by vec_id -> min id
    return pd.DataFrame(
        {
            "vec_id": ids,
            "cluster": pdf["cluster"].to_numpy(dtype=np.int32),
            "group_id": group,
            "canonical_id": canon,
            "is_canonical": ids == canon,
        }
    )


def semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    cent: np.ndarray | None = None,
    cluster_cap: int | None = None,
) -> DataFrame:
    """assign -> per-(cluster, sub) decide, against `cent` (or train
    via kmeans_lloyd_history when None). Assignment is the same
    blockwise ||x||²-2x·c+||c||² Arrow kernel as training
    (row-independent, so batching never changes a row's result). The
    `sub` column is 0 for every cluster at-or-under `cluster_cap`
    (healthy path: identical groups, identical output); an oversized
    cluster is hash-mod split so no decide task ever materializes a
    Gram matrix beyond ~cap² — the assignment relation is cached so
    the size aggregate and the decide branch share one Arrow
    evaluation, and the oversized relation (empty on healthy data)
    broadcast-joins back exactly like dedup.subsalt_oversized_buckets."""
    if cent is None:
        _, _, cent = kmeans_lloyd_history(spark, sf_dir)
    cap = int(cluster_cap if cluster_cap is not None else SEMDEDUP_CLUSTER_CAP)
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent_b = spark.sparkContext.broadcast(cent)

    @F.pandas_udf("struct<cluster: int, sqdist: double>")
    def assign(embs: pd.Series) -> pd.DataFrame:
        c = cent_b.value
        if not len(embs):  # empty Arrow batch: np.stack would raise
            return pd.DataFrame(
                {"cluster": np.empty(0, dtype=np.int32), "sqdist": np.empty(0)}
            )
        x = np.stack([np.asarray(v, dtype=np.float64) for v in embs])
        d2 = (
            (x * x).sum(axis=1, keepdims=True)
            - 2.0 * (x @ c.T)
            + (c * c).sum(axis=1)[None, :]
        )
        best = np.argmin(d2, axis=1)
        return pd.DataFrame(
            {"cluster": best.astype(np.int32), "sqdist": d2[np.arange(len(x)), best]}
        )

    while _SEMDEDUP_HANDLES:
        _SEMDEDUP_HANDLES.pop().unpersist()
    assigned = (
        e.select("vec_id", "embedding", assign(F.col("embedding")).alias("a"))
        .select(
            "vec_id", "embedding",
            F.col("a.cluster").alias("cluster"), F.col("a.sqdist").alias("sqdist"),
        )
        .cache()  # one Arrow assignment feeds both the size agg and the decide
    )
    _SEMDEDUP_HANDLES.append(assigned)
    oversized = (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > cap)
        .select("cluster", F.ceil(F.col("n") / cap).cast("int").alias("n_sub"))
    )
    subbed = (
        assigned.join(F.broadcast(oversized), "cluster", "left")
        .withColumn(
            "sub",
            F.when(F.col("n_sub").isNull(), F.lit(0))
            .otherwise(F.pmod(F.xxhash64(F.col("vec_id")), F.col("n_sub")))
            .cast("int"),
        )
        .drop("n_sub")
    )
    return (
        subbed.groupBy("cluster", "sub")
        .applyInPandas(
            _semdedup_decide,
            "vec_id long, cluster int, group_id long, canonical_id long, is_canonical boolean",
        )
        .orderBy("cluster", "vec_id")
    )


@register("dedup_semantic_clusters")  # rows-only: iterative k-means upstream
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop relation over the embeddings table: one row
    per vector with its cluster, its within-cluster τ-component, the
    component's canonical member and the keep flag — the relation a
    semantic-pruning job feeds to the deletion step (exactly like
    dedup_canonical_docs for textual near-dups)."""
    return semantic_dedup(spark, sf_dir)
