"""Similarity search over the embedding column (SURVEY.md §2B X11).

- q46: brute-force cosine top-k -- the exact baseline. The query set is
  broadcast, the corpus stays partitioned, so the nested-loop scales with
  corpus size / cluster width; cost is O(|Q| * N) dot products.
- q47: LSH-bucketed ANN (random-hyperplane signs) -- the 100 TB path. Each
  vector gets an 8-bit signature; search touches only the query's bucket
  (~N/256 of the corpus). Hyperplane signs derive from the shared md5 hash,
  so the DuckDB oracle reproduces the same buckets and the check is exact.

All vector math is built-in higher-order functions (zip_with/aggregate) in
double precision -- no UDFs, no Python in the hot path. Per-element work is
codegen'd; at real scale the natural upgrade is a pandas_udf that BLAS-batches
the dot products, which q48 demonstrates (oracle-backed via a float32-vs-
float64 tolerance boolean plus margin-safe argmax evidence).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ._cache import cached_df
from ._hashing import h60, h60_sql
from ..tables import load

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
N_PLANES = 8


def _dbl(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b) -> Column:
    """Double-accumulated dot product, ascending index order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a) -> Column:
    """Double-accumulated L2 norm, ascending index order -- the exact
    subexpression _cosine uses, exposed so hot paths can hoist it to a
    per-ROW projection instead of recomputing both norms per candidate
    PAIR (r15: the verify stage then does 1/3 of the float work; the
    value is bit-identical because expression and accumulation order are
    unchanged)."""
    return F.sqrt(F.aggregate(_dbl(a), F.lit(0.0), lambda acc, x: acc + x * x))


def _cosine(a, b) -> Column:
    """Double-accumulated cosine, ascending index order (bit-identical to the
    DuckDB list_transform/list_sum oracle; DuckDB's builtin
    list_cosine_similarity accumulates in float32 and does NOT match)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


# DuckDB fragment: cosine(qe, ce) with identical accumulation
COSINE_SQL = """
  list_sum(list_transform(range(1, len(qe) + 1), i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
   * sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""


# --------------------------------------------------------------------------
# q46: brute-force cosine top-k (exact baseline)
# --------------------------------------------------------------------------

def q46_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Norms hoisted to per-ROW projections on each side (r15): the scored
    cross join evaluates only the dot product per pair instead of dot + both
    norms -- 1/3 of the float work on the O(|Q|*N) stage, bit-identical
    values (same expressions, same accumulation order)."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        _norm("embedding").alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        _norm("embedding").alias("cn"),
    )
    scored = (
        F.broadcast(q).crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot("qe", "ce") / (F.col("qn") * F.col("cn")), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rn").cast("int").alias("rn"))
    )


ORACLE_Q46 = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
s AS (
  SELECT query_id, neighbor_id, round({COSINE_SQL}, 6) AS cos_sim
  FROM q, c WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s)
WHERE rn <= {TOP_K}
"""


# --------------------------------------------------------------------------
# q47: LSH-bucketed approximate NN (random-hyperplane signatures)
# --------------------------------------------------------------------------

DIM = 64  # embedding dimensionality (TESTDATA fixture)


def _plane_sign(p: int, i: int) -> float:
    """+-1 from h60('plane_{p}_{i}') parity, computed driver-side with
    hashlib -- bit-identical to the Spark/DuckDB md5 expression (verified in
    tests/test_properties.py), so the sign vectors can be shipped as
    literals instead of being recomputed per row."""
    import hashlib

    h = int(hashlib.md5(f"plane_{p}_{i}".encode()).hexdigest()[:15], 16)
    return 1.0 if h % 2 == 0 else -1.0


def _buckets(spark: SparkSession, sf_dir: str, n_planes: int = N_PLANES) -> DataFrame:
    """n_planes-bit sign signature per vector, fully columnar: each plane's
    projection is one zip_with/aggregate against a literal sign vector -- no
    row explosion (the posexplode x planes form shuffled 512x the rows).
    The oracle contract covers the default N_PLANES; the parameter exists
    because bucket count must grow with the corpus (2^bits ~ N keeps
    occupancy constant -- tools/scale.py stress measures exactly that)."""
    emb = load(spark, sf_dir, "embeddings")
    bucket = F.lit(0).cast("bigint")
    for p in range(n_planes):
        signs = F.array(*[F.lit(_plane_sign(p, i)) for i in range(1, DIM + 1)])
        proj = F.aggregate(
            F.zip_with("embedding", signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return emb.select("vec_id", "embedding", bucket.alias("bucket"))


def _ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (vec_id, embedding, bucket): the signature build (8
    hyperplane projections per vector) is the expensive linear pass, and
    both q47's query/corpus sides and q49b's candidate generation reuse it.

    The embedding column rides along since r15 (guide §8: attach the heavy
    payload once at artifact-build time): the build scans embeddings anyway,
    so staging the vector costs no extra scan or join, and q47 stops
    re-joining the corpus by vec_id just to get the vector back -- at scale
    that join was two full corpus exchanges per run. q49b's integer-only
    candidate fan-out is unchanged: it reads (vec_id, bucket) and parquet
    column pruning never materializes the vectors (pinned by
    tests/test_plans.py::test_bucketed_neardup_candidates_prune_vectors)."""
    return cached_df(spark, f"ann_buckets:{sf_dir}", lambda: _buckets(spark, sf_dir))


def q47_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: join query and corpus only within the same LSH bucket, then exact
    cosine + top-3 inside the bucket. The bucket equi-join replaces the cross
    product -- the shuffle moves each vector once, keyed by bucket. Both
    sides read the staged (vec_id, embedding, bucket) artifact directly: no
    join back to the embeddings table (r15 plan diff: 3 Exchange -> 1 and
    3 joins -> 1, plans/r15/q47_ann_lsh_*.txt). Norms are hoisted out of
    the per-pair cosine: |q| and |c| are per-ROW projections computed before
    the bucket join (same expression, same accumulation order, bit-identical
    result), so the verify stage does 1/3 of the float work per candidate."""
    vecs = _ann_buckets(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        _norm("embedding").alias("qn"),
        "bucket",
    )
    c = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        _norm("embedding").alias("cn"),
        "bucket",
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot("qe", "ce") / (F.col("qn") * F.col("cn")), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rn").cast("int").alias("rn"))
    )


_PLANE_SIGN_SQL = (
    "CASE WHEN " + h60_sql("'plane_' || p || '_' || i") + " % 2 = 0 THEN 1.0 ELSE -1.0 END"
)

ORACLE_Q47 = f"""
WITH proj AS (
  SELECT vec_id, p,
         list_sum(list_transform(range(1, len(embedding) + 1),
                  i -> CAST(embedding[i] AS DOUBLE) * {_PLANE_SIGN_SQL})) AS s
  FROM embeddings, (SELECT unnest(range({N_PLANES})) AS p)
),
buck AS (
  SELECT vec_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id
),
vecs AS (SELECT e.vec_id, e.embedding, b.bucket FROM embeddings e JOIN buck b ON e.vec_id = b.vec_id),
q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM vecs WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, embedding AS ce, bucket FROM vecs),
s AS (
  SELECT query_id, neighbor_id, round({COSINE_SQL}, 6) AS cos_sim
  FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s)
WHERE rn <= 3
"""


# --------------------------------------------------------------------------
# q48: vectorized (Arrow/pandas) cosine top-k -- the BLAS-batched upgrade
# --------------------------------------------------------------------------

BLAS_TOL = 1e-4  # float32 BLAS vs exact float64 cosine; observed error ~1e-6


def q48_cosine_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q46's scoring via mapInPandas -- queries are closed over (small,
    broadcast-style), each corpus partition arrives as Arrow batches, and
    float32 BLAS does the matrix multiply. Oracle-backed since round 7 (the
    q06/q15b graduation pattern): raw float32 scores can't bit-match a
    float64 oracle, so the emitted row is per-query evidence the oracle CAN
    state exactly -- (a) n_scored, proving the batched scan covered every
    corpus vector exactly once regardless of Arrow batch boundaries; (b)
    within_tol, asserting every float32 score sits within BLAS_TOL=1e-4 of
    the float64 score for the same pair (observed error ~1e-6, so the
    boolean is stable under any BLAS kernel/batch-shape choice); (c)
    top1_neighbor, the float32 argmax (ties by lowest vec_id) -- exact-
    matchable because the fixture's smallest rank-1-to-rank-2 margin is
    >=4.5e-4 at every SF, ~100x the float32 error, so the argmax cannot
    flip. Selection evidence stays, bit-fragile rank tails don't."""
    import numpy as np

    emb = load(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect()
    q_ids = np.array([r["vec_id"] for r in qrows])
    qraw = np.array([r["embedding"] for r in qrows])
    q32 = qraw.astype("float32")
    q32 /= np.linalg.norm(q32, axis=1, keepdims=True)
    q64 = qraw.astype("float64")
    q64 /= np.linalg.norm(q64, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            # one pandas->ndarray conversion per batch; the float32/float64
            # pair are casts of the same values (astype copies, so the
            # in-place normalizations stay independent)
            raw = np.array(list(pdf["embedding"]))
            c32 = raw.astype("float32")
            c32 /= np.linalg.norm(c32, axis=1, keepdims=True)
            c64 = raw.astype("float64")
            c64 /= np.linalg.norm(c64, axis=1, keepdims=True)
            sims = q32 @ c32.T  # the BLAS float32 path under test
            ref = q64 @ c64.T   # float64 reference for the tolerance bound
            nq, nb = sims.shape
            yield pd.DataFrame({
                "query_id": np.repeat(q_ids, nb),
                "neighbor_id": np.tile(pdf["vec_id"].to_numpy(), nq),
                "cos_sim": sims.reshape(-1).astype("float64"),
                "abs_err": np.abs(sims.astype("float64") - ref).reshape(-1),
            })

    scored = emb.select("vec_id", "embedding").mapInPandas(
        score, schema="query_id long, neighbor_id long, cos_sim double, abs_err double"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    return (
        scored.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            (F.sum((F.col("abs_err") > BLAS_TOL).cast("int")) == 0).alias("within_tol"),
            # struct max = highest cos, ties -> highest -neighbor_id = lowest id
            F.max(F.struct(F.col("cos_sim"), (-F.col("neighbor_id")).alias("neg_id"))).alias("m"),
        )
        .select(
            "query_id", "n_scored", "within_tol",
            (-F.col("m.neg_id")).cast("bigint").alias("top1_neighbor"),
        )
    )


ORACLE_Q48 = f"""
WITH n AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) /
           sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
),
q AS (SELECT * FROM n WHERE vec_id < {N_QUERIES}),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(range(1, len(q.u) + 1), i -> q.u[i] * c.u[i])) AS cos
  FROM q, n c
  WHERE q.vec_id <> c.vec_id
),
rk AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn,
         count(*) OVER (PARTITION BY query_id) AS n
  FROM s
)
SELECT query_id,
       CAST(n AS BIGINT)           AS n_scored,
       TRUE                        AS within_tol,
       CAST(neighbor_id AS BIGINT) AS top1_neighbor
FROM rk WHERE rn = 1
"""


# --------------------------------------------------------------------------
# q49: embedding-cosine near-dup pairs (the dedup-by-embedding operator)
# --------------------------------------------------------------------------

COSINE_DUP_THRESHOLD = 0.45  # synthetic corpus max pairwise cos ~0.51/0.60


def _normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, unit-norm double array). Norm is materialized as a column
    BEFORE the per-element divide -- an inline norm expression inside the
    transform lambda would re-evaluate the aggregate per element. Persisted:
    q49's self-pairing and q49b's two candidate-side joins each consume it
    more than once."""

    def build() -> DataFrame:
        emb = load(spark, sf_dir, "embeddings")
        dbl = emb.select("vec_id", _dbl(F.col("embedding")).alias("e"))
        with_norm = dbl.select(
            "vec_id", "e",
            F.sqrt(F.aggregate("e", F.lit(0.0), lambda acc, x: acc + x * x)).alias("nrm"),
        )
        return with_norm.select(
            "vec_id", F.transform("e", lambda x: x / F.col("nrm")).alias("u")
        )

    return cached_df(spark, f"unit_vecs:{sf_dir}", build)


def q49_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vector pairs with cosine >= threshold -- embedding-based near-dup
    detection. Vectors are unit-normalized ONCE (O(N)), so each of the N^2/2
    pairs costs a single dot product instead of dot + two norms (measured
    44s -> ~15s at sf0.1). Exact all-pairs baseline: at corpus scale you'd
    gate through the q47 sign-LSH buckets first, identically to MinHash
    banding; this exact pipeline is what verifies those candidates."""
    def build() -> DataFrame:
        vecs = _normalized(spark, sf_dir)
        a = vecs.select(F.col("vec_id").alias("vec_a"), F.col("u").alias("ua"))
        b = vecs.select(F.col("vec_id").alias("vec_b"), F.col("u").alias("ub"))
        dot = F.aggregate(
            F.zip_with("ua", "ub", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        return (
            a.crossJoin(b)
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b", F.round(dot, 6).alias("cos_sim"))
            .filter(F.col("cos_sim") >= COSINE_DUP_THRESHOLD)
        )

    # The (tiny) verified-pair output is parquet-staged per session so any
    # composite (or a repeated call in the same sweep) reuses it instead of
    # re-running the N^2/2 cross join (~15 s at sf0.1). q49c used to consume
    # this stage as ground truth; since round 8 it audits against a
    # hash-sampled anchor tier instead, so the full tier is only ever paid
    # when q49 itself is asked for.
    return cached_df(spark, f"q49_pairs:{sf_dir}", build)


ORACLE_Q49 = f"""
WITH n AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) /
           sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
),
s AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_sum(list_transform(range(1, len(a.u) + 1), i -> a.u[i] * b.u[i])), 6) AS cos_sim
  FROM n a, n b WHERE a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos_sim FROM s WHERE cos_sim >= {COSINE_DUP_THRESHOLD}
"""


# --------------------------------------------------------------------------
# q49b: bucketed embedding near-dup -- the scale path q49 verifies
# --------------------------------------------------------------------------

PROBE_RADIUS = 2  # multi-probe: buckets within Hamming distance <= 2


def _probe_masks(n_planes: int = N_PLANES) -> list[int]:
    """XOR masks for radius-2 multi-probe: identity, every 1-bit flip, every
    2-bit flip of the signature (1 + n + n(n-1)/2 probes; 37 at the
    default 8 bits)."""
    masks = [0]
    masks += [1 << p for p in range(n_planes)]
    masks += [
        (1 << p1) | (1 << p2)
        for p1 in range(n_planes)
        for p2 in range(p1 + 1, n_planes)
    ]
    return masks


def _q49b_candidates(bk: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """Multi-probe candidate pairs (vec_a, vec_b) from bucket collisions --
    the single definition both the shipped pipeline and the scale
    measurement use (the q202 discipline). Each qualifying pair matches on
    exactly ONE probe mask, so no distinct is needed; vec_a < vec_b fixes
    the orientation."""
    probes = bk.select(
        F.col("vec_id").alias("vec_a"),
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in _probe_masks(n_planes)])
        ).alias("probe"),
    )
    right = bk.select(F.col("vec_id").alias("vec_b"), F.col("bucket").alias("bucket_b"))
    return probes.join(
        right, (F.col("probe") == F.col("bucket_b")) & (F.col("vec_a") < F.col("vec_b"))
    ).select("vec_a", "vec_b")


def _q49b_verify(spark: SparkSession, sf_dir: str, cand: DataFrame) -> DataFrame:
    """Exact unit-vector dot verify of a candidate pair set."""
    vecs = _normalized(spark, sf_dir)
    dot = F.aggregate(
        F.zip_with("ua", "ub", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        cand.join(vecs.select(F.col("vec_id").alias("vec_a"), F.col("u").alias("ua")), "vec_a")
        .join(vecs.select(F.col("vec_id").alias("vec_b"), F.col("u").alias("ub")), "vec_b")
        .select("vec_a", "vec_b", F.round(dot, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= COSINE_DUP_THRESHOLD)
    )


def q49b_cosine_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup WITHOUT the cross product: candidate pairs come
    from sign-LSH bucket collisions (radius-2 multi-probe, so pairs whose
    8-bit signatures differ in <= 2 bits meet), then the exact unit-vector
    dot product verifies each candidate -- the same band-then-verify shape
    as q42's MinHash LSH. Scale design: only (vec_id, probe) integers fan
    out (37x one side); the fat vectors join back by id afterwards, so the
    shuffle never carries a vector more than twice. q49 (all-pairs) is the
    exact baseline that audits this operator's recall."""
    bk = _ann_buckets(spark, sf_dir)
    return _q49b_verify(spark, sf_dir, _q49b_candidates(bk))


def _oracle_q49b(n_planes: int = N_PLANES) -> str:
    """DuckDB twin of the multi-probe LSH near-dup at any plane count. The
    registered oracle covers the fixture's N_PLANES; tools/scale.py oracle
    passes the scaled-bits production recipe (8+⌈log₂K⌉ planes at K× corpus)
    to hash-verify it at 10× through the SAME probe-mask generator."""
    return f"""
WITH proj AS (
  SELECT vec_id, p,
         list_sum(list_transform(range(1, len(embedding) + 1),
                  i -> CAST(embedding[i] AS DOUBLE) * {_PLANE_SIGN_SQL})) AS s
  FROM embeddings, (SELECT unnest(range({n_planes})) AS p)
),
buck AS (
  SELECT vec_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id
),
masks AS (SELECT unnest([{", ".join(str(m) for m in _probe_masks(n_planes))}]) AS mask),
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buck a, masks, buck b
  WHERE xor(a.bucket, mask::BIGINT) = b.bucket AND a.vec_id < b.vec_id
),
n AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) /
           sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
),
s AS (
  SELECT vec_a, vec_b,
         round(list_sum(list_transform(range(1, len(a.u) + 1), i -> a.u[i] * b.u[i])), 6) AS cos_sim
  FROM cand JOIN n a ON vec_a = a.vec_id JOIN n b ON vec_b = b.vec_id
)
SELECT vec_a, vec_b, cos_sim FROM s WHERE cos_sim >= {COSINE_DUP_THRESHOLD}
"""


ORACLE_Q49B = _oracle_q49b()


# --------------------------------------------------------------------------
# q49c: recall/precision audit of the LSH scale path against SAMPLED exact
# truth -- turns "q49 audits q49b" into a driver-checked number that stays
# linear in the corpus (round-8: the full-truth formulation recomputed the
# N^2/2 tier and cost 385 s at 10x in tools/scale.py smoke)
# --------------------------------------------------------------------------

RECALL_SAMPLE_N = 128  # anchors: the 128 smallest h60(vec_id) -- fixed size


def _recall_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-sampled anchor set: the RECALL_SAMPLE_N vectors
    with the smallest h60(vec_id) (vec_id tiebreak), unit-normalized. The
    md5-derived order is corpus-independent pseudo-randomness BOTH engines
    reproduce bit-for-bit (_hashing.py), and sort+limit compiles to Spark's
    TakeOrderedAndProject -- a top-K, not a global sort. Fixed ABSOLUTE
    size is the point: the audited truth tier is |A| * N however large the
    corpus grows (q106's estimator-audit discipline applied to recall).

    Staged via cached_df: three consumers read the anchor set (the truth
    cross-join and the two LSH-side semi-filters), and an unmaterialized
    top-K would re-run the corpus hash-sort once per consumer -- two
    redundant linear passes at exactly the scale this audit exists for."""
    def build() -> DataFrame:
        return (
            _normalized(spark, sf_dir)
            .select("vec_id", "u", h60("CAST(vec_id AS STRING)").alias("hs"))
            .orderBy("hs", "vec_id")
            .limit(RECALL_SAMPLE_N)
            .select(F.col("vec_id").alias("anchor_id"), F.col("u").alias("ua"))
        )

    return cached_df(spark, f"q49c_anchors:{sf_dir}", build)


def q49c_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the q49b multi-probe LSH tier against exact ground truth
    computed on a hash-sampled anchor subset: truth = every pair touching
    one of the RECALL_SAMPLE_N anchors (anchor x corpus, broadcast
    nested-loop -- |A|*N dots, LINEAR in the corpus), LSH side = q49b's
    verified pairs restricted to the same anchors. Every q49b pair passes
    the exact-cosine verify, so precision is 1 by construction (lsh_pairs
    == matched pins that); recall estimates what the radius-2 multi-probe
    misses, unbiased because anchors are chosen blind to the data. q49
    remains the registered full-truth baseline for fixture-scale runs;
    this audit is the one you can afford at 100x."""
    anchors = _recall_anchors(spark, sf_dir)
    corpus = _normalized(spark, sf_dir)
    dot = F.aggregate(
        F.zip_with("ua", "u", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    truth = (
        corpus.crossJoin(F.broadcast(anchors))
        .filter(F.col("anchor_id") != F.col("vec_id"))
        .select(
            F.least("anchor_id", "vec_id").alias("vec_a"),
            F.greatest("anchor_id", "vec_id").alias("vec_b"),
            F.round(dot, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b")
        .distinct()  # both-anchor pairs surface once per endpoint
    )
    aids = anchors.select("anchor_id")
    ls_all = q49b_cosine_neardup_lsh(spark, sf_dir).select("vec_a", "vec_b")
    ls = (
        ls_all.join(F.broadcast(aids.withColumnRenamed("anchor_id", "vec_a")), "vec_a", "left_semi")
        .unionByName(
            ls_all.join(F.broadcast(aids.withColumnRenamed("anchor_id", "vec_b")), "vec_b", "left_semi")
        )
        .distinct()
    )
    j = truth.withColumn("e", F.lit(1)).join(
        ls.withColumn("h", F.lit(1)), ["vec_a", "vec_b"], "full"
    )
    matched = F.count(F.when(F.col("e").isNotNull() & F.col("h").isNotNull(), 1))
    return j.agg(
        F.count("e").alias("exact_pairs"),
        F.count("h").alias("lsh_pairs"),
        matched.alias("matched"),
        F.round(matched.cast("double") / F.count("e"), 6).alias("recall"),
    )


ORACLE_Q49C = f"""
WITH nrm AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) /
           sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
),
anch AS (
  SELECT vec_id AS anchor_id, ua FROM
  (SELECT vec_id, u AS ua, {h60_sql("vec_id::VARCHAR")} AS hs FROM nrm)
  ORDER BY hs, vec_id LIMIT {RECALL_SAMPLE_N}
),
truth AS (
  SELECT DISTINCT least(anchor_id, vec_id) AS vec_a, greatest(anchor_id, vec_id) AS vec_b
  FROM anch, nrm
  WHERE anchor_id <> vec_id
    AND round(list_sum(list_transform(range(1, len(ua) + 1), i -> ua[i] * u[i])), 6)
        >= {COSINE_DUP_THRESHOLD}
),
ls0 AS (SELECT vec_a, vec_b FROM ({ORACLE_Q49B})),
ls AS (
  SELECT DISTINCT vec_a, vec_b FROM ls0
  WHERE vec_a IN (SELECT anchor_id FROM anch) OR vec_b IN (SELECT anchor_id FROM anch)
),
ex AS (SELECT vec_a, vec_b, 1 AS e FROM truth),
lsm AS (SELECT vec_a, vec_b, 1 AS h FROM ls),
j AS (SELECT e, h FROM ex FULL JOIN lsm USING (vec_a, vec_b))
SELECT count(e) AS exact_pairs, count(h) AS lsh_pairs,
       count(CASE WHEN e IS NOT NULL AND h IS NOT NULL THEN 1 END) AS matched,
       round(CAST(count(CASE WHEN e IS NOT NULL AND h IS NOT NULL THEN 1 END) AS DOUBLE)
             / count(e), 6) AS recall
FROM j
"""


# --------------------------------------------------------------------------
# q66: IVF-flat ANN (centroid cells + nprobe=2), the other classic ANN index
# --------------------------------------------------------------------------

N_CELLS = 8   # centroids = embeddings of vec_id 0..7 (deterministic "training")
N_PROBE = 2   # each query searches its 2 nearest cells


def q66_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat: partition the corpus into Voronoi cells around fixed
    centroids, then search only the query's N_PROBE nearest cells --
    complementary to q47's LSH (data-dependent cells vs oblivious
    hyperplanes). Centroids are the first N_CELLS corpus vectors (a
    deterministic stand-in for k-means training; swapping in trained
    centroids changes only the literals). The centroid fetch is a bounded
    N_CELLS-row collect shipped as plan literals, so cell assignment is pure
    columnar arithmetic -- corpus vectors shuffle once, keyed by cell.
    Squared-distance accumulates left-to-right in doubles and ties break on
    cell index via a 1e-9 nudge, keeping the DuckDB oracle bit-exact."""
    cent_vecs = _init_centroids(spark, sf_dir)
    ranked = _ivf_ranked(spark, sf_dir, cent_vecs, f"ivf_ranked:{sf_dir}")
    return _ivf_search(ranked)


def _dist_to(c_vec) -> Column:
    lits = F.array(*[F.lit(float(v)) for v in c_vec])
    return F.aggregate(
        F.zip_with("embedding", lits, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cell_slots(cent_vecs) -> Column:
    """Per-row array of (nudged squared distance, cell index) structs. Field
    order (d, ci) makes array_sort order by distance -- the whole argmin /
    top-N_PROBE is pure projection arithmetic, NO explode, NO window, NO
    shuffle (the round-2 plan showed the explode+row_number formulation
    exchanging the full corpus just to rank 8 per-row candidates)."""
    return F.array(*[
        F.struct((_dist_to(v) + F.lit(i * 1e-9)).alias("d"), F.lit(i).alias("ci"))
        for i, v in enumerate(cent_vecs)
    ])


def cell_argmin(cent_vecs) -> Column:
    """Rank-1 cell index for a row's embedding against literal centroids:
    the pure-projection argmin (nudged distance, index tiebreak). THE
    single assignment expression -- q66's ranking (rank-1 = this), k-means
    training rounds, and vectors.py's hard-negative cells all derive from
    it, so the assignment rule and the shared _ivf_cells_sql oracle cannot
    drift apart."""
    return F.element_at(F.array_sort(_cell_slots(cent_vecs)), 1)["ci"]


def _init_centroids(
    spark: SparkSession, sf_dir: str, n_cells: int = N_CELLS
) -> list[list[float]]:
    """Deterministic init: the first n_cells corpus vectors (bounded
    n_cells-row collect shipped as plan literals)."""
    emb = load(spark, sf_dir, "embeddings")
    rows = sorted(
        emb.filter(F.col("vec_id") < n_cells).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    return [list(r["embedding"]) for r in rows]


def _ivf_ranked(spark: SparkSession, sf_dir: str, cent_vecs, key: str) -> DataFrame:
    """(vec_id, embedding, t2 = two nearest cells) -- staged to parquet once
    so BOTH the corpus side (cell = t2[0].ci) and the probe side (explode of
    both cells) derive from a single embeddings scan instead of two."""
    def build() -> DataFrame:
        emb = load(spark, sf_dir, "embeddings")
        return emb.select(
            "vec_id", "embedding",
            F.slice(F.array_sort(_cell_slots(cent_vecs)), 1, N_PROBE).alias("t2"),
        )

    return cached_df(spark, key, build)


def _ivf_search(ranked: DataFrame) -> DataFrame:
    corpus = ranked.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("t2")[0]["ci"].alias("cell"),
    )
    probes = (
        ranked.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.explode(F.transform("t2", lambda s: s["ci"])).alias("cell"),
        )
    )
    scored = (
        probes.join(corpus, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(_cosine(F.col("qe"), F.col("ce")), 6).alias("cos_sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rn").cast("int").alias("rn"))
    )


_CENT0_SQL = f"""(SELECT vec_id AS ci, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
   FROM embeddings WHERE vec_id < {N_CELLS})"""


def _ivf_cells_sql(cent_rel: str = _CENT0_SQL) -> str:
    """DuckDB twin of the cell ranking against any (ci, cv) centroid
    relation: same centroid values, same left-to-right double accumulation,
    same 1e-9 index nudge."""
    return f"""
  SELECT vec_id, embedding, ci,
         row_number() OVER (PARTITION BY vec_id ORDER BY d) AS rk
  FROM (
    SELECT e.vec_id, e.embedding, c.ci,
           list_sum(list_transform(range(1, {DIM} + 1),
                    i -> (CAST(e.embedding[i] AS DOUBLE) - c.cv[i])
                       * (CAST(e.embedding[i] AS DOUBLE) - c.cv[i]))) + c.ci * 1e-9 AS d
    FROM embeddings e, {cent_rel} c
  )
"""


ORACLE_Q66 = f"""
WITH ranked AS ({_ivf_cells_sql()}),
corpus AS (
  SELECT vec_id AS neighbor_id, embedding AS ce, ci AS cell FROM ranked WHERE rk = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS qe, ci AS cell
  FROM ranked WHERE vec_id < {N_QUERIES} AND rk <= {N_PROBE}
),
s AS (
  SELECT query_id, neighbor_id, round({COSINE_SQL}, 6) AS cos_sim
  FROM probes JOIN corpus USING (cell) WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s)
WHERE rn <= 3
"""


# --------------------------------------------------------------------------
# q66b: IVF-flat ANN with DISTRIBUTED k-means-trained centroids
# --------------------------------------------------------------------------

KMEANS_ITERS = 2   # Lloyd update rounds (init = first N_CELLS vectors)
Q20 = 1 << 20      # fixed-point scale for exact cross-engine centroid means


_CENTROID_MEMO: dict[tuple, list[list[float]]] = {}


def train_centroids(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = N_CELLS,
    init: list[list[float]] | None = None,
) -> list[list[float]]:
    """Distributed Lloyd k-means feeding q66's literal-centroid mechanism.

    Each round is one corpus pass: assign every vector to its nearest
    centroid (the same per-row array-math argmin the search uses -- no
    shuffle), then one partial-aggregated groupBy((cell, dim)) whose output
    is a bounded N_CELLS x DIM rows collected to the driver. At 100 TB
    you'd train on a deterministic hash-sample; the mechanism is unchanged.

    Determinism across engines: centroid means use the integer-moment
    discipline -- each element is floor-quantized to 2^-20 fixed point,
    summed exactly as int64 (order-free), and divided back in doubles once.
    DuckDB replays the identical rounds in unrolled CTEs, so the trained
    centroids (and therefore every assignment) are bit-identical.

    n_cells / init parameterize the cell count (SemDeDup's recipe sizes
    cells to constant occupancy, so at scale n_cells grows with the
    corpus; tools/scale.py stress measures exactly that). The oracle
    contract only covers the default N_CELLS."""
    # memo key carries the init CONTENT (not just its presence): two calls
    # with the same (sf_dir, n_cells) but different explicit seeds must not
    # collide into one cached training result
    init_sig = (
        None if init is None
        else tuple(tuple(float(x) for x in v) for v in init)
    )
    memo_key = (spark.sparkContext.applicationId, sf_dir, n_cells, init_sig)
    hit = _CENTROID_MEMO.get(memo_key)
    if hit is not None:
        return hit
    cent = init if init is not None else _init_centroids(spark, sf_dir, n_cells)
    emb = load(spark, sf_dir, "embeddings")
    for _ in range(KMEANS_ITERS):
        cell = cell_argmin(cent)
        # DIM sum columns in ONE groupBy instead of a posexplode fan-out:
        # the shuffle carries N_CELLS map-combined partial rows per
        # partition, never DIM x corpus exploded rows.
        aggs = [
            F.sum(
                F.floor(F.element_at("embedding", j + 1).cast("double") * F.lit(float(Q20))).cast("bigint")
            ).alias(f"s{j}")
            for j in range(DIM)
        ] + [F.count(F.lit(1)).alias("cnt")]
        stats = (
            emb.select(cell.alias("cell"), "embedding")
            .groupBy("cell")
            .agg(*aggs)
            .collect()
        )
        new = [list(c) for c in cent]
        for r in stats:
            # int/int true division == double division here (both operands
            # well under 2^53, so each cast is exact)
            new[r["cell"]] = [r[f"s{j}"] / r["cnt"] / float(Q20) for j in range(DIM)]
        cent = new
    _CENTROID_MEMO[memo_key] = cent
    return cent


def q66b_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q66 with k-means-trained centroids instead of the first-8-vectors
    stand-in: same Voronoi search (nprobe=2), better-shaped cells. Recall
    against the exact q46 baseline is pinned in tests/test_oracle_parity.py."""
    cent = train_centroids(spark, sf_dir)
    ranked = _ivf_ranked(spark, sf_dir, cent, f"ivf_ranked_trained:{sf_dir}")
    return _ivf_search(ranked)


def _kmeans_round_sql(prev: str, n: int) -> str:
    """One unrolled Lloyd round: assignment by nudged arg_min against the
    `prev` centroid CTE, then exact fixed-point means (empty cells keep the
    previous centroid via the left join + coalesce)."""
    return f"""
a{n} AS (
  SELECT e.vec_id,
         arg_min(c.ci,
                 list_sum(list_transform(range(1, {DIM} + 1),
                          i -> (CAST(e.embedding[i] AS DOUBLE) - c.cv[i])
                             * (CAST(e.embedding[i] AS DOUBLE) - c.cv[i]))) + c.ci * 1e-9) AS cell
  FROM embeddings e, {prev} c GROUP BY e.vec_id
),
s{n} AS (
  SELECT a.cell AS ci, p.i AS pos,
         sum(CAST(floor(CAST(e.embedding[p.i] AS DOUBLE) * {Q20}.0) AS BIGINT)) AS s,
         count(*) AS cnt
  FROM embeddings e JOIN a{n} a USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS i) p
  GROUP BY 1, 2
),
cent{n} AS (
  SELECT c0.ci,
         list(coalesce(CAST(s.s AS DOUBLE) / CAST(s.cnt AS DOUBLE) / {Q20}.0,
                       c0.cv[p.i]) ORDER BY p.i) AS cv
  FROM {prev} c0
  CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS i) p
  LEFT JOIN s{n} s ON s.ci = c0.ci AND s.pos = p.i
  GROUP BY c0.ci
)"""


def _oracle_q66b() -> str:
    rounds = []
    prev = "cent0"
    for n in range(1, KMEANS_ITERS + 1):
        rounds.append(_kmeans_round_sql(prev, n))
        prev = f"cent{n}"
    return f"""
WITH cent0 AS (SELECT ci, cv FROM {_CENT0_SQL} c),
{",".join(rounds)},
ranked AS ({_ivf_cells_sql(prev)}),
corpus AS (
  SELECT vec_id AS neighbor_id, embedding AS ce, ci AS cell FROM ranked WHERE rk = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS qe, ci AS cell
  FROM ranked WHERE vec_id < {N_QUERIES} AND rk <= {N_PROBE}
),
s AS (
  SELECT query_id, neighbor_id, round({COSINE_SQL}, 6) AS cos_sim
  FROM probes JOIN corpus USING (cell) WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s)
WHERE rn <= 3
"""


ORACLE_Q66B = _oracle_q66b()


# --------------------------------------------------------------------------
# q87: per-dimension embedding statistics (variance screening)
# --------------------------------------------------------------------------

def q87_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean and variance per embedding dimension -- the screening pass a
    vector pipeline runs to find dead/collapsed dimensions before indexing
    or compressing. One global aggregate with 2*DIM exact fixed-point
    moment columns (no posexplode fan-out: the shuffle carries one partial
    row per partition), then a stack() to long format. Base moments are
    decimal(18,0) fixed-point so sums widen into decimal -- at corpus scale
    the squared sums overflow int64 -- and the mean/variance derivation
    happens in doubles ONCE, with formula text identical to the oracle
    (q69's sufficient-statistics discipline)."""
    emb = load(spark, sf_dir, "embeddings")
    qcols = [
        F.floor(F.element_at("embedding", j + 1).cast("double") * F.lit(float(Q20)))
        .cast("decimal(18,0)")
        for j in range(DIM)
    ]
    aggs = [F.count(F.lit(1)).alias("n")]
    for j, q in enumerate(qcols):
        aggs.append(F.sum(q).alias(f"s{j}"))
        aggs.append(F.sum(q * q).alias(f"q{j}"))
    wide = emb.agg(*aggs)
    stack_args = ", ".join(f"{j}, s{j}, q{j}" for j in range(DIM))
    long = wide.select(
        "n", F.expr(f"stack({DIM}, {stack_args}) AS (dim, s, sq)")
    )
    mean_q = F.col("s").cast("double") / F.col("n")
    return long.select(
        F.col("dim").cast("int").alias("dim"),
        "n",
        F.round(mean_q / F.lit(float(Q20)), 6).alias("mean"),
        F.round(
            (F.col("sq").cast("double") / F.col("n") - mean_q * mean_q)
            / F.lit(float(Q20) * float(Q20)),
            6,
        ).alias("variance"),
    )


ORACLE_Q87 = f"""
WITH m AS (
  SELECT p.i - 1 AS dim, count(*) AS n,
         sum(CAST(floor(CAST(embedding[p.i] AS DOUBLE) * {Q20}.0) AS DECIMAL(18,0))) AS s,
         sum(CAST(floor(CAST(embedding[p.i] AS DOUBLE) * {Q20}.0) AS DECIMAL(18,0))
           * CAST(floor(CAST(embedding[p.i] AS DOUBLE) * {Q20}.0) AS DECIMAL(18,0))) AS sq
  FROM embeddings, (SELECT unnest(range(1, {DIM} + 1)) AS i) p
  GROUP BY 1
)
SELECT CAST(dim AS INT) AS dim, n,
       round(CAST(s AS DOUBLE) / n / {Q20}.0, 6) AS mean,
       round((CAST(sq AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
             / ({Q20}.0 * {Q20}.0), 6) AS variance
FROM m
"""


# --------------------------------------------------------------------------
# q72: int8 embedding quantization (storage compression for vector corpora)
# --------------------------------------------------------------------------

def q72_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization -- the 4x storage/bandwidth
    compression step before a 100 TB vector corpus is written or shipped to
    an ANN index. scale = 127/max|x|; codes = floor(x*scale) (floor, not
    round: tie-free, so the integer codes are bit-identical cross-engine and
    the oracle check is exact despite the float inputs). Everything is
    higher-order array functions over the embedding column: linear pass,
    no shuffle at all. The codes are emitted as a CSV string because the
    verify harness canonicalizes rows by sorting on every column and an
    array cell is unhashable there; err_ppb is the total reconstruction loss
    in integer parts-per-1e9, floor-quantized per element BEFORE the sum so
    the aggregate is order-independent and exact cross-engine (summing the
    raw doubles first proved fragile: DuckDB's list_sum is not strictly
    sequential)."""
    emb = load(spark, sf_dir, "embeddings")
    with_codes = _int8_base(emb)
    # Per-element error quantized to an integer BEFORE the sum: floor on
    # bit-identical doubles is exact, and an integer sum is order-free --
    # summing the doubles first proved fragile (DuckDB's list_sum is not
    # strictly sequential, so the accumulated double drifted 1 ulp past a
    # floor/round boundary at sf0.01).
    err_ppb = F.aggregate(
        F.zip_with(
            "xd", "q",
            lambda a, b: F.floor(F.abs(a - b / F.col("scale")) * 1e9).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    # err_ppb is computed in its own projection: the final select re-aliases
    # the ROUNDED scale to the name "scale", and a sibling expression in that
    # same select resolving F.col("scale") against the rounded alias would
    # silently shift every error term (observed: off-by-2 ppb totals).
    staged = with_codes.select(
        "vec_id",
        "scale",
        "q",
        F.when(F.col("scale") > 0, err_ppb).otherwise(F.lit(0).cast("bigint")).alias("err_ppb"),
    )
    return staged.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.array_join(F.transform("q", lambda c: c.cast("string")), ",").alias("codes"),
        "err_ppb",
    )


ORACLE_Q72 = """
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd,
         CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0
              THEN 127.0 / list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
              ELSE 0.0 END AS scale
  FROM embeddings
),
wc AS (
  SELECT vec_id, xd, scale,
         list_transform(xd, v -> CAST(floor(v * scale) AS INT)) AS q
  FROM base
)
SELECT vec_id,
       round(scale, 6) AS scale,
       list_aggregate(list_transform(q, c -> CAST(c AS VARCHAR)), 'string_agg', ',') AS codes,
       CASE WHEN scale > 0
            THEN CAST(list_sum(list_transform(range(1, len(xd) + 1),
                     i -> CAST(floor(abs(xd[i] - q[i] / scale) * 1e9) AS BIGINT))) AS BIGINT)
            ELSE 0 END AS err_ppb
FROM wc
"""


# --------------------------------------------------------------------------
# q93: dimension-pair correlation screening on the stored int8 codes
# --------------------------------------------------------------------------

def _int8_base(emb: DataFrame) -> DataFrame:
    """(vec_id, xd, scale, q): the SINGLE definition of q72's symmetric
    int8 storage format -- scale = 127/max|x| (0 for the zero vector),
    codes = floor(x * scale), floor not round so the codes are tie-free
    and bit-identical cross-engine. q72 itself and every screen over the
    stored codes (q93 via _int8_codes) derive from it: a divergent copy
    would leave the screen reading a format the writer no longer emits
    while the screen's own oracle still matched the stale copy."""
    xd = _dbl("embedding")
    maxabs = F.array_max(F.transform(xd, F.abs))
    base = emb.select(
        "vec_id",
        xd.alias("xd"),
        F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0)).alias("scale"),
    )
    codes = F.transform("xd", lambda v: F.floor(v * F.col("scale")).cast("int"))
    return base.select("vec_id", "xd", "scale", codes.alias("q"))


def _int8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged (vec_id, q) int8 quantization codes (q72's format), shared by
    any operator that screens the stored codes."""
    return cached_df(
        spark,
        f"int8_codes:{sf_dir}",
        lambda: _int8_base(load(spark, sf_dir, "embeddings")).select("vec_id", "q"),
    )


def q93_dim_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation for every dimension pair (i < j) of the
    int8-quantized embedding codes (q72's storage format) -- the redundancy
    screen that follows q87's per-dimension variance screen: highly
    correlated dimension pairs are what PCA/OPQ would rotate away before an
    ANN index is built.

    Exactness: the codes are floor-quantized ints (bit-identical
    cross-engine, q72), so every sufficient statistic (n, sx, sxx per dim;
    sxy per pair) is an exact integer sum; corr is then derived with
    identical expression text in both engines -- sqrt and division are
    correctly-rounded IEEE ops over exactly-representable integer inputs,
    so even the doubles hash-match.

    Scale shape: the pair explode amplifies each row by DIM*(DIM-1)/2 =
    2016 structs, but the hash aggregate map-side-combines them to at most
    2016 partial rows per partition before the one shuffle -- this IS the
    outer-product partial aggregation (the BLAS twin would batch it in
    mapInPandas like q48), and the final join of the 2016-row pair table
    against the 64-row dim table is a broadcast. Nothing scales with the
    corpus except the first linear pass.

    The codes are parquet-staged (cached_df) before the pair expansion:
    projection collapse would otherwise inline the whole quantization
    expression -- scale and all, itself O(DIM) -- into every element_at of
    every pair struct, turning a linear pass into O(DIM^3) per row (the
    HOF-recompute trap; observed as a hang, not a slowdown). Staging is
    also the realistic shape: int8 codes ARE the stored index format a
    100 TB pipeline writes once and screens many times."""
    staged = _int8_codes(spark, sf_dir).select("q")

    dims = (
        staged.select(F.posexplode("q").alias("i0", "qi"))
        .select((F.col("i0") + 1).alias("i"), "qi")
        .groupBy("i")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("qi").cast("bigint")).alias("sx"),
            F.sum((F.col("qi") * F.col("qi")).cast("bigint")).alias("sxx"),
        )
    )
    # pair array materialized in its own select before the explode (the
    # HOF-recompute / struct-name analyzer traps, q82's lesson)
    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(DIM - 1)),
            lambda i: F.transform(
                F.sequence(i + 1, F.lit(DIM)),
                lambda j: F.struct(
                    i.alias("i"),
                    j.alias("j"),
                    (F.element_at("q", i) * F.element_at("q", j)).alias("xy"),
                ),
            ),
        )
    )
    pairs = (
        staged.select(pair_arr.alias("ps"))
        .select(F.explode("ps").alias("p"))
        .select("p.i", "p.j", "p.xy")
        .groupBy("i", "j")
        .agg(F.sum(F.col("xy").cast("bigint")).alias("sxy"))
    )
    di = dims.select(F.col("i"), F.col("n"), F.col("sx").alias("sxi"), F.col("sxx").alias("sxxi"))
    dj = dims.select(F.col("i").alias("j"), F.col("sx").alias("sxj"), F.col("sxx").alias("sxxj"))
    # moment PRODUCTS widen to decimal before multiplying: n*sxy grows as
    # N^2 * 127^2 and wraps int64 silently near N ~ 7.5e8 vectors (DuckDB
    # would error on the same formula -- a cross-engine divergence). The
    # DIFFERENCES are only ~N * var, so casting them back to the declared
    # bigint/double output types is exact at any realistic corpus.
    n_d = F.col("n").cast("decimal(38,0)")
    cov = n_d * F.col("sxy") - F.col("sxi").cast("decimal(38,0)") * F.col("sxj")
    var_i = n_d * F.col("sxxi") - F.col("sxi").cast("decimal(38,0)") * F.col("sxi")
    var_j = n_d * F.col("sxxj") - F.col("sxj").cast("decimal(38,0)") * F.col("sxj")
    return (
        pairs.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select(
            "i",
            "j",
            "n",
            cov.cast("bigint").alias("cov_num"),
            F.round(
                cov.cast("double")
                / (F.sqrt(var_i.cast("double")) * F.sqrt(var_j.cast("double"))),
                6,
            ).alias("corr"),
        )
    )


ORACLE_Q93 = f"""
WITH base AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd,
         CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0
              THEN 127.0 / list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
              ELSE 0.0 END AS scale
  FROM embeddings
),
wc AS (SELECT list_transform(xd, v -> CAST(floor(v * scale) AS INT)) AS q FROM base),
dims AS (
  SELECT i, count(*) AS n,
         CAST(sum(q[i]) AS BIGINT) AS sx,
         CAST(sum(q[i] * q[i]) AS BIGINT) AS sxx
  FROM wc, LATERAL (SELECT unnest(range(1, {DIM} + 1)) AS i) ix
  GROUP BY i
),
pairs AS (
  SELECT i, j, CAST(sum(q[i] * q[j]) AS BIGINT) AS sxy
  FROM wc,
       LATERAL (SELECT unnest(range(1, {DIM} + 1)) AS i) ix,
       LATERAL (SELECT unnest(range(i + 1, {DIM} + 1)) AS j) jx
  GROUP BY i, j
)
SELECT i, j, di.n AS n,
       -- HUGEINT products mirror the Spark decimal widening: n*sxy would
       -- overflow BIGINT near N ~ 7.5e8 vectors; the differences fit
       CAST(CAST(di.n AS HUGEINT) * sxy - CAST(di.sx AS HUGEINT) * dj.sx AS BIGINT) AS cov_num,
       round(CAST(CAST(di.n AS HUGEINT) * sxy - CAST(di.sx AS HUGEINT) * dj.sx AS DOUBLE)
             / (sqrt(CAST(CAST(di.n AS HUGEINT) * di.sxx - CAST(di.sx AS HUGEINT) * di.sx AS DOUBLE))
                * sqrt(CAST(CAST(di.n AS HUGEINT) * dj.sxx - CAST(dj.sx AS HUGEINT) * dj.sx AS DOUBLE))), 6) AS corr
FROM pairs
JOIN dims di USING (i)
JOIN dims dj ON pairs.j = dj.i
"""


# --------------------------------------------------------------------------
# q99: label coherence -- nearest-centroid confusion matrix
# --------------------------------------------------------------------------

def q99_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label coherence: per-label centroids, every vector
    assigned to its nearest centroid (squared L2, label-asc tiebreak), and
    the (true label x assigned label) confusion counts -- the cluster-purity
    audit a curation pipeline runs to decide whether a labeling (or an
    embedding model) is usable before training on it.

    Centroids use q66b's exact fixed-point discipline: per-dim sums of
    floor(x * 2^20) as int64 (order-free), one double division chain at the
    end -- so both engines derive bit-identical centroids. Distances are
    sequentially accumulated doubles (the zip_with/aggregate <->
    list_transform/list_sum pairing that is bit-exact cross-engine, q46),
    and the assignment is PURE PROJECTION arithmetic against literal
    centroids (the q66 shape: no explode, no per-vector window exchange) --
    the only shuffles are the two bounded-output label aggregates. The
    centroid collect is n_labels rows, a bounded broadcast-side fetch."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", "label", _dbl("embedding").alias("v"))
    q20 = float(1 << 20)
    aggs = [
        F.sum(F.floor(F.element_at("v", j + 1) * F.lit(q20)).cast("bigint")).alias(f"s{j}")
        for j in range(DIM)
    ] + [F.count(F.lit(1)).alias("cnt")]
    stats = base.groupBy("label").agg(*aggs).collect()
    cents = {
        r["label"]: [r[f"s{j}"] / r["cnt"] / q20 for j in range(DIM)] for r in stats
    }
    slots = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        "v",
                        F.array(*[F.lit(c) for c in cv]),
                        lambda x, c: (x - c) * (x - c),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                F.lit(int(lbl)).alias("lb"),
            )
            for lbl, cv in sorted(cents.items())
        ]
    )
    assigned = F.element_at(F.array_sort(slots), 1)["lb"]
    return (
        base.select("label", assigned.alias("assigned"))
        .groupBy("label", "assigned")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_Q99 = f"""
WITH xd AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
st AS (
  SELECT label, i,
         CAST(sum(CAST(floor(v[i] * 1048576.0) AS BIGINT)) AS BIGINT) AS s,
         count(*) AS cnt
  FROM xd, LATERAL (SELECT unnest(range(1, {DIM} + 1)) AS i) ix
  GROUP BY label, i
),
cent AS (SELECT label, list(s / cnt / 1048576.0 ORDER BY i) AS cv FROM st GROUP BY label),
dist AS (
  SELECT x.vec_id, x.label, c.label AS cand,
         list_sum(list_transform(range(1, {DIM} + 1), i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS d
  FROM xd x, cent c
),
best AS (
  SELECT vec_id, label, cand AS assigned,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cand) AS rn
  FROM dist
)
SELECT label, assigned, count(*) AS n
FROM best WHERE rn = 1
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q103: SemDeDup -- semantic dedup inside trained k-means cells
# --------------------------------------------------------------------------

SEMDEDUP_T = 0.45  # rounded-cosine drop threshold (corpus max pairwise ~0.6)
# Hot-cell guard: a cell with more rows than this gets its self-join salted
# into ceil(n / CAP) slices, so one dense k-means cell cannot concentrate
# its quadratic pair work in a single straggler task. The pair SET is
# unchanged -- salting only re-keys the exchange from (cell) to
# (cell, salt) and replicates the probe side per slice.
SEMDEDUP_CELL_CAP = 1000


def q103_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the corpus with k-means, then
    deduplicate only WITHIN each cluster -- a vector is dropped when a
    LOWER-id vector in the same cell has rounded cosine >= the threshold.
    The whole point is the cost shape: candidate pairs are confined to a
    cell, so the pairwise step is quadratic in cell size but linear in
    corpus size, and the pair join is a cell-keyed equi-join (no cartesian,
    no cross-cell traffic). Reuses q66b's trained centroids AND its staged
    (vec_id, embedding, cell) parquet, so the corpus is scanned once for
    both queries in a session. Emits the per-cell dedup report (vectors,
    candidate pairs, dropped, kept) -- N_CELLS rows.

    Scale guard: the within-cell join is salted once a cell exceeds
    SEMDEDUP_CELL_CAP rows -- side A keyed by (cell, vec_id % k), side B
    replicated across the k salts -- so the hottest cell's quadratic work
    spreads over ceil(n/CAP) tasks instead of one straggler. k=1 for every
    cell under the cap, so small cells pay nothing extra, and the emitted
    pair multiset is identical either way (asserted by the oracle compare,
    whose SQL knows nothing of salting).

    Exactness: cell assignment inherits q66b's bit-identical fixed-point
    centroids; the drop rule compares the ROUNDED cosine (identical
    expression tree both engines), and every output is an integer count."""
    cent = train_centroids(spark, sf_dir)
    ranked = _ivf_ranked(spark, sf_dir, cent, f"ivf_ranked_trained:{sf_dir}")
    return _semdedup_from_ranked(ranked)


def _cell_salted(vecs: DataFrame) -> DataFrame:
    """The hot-cell salting scaffold shared by q103 and q133: per-cell salt
    count k = ceil(n / SEMDEDUP_CELL_CAP) (1 for every cell under the cap),
    broadcast-joined back so each row carries its cell's k. The caller
    builds its probe side keyed by pmod(vec_id, k) and its build side
    replicated across explode(sequence(0, k-1)) -- one definition of the
    skew guard, so a cap or ceil change cannot desynchronize the two
    operators' straggler behavior."""
    cell_k = vecs.groupBy("cell").agg(
        F.greatest(
            F.lit(1), F.ceil(F.count(F.lit(1)) / SEMDEDUP_CELL_CAP)
        ).cast("int").alias("k")
    )
    return vecs.join(F.broadcast(cell_k), "cell")


def _semdedup_from_ranked(ranked: DataFrame) -> DataFrame:
    """The cell-confined dedup report over any (vec_id, embedding, t2)
    staging -- q103 uses the N_CELLS oracle contract; tools/scale.py stress
    feeds it corpus-proportional cell counts to measure the Σcell²-vs-
    linear cost shape."""
    # unit-normalize once (q49's optimization) as a pure PROJECTION of the
    # staged row -- joining the separate unit-vector stage here would
    # shuffle the corpus by vec_id just to fetch a value derivable in place
    dbl = _dbl(F.col("embedding"))
    with_norm = ranked.select(
        "vec_id",
        F.col("t2")[0]["ci"].alias("cell"),
        dbl.alias("e"),
        F.sqrt(F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x)).alias("nrm"),
    )
    vecs = with_norm.select(
        "vec_id", "cell", F.transform("e", lambda x: x / F.col("nrm")).alias("u")
    )
    salted = _cell_salted(vecs)
    a = salted.select(
        "cell",
        F.pmod("vec_id", F.col("k")).cast("int").alias("salt"),
        F.col("vec_id").alias("vec_a"),
        F.col("u").alias("ua"),
    )
    b = salted.select(
        "cell",
        F.explode(F.sequence(F.lit(0), F.col("k") - 1)).alias("salt"),
        F.col("vec_id").alias("vec_b"),
        F.col("u").alias("ub"),
    )
    dot = F.aggregate(
        F.zip_with("ua", "ub", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    pairs = (
        a.join(b, ["cell", "salt"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("cell", "vec_a", "vec_b", F.round(dot, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= SEMDEDUP_T)
    )
    dropped = pairs.select("cell", F.col("vec_b").alias("vec_id")).distinct()
    pair_counts = pairs.groupBy("cell").agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    drop_counts = dropped.groupBy("cell").agg(F.count(F.lit(1)).alias("n_dropped"))
    return (
        vecs.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .join(pair_counts, "cell", "left")
        .join(drop_counts, "cell", "left")
        .select(
            "cell",
            "n_vecs",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            (F.col("n_vecs") - F.coalesce("n_dropped", F.lit(0))).alias("n_kept"),
        )
    )


def _oracle_q103(cent0_sql: str = _CENT0_SQL) -> str:
    """DuckDB twin of the trained-cell SemDeDup report against any (ci, cv)
    init relation. The registered q103 oracle uses the fixture contract
    (first-N_CELLS init); tools/scale.py oracle passes the scaled-cells init
    (8 seeds per inflated copy) to hash-verify the production recipe at 10x
    corpus through the SAME unrolled Lloyd rounds and drop rule."""
    rounds = []
    prev = "cent0"
    for n in range(1, KMEANS_ITERS + 1):
        rounds.append(_kmeans_round_sql(prev, n))
        prev = f"cent{n}"
    return f"""
WITH cent0 AS (SELECT ci, cv FROM {cent0_sql} c),
{",".join(rounds)},
ranked AS ({_ivf_cells_sql(prev)}),
n AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) /
           sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
),
assigned AS (
  SELECT r.vec_id, n.u, r.ci AS cell
  FROM ranked r JOIN n ON r.vec_id = n.vec_id
  WHERE r.rk = 1
),
pairs AS (
  SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_sum(list_transform(range(1, len(a.u) + 1), i -> a.u[i] * b.u[i])), 6) AS cos_sim
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
dup AS (SELECT * FROM pairs WHERE cos_sim >= {SEMDEDUP_T}),
pc AS (SELECT cell, count(*) AS n_dup_pairs FROM dup GROUP BY cell),
dc AS (SELECT cell, count(*) AS n_dropped FROM (SELECT DISTINCT cell, vec_b FROM dup) GROUP BY cell)
SELECT v.cell, v.n_vecs,
       coalesce(pc.n_dup_pairs, 0) AS n_dup_pairs,
       coalesce(dc.n_dropped, 0)   AS n_dropped,
       v.n_vecs - coalesce(dc.n_dropped, 0) AS n_kept
FROM (SELECT cell, count(*) AS n_vecs FROM assigned GROUP BY cell) v
LEFT JOIN pc USING (cell)
LEFT JOIN dc USING (cell)
"""


ORACLE_Q103 = _oracle_q103()


# --------------------------------------------------------------------------
# q133: semantic decontamination -- test-split vectors near ANY train vector
# --------------------------------------------------------------------------

DECON_T = 0.42  # rounded-cosine contamination threshold


def q133_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: a TEST-split vector is contaminated
    when some TRAIN-split vector has rounded cosine >= DECON_T -- the
    semantic complement of q104's lexical 8-gram decontam (paraphrased
    leakage that shares no n-grams). The split is the deterministic q36
    hash split applied to vec_id, so it replays identically in the oracle.

    Cost shape is q103's: candidate pairs are confined to a trained k-means
    cell (reusing q66b's bit-exact centroids AND its staged assignment
    parquet -- zero extra corpus scans in a session that already ran
    q66b/q103), so the test x train pairing is quadratic only within a
    cell; the same SEMDEDUP_CELL_CAP salting spreads a hot cell's work
    across ceil(n/CAP) tasks. Output: the per-cell contamination report
    every eval-set release publishes (test size, train size, contaminated
    count, ppm) -- N_CELLS rows. The split is the FULL q36 3-way contract
    (text.split_bucket): the val slice (buckets 80-89) is excluded from
    BOTH sides -- counting it as test (the pre-round-8 behavior) doubled
    the denominator and reported val vectors as contaminated test docs."""
    from .text import split_bucket

    cent = train_centroids(spark, sf_dir)
    ranked = _ivf_ranked(spark, sf_dir, cent, f"ivf_ranked_trained:{sf_dir}")
    dbl = _dbl(F.col("embedding"))
    with_norm = ranked.select(
        "vec_id",
        F.col("t2")[0]["ci"].alias("cell"),
        dbl.alias("e"),
        F.sqrt(F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x)).alias("nrm"),
    )
    bucket = split_bucket("vec_id")
    vecs = with_norm.select(
        "vec_id",
        "cell",
        F.transform("e", lambda x: x / F.col("nrm")).alias("u"),
        (bucket < 80).alias("is_train"),
        (bucket >= 90).alias("is_test"),
    )
    salted = _cell_salted(vecs)
    test_side = salted.filter(F.col("is_test")).select(
        "cell",
        F.pmod("vec_id", F.col("k")).cast("int").alias("salt"),
        F.col("vec_id").alias("test_id"),
        F.col("u").alias("ut"),
    )
    train_side = salted.filter(F.col("is_train")).select(
        "cell",
        F.explode(F.sequence(F.lit(0), F.col("k") - 1)).alias("salt"),
        F.col("u").alias("ua"),
    )
    dot = F.aggregate(
        F.zip_with("ut", "ua", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    contam = (
        test_side.join(train_side, ["cell", "salt"])
        .filter(F.round(dot, 6) >= DECON_T)
        .select("cell", "test_id")
        .distinct()
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_contam"))
    )
    counts = vecs.groupBy("cell").agg(
        F.sum(F.when(F.col("is_train"), 1).otherwise(0)).cast("bigint").alias("n_train"),
        F.sum(F.when(F.col("is_test"), 1).otherwise(0)).cast("bigint").alias("n_test"),
    )
    return (
        counts.join(contam, "cell", "left")
        .select(
            "cell",
            "n_train",
            "n_test",
            F.coalesce("n_contam", F.lit(0)).cast("bigint").alias("n_contam"),
            F.expr(
                "CASE WHEN n_test > 0 THEN CAST(coalesce(n_contam, 0) * 1000000 DIV n_test AS BIGINT) END"
            ).alias("contam_ppm"),
        )
    )


def _oracle_q133() -> str:
    from .text import split_bucket_sql

    rounds = []
    prev = "cent0"
    for n in range(1, KMEANS_ITERS + 1):
        rounds.append(_kmeans_round_sql(prev, n))
        prev = f"cent{n}"
    bk = split_bucket_sql("r.vec_id")
    return f"""
WITH cent0 AS (SELECT ci, cv FROM {_CENT0_SQL} c),
{",".join(rounds)},
ranked AS ({_ivf_cells_sql(prev)}),
n AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) /
           sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
),
assigned AS (
  -- the FULL q36 3-way split: val (buckets 80-89) belongs to neither side
  SELECT r.vec_id, n.u, r.ci AS cell,
         {bk} < 80 AS is_train, {bk} >= 90 AS is_test
  FROM ranked r JOIN n ON r.vec_id = n.vec_id
  WHERE r.rk = 1
),
contam AS (
  SELECT cell, count(*) AS n_contam
  FROM (
    SELECT DISTINCT t.cell, t.vec_id
    FROM assigned t JOIN assigned a
      ON t.cell = a.cell AND t.is_test AND a.is_train
    WHERE round(list_sum(list_transform(range(1, len(t.u) + 1), i -> t.u[i] * a.u[i])), 6) >= {DECON_T}
  )
  GROUP BY cell
),
counts AS (
  SELECT cell,
         CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         CAST(sum(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT) AS n_test
  FROM assigned GROUP BY cell
)
SELECT c.cell, c.n_train, c.n_test,
       CAST(coalesce(ct.n_contam, 0) AS BIGINT) AS n_contam,
       CASE WHEN c.n_test > 0
            THEN CAST(coalesce(ct.n_contam, 0) * 1000000 // c.n_test AS BIGINT) END AS contam_ppm
FROM counts c LEFT JOIN contam ct USING (cell)
"""


ORACLE_Q133 = _oracle_q133()


# --------------------------------------------------------------------------
# q146: per-source embedding drift (cosine of source mean to corpus mean)
# --------------------------------------------------------------------------

Q12C = 10**12  # fixed-point scale for the cosine's per-dim contributions


def q146_source_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift per source shard: the cosine between each
    source's MEAN embedding and the corpus mean -- the vector-space twin
    of q125's token-space divergence matrix (a shard whose centroid swings
    away from the corpus is changing topic/style even if its vocabulary
    looks stable). Joins documents to embeddings on the shared id space
    (vec_id = doc_id; embeddings lag ingest, so the inner join scopes the
    report to embedded docs identically in both engines).

    Plan shape: ONE corpus join + one grouped aggregate with DIM exact
    fixed-point sum columns (q87's wide-aggregate discipline -- the
    shuffle carries per-partition partials, never a DIM-fold explode);
    the S-row result unpivots via stack() and everything after runs on
    S x DIM rows. Exactness: means derive from exact integer sums; each
    per-dim cosine contribution is floor-quantized to 1e-12 before the
    integer sum (q92's order-free discipline), and the final
    dot/sqrt/round formula text is identical in both engines."""
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    j = emb.join(docs, "vec_id")
    aggs = [F.count(F.lit(1)).alias("n_s")] + [
        F.sum(
            F.floor(F.element_at("embedding", k + 1).cast("double") * F.lit(float(Q20)))
            .cast("decimal(18,0)")
        ).alias(f"s{k}")
        for k in range(DIM)
    ]
    wide = j.groupBy("source").agg(*aggs)
    stack_args = ", ".join(f"{k}, s{k}" for k in range(DIM))
    long = wide.select(
        "source", "n_s", F.expr(f"stack({DIM}, {stack_args}) AS (dim, s)")
    )
    wd = W.partitionBy("dim")
    per = long.select(
        "source",
        "n_s",
        "dim",
        (F.col("s").cast("double") / F.col("n_s") / F.lit(float(Q20))).alias("a"),
        (
            F.sum("s").over(wd).cast("double")
            / F.sum("n_s").over(wd)
            / F.lit(float(Q20))
        ).alias("b"),
    ).select(
        "source",
        "n_s",
        F.floor(F.col("a") * F.col("b") * F.lit(float(Q12C))).cast("bigint").alias("ab"),
        F.floor(F.col("a") * F.col("a") * F.lit(float(Q12C))).cast("bigint").alias("aa"),
        F.floor(F.col("b") * F.col("b") * F.lit(float(Q12C))).cast("bigint").alias("bb"),
    )
    g = per.groupBy("source").agg(
        F.max("n_s").cast("bigint").alias("n_vecs"),
        F.sum("ab").alias("dotq"),
        F.sum("aa").alias("naq"),
        F.sum("bb").alias("nbq"),
    )
    drift = F.when(
        (F.col("naq") > 0) & (F.col("nbq") > 0),
        F.round(
            F.col("dotq")
            / (F.sqrt(F.col("naq").cast("double")) * F.sqrt(F.col("nbq").cast("double"))),
            6,
        ),
    )
    return g.select("source", "n_vecs", drift.alias("drift_cos6"))


ORACLE_Q146 = f"""
WITH m AS (
  SELECT d.source, p.i AS dim, count(*) AS n_s,
         sum(CAST(floor(CAST(e.embedding[p.i] AS DOUBLE) * {Q20}.0) AS DECIMAL(18,0))) AS s
  FROM embeddings e
  JOIN documents d ON e.vec_id = d.doc_id,
       (SELECT unnest(range(1, {DIM} + 1)) AS i) p
  GROUP BY 1, 2
),
ab AS (
  SELECT source, n_s,
         CAST(s AS DOUBLE) / n_s / {Q20}.0 AS a,
         CAST(sum(s) OVER (PARTITION BY dim) AS DOUBLE)
           / sum(n_s) OVER (PARTITION BY dim) / {Q20}.0 AS b
  FROM m
),
per AS (
  SELECT source, n_s,
         CAST(floor(a * b * {Q12C}.0) AS BIGINT) AS ab,
         CAST(floor(a * a * {Q12C}.0) AS BIGINT) AS aa,
         CAST(floor(b * b * {Q12C}.0) AS BIGINT) AS bb
  FROM ab
),
g AS (
  SELECT source,
         CAST(max(n_s) AS BIGINT) AS n_vecs,
         CAST(sum(ab) AS BIGINT) AS dotq,
         CAST(sum(aa) AS BIGINT) AS naq,
         CAST(sum(bb) AS BIGINT) AS nbq
  FROM per GROUP BY source
)
SELECT source, n_vecs,
       CASE WHEN naq > 0 AND nbq > 0
            THEN round(dotq / (sqrt(CAST(naq AS DOUBLE)) * sqrt(CAST(nbq AS DOUBLE))), 6)
       END AS drift_cos6
FROM g
"""


# --------------------------------------------------------------------------
# q117: PCA top component via power iteration on exact sufficient statistics
# --------------------------------------------------------------------------

PCA_ITERS = 8
QT = 10**12   # per-term fixed point inside the matvec / norm sums
QV = 10**9    # eigenvector re-quantization between iterations


def q117_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus -- the direction a
    vector pipeline inspects for collapsed/dominant axes before compressing
    or indexing. The DISTRIBUTED work is one pass of exact covariance
    moments: per-row Q20-quantized values explode into the (i<=j) upper
    triangle (map-side combined, <=2080 partial rows per partition -- the
    q93 shape) plus 64 columnar mean sums as decimals (int64 would overflow
    at corpus scale). The 64x64 eigen-solve then runs on the DRIVER, which
    is how MLlib's PCA also treats small feature counts: the matrix is
    constant-sized no matter the corpus.

    Cross-engine exactness for an ITERATIVE float algorithm: a plain SQL
    SUM over matvec terms has no defined order, so every sum inside the
    iteration is floor-quantized per term (1e-12) and accumulated as
    integers (order-free); the eigenvector is re-quantized to 1e-9 after
    each normalize, so both engines enter every iteration with identical
    doubles. The oracle unrolls the same PCA_ITERS rounds in CTEs. Output
    loadings are the quantized doubles themselves -- no final rounding
    step to disagree on."""
    import math

    emb = load(spark, sf_dir, "embeddings")
    qv = emb.select(
        F.expr(f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {Q20}) AS DECIMAL(18,0)))").alias("qv")
    )
    pairs = (
        qv.select(
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, {DIM}), i -> "
                    f"transform(sequence(i, {DIM}), j -> "
                    "struct(i AS i, j AS j, element_at(qv, i) * element_at(qv, j) AS prod))))"
                )
            ).alias("t")
        )
        .groupBy(F.col("t.i").alias("i"), F.col("t.j").alias("j"))
        .agg(F.sum("t.prod").alias("p"))
    )
    sums = qv.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.element_at("qv", k + 1)).alias(f"s{k}") for k in range(DIM)],
    ).collect()[0]
    n = int(sums["n"])
    s = [int(sums[f"s{k}"]) for k in range(DIM)]
    p = {(int(r["i"]) - 1, int(r["j"]) - 1): int(r["p"]) for r in pairs.collect()}

    q2 = float(Q20) * float(Q20)
    cmat = [[0.0] * DIM for _ in range(DIM)]
    for i in range(DIM):
        for j in range(i, DIM):
            c = (float(p[(i, j)]) / n - (float(s[i]) / n) * (float(s[j]) / n)) / q2
            cmat[i][j] = c
            cmat[j][i] = c

    v = [0.125] * DIM  # 1/sqrt(64), exactly representable
    for _ in range(PCA_ITERS):
        w = [
            float(sum(math.floor(cmat[i][j] * v[j] * QT) for j in range(DIM))) / QT
            for i in range(DIM)
        ]
        nrm = math.sqrt(float(sum(math.floor(wi * wi * QT) for wi in w)) / QT)
        v = [math.floor(wi / nrm * QV) / QV for wi in w]

    return spark.createDataFrame(
        [(i, v[i]) for i in range(DIM)], "dim int, loading double"
    )


def _oracle_q117() -> str:
    rounds = []
    prev = "v0"
    for k in range(1, PCA_ITERS + 1):
        # AS MATERIALIZED: every w{k} is referenced twice (norm + update),
        # so inlining doubles the evaluated tree per iteration -- 2^ITERS
        # blowup (observed: 148 s at sf0.001; materialized: sub-second)
        rounds.append(f"""
w{k} AS MATERIALIZED (
  SELECT c.i,
         CAST(sum(CAST(floor(c.cij * v.v * {QT}.0) AS BIGINT)) AS DOUBLE) / {QT}.0 AS w
  FROM cmat c JOIN {prev} v ON c.j = v.i
  GROUP BY c.i
),
n{k} AS MATERIALIZED (
  SELECT sqrt(CAST(sum(CAST(floor(w * w * {QT}.0) AS BIGINT)) AS DOUBLE) / {QT}.0) AS nrm FROM w{k}
),
v{k} AS MATERIALIZED (SELECT i, floor(w / nrm * {QV}.0) / {QV}.0 AS v FROM w{k}, n{k})""")
        prev = f"v{k}"
    return f"""
WITH long AS (
  -- long format (row, dim, quantized value): the pair moments come from a
  -- row-keyed self-join (64x64 per row through a hash join) instead of
  -- per-row list indexing inside a 10M-element cross product, which was
  -- ~13x slower in DuckDB
  SELECT r, i, CAST(floor(CAST(embedding[i] AS DOUBLE) * {Q20}) AS HUGEINT) AS v
  FROM (SELECT row_number() OVER () AS r, embedding FROM embeddings),
       (SELECT unnest(range(1, {DIM} + 1)) AS i)
),
n AS (SELECT count(*) AS c FROM embeddings),
s AS (SELECT i, sum(v) AS s FROM long GROUP BY i),
p AS (
  SELECT a.i, b.i AS j, sum(a.v * b.v) AS p
  FROM long a JOIN long b ON a.r = b.r AND a.i <= b.i
  GROUP BY 1, 2
),
ctri AS (
  SELECT p.i, p.j,
         (CAST(p.p AS DOUBLE) / n.c
          - (CAST(si.s AS DOUBLE) / n.c) * (CAST(sj.s AS DOUBLE) / n.c))
         / ({Q20}.0 * {Q20}.0) AS cij
  FROM p JOIN s si ON si.i = p.i JOIN s sj ON sj.i = p.j, n
),
cmat AS MATERIALIZED (
  SELECT i, j, cij FROM ctri
  UNION ALL
  SELECT j, i, cij FROM ctri WHERE i < j
),
v0 AS (SELECT unnest(range(1, {DIM} + 1)) AS i, 0.125 AS v),
{",".join(rounds)}
SELECT CAST(i - 1 AS INT) AS dim, v AS loading FROM {prev}
"""


ORACLE_Q117 = _oracle_q117()


# --------------------------------------------------------------------------
# q243: maximal-marginal-relevance (MMR) diversified re-ranking
# --------------------------------------------------------------------------

MMR_NQ = 4          # query vectors: vec_id < 4
MMR_CAND = 20       # relevance candidates fed to the MMR loop
MMR_K = 5           # diversified picks returned per query
MMR_LAMBDA_PPM = 700_000  # relevance weight; 1 - lambda penalizes redundancy


def q243_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal marginal relevance re-ranking (Carbonell & Goldstein
    1998): from each query's top-20 cosine candidates, pick 5 results
    that trade relevance against redundancy -- pick r maximizes
    lambda*sim(q,d) - (1-lambda)*max over already-picked s of
    sim(d,s). This is THE post-retrieval diversifier for near-dup-heavy
    corpora: a plain top-k returns 5 copies of the same document, MMR
    returns the cluster once plus genuinely different results.

    Exactness: similarities floor-quantize to integer micro units
    (floor of bit-identical doubles -- the shared ascending-index
    cosine tree), so every MMR score is the exact integer
    LAMBDA_PPM*sim_micro - (1e6-LAMBDA_PPM)*penalty_micro and the
    greedy argmax ties break on vec_id; no float ordering crosses the
    engine boundary. Scores emit raw (1e-12-scaled) -- dividing could
    hit the signed DIV/floor divergence.

    Scale: candidate generation is the broadcast-query scan (q46's
    shape); the MMR loop runs on the STAGED candidate and pairwise
    tables -- NQ*CAND and NQ*CAND^2 rows, driver-composed fixed K
    rounds of bounded joins, independent of corpus size. The 400-cell
    pairwise table is the whole quadratic cost, confined to the
    candidate set by construction."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < MMR_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"))

    def build_cand() -> DataFrame:
        scored = (
            F.broadcast(q)
            .crossJoin(c)
            .filter(F.col("query_id") != F.col("cand_id"))
            .select(
                "query_id", "cand_id", "ce",
                F.floor(_cosine(F.col("qe"), F.col("ce")) * 1_000_000)
                .cast("bigint").alias("squ"),
            )
        )
        wq = W.partitionBy("query_id").orderBy(F.desc("squ"), "cand_id")
        return (
            scored.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= MMR_CAND)
            .select("query_id", "cand_id", "ce", "squ")
        )

    cand = cached_df(spark, f"q243_cand:{sf_dir}", build_cand)

    def build_pairs() -> DataFrame:
        a, b = cand.alias("a"), cand.alias("b")
        return a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.cand_id") != F.col("b.cand_id")),
        ).select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.cand_id").alias("cand_id"),
            F.col("b.cand_id").alias("other_id"),
            F.floor(_cosine(F.col("a.ce"), F.col("b.ce")) * 1_000_000)
            .cast("bigint").alias("sp"),
        )

    pairs = cached_df(spark, f"q243_pairs:{sf_dir}", build_pairs)
    simq = cand.select("query_id", "cand_id", "squ")

    wpick = W.partitionBy("query_id")
    first = (
        simq.withColumn(
            "rn", F.row_number().over(wpick.orderBy(F.desc("squ"), "cand_id"))
        )
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.lit(1).cast("int").alias("pick_round"),
            F.col("cand_id").alias("vec_id"),
            (F.col("squ") * MMR_LAMBDA_PPM).alias("mmr_score_p12"),
        )
    )
    picked = first
    for r in range(2, MMR_K + 1):
        pk = picked.select("query_id", F.col("vec_id").alias("other_id"))
        remaining = simq.join(
            picked.select("query_id", F.col("vec_id").alias("cand_id")),
            ["query_id", "cand_id"],
            "anti",
        )
        pen = (
            pairs.join(F.broadcast(pk), ["query_id", "other_id"])
            .groupBy("query_id", "cand_id")
            .agg(F.max("sp").alias("pen"))
        )
        scored_r = remaining.join(pen, ["query_id", "cand_id"]).select(
            "query_id", "cand_id",
            (
                F.col("squ") * MMR_LAMBDA_PPM
                - F.col("pen") * (1_000_000 - MMR_LAMBDA_PPM)
            ).alias("score"),
        )
        pick_r = (
            scored_r.withColumn(
                "rn",
                F.row_number().over(wpick.orderBy(F.desc("score"), "cand_id")),
            )
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                F.lit(r).cast("int").alias("pick_round"),
                F.col("cand_id").alias("vec_id"),
                F.col("score").alias("mmr_score_p12"),
            )
        )
        picked = picked.unionByName(pick_r)
    return picked


def _oracle_q243() -> str:
    L = MMR_LAMBDA_PPM
    rounds = []
    prev = "p1"
    for r in range(2, MMR_K + 1):
        rounds.append(f"""r{r} AS MATERIALIZED (
  SELECT query_id, {r} AS pick_round, cand_id AS vec_id, score AS mmr_score_p12
  FROM (
    SELECT s.query_id, s.cand_id,
           s.squ * {L} - pen.pen * {1_000_000 - L} AS score,
           row_number() OVER (
             PARTITION BY s.query_id
             ORDER BY s.squ * {L} - pen.pen * {1_000_000 - L} DESC, s.cand_id
           ) AS rn
    FROM simq s
    JOIN (
      SELECT p.query_id, p.cand_id, max(p.sp) AS pen
      FROM pairs p JOIN {prev} k
        ON p.query_id = k.query_id AND p.other_id = k.vec_id
      GROUP BY p.query_id, p.cand_id
    ) pen ON s.query_id = pen.query_id AND s.cand_id = pen.cand_id
    WHERE NOT EXISTS (SELECT 1 FROM {prev} k2
                      WHERE k2.query_id = s.query_id AND k2.vec_id = s.cand_id)
  ) WHERE rn = 1
),
p{r} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM r{r})""")
        prev = f"p{r}"
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < {MMR_NQ}),
c AS (SELECT vec_id AS cand_id, embedding AS ce FROM embeddings),
cand AS MATERIALIZED (
  SELECT query_id, cand_id, ce, squ FROM (
    SELECT query_id, cand_id, ce,
           CAST(floor(({COSINE_SQL}) * 1000000) AS BIGINT) AS squ,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY CAST(floor(({COSINE_SQL}) * 1000000) AS BIGINT) DESC,
                      cand_id) AS rn
    FROM q, c WHERE query_id <> cand_id
  ) WHERE rn <= {MMR_CAND}
),
pairs AS MATERIALIZED (
  SELECT a.query_id, a.cand_id, b.cand_id AS other_id,
         CAST(floor((
  list_sum(list_transform(range(1, len(a.ce) + 1),
           i -> CAST(a.ce[i] AS DOUBLE) * CAST(b.ce[i] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(a.ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
   * sqrt(list_sum(list_transform(b.ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
         ) * 1000000) AS BIGINT) AS sp
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
),
simq AS MATERIALIZED (SELECT query_id, cand_id, squ FROM cand),
p1 AS MATERIALIZED (
  SELECT query_id, 1 AS pick_round, cand_id AS vec_id,
         squ * {L} AS mmr_score_p12
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY squ DESC, cand_id) AS rn
        FROM simq) WHERE rn = 1
),
{",".join(rounds)}
SELECT query_id, CAST(pick_round AS INT) AS pick_round, vec_id,
       CAST(mmr_score_p12 AS BIGINT) AS mmr_score_p12
FROM {prev}
"""


QUERIES = {
    "q243_mmr_rerank": q243_mmr_rerank,
    "q46_cosine_topk": q46_cosine_topk,
    "q49_cosine_neardup": q49_cosine_neardup,
    "q49b_cosine_neardup_lsh": q49b_cosine_neardup_lsh,
    "q49c_lsh_recall": q49c_lsh_recall,
    "q47_ann_lsh": q47_ann_lsh,
    "q66_ivf_ann": q66_ivf_ann,
    "q66b_ivf_trained": q66b_ivf_trained,
    "q72_embed_quantize": q72_embed_quantize,
    "q87_embed_dim_stats": q87_embed_dim_stats,
    "q48_cosine_topk_pandas": q48_cosine_topk_pandas,
    "q93_dim_correlations": q93_dim_correlations,
    "q99_label_purity": q99_label_purity,
    "q103_semdedup": q103_semdedup,
    "q133_semantic_decontam": q133_semantic_decontam,
    "q146_source_embedding_drift": q146_source_embedding_drift,
    "q117_pca_power_iteration": q117_pca_power_iteration,
}

ORACLES = {
    "q243_mmr_rerank": _oracle_q243(),
    "q46_cosine_topk": ORACLE_Q46,
    "q47_ann_lsh": ORACLE_Q47,
    "q49_cosine_neardup": ORACLE_Q49,
    "q49b_cosine_neardup_lsh": ORACLE_Q49B,
    "q49c_lsh_recall": ORACLE_Q49C,
    "q66_ivf_ann": ORACLE_Q66,
    "q66b_ivf_trained": ORACLE_Q66B,
    "q72_embed_quantize": ORACLE_Q72,
    "q93_dim_correlations": ORACLE_Q93,
    "q99_label_purity": ORACLE_Q99,
    "q87_embed_dim_stats": ORACLE_Q87,
    "q103_semdedup": ORACLE_Q103,
    "q133_semantic_decontam": ORACLE_Q133,
    "q146_source_embedding_drift": ORACLE_Q146,
    "q117_pca_power_iteration": ORACLE_Q117,
    # q48: oracle-backed since round 7 (tolerance boolean + argmax evidence)
    "q48_cosine_topk_pandas": ORACLE_Q48,
}
