"""Deduplication operators for training-data pipelines (SURVEY.md §2B X10 +
the minhash/simhash/jaccard extension surface).

Scale design (the point of each variant):

- exact dedup: one hash-shuffle on the normalized text -- O(N) at any scale.
- n-gram Jaccard (q43): exact pairwise similarity via a shingle self-join.
  Correct but the join fans out quadratically inside hot shingles -- the
  *baseline*, not the scale path.
- MinHash + LSH (q41/q42): constant-size signature per doc (16 hashes), then
  candidate generation by banding (8 bands x 2 rows): only docs agreeing on a
  whole band meet in the shuffle, and the exact Jaccard verify runs on
  candidates only. This is the 100 TB path: cost ~ O(N) + O(candidates).
- SimHash (q44/q45): one 60-bit signature per doc; near-dup = small Hamming
  distance. Signature build is a linear pass; pair search can use bit-prefix
  bucketing (here: brute pairs at test SF, prefix-bucketed variant in q45).

All hash math uses the md5-based 60-bit hash (_hashing.py) so the DuckDB
oracle reproduces identical integers -- the correctness check is exact, not
statistical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._cache import cached_df
from ._hashing import MINHASH_SEEDS, P31, h60, h60_expr, h60_sql
# the ONE tokenizer definition (see text.py)
from .text import WS, _words, _words_expr, ngrams_sql, word_ngrams, word_ngrams_expr
from ..tables import load
SHINGLE_N = 3
N_HASHES = 16
N_BANDS = 8  # 2 rows per band
JACCARD_THRESHOLD = 0.8


def _shingles_from_words_expr(w: str) -> str:
    """3-word shingles from a *materialized* word-array column; empty array
    for docs under 3 words (the n=3 case of text.word_ngrams -- one span
    template for every gram consumer)."""
    return word_ngrams_expr(w, SHINGLE_N)


def _shingles_from_words(w: str) -> Column:
    return F.expr(_shingles_from_words_expr(w))


def _shingles(expr: str = "text") -> Column:
    """3-word shingles straight from a text expression (convenience form;
    prefer materializing the word array first in hot paths)."""
    return F.expr(_shingles_from_words_expr(_words_expr(expr)))


# DuckDB twin of _shingles, as a FROM-able fragment producing (doc_id, shingle)
SHINGLES_SQL = """
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS w
        FROM documents),
       LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)
"""


def _doc_shingles(spark: SparkSession, sf_dir: str, cache: bool = False) -> DataFrame:
    """Distinct (doc_id, sh) pairs where sh = h60(shingle). Deduping and
    joining on the 60-bit hash instead of the 3-word string cuts shuffle
    bytes ~3x; every downstream consumer (minhash, jaccard, sizes) only needs
    hash identity, and the oracles hash identically.

    cache=True persists the set for pipelines with several corpus-sized
    consumers Catalyst does not CSE across: q43 self-joins it, q202/q218
    derive both their candidate keys and their verify shingles from it --
    without the persist, documents would be scanned and re-shingled up
    to 3x per query. Single-consumer pipelines (q41 standalone) leave it off
    so the shingle stream fuses straight into their aggregation (measured:
    the persist costs ~1.2 s at sf0.1 with no reuse to amortize it). The
    q42/q193/q106 chain does not use it: its signatures come off the raw
    stream and its verify off the candidate-only q42_dsc stage, so nothing
    corpus-sized is written on that path (OPTIMIZATION_r16.md §E1).

    A doc_id-bucketed stage was measured and rejected (OPTIMIZATION_r15.md
    §E4: when the bucketed variant would win)."""

    def build() -> DataFrame:
        return _doc_shingles_raw(spark, sf_dir).distinct()

    if not cache:
        return build()
    return cached_df(spark, f"doc_shingles:{sf_dir}", build)


def _doc_shingles_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) stream WITH duplicates -- no distinct shuffle. Consumers
    whose aggregates are duplicate-insensitive (min for MinHash) use this
    directly: the groupBy's map-side partial aggregation then ships one
    16-min row per (doc, partition) instead of every distinct shingle."""
    docs = load(spark, sf_dir, "documents")
    # Materialize the word array before building shingles: element_at over a
    # *column* is an array lookup, while element_at over the inline
    # filter(split(...)) expression re-evaluates the regex split per access
    # (O(words^2) per doc -- measured 3x slower at sf0.1).
    return (
        docs.selectExpr("doc_id", f"{_words_expr()} AS w")
        .selectExpr("doc_id", f"explode({_shingles_from_words_expr('w')}) AS shingle")
        .selectExpr("doc_id", f"{h60_expr('shingle')} AS sh")
    )


# Corpus-sized hashing stays an exploded row stream + codegen'd groupBy: an
# array-HOF MinHash was measured 4x slower (OPTIMIZATION_r16.md §E2). Per-row
# HOF signatures remain right where rows are few and codegen is unavailable
# anyway (the q131 streaming arm).


# DuckDB twin of _doc_shingles
DS_HASH_SQL = (
    "SELECT DISTINCT doc_id, " + h60_sql("shingle") + f" AS sh FROM ({SHINGLES_SQL})"
)


# --------------------------------------------------------------------------
# q40: exact dedup on normalized text (keep lowest doc_id per group)
# --------------------------------------------------------------------------

def q40_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped by the 128-bit md5 of the normalized text, not the text
    itself (r15, guide §2.3 "shuffle keys instead of payloads"): the dedup
    exchange ships a digest per document instead of the whole normalized
    body -- at corpus scale that shrinks the one data-sized shuffle by
    ~2-3 orders of magnitude. The digest travels as 16 BINARY bytes
    (unhex; r16) rather than md5's 32-char hex string -- unhex is a
    bijection on hex output, so the groups are identical and the key
    bytes halve again. Group membership is unchanged for any input that
    does not contain an md5 collision (probability ~2^-64 at a billion
    docs on the same 128 bits; the oracle still groups by the full text,
    so the driver's hash comparison would catch a collision as a row
    diff)."""
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), WS, " "))
    return (
        docs.select(F.unhex(F.md5(norm)).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("keep_id", "n_dups")
    )


ORACLE_Q40 = """
SELECT min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents
GROUP BY trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))
"""


# --------------------------------------------------------------------------
# q41: MinHash signatures (16 universal hashes over 3-word shingles)
# --------------------------------------------------------------------------

def q41_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format signature: (doc_id, seed_id, minh).

    All 16 hash-family values are computed as expressions on each shingle
    row and min-aggregated columnarly in ONE groupBy(doc_id) -- no seed
    cross-join, so the shuffle carries |distinct shingles| rows instead of
    16x that (was the top hotspot at sf0.1: 15s -> ~1s). Signature size per
    doc is constant regardless of document length -- the property that makes
    MinHash the scale path.

    Built from the RAW shingle stream (no distinct): min() is insensitive to
    duplicate shingles, so the usual dedup shuffle is skipped entirely and
    the only exchange carries map-side-combined partial minima -- one row
    per (doc, partition), constant in document length. Rejected variants:
    OPTIMIZATION_r16.md §E2 (array-HOF) and §E3 (repartition-before-tokenize,
    which ships raw text through its exchange instead of partial minima)."""
    return _minhash_from_shingles(_doc_shingles_raw(spark, sf_dir))


def _minhash_wide(ds: DataFrame) -> DataFrame:
    """(doc_id, m0..m15) -- the columnar signature (one min-agg per seed)
    over a (doc_id, sh) table."""
    mins = [
        F.expr(f"min(({a} * (sh % {P31}) + {b}) % {P31}) AS m{i}")
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    ]
    return ds.groupBy("doc_id").agg(*mins)


def _minhash_from_shingles(ds: DataFrame) -> DataFrame:
    wide = _minhash_wide(ds)
    stack_args = ", ".join(f"{i}, m{i}" for i in range(len(MINHASH_SEEDS)))
    return wide.selectExpr(
        "doc_id", f"stack({len(MINHASH_SEEDS)}, {stack_args}) AS (seed_id, minh)"
    ).selectExpr("doc_id", "CAST(seed_id AS INT) AS seed_id", "minh")


def _minhash_long_sql() -> str:
    seed_rows = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_SEEDS))
    return f"""
  SELECT doc_id, seed_id, min((a * (sh % {P31}) + b) % {P31}) AS minh
  FROM ({DS_HASH_SQL}),
       (SELECT * FROM (VALUES {seed_rows}) AS t(seed_id, a, b))
  GROUP BY doc_id, seed_id
"""


ORACLE_Q41 = f"SELECT doc_id, CAST(seed_id AS INT) AS seed_id, minh FROM ({_minhash_long_sql()})"


# --------------------------------------------------------------------------
# q42: LSH banding -> candidate pairs -> exact-Jaccard verify
# --------------------------------------------------------------------------

def q42_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup pipeline: band signatures (8 bands x 2 rows), bucket
    self-join on (band, band_key), exact Jaccard on the candidates only,
    threshold 0.8. At scale only band-collisions shuffle into the join.

    The (tiny) verified-pair output is parquet-staged per session: it is THE
    dedup artifact every downstream step consumes (q68's cluster resolution
    here; at 100 TB the purge join as well), so one pipeline evaluation
    serves them all instead of re-running the band join per consumer."""
    return cached_df(spark, f"q42_pairs:{sf_dir}", lambda: _q42_build(spark, sf_dir))


def _lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged LSH band-candidate pairs (doc_a < doc_b): the shared front
    half of every shingle-verified pipeline (q42 resemblance, q193
    containment). Band keys straight off the WIDE signature: band b's key
    is the bigint pair (m_{2b}, m_{2b+1}). Tuple equality is exactly the
    oracle's string_agg-by-seed_id equality ("ka,kb" with an unambiguous
    separator), but skips the stack->re-aggregate->collect_list->string
    detour: one exchange and all string building removed from the band
    build (measured ~0.7 s at sf0.1). Staged because the candidate set
    feeds the semi-filter AND the verify join (no CSE across subtrees),
    and it is tiny by construction.

    The signatures come straight from the RAW shingle stream: every band
    key is a min() over the doc's shingle hashes, which duplicate shingles
    cannot change, so no distinct shingle set is built first; the one
    exchange here carries map-side-combined partial minima, one row per
    (doc, partition) (history: OPTIMIZATION_r16.md §E1)."""
    rows_per_band = N_HASHES // N_BANDS
    assert rows_per_band == 2, "band-key pair layout assumes 2 rows/band"

    def build_cand() -> DataFrame:
        bands = _band_rows(_minhash_wide(_doc_shingles_raw(spark, sf_dir)))
        return (
            bands.alias("a")
            .join(
                bands.alias("b"),
                F.expr("a.band = b.band AND a.ka = b.ka AND a.kb = b.kb AND a.doc_id < b.doc_id"),
            )
            .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b")
            .distinct()
        )

    return cached_df(spark, f"q42_cand:{sf_dir}", build_cand)


def _cand_shingle_sizes(
    spark: SparkSession,
    sf_dir: str,
    key: str,
    cand: DataFrame,
    ds: DataFrame | None = None,
) -> DataFrame:
    """Staged (doc_id, sh, sz): the DISTINCT shingles of every document in
    a candidate pair, with the doc's distinct-shingle count attached to
    each row. THE verify-side artifact: it is near-dup-population-sized,
    so the exact-Jaccard verify reads IT -- twice, as the two join sides --
    instead of re-deriving candidate shingles per subtree, and q106's
    signatures fold over it (OPTIMIZATION_r16.md §E1).

    ds=None rebuilds from the RAW shingle stream (one extra documents
    scan; dedup happens AFTER the semi-filter, so the distinct shuffle is
    candidate-sized, never corpus-sized). Passing a staged distinct
    shingle table reuses it instead (q202/q218, whose candidate
    generation needs the full table anyway).

    Carrying sz per row (a window count) instead of a separate
    (doc_id, sz) aggregate removes the two sizes joins and their
    aggregate from every consumer's final plan; the repartition keys the
    one exchange on doc_id, which satisfies the distinct's (doc_id, sh)
    clustering AND the window's partitioning, so dedup + count plan with
    no further shuffle (the q44 pyramid trick). No broadcast hint on
    cand_docs, as before: AQE demotes the semi to broadcast when small."""
    return cached_df(spark, key, lambda: _cand_shingle_sizes_build(spark, sf_dir, cand, ds))


def _cand_shingle_sizes_build(
    spark: SparkSession, sf_dir: str, cand: DataFrame, ds: DataFrame | None = None
) -> DataFrame:
    """The un-staged build behind _cand_shingle_sizes."""
    cand_docs = (
        cand.selectExpr("doc_a AS doc_id")
        .union(cand.selectExpr("doc_b"))
        # No .distinct(): a LEFT SEMI join is EXISTS -- duplicate
        # build-side keys cannot change its output.
    )
    src = _doc_shingles_raw(spark, sf_dir) if ds is None else ds
    ds_c = src.join(cand_docs, "doc_id", "semi").repartition("doc_id")
    if ds is None:
        ds_c = ds_c.distinct()
    return ds_c.withColumn("sz", F.expr("count(1) OVER (PARTITION BY doc_id)"))


def _verified_pair_stats(ds_c: DataFrame, cand: DataFrame) -> DataFrame:
    """Shared exact verify for every candidate-pair pipeline (q42
    resemblance, q193 containment, q202 prefix-filter, q218 SNM):
    (doc_a, doc_b, inter, sz_a, sz_b) -- pairwise distinct-shingle
    intersection counts plus both docs' set sizes, from the staged
    candidate-shingle artifact (_cand_shingle_sizes). sz is constant per
    doc, so min() after the pair grouping recovers it exactly; every
    downstream similarity (Jaccard, containment) is a projection of this
    one aggregate -- no sizes joins."""
    return (
        cand.join(ds_c.alias("sa"), F.expr("doc_a = sa.doc_id"))
        .join(ds_c.alias("sb"), F.expr("doc_b = sb.doc_id AND sa.sh = sb.sh"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.expr("count(1) AS inter"),
            F.expr("min(sa.sz) AS sz_a"),
            F.expr("min(sb.sz) AS sz_b"),
        )
    )


def _q42_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates from the RAW shingle stream (min is duplicate-insensitive,
    so signatures need no corpus-sized distinct), then verify on the staged
    candidate-only shingle artifact. Nothing corpus-sized is staged or
    re-read: documents are scanned twice (once per staging job) and every
    staged artifact is near-dup-population-sized (OPTIMIZATION_r16.md §E1)."""
    cand = _lsh_candidates(spark, sf_dir)
    ds_c = _cand_shingle_sizes(spark, sf_dir, f"q42_dsc:{sf_dir}", cand)
    return (
        _verified_pair_stats(ds_c, cand)
        .selectExpr("doc_a", "doc_b", "round(inter / (sz_a + sz_b - inter), 6) AS jaccard")
        .filter(f"jaccard >= CAST({JACCARD_THRESHOLD} AS DOUBLE)")
    )


# Shared CTE body: LSH band candidates + exact shingle intersections --
# ORACLE_Q42 (resemblance) and ORACLE_Q193 (containment) read the same
# candidate/intersection tables and differ only in the final projection.
_Q42_CTE_BODY = f"""sig AS ({_minhash_long_sql()}),
bands AS (
  SELECT doc_id, seed_id // {N_HASHES // N_BANDS} AS band,
         string_agg(minh, ',' ORDER BY seed_id) AS band_key
  FROM sig GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
ds AS ({DS_HASH_SQL}),
sizes AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY 1),
inter AS (
  SELECT doc_a, doc_b, count(*) AS inter
  FROM cand
  JOIN ds sa ON doc_a = sa.doc_id
  JOIN ds sb ON doc_b = sb.doc_id AND sa.sh = sb.sh
  GROUP BY 1, 2
)"""

ORACLE_Q42 = f"""
WITH {_Q42_CTE_BODY}
SELECT doc_a, doc_b,
       round(inter / (za.sz + zb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes za ON doc_a = za.doc_id
JOIN sizes zb ON doc_b = zb.doc_id
WHERE round(inter / (za.sz + zb.sz - inter), 6) >= {JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# q193: shingle CONTAINMENT -- the asymmetric dedup resemblance misses
# --------------------------------------------------------------------------

CONTAIN_MIN_PPM = 980_000  # containment >= 0.98 flags a (near-)subset


def q193_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set CONTAINMENT C(A,B) = |A∩B| / min(|A|,|B|) over the same staged
    LSH candidates q42 verifies -- Broder's second similarity measure,
    and the one resemblance can't replace: a short document wholly quoted
    inside a longer one has containment 1.0 but Jaccard |A|/|B|, which a
    0.8 resemblance threshold waves through once the length ratio passes
    ~1.25. The fixture's subset pairs sit at containment 1.0 with Jaccard
    down to 0.90, so is_asymmetric (containment >= 0.98 AND jaccard below
    0.98) is nonzero by construction -- the phenomenon, not a vacuous
    flag.

    Same scale story as q42: band candidates only, shingle tables
    semi-filtered to candidate docs before the verify joins, all ratios
    integer ppm. The smaller-set side is reported as the contained doc
    (ties break to doc_a)."""
    cand = _lsh_candidates(spark, sf_dir)
    ds_c = _cand_shingle_sizes(spark, sf_dir, f"q42_dsc:{sf_dir}", cand)
    scored = _verified_pair_stats(ds_c, cand).selectExpr(
        "doc_a", "doc_b", "sz_a AS sza", "sz_b AS szb", "inter"
    )
    small_is_a = "sza < szb OR (sza = szb AND doc_a < doc_b)"
    out = scored.selectExpr(
        f"CASE WHEN {small_is_a} THEN doc_a ELSE doc_b END AS doc_contained",
        f"CASE WHEN {small_is_a} THEN doc_b ELSE doc_a END AS doc_container",
        "least(sza, szb) AS sz_contained",
        "greatest(sza, szb) AS sz_container",
        "CAST(inter * 1000000 DIV least(sza, szb) AS BIGINT) AS containment_ppm",
        "CAST(inter * 1000000 DIV (sza + szb - inter) AS BIGINT) AS jaccard_ppm",
    )
    return out.filter(f"containment_ppm >= {CONTAIN_MIN_PPM}").withColumn(
        "is_asymmetric", F.expr(f"jaccard_ppm < {CONTAIN_MIN_PPM}")
    )


ORACLE_Q193 = f"""
WITH {_Q42_CTE_BODY}
SELECT CASE WHEN za.sz < zb.sz OR (za.sz = zb.sz AND doc_a < doc_b)
            THEN doc_a ELSE doc_b END AS doc_contained,
       CASE WHEN za.sz < zb.sz OR (za.sz = zb.sz AND doc_a < doc_b)
            THEN doc_b ELSE doc_a END AS doc_container,
       CAST(least(za.sz, zb.sz) AS BIGINT) AS sz_contained,
       CAST(greatest(za.sz, zb.sz) AS BIGINT) AS sz_container,
       CAST(inter * 1000000 // least(za.sz, zb.sz) AS BIGINT) AS containment_ppm,
       CAST(inter * 1000000 // (za.sz + zb.sz - inter) AS BIGINT) AS jaccard_ppm,
       (inter * 1000000 // (za.sz + zb.sz - inter)) < {CONTAIN_MIN_PPM} AS is_asymmetric
FROM inter
JOIN sizes za ON doc_a = za.doc_id
JOIN sizes zb ON doc_b = zb.doc_id
WHERE inter * 1000000 // least(za.sz, zb.sz) >= {CONTAIN_MIN_PPM}
"""


# --------------------------------------------------------------------------
# q43: exact n-gram Jaccard over all shingle-sharing pairs (the baseline)
# --------------------------------------------------------------------------

def q43_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ds = _doc_shingles(spark, sf_dir, cache=True)
    sizes = ds.groupBy("doc_id").agg(F.expr("count(1) AS sz"))
    inter = (
        ds.alias("a")
        .join(ds.alias("b"), F.expr("a.sh = b.sh AND a.doc_id < b.doc_id"))
        .groupBy(F.expr("a.doc_id AS doc_a"), F.expr("b.doc_id AS doc_b"))
        .agg(F.expr("count(1) AS inter"))
    )
    return (
        inter.join(sizes.alias("za"), F.expr("doc_a = za.doc_id"))
        .join(sizes.alias("zb"), F.expr("doc_b = zb.doc_id"))
        .selectExpr("doc_a", "doc_b", "round(inter / (za.sz + zb.sz - inter), 6) AS jaccard")
        .filter(f"jaccard >= CAST({JACCARD_THRESHOLD} AS DOUBLE)")
    )


ORACLE_Q43 = f"""
WITH ds AS ({DS_HASH_SQL}),
sizes AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM ds a JOIN ds b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter / (za.sz + zb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes za ON doc_a = za.doc_id
JOIN sizes zb ON doc_b = zb.doc_id
WHERE round(inter / (za.sz + zb.sz - inter), 6) >= {JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# q44: SimHash signatures (60-bit, tf-weighted word hashes)
# --------------------------------------------------------------------------

def q44_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bit weighted vote over token hashes; one aggregation pyramid
    (doc,token)->(doc,bit)->(doc). The bit explosion (x60) happens after tf
    aggregation, so volume is bounded by vocab size per doc.

    r15 (guide §2.4): the whole pyramid runs behind ONE exchange. Documents
    are repartitioned by doc_id BEFORE tokenizing -- the shuffle carries
    each raw text once (about the bytes the old (doc_id, token, tf)
    exchange carried) -- and every later aggregate's keys start with
    doc_id, so HashPartitioning(doc_id) satisfies all three clusterings
    and the (doc,token) tf, (doc,bit) vote, and per-doc fold stages plan
    with NO further Exchange (was 3; plan diff in plans/r15/)."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", "text")
        .repartition("doc_id")
        .select("doc_id", F.explode(_words()).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("h", h60("token"))
    )
    bits = tf.select(
        "doc_id", "tf", "h", F.explode(F.sequence(F.lit(0), F.lit(59))).alias("b")
    ).select(
        "doc_id",
        "b",
        F.when(F.expr("(h >> b) & 1") == 1, F.col("tf")).otherwise(-F.col("tf")).alias("vote"),
    )
    return (
        bits.groupBy("doc_id", "b")
        .agg(F.sum("vote").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(F.lit(0).cast("bigint"))
            ).alias("simhash")
        )
    )


ORACLE_Q44 = f"""
WITH tf AS (
  SELECT doc_id, token, count(*) AS tf, {h60_sql('token')} AS h
  FROM (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) AS token
        FROM documents)
  GROUP BY doc_id, token
),
bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN tf ELSE -tf END) AS s
  FROM tf, (SELECT unnest(range(60)) AS b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
FROM bits
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# q45: SimHash near-dup pairs (Hamming distance on the signatures)
# --------------------------------------------------------------------------

def q45_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs within Hamming distance 3. Candidate generation buckets on the
    top-16-bit prefix first (near-identical docs almost always agree there),
    so the self-join shuffles buckets, not the full cross product; brute
    force would be O(N^2) at 100 TB. The self-join's two sides are identical
    subplans, so Spark's ReusedExchange computes the signature aggregation
    once and replays its shuffle output for the other side -- measured
    faster than materializing the signatures out-of-band."""
    sig = q44_simhash(spark, sf_dir).withColumn("prefix", F.shiftright("simhash", 44))
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(b, (F.col("a.prefix") == F.col("b.prefix")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )


ORACLE_Q45 = f"""
WITH sig AS ({ORACLE_Q44}),
pref AS (SELECT doc_id, simhash, simhash >> 44 AS prefix FROM sig)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM pref a JOIN pref b ON a.prefix = b.prefix AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# --------------------------------------------------------------------------
# q68: duplicate-cluster resolution (connected components over near-dup pairs)
# --------------------------------------------------------------------------

CC_MAX_ITERS = 15


def _star(cur: DataFrame, large: bool) -> DataFrame:
    """One star operation over a symmetric edge list ``(u, v)``.

    For every node u let m = min(neighbors(u) + {u}). Large-star links each
    strictly-larger neighbor to m; small-star links each smaller neighbor
    AND u itself to m. Returns directed (a, b) pairs with b < a."""
    mins = cur.groupBy("u").agg(F.min("v").alias("mn")).select(
        "u", F.least("u", "mn").alias("m")
    )
    j = cur.join(mins, "u")
    if large:
        out = j.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("a"), F.col("m").alias("b")
        )
    else:
        out = j.filter(F.col("v") < F.col("u")).select(
            F.col("v").alias("a"), F.col("m").alias("b")
        ).union(mins.select(F.col("u").alias("a"), F.col("m").alias("b")))
    return out.filter(F.col("a") != F.col("b")).distinct()


def _sym(pairs: DataFrame) -> DataFrame:
    """Directed (a, b) pairs -> symmetric (u, v) edge list."""
    return pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )


def connected_components(edges: DataFrame) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star connected components (the
    MapReduce-era algorithm published by Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): converges in O(log n)
    rounds on ANY graph shape, unlike naive min-label propagation whose
    round count equals the component diameter (a 100-node chain would need
    ~100 propagation rounds but only ~log2 star rounds -- pinned by a
    property test in tests/test_properties.py).

    ``edges``: symmetric (src, dst) pairs. Returns ``(labels, rounds)``
    where labels is (doc_id, lbl) for every node appearing in an edge, lbl
    being the component minimum. Raises RuntimeError if the round cap is
    hit without reaching the fixpoint -- a non-converged labeling must fail
    loudly, never be returned as a result."""
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    # localCheckpoint (not persist) each round: an iterative DataFrame loop
    # grows its logical plan exponentially -- persist caches data but keeps
    # the full lineage, and by round ~8 even *printing* the tree overflows.
    # Checkpointing materializes AND truncates lineage, the standard move
    # for iterative graph algorithms (GraphX does the same internally). On a
    # real cluster swap localCheckpoint for a reliable checkpoint dir.
    # eager=False everywhere: the round's single signature job materializes
    # the pending checkpoint, instead of paying one blocking job per
    # checkpoint call.
    cur = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).distinct().localCheckpoint(eager=False)

    rounds = 0
    prev: DataFrame | None = None
    prev_sig: tuple | None = None
    stars: DataFrame | None = None
    converged = False
    while rounds < CC_MAX_ITERS:
        rounds += 1
        mid = _sym(_star(cur, large=True)).distinct()
        stars_new = _star(mid, large=False).localCheckpoint(eager=False)
        # ONE job per round: (count, order-free hash-sum) fingerprints the
        # directed child->parent set; equal fingerprints gate an exact
        # subtract confirm, so a hash collision can't fake convergence and
        # the set-difference job runs only once, at the fixpoint.
        sig_row = stars_new.agg(
            F.count(F.lit(1)).alias("c"),
            # decimal accumulator: summing raw int64 hashes overflows ANSI
            F.sum(F.xxhash64("a", "b").cast("decimal(20,0)")).alias("h"),
        ).collect()[0]
        sig = (sig_row["c"], sig_row["h"])
        # Fixpoint: the directed child->parent set is unchanged -- the graph
        # is now a forest of stars centered at each component's minimum.
        if prev is not None and sig == prev_sig and stars_new.subtract(prev).isEmpty():
            stars = stars_new
            converged = True
            break
        prev, prev_sig = stars_new, sig
        cur = _sym(stars_new).distinct().localCheckpoint(eager=False)
        stars = stars_new
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {CC_MAX_ITERS} rounds; "
            "refusing to return a possibly-wrong labeling"
        )

    lab = stars.groupBy(F.col("a").alias("doc_id")).agg(F.min("b").alias("lbl"))
    labels = nodes.join(lab, "doc_id", "left").select(
        "doc_id", F.coalesce("lbl", F.col("doc_id")).alias("lbl")
    )
    return labels, rounds


def _sym_edges(pairs: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Symmetrize (doc_a, doc_b) pairs into both directions in ONE pass --
    union(pairs, pairs.swapped) would read the pair set twice. The single
    symmetrization definition: CC labels (q68), PageRank edges (q124) and
    incremental-dedup flags (q128) all derive their edge lists from it, so
    an edit (e.g. adding a distinct) cannot desynchronize them."""
    return (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias(src), F.col("doc_b").alias(dst)),
                    F.struct(F.col("doc_b").alias(src), F.col("doc_a").alias(dst)),
                )
            ).alias("e")
        )
        .select(f"e.{src}", f"e.{dst}")
    )


def _neardup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lbl) canonical labels for every doc in a q42 near-dup pair,
    parquet-staged per session: the star rounds run once and every
    consumer (q68's cluster table, q83's purge report, a real purge join)
    reads the converged labels back."""

    def build() -> DataFrame:
        pairs = q42_minhash_lsh_dedup(spark, sf_dir).select("doc_a", "doc_b")
        labels, _rounds = connected_components(_sym_edges(pairs))
        return labels

    return cached_df(spark, f"cc_labels:{sf_dir}", build)


def q68_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn the pairwise near-dup edges (q42) into actionable dedup clusters:
    every document mapped to a canonical representative (the minimum doc_id
    in its connected component) plus the component size. Filtering
    ``doc_id == canonical_id`` is the "keep one per cluster" purge step a
    training pipeline actually executes.

    Scale design: the large-star/small-star rounds run ONLY over the
    near-dup subgraph (nodes that appear in an edge), which at corpus scale
    is orders of magnitude smaller than the corpus itself; the full document
    set joins in exactly once at the end (left join + coalesce for
    singletons). cluster_size is a window count over the canonical_id
    partitioning -- NOT a broadcast of the per-cluster size table, which has
    ~one row per document (mostly singletons) and would OOM at corpus
    scale."""
    labels = _neardup_labels(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    mapped = docs.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("lbl", F.col("doc_id")).alias("canonical_id")
    )
    w = Window.partitionBy("canonical_id")
    return mapped.select(
        "doc_id", "canonical_id", F.count(F.lit(1)).over(w).alias("cluster_size")
    )


# Shared oracle fragment: canonical label per document by recursive
# transitive closure -- feasible for DuckDB at oracle SF because the edge
# set is tiny. pairs/edges are MATERIALIZED: the recursive term joins
# edges every iteration, and without the fence DuckDB re-evaluates the
# whole inlined q42 LSH pipeline per iteration -- ~30x the q42 oracle's
# cost at 10x corpus (196 s vs 0.2 s materialized) and a disk-filling
# temp spill at 30x. A PLAIN twin exists because DuckDB 1.0.0 hits an
# internal planner assertion ("Recursive CTE scan found without
# recursive CTE node") when MATERIALIZED appears in a WITH RECURSIVE
# statement that also nests ORACLE_Q124's unrolled-pagerank subquery
# (ORACLE_Q130 is the one consumer; it only ever runs at driver SF).
def _cc_mapped_sql(materialized: bool = True) -> str:
    m = "MATERIALIZED " if materialized else ""
    return f"""
pairs AS {m}(SELECT doc_a, doc_b FROM ({ORACLE_Q42})),
edges AS {m}(
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
lab AS (SELECT node AS doc_id, min(lbl) AS lbl FROM reach GROUP BY node),
mapped AS (
  SELECT d.doc_id, d.source, coalesce(l.lbl, d.doc_id) AS canonical_id
  FROM documents d LEFT JOIN lab l USING (doc_id)
)"""


_CC_MAPPED_SQL = _cc_mapped_sql()

ORACLE_Q68 = f"""
WITH RECURSIVE
{_CC_MAPPED_SQL},
sizes AS (SELECT canonical_id, count(*) AS cluster_size FROM mapped GROUP BY 1)
SELECT m.doc_id, m.canonical_id, s.cluster_size
FROM mapped m JOIN sizes s USING (canonical_id)
"""


# --------------------------------------------------------------------------
# q83: dedup purge report -- the "keep one per cluster" step as per-source
# accounting (what a curation pipeline reports after running q68)
# --------------------------------------------------------------------------

def q83_dedup_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document counts before/after near-dup purging: a doc
    survives iff it is its cluster's canonical (minimum) id; singletons are
    their own canonical. This is the actual corpus-reduction artifact --
    the number every dedup run is judged by. Reuses the session-staged
    star-round labels; the corpus-side work is one left join + one
    per-source count."""
    labels = _neardup_labels(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    mapped = docs.select("doc_id", "source").join(labels, "doc_id", "left").select(
        "doc_id", "source", F.coalesce("lbl", F.col("doc_id")).alias("canonical_id")
    )
    kept = F.when(F.col("doc_id") == F.col("canonical_id"), 1).otherwise(0)
    return mapped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept).alias("n_kept"),
        (F.count(F.lit(1)) - F.sum(kept)).alias("n_purged"),
    )


ORACLE_Q83 = f"""
WITH RECURSIVE
{_CC_MAPPED_SQL}
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN doc_id = canonical_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(count(*) - sum(CASE WHEN doc_id = canonical_id THEN 1 ELSE 0 END) AS BIGINT) AS n_purged
FROM mapped
GROUP BY source
"""


# --------------------------------------------------------------------------
# q86: train/test decontamination -- near-dup pairs that cross the q36
# hash-split boundary (test docs leaking from the training split)
# --------------------------------------------------------------------------

def q86_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination report: q42's verified near-dup pairs where one side
    lands in the test split and the other in train (q36's deterministic
    hash-split rule). This is the decontamination check every training
    pipeline runs before evaluation; because it reads the STAGED pair set,
    it costs two broadcast-able membership joins, not a new similarity
    pass. Output: (test_doc, train_doc, jaccard)."""
    from .text import split_of

    docs = load(spark, sf_dir, "documents")
    s = docs.select("doc_id", split_of("doc_id").alias("split"))
    pairs = q42_minhash_lsh_dedup(spark, sf_dir)
    j = (
        pairs.join(s.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")), "doc_a")
        .join(s.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")), "doc_b")
        .filter(
            ((F.col("split_a") == "test") & (F.col("split_b") == "train"))
            | ((F.col("split_a") == "train") & (F.col("split_b") == "test"))
        )
    )
    test_doc = F.when(F.col("split_a") == "test", F.col("doc_a")).otherwise(F.col("doc_b"))
    train_doc = F.when(F.col("split_a") == "test", F.col("doc_b")).otherwise(F.col("doc_a"))
    return j.select(
        test_doc.alias("test_doc"), train_doc.alias("train_doc"), "jaccard"
    )


def _split_sql() -> str:
    from .text import SPLIT_SEED

    return f"""
  SELECT doc_id,
         CASE WHEN {h60_sql(f"'{SPLIT_SEED}:' || CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
              WHEN {h60_sql(f"'{SPLIT_SEED}:' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
"""


ORACLE_Q86 = f"""
WITH pairs AS ({ORACLE_Q42}),
s AS ({_split_sql()})
SELECT CASE WHEN sa.split = 'test' THEN p.doc_a ELSE p.doc_b END AS test_doc,
       CASE WHEN sa.split = 'test' THEN p.doc_b ELSE p.doc_a END AS train_doc,
       p.jaccard
FROM pairs p
JOIN s sa ON p.doc_a = sa.doc_id
JOIN s sb ON p.doc_b = sb.doc_id
WHERE (sa.split = 'test' AND sb.split = 'train')
   OR (sa.split = 'train' AND sb.split = 'test')
"""


# --------------------------------------------------------------------------
# q106: MinHash estimator-quality audit -- estimated vs exact Jaccard
# --------------------------------------------------------------------------

def q106_minhash_estimator_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closes the audit loop on the MinHash ESTIMATE itself (q49c's
    pattern, applied to q41/q42): for every q42-verified near-dup pair,
    compare the signature-estimated Jaccard (fraction of the 16 minima that
    agree) against the exact shingle-set Jaccard the verify step computed,
    and publish the estimator's mean error as one driver-checked row.

    Cost shape: rides the STAGED q42 pair set (tiny) and signatures folded
    over the staged candidate-shingle set q42_dsc -- two equi-joins by doc
    id, bounded by |pairs|, and no corpus-sized input. Every doc of a q42
    pair is a candidate doc, and q42_dsc holds all of its distinct
    shingles; min() is duplicate-insensitive, so these minima are the ones
    a corpus-wide signature would give. Every number is integer ppm: the
    estimate is (n_eq * 1e6) DIV 16 by construction, and the exact side
    re-rounds q42's 6dp jaccard, which is bit-identical cross-engine
    (identical doubles through an identical expression tree)."""
    pairs = q42_minhash_lsh_dedup(spark, sf_dir)
    cand = _lsh_candidates(spark, sf_dir)
    sig = _minhash_wide(_cand_shingle_sizes(spark, sf_dir, f"q42_dsc:{sf_dir}", cand))
    a = sig.selectExpr("doc_id AS doc_a", *[f"m{i} AS a{i}" for i in range(N_HASHES)])
    b = sig.selectExpr("doc_id AS doc_b", *[f"m{i} AS b{i}" for i in range(N_HASHES)])
    n_eq = "+".join(f"CAST(a{i} = b{i} AS BIGINT)" for i in range(N_HASHES))
    per = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .selectExpr(
            f"({n_eq}) * 1000000 DIV {N_HASHES} AS est_ppm",
            "CAST(floor(jaccard * CAST(1e6 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS ex_ppm",
        )
    )
    return per.selectExpr(
        "count(1) AS n_pairs",
        "sum(est_ppm) DIV count(*) AS mean_est_ppm",
        "sum(ex_ppm) DIV count(*) AS mean_exact_ppm",
        "sum(abs(est_ppm - ex_ppm)) DIV count(*) AS mean_abs_err_ppm",
    )


ORACLE_Q106 = f"""
WITH pairs AS ({ORACLE_Q42}),
sig AS ({_minhash_long_sql()}),
per AS (
  SELECT p.doc_a, p.doc_b,
         sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) * 1000000 // {N_HASHES} AS est_ppm,
         CAST(floor(p.jaccard * 1e6 + 0.5) AS BIGINT) AS ex_ppm
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b AND sb.seed_id = sa.seed_id
  GROUP BY p.doc_a, p.doc_b, p.jaccard
)
SELECT count(*) AS n_pairs,
       CAST(sum(est_ppm) // count(*) AS BIGINT) AS mean_est_ppm,
       CAST(sum(ex_ppm) // count(*) AS BIGINT) AS mean_exact_ppm,
       CAST(sum(abs(est_ppm - ex_ppm)) // count(*) AS BIGINT) AS mean_abs_err_ppm
FROM per
"""


# --------------------------------------------------------------------------
# q119: edit-distance verification of near-dup pairs
# --------------------------------------------------------------------------

def q119_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verification of the near-dup pairs: levenshtein
    distance and its length-normalized ppm for every q42-verified pair --
    the second opinion a curation run takes before destructive purging
    (shingle Jaccard is word-order-insensitive; edit distance catches
    reorderings Jaccard forgives). Cost shape: levenshtein is O(len_a *
    len_b) PER PAIR, so it lives strictly downstream of the LSH gate --
    never on the cross product; the staged pair set joins texts back by
    id, two broadcast-able lookups bounded by |pairs|. Both engines
    implement the standard unit-cost Levenshtein, so the integer distance
    (and its integer-ppm normalization) is hash-exact."""
    pairs = q42_minhash_lsh_dedup(spark, sf_dir).select("doc_a", "doc_b")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    j = (
        pairs.join(docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")), "doc_a")
        .join(docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")), "doc_b")
    )
    d = F.levenshtein("ta", "tb")
    return j.select(
        "doc_a",
        "doc_b",
        d.cast("bigint").alias("edit_distance"),
        F.expr(
            "CAST(levenshtein(ta, tb) AS BIGINT) * 1000000 DIV greatest(length(ta), length(tb))"
        ).alias("rel_ppm"),
    )


ORACLE_Q119 = f"""
WITH pairs AS ({ORACLE_Q42})
SELECT p.doc_a, p.doc_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_distance,
       CAST(levenshtein(a.text, b.text) AS BIGINT) * 1000000
         // greatest(length(a.text), length(b.text)) AS rel_ppm
FROM pairs p
JOIN documents a ON a.doc_id = p.doc_a
JOIN documents b ON b.doc_id = p.doc_b
"""


# --------------------------------------------------------------------------
# q120: window-level duplication report (ExactSubstr-lite)
# --------------------------------------------------------------------------

WINDOW_N = 16  # token window (50 in Lee et al. 2021; 16 fits fixture doc lengths)


def q120_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-level duplication report, the ExactSubstr complement to the
    whole-document operators (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better"): for every source, what fraction of its
    WINDOW_N-token rolling windows also occurs in at least one OTHER
    document anywhere in the corpus. Doc-level dedup (q40/q42) misses
    boilerplate duplicated INSIDE otherwise-unique documents; this metric
    is what decides whether a substring-level pass is worth running.

    Shape: rolling windows hashed to 60-bit ints (a pure projection +
    bounded explode), then ONE gram-keyed aggregate finds hashes spanning
    >= 2 distinct docs, and the flag joins back on the gram hash -- both
    shuffles key on the hash, so the work shards uniformly at any corpus
    size (same scale story as q104's decontamination join). The gram table
    feeds both sides, so it is parquet-staged once (cached_df). Outputs
    are integer counts and an integer ppm -- hash-exact.

    n_docs counts documents long enough to hold a window (>= WINDOW_N
    tokens), the population the ppm speaks for."""
    def build_windows() -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        w = docs.select("doc_id", "source", _words("lower(text)").alias("w")).filter(
            F.size("w") >= WINDOW_N
        )
        window = f"concat_ws(' ', slice(w, i, {WINDOW_N}))"
        return w.select(
            "doc_id",
            "source",
            F.explode(
                F.expr(f"transform(sequence(1, size(w) - {WINDOW_N - 1}), i -> {h60_expr(window)})")
            ).alias("gh"),
        )

    grams = cached_df(spark, f"dup_windows:{sf_dir}", build_windows)
    multi = (
        grams.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh", F.lit(1).alias("dup"))
    )
    return (
        grams.join(multi, "gh", "left")
        .groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce("dup", F.lit(0)).cast("bigint")).alias("n_dup_windows"),
        )
        .select(
            "source",
            "n_docs",
            "n_windows",
            "n_dup_windows",
            F.expr("n_dup_windows * 1000000 DIV n_windows").alias("dup_ppm"),
        )
    )


_WIN_WORDS_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')"
)
_WIN_GRAM_SQL = h60_sql(f"array_to_string(list_slice(w, i, i + {WINDOW_N - 1}), ' ')")

ORACLE_Q120 = f"""
WITH w AS (
  SELECT doc_id, source, {_WIN_WORDS_SQL} AS w FROM documents
),
grams AS (
  SELECT doc_id, source, {_WIN_GRAM_SQL} AS gh
  FROM (SELECT * FROM w WHERE len(w) >= {WINDOW_N}),
       LATERAL (SELECT unnest(range(1, len(w) - {WINDOW_N - 1} + 1)) AS i)
),
multi AS (SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2)
SELECT source,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_windows,
       CAST(sum(CASE WHEN gh IN (SELECT gh FROM multi) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
       CAST(sum(CASE WHEN gh IN (SELECT gh FROM multi) THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS dup_ppm
FROM grams
GROUP BY source
"""


# --------------------------------------------------------------------------
# q124: PageRank over the near-dup graph (authority-based canonical election)
# --------------------------------------------------------------------------

PR_SCALE = 10**9   # per-node fixed-point mass
PR_ITERS = 3       # fixed unrolled iterations (oracle unrolls the same 3)
PR_D_NUM, PR_D_DEN = 85, 100  # damping d = 0.85 as an exact rational


def q124_dupgraph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetric near-dup graph (q42's staged pairs):
    3 damped power-iteration rounds, pr'(v) = (1-d)*S + d * sum over
    in-neighbors u of pr(u)/deg(u). The authority signal a curation
    pipeline can use instead of min-doc_id when electing the canonical
    document of a duplicate cluster (highly-connected center beats an
    arbitrary id).

    The distributed shape: each round is one src-keyed equi-join (edges x
    current pr x degree, all hash-partitioned on src) followed by one
    map-side-combined sum over dst -- the classic Pregel step as two
    exchanges per round, no driver-side state (the loop only builds the
    plan). Exactness: mass is integer 1e-9 fixed point; each contribution
    is (85 * pr) DIV (100 * deg) -- floor division of positive integers,
    bit-identical in both engines -- so the iterative float algorithm
    never exists: the oracle unrolls the identical 3 integer rounds."""
    pairs = q42_minhash_lsh_dedup(spark, sf_dir).select("doc_a", "doc_b")
    edges = _sym_edges(pairs)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    base = (PR_D_DEN - PR_D_NUM) * PR_SCALE // PR_D_DEN  # (1-d) * S, exact
    pr = deg.select(F.col("src").alias("v"), F.lit(PR_SCALE).cast("bigint").alias("pr"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(pr.withColumnRenamed("v", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("v"),
                F.expr(f"CAST(({PR_D_NUM} * pr) DIV ({PR_D_DEN} * deg) AS BIGINT)").alias("c"),
            )
        )
        pr = contrib.groupBy("v").agg(
            (F.lit(base).cast("bigint") + F.sum("c")).alias("pr")
        )
    return (
        pr.join(deg.withColumnRenamed("src", "v"), "v")
        .select(F.col("v").alias("doc_id"), F.col("deg").alias("degree"), F.col("pr").alias("pagerank9"))
    )


def _pr_round_sql(prev: str, nxt: str) -> str:
    base = (PR_D_DEN - PR_D_NUM) * PR_SCALE // PR_D_DEN
    return f"""{nxt} AS (
  SELECT e.dst AS v,
         CAST({base} + sum(({PR_D_NUM} * p.pr) // ({PR_D_DEN} * d.deg)) AS BIGINT) AS pr
  FROM edges e JOIN {prev} p ON e.src = p.v JOIN deg d ON e.src = d.src
  GROUP BY e.dst
)"""


ORACLE_Q124 = f"""
WITH pairs AS (SELECT doc_a, doc_b FROM ({ORACLE_Q42})),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
pr0 AS (SELECT src AS v, CAST({PR_SCALE} AS BIGINT) AS pr FROM deg),
{_pr_round_sql("pr0", "pr1")},
{_pr_round_sql("pr1", "pr2")},
{_pr_round_sql("pr2", "pr3")}
SELECT p.v AS doc_id, CAST(d.deg AS BIGINT) AS degree, p.pr AS pagerank9
FROM pr3 p JOIN deg d ON p.v = d.src
"""


# --------------------------------------------------------------------------
# q128: incremental dedup -- today's ingest batch against the standing index
# --------------------------------------------------------------------------

ING_SEED = "ingest_v1"   # deterministic batch membership (q36's discipline)
ING_MOD, ING_BUCKET = 10, 9  # ~10% of docs are "today's batch"


def _is_new(col: str) -> Column:
    """Deterministic ingest-batch membership: h60('{ING_SEED}:' || id) mod
    ING_MOD lands in ING_BUCKET. Module-level because THREE consumers share
    it (q128's accounting, q131's streaming gate, and the _IS_NEW_SQL
    oracle twin below) -- a drifted copy silently breaks oracle parity."""
    return (
        F.pmod(
            h60(f"concat('{ING_SEED}:', CAST({col} AS STRING))"),
            F.lit(ING_MOD),
        )
        == ING_BUCKET
    )


def _band_rows(wide: DataFrame, *extra_cols: str) -> DataFrame:
    """(doc_id, *extra_cols, band, ka, kb) off a WIDE MinHash signature:
    band b's key is the bigint pair (m_{2b}, m_{2b+1}). The single
    band-layout definition -- the batch LSH candidate join (q42) and the
    streaming gate's two sides (q131) all derive from it, so the band key
    cannot drift between the stored index and the in-flight gate."""
    band_structs = ", ".join(
        f"struct({b} AS band, m{2 * b} AS ka, m{2 * b + 1} AS kb)" for b in range(N_BANDS)
    )
    return wide.selectExpr("doc_id", *extra_cols, f"explode(array({band_structs})) AS e").selectExpr(
        "doc_id", *extra_cols, "e.band", "e.ka", "e.kb"
    )


def q128_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production shape of LSH dedup: a daily ingest batch deduped
    against the accumulated corpus index WITHOUT reprocessing the index.
    Batch membership is a pure hash function of doc_id (q36's no-rand()
    discipline). A new document is dropped against the INDEX if it
    near-dups any index doc, else dropped WITHIN the batch if it near-dups
    an earlier (lower-id) batch doc; the per-source report counts both
    drop reasons and the kept survivors.

    Derivation rides q42's staged verified pairs -- at scale the daily job
    computes band signatures for the batch only and joins them against the
    STORED index signature table (linear in the batch, not the corpus);
    the resulting pair set is identical, so this query IS that job's
    accounting. All outputs integer -- hash-exact."""
    is_new = _is_new
    pairs = q42_minhash_lsh_dedup(spark, sf_dir).select("doc_a", "doc_b")
    sym = _sym_edges(pairs, "n", "x")
    flags = (
        sym.filter(is_new("n"))
        .groupBy("n")
        .agg(
            F.max(F.when(~is_new("x"), 1).otherwise(0)).alias("dup_idx"),
            F.max(
                F.when(is_new("x") & (F.col("x") < F.col("n")), 1).otherwise(0)
            ).alias("dup_batch"),
        )
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    batch = docs.filter(is_new("doc_id"))
    # Plain join (no broadcast hint): flags grows with the batch's near-dup
    # count; AQE broadcasts it at runtime when small, and a dup-heavy ingest
    # day degrades to a shuffle join instead of an executor OOM.
    tagged = batch.join(
        flags.withColumnRenamed("n", "doc_id"), "doc_id", "left"
    ).na.fill(0, ["dup_idx", "dup_batch"])
    return tagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum("dup_idx").cast("bigint").alias("n_dup_vs_index"),
        F.sum(F.when((F.col("dup_idx") == 0) & (F.col("dup_batch") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_in_batch"),
        F.sum(F.when((F.col("dup_idx") == 0) & (F.col("dup_batch") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
    )


_ING_KEY_EXPR = f"'{ING_SEED}:' || CAST({{c}} AS VARCHAR)"  # {c} filled per use
_IS_NEW_SQL = f"({h60_sql(_ING_KEY_EXPR)} % {ING_MOD}) = {ING_BUCKET}"

ORACLE_Q128 = f"""
WITH pairs AS (SELECT doc_a, doc_b FROM ({ORACLE_Q42})),
sym AS (
  SELECT doc_a AS n, doc_b AS x FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
flags AS (
  SELECT n,
         max(CASE WHEN NOT ({_IS_NEW_SQL.format(c="x")}) THEN 1 ELSE 0 END) AS dup_idx,
         max(CASE WHEN ({_IS_NEW_SQL.format(c="x")}) AND x < n THEN 1 ELSE 0 END) AS dup_batch
  FROM sym
  WHERE {_IS_NEW_SQL.format(c="n")}
  GROUP BY n
),
batch AS (
  SELECT d.doc_id, d.source, coalesce(f.dup_idx, 0) AS dup_idx, coalesce(f.dup_batch, 0) AS dup_batch
  FROM documents d LEFT JOIN flags f ON d.doc_id = f.n
  WHERE {_IS_NEW_SQL.format(c="d.doc_id")}
)
SELECT source,
       count(*) AS n_batch,
       CAST(sum(dup_idx) AS BIGINT) AS n_dup_vs_index,
       CAST(sum(CASE WHEN dup_idx = 0 AND dup_batch = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_in_batch,
       CAST(sum(CASE WHEN dup_idx = 0 AND dup_batch = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM batch
GROUP BY source
"""


# --------------------------------------------------------------------------
# q130: authority-based canonical election (q68 clusters x q124 PageRank)
# --------------------------------------------------------------------------

def q130_canonical_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elect each duplicate cluster's canonical document by PageRank
    authority (max pagerank9, doc_id tie-break) and report where that
    election disagrees with the naive min-doc_id rule -- the composition
    that makes q124's authority signal actionable: keep the most-connected
    center of each near-dup cluster, not an arbitrary id.

    Rides two staged artifacts (connected-component labels, the pair set
    feeding PageRank) -- zero recompute of banding or star rounds; the
    join is label-to-score on doc_id, the argmax is a per-cluster window
    over cluster-sized partitions. All integers + one boolean."""
    labels = _neardup_labels(spark, sf_dir)
    pr = q124_dupgraph_pagerank(spark, sf_dir).select("doc_id", "pagerank9")
    joined = labels.join(pr, "doc_id")
    w = Window.partitionBy("lbl").orderBy(F.col("pagerank9").desc(), "doc_id")
    ranked = joined.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy(F.col("lbl").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("min_id_canonical"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("authority_canonical"),
            F.max(F.when(F.col("rn") == 1, F.col("pagerank9"))).alias("authority_pr9"),
        )
        .withColumn(
            "election_differs",
            F.col("authority_canonical") != F.col("min_id_canonical"),
        )
    )


ORACLE_Q130 = f"""
WITH RECURSIVE
{_cc_mapped_sql(materialized=False)},
pr AS (SELECT doc_id, pagerank9 FROM ({ORACLE_Q124})),
j AS (
  SELECT m.canonical_id AS cluster_id, m.doc_id, p.pagerank9,
         row_number() OVER (PARTITION BY m.canonical_id ORDER BY p.pagerank9 DESC, m.doc_id) AS rn
  FROM mapped m JOIN pr p ON m.doc_id = p.doc_id
)
SELECT cluster_id,
       count(*) AS cluster_size,
       min(doc_id) AS min_id_canonical,
       max(CASE WHEN rn = 1 THEN doc_id END) AS authority_canonical,
       max(CASE WHEN rn = 1 THEN pagerank9 END) AS authority_pr9,
       max(CASE WHEN rn = 1 THEN doc_id END) <> min(doc_id) AS election_differs
FROM j
GROUP BY cluster_id
"""


# --------------------------------------------------------------------------
# q137: hybrid dedup audit -- semantic second opinion on the lexical pairs
# --------------------------------------------------------------------------

HYBRID_T = 0.40  # rounded-cosine agreement threshold for lexical pairs


def q137_hybrid_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic second opinion on every q42 lexical near-dup pair: attach
    the embedding cosine of the two documents (vec_id shares doc_id's key
    space) and flag whether the vectors agree the pair is a duplicate --
    the lexical/semantic twin of q119's character-level verify, catching
    template pairs whose shingles overlap but whose content diverges.
    Embeddings lag document ingest (sf0.1 ships 2000 vectors for 5000
    docs), so vector columns are nullable LEFT joins and the agreement
    flag is three-valued.

    Cost shape: the staged pair set is near-dup-sized; the corpus-sized
    embeddings table is first SEMI-filtered to candidate ids (q42's own
    no-forced-broadcast discipline -- AQE demotes the semi join to
    broadcast when the candidate set is small, and at 100 TB the exchanges
    carry a candidate-sized row set, never the corpus). Exactness: cos6
    rounds the double dot product of identical inputs; jac_ppm is integer;
    the agreement flag compares the ROUNDED cosine."""
    from .similarity import _dbl

    pairs = q42_minhash_lsh_dedup(spark, sf_dir)
    cand = (
        pairs.select(F.col("doc_a").alias("vec_id"))
        .union(pairs.select("doc_b"))
        # no .distinct(): LEFT SEMI build side -- duplicates cannot change
        # the output, the dedup only added an exchange (r15, same fix as
        # _cand_shingle_sizes.cand_docs)
    )
    emb = load(spark, sf_dir, "embeddings")
    dbl = _dbl(F.col("embedding"))
    # norm as its OWN column first: an inline norm inside the transform
    # lambda re-evaluates the 64-element aggregate once per element --
    # O(DIM^2) per row (the exact HOF-recompute trap similarity._normalized
    # documents). Same value, one evaluation.
    u = (
        emb.join(cand, "vec_id", "semi")
        .select(
            "vec_id",
            dbl.alias("e"),
            F.sqrt(
                F.aggregate(dbl, F.lit(0.0), lambda acc, y: acc + y * y)
            ).alias("nrm"),
        )
        .select(
            "vec_id",
            F.transform("e", lambda x: x / F.col("nrm")).alias("u"),
        )
    )
    ua = u.select(F.col("vec_id").alias("doc_a"), F.col("u").alias("ua"))
    ub = u.select(F.col("vec_id").alias("doc_b"), F.col("u").alias("ub"))
    cos6 = F.round(
        F.aggregate(
            F.zip_with("ua", "ub", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        ),
        6,
    )
    return (
        pairs.join(ua, "doc_a", "left")
        .join(ub, "doc_b", "left")
        .select(
            "doc_a",
            "doc_b",
            F.floor(F.col("jaccard") * 1e6 + F.lit(0.5)).cast("bigint").alias("jac_ppm"),
            cos6.alias("cos6"),
            F.when(
                F.col("ua").isNotNull() & F.col("ub").isNotNull(), cos6 >= HYBRID_T
            ).alias("semantic_agree"),
        )
    )


ORACLE_Q137 = f"""
WITH pairs AS ({ORACLE_Q42}),
n AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) /
           sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
)
SELECT p.doc_a, p.doc_b,
       CAST(floor(p.jaccard * 1e6 + 0.5) AS BIGINT) AS jac_ppm,
       round(list_sum(list_transform(range(1, len(a.u) + 1), i -> a.u[i] * b.u[i])), 6) AS cos6,
       CASE WHEN a.u IS NOT NULL AND b.u IS NOT NULL
            THEN round(list_sum(list_transform(range(1, len(a.u) + 1), i -> a.u[i] * b.u[i])), 6) >= {HYBRID_T}
       END AS semantic_agree
FROM pairs p
LEFT JOIN n a ON a.vec_id = p.doc_a
LEFT JOIN n b ON b.vec_id = p.doc_b
"""


# --------------------------------------------------------------------------
# q141: k-hop neighborhood via Spark's NATIVE recursive CTE (Spark 4)
# --------------------------------------------------------------------------

KHOP_DEPTH = 3  # bounded recursion: UNION-dedup inside recursive CTEs is
                # not yet supported (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE),
                # so a cyclic closure must cap depth to terminate


def q141_khop_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per node of the near-dup graph: how many documents are within
    KHOP_DEPTH hops, and the minimum reachable doc id -- the graph-
    expansion statistic behind contamination blast-radius estimates
    ("if this doc is bad, how many does it taint within k links?").

    The point of this operator is the ENGINE FEATURE: Spark 4's native
    `WITH RECURSIVE` runs the traversal inside Catalyst (per-round joins
    planned by the engine, not hand-unrolled like q124's fixed-point
    PageRank or driven from the driver like q68's CC loop); DuckDB runs
    the IDENTICAL recursive SQL, so parity checks engine-native recursion
    against engine-native recursion. Depth is capped (UNION ALL revisits
    nodes on cycles; UNION-dedup recursion isn't supported yet), which
    also bounds the path fan-out -- near-dup components are small, so
    k-hop at depth 3 equals full closure except on components of
    diameter > 3 (q68 computes the exact closure; this is its bounded
    recursive-SQL twin). Cost shape: the recursion runs over the staged
    near-dup EDGE set -- orders of magnitude smaller than the corpus --
    and each round is an edge-keyed equi-join."""
    pairs = q42_minhash_lsh_dedup(spark, sf_dir).select("doc_a", "doc_b")
    pairs.createOrReplaceTempView("q141_edges")
    return spark.sql(f"""
WITH RECURSIVE sym AS (
  SELECT doc_a AS a, doc_b AS b FROM q141_edges
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM q141_edges
),
reach(src, node, depth) AS (
  SELECT a, a, 0 FROM (SELECT DISTINCT a FROM sym)
  UNION ALL
  SELECT r.src, s.b, r.depth + 1 FROM reach r JOIN sym s ON r.node = s.a
  WHERE r.depth < {KHOP_DEPTH}
)
SELECT src AS doc_id,
       CAST(count(DISTINCT node) AS BIGINT) AS n_khop,
       CAST(min(node) AS BIGINT) AS min_reach_id
FROM reach
GROUP BY src
""")


ORACLE_Q141 = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({ORACLE_Q42}),
sym AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(src, node, depth) AS (
  SELECT a, a, 0 FROM (SELECT DISTINCT a FROM sym)
  UNION ALL
  SELECT r.src, s.b, r.depth + 1 FROM reach r JOIN sym s ON r.node = s.a
  WHERE r.depth < {KHOP_DEPTH}
)
SELECT src AS doc_id,
       CAST(count(DISTINCT node) AS BIGINT) AS n_khop,
       CAST(min(node) AS BIGINT) AS min_reach_id
FROM reach
GROUP BY src
"""


# --------------------------------------------------------------------------
# q166: targeted-deletion manifest (right-to-be-forgotten over clusters)
# --------------------------------------------------------------------------

DELETE_MOD = 97  # deterministic delete set: doc_id % DELETE_MOD == 0


def q166_deletion_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style targeted deletion over a DEDUPED corpus: when a deleted
    document was its near-dup cluster's canonical representative, the
    cluster must re-elect (next-lowest surviving id) or go extinct — naive
    per-row deletion would silently orphan every alias that pointed at the
    canonical. Per source (of the cluster's canonical): docs/chars
    deleted, canonicals deleted, clusters re-elected, clusters extinct.
    Rides the session-staged CC labels (no re-banding); the cluster rollup
    is one canonical-keyed aggregate; at 100 TB the delete set arrives as
    a broadcast id list instead of the modular predicate."""
    labels = _neardup_labels(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    mapped = docs.join(labels, "doc_id", "left").select(
        "doc_id", "source", "n_chars",
        F.coalesce("lbl", F.col("doc_id")).alias("canonical_id"),
        (F.col("doc_id") % DELETE_MOD == 0).alias("del"),
    )
    cl = mapped.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("del"), 1).otherwise(0)).alias("n_del"),
        F.sum(F.when(F.col("del"), F.col("n_chars")).otherwise(0)).alias("chars_del"),
        F.min(F.when(~F.col("del"), F.col("doc_id"))).alias("new_canonical"),
        # source of the canonical doc (canonical_id is the min doc_id, so
        # exactly one member row has doc_id == canonical_id)
        F.min(F.when(F.col("doc_id") == F.col("canonical_id"), F.col("source"))).alias(
            "can_source"
        ),
    )
    can_del = F.col("canonical_id") % DELETE_MOD == 0
    return cl.groupBy(F.col("can_source").alias("source")).agg(
        F.sum("n_del").cast("bigint").alias("n_docs_deleted"),
        F.sum("chars_del").cast("bigint").alias("chars_deleted"),
        F.sum(F.when(can_del, 1).otherwise(0)).cast("bigint").alias("n_canonicals_deleted"),
        F.sum(F.when(can_del & F.col("new_canonical").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_reelected"),
        F.sum(F.when(F.col("new_canonical").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_extinct"),
    )


ORACLE_Q166 = f"""
WITH RECURSIVE
{_CC_MAPPED_SQL},
m AS (
  SELECT mp.doc_id, mp.source, d.n_chars, mp.canonical_id,
         mp.doc_id % {DELETE_MOD} = 0 AS del
  FROM mapped mp JOIN documents d USING (doc_id)
),
cl AS (
  SELECT canonical_id,
         sum(CASE WHEN del THEN 1 ELSE 0 END) AS n_del,
         sum(CASE WHEN del THEN n_chars ELSE 0 END) AS chars_del,
         min(CASE WHEN NOT del THEN doc_id END) AS new_canonical,
         min(CASE WHEN doc_id = canonical_id THEN source END) AS can_source
  FROM m GROUP BY canonical_id
)
SELECT can_source AS source,
       CAST(sum(n_del) AS BIGINT) AS n_docs_deleted,
       CAST(sum(chars_del) AS BIGINT) AS chars_deleted,
       CAST(sum(CASE WHEN canonical_id % {DELETE_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_canonicals_deleted,
       CAST(sum(CASE WHEN canonical_id % {DELETE_MOD} = 0 AND new_canonical IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_reelected,
       CAST(sum(CASE WHEN new_canonical IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_extinct
FROM cl GROUP BY can_source
"""


# --------------------------------------------------------------------------
# q167: cluster-keyed leakage-free split (+ naive-split straddle audit)
# --------------------------------------------------------------------------

CLSPLIT_SEED = "clsplit_v1"


def q167_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split: the hash split keys on the
    CLUSTER canonical, not the document, so near-duplicates can never
    straddle a split boundary (the leakage q36's per-doc split permits —
    quantified here as naive_straddle_clusters, the number of clusters the
    per-doc hash would scatter across splits). One pass: per-cluster
    aggregate off the staged labels, per-split rollup, and the global
    straddle count rides a full-frame window over the 3-row rollup."""
    labels = _neardup_labels(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    mapped = docs.join(labels, "doc_id", "left").select(
        "doc_id", "n_chars", F.coalesce("lbl", F.col("doc_id")).alias("canonical_id")
    )

    def bucket(col):
        return F.pmod(h60(f"concat('{CLSPLIT_SEED}:', CAST({col} AS STRING))"), F.lit(10))

    split_of = lambda b: F.when(b < 8, "train").when(b < 9, "val").otherwise("test")
    cl = mapped.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct(split_of(bucket("doc_id"))).alias("n_naive_splits"),
    )
    per_split = cl.groupBy(
        split_of(bucket("canonical_id")).alias("split")
    ).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("sum_chars").cast("bigint").alias("sum_chars"),
        F.sum(F.when(F.col("n_naive_splits") > 1, 1).otherwise(0)).alias("straddle_part"),
    )
    w_all = Window.orderBy("split").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_split.select(
        "split",
        "n_clusters",
        "n_docs",
        "sum_chars",
        F.sum("straddle_part").over(w_all).cast("bigint").alias("naive_straddle_clusters"),
    )


ORACLE_Q167 = f"""
WITH RECURSIVE
{_CC_MAPPED_SQL},
m AS (
  SELECT mp.doc_id, d.n_chars, mp.canonical_id
  FROM mapped mp JOIN documents d USING (doc_id)
),
cl AS (
  SELECT canonical_id,
         count(*) AS n_docs,
         sum(n_chars) AS sum_chars,
         count(DISTINCT CASE
           WHEN {h60_sql(f"'{CLSPLIT_SEED}:' || CAST(doc_id AS VARCHAR)")} % 10 < 8 THEN 'train'
           WHEN {h60_sql(f"'{CLSPLIT_SEED}:' || CAST(doc_id AS VARCHAR)")} % 10 < 9 THEN 'val'
           ELSE 'test' END) AS n_naive_splits
  FROM m GROUP BY canonical_id
),
per_split AS (
  SELECT CASE
           WHEN {h60_sql(f"'{CLSPLIT_SEED}:' || CAST(canonical_id AS VARCHAR)")} % 10 < 8 THEN 'train'
           WHEN {h60_sql(f"'{CLSPLIT_SEED}:' || CAST(canonical_id AS VARCHAR)")} % 10 < 9 THEN 'val'
           ELSE 'test' END AS split,
         CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(sum(n_docs) AS BIGINT) AS n_docs,
         CAST(sum(sum_chars) AS BIGINT) AS sum_chars,
         sum(CASE WHEN n_naive_splits > 1 THEN 1 ELSE 0 END) AS straddle_part
  FROM cl GROUP BY 1
)
SELECT split, n_clusters, n_docs, sum_chars,
       CAST(sum(straddle_part) OVER () AS BIGINT) AS naive_straddle_clusters
FROM per_split
"""


# --------------------------------------------------------------------------
# q188: cross-document duplicated spans (exact-substring dedup signal)
# --------------------------------------------------------------------------

SPAN_N = 8  # word span order -- long enough that chance collisions vanish


def q188_crossdoc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-substring dedup signal of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), at word-8-gram
    granularity: how much of each document's text mass sits in spans that
    ALSO appear in some OTHER document. q144 catches within-document
    looping; this catches cross-document boilerplate and copy-paste that
    survives document-level near-dup thresholds.

    Shape: one corpus scan -> explode 8-gram spans -> per-(doc, span)
    distinct (a span repeated inside one doc is one cross-doc unit) ->
    the span's document count rides a COUNT window partitioned by the
    span hash (one shuffle on the hash, no self-join) -> per-doc mass of
    cross-doc spans in integer ppm of its span mass (the q144 char-mass
    approximation) -> per-source rollup. Span identity flows as the
    60-bit md5 hash, never the string (the q41 rule) -- both engines
    hash identically, so even a collision is bit-reproducible.

    At 100 TB the span table is O(total tokens): the only shuffles are
    keyed by span hash and doc_id, both bounded, never pairwise."""
    docs = load(spark, sf_dir, "documents")
    w = docs.select("doc_id", "source", _words("lower(text)").alias("w"))
    grams = word_ngrams("w", SPAN_N)
    g = w.select("doc_id", "source", F.explode(grams).alias("g")).select(
        "doc_id", "source", h60("g").alias("gh"), F.length("g").alias("glen")
    )
    per_doc_span = g.groupBy("doc_id", "source", "gh").agg(F.max("glen").alias("glen"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("gh"))
    flagged = per_doc_span.withColumn("nd", nd)
    per_doc = flagged.groupBy("doc_id", "source").agg(
        F.sum("glen").alias("total_mass"),
        F.sum(F.when(F.col("nd") >= 2, F.col("glen")).otherwise(0)).alias("cross_mass"),
    ).select(
        "doc_id",
        "source",
        F.expr("CAST(cross_mass * 1000000 DIV total_mass AS BIGINT)").alias("cross_ppm"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_spanned"),
        F.sum((F.col("cross_ppm") > 0).cast("bigint")).alias("n_docs_flagged"),
        F.expr("CAST(sum(cross_ppm) DIV count(*) AS BIGINT)").alias("mean_cross_ppm"),
        F.max("cross_ppm").alias("max_cross_ppm"),
    )


ORACLE_Q188 = f"""
WITH w AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS w
  FROM documents
),
g AS (
  SELECT doc_id, source, unnest(
{ngrams_sql(SPAN_N)}) AS gram
  FROM w
),
pds AS (
  SELECT doc_id, source, {h60_sql('gram')} AS gh, max(length(gram)) AS glen
  FROM g GROUP BY 1, 2, 3
),
fl AS (
  SELECT *, count(*) OVER (PARTITION BY gh) AS nd FROM pds
),
per AS (
  SELECT doc_id, source,
         CAST(sum(CASE WHEN nd >= 2 THEN glen ELSE 0 END) * 1000000
              // sum(glen) AS BIGINT) AS cross_ppm
  FROM fl GROUP BY 1, 2
)
SELECT source,
       count(*) AS n_docs_spanned,
       CAST(sum(CASE WHEN cross_ppm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_flagged,
       CAST(sum(cross_ppm) // count(*) AS BIGINT) AS mean_cross_ppm,
       max(cross_ppm) AS max_cross_ppm
FROM per
GROUP BY source
"""


# --------------------------------------------------------------------------
# q191: triangle counting over the near-dup graph (degree-ordered)
# --------------------------------------------------------------------------

def q191_dupgraph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of q42's near-dup graph: triangle count, wedge
    count, and the global clustering coefficient 3*tri/wedges -- the
    graph-shape audit that tells a dedup pipeline whether its pair set is
    transitively consistent (near-dup similarity SHOULD be roughly
    transitive, so a pair set whose clustering coefficient collapses
    toward 0 is finding spurious pairs; the CC step (q68) inherits every
    such error).

    The distributed shape is the classic degree-ordered orientation
    (Cohen's MapReduce triangle counting): orient every undirected edge
    from its (degree, id)-smaller endpoint to the larger, which bounds
    every vertex's out-degree by O(sqrt(edges)); wedges then enumerate as
    the self-join of OUT-edges on their source (never the raw neighbor
    join whose hubs explode quadratically), and each wedge's closing edge
    is checked with one hash semi-join against the oriented edge set --
    each triangle counted exactly once at its orientation-source vertex.
    Lexicographic (deg, id) compares are spelled out as boolean algebra,
    identical in both engines. All integers; ppm by integer division."""
    pairs = (
        q42_minhash_lsh_dedup(spark, sf_dir)
        .select(
            F.least("doc_a", "doc_b").alias("a"), F.greatest("doc_a", "doc_b").alias("b")
        )
        .distinct()
    )
    sym = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    e = (
        pairs.join(deg.select(F.col("u").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("u").alias("b"), F.col("deg").alias("db")), "b")
    )
    lex_ab = (F.col("da") < F.col("db")) | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = e.select(
        F.when(lex_ab, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lex_ab, F.col("da")).otherwise(F.col("db")).alias("dsrc"),
        F.when(lex_ab, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(lex_ab, F.col("db")).otherwise(F.col("da")).alias("ddst"),
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    lex_vw = (F.col("o1.ddst") < F.col("o2.ddst")) | (
        (F.col("o1.ddst") == F.col("o2.ddst")) & (F.col("o1.dst") < F.col("o2.dst"))
    )
    wedges = o1.join(o2, F.col("o1.src") == F.col("o2.src")).filter(lex_vw).select(
        F.col("o1.dst").alias("x"), F.col("o2.dst").alias("y")
    )
    tri = wedges.join(
        oriented.select(F.col("src").alias("x"), F.col("dst").alias("y")),
        ["x", "y"],
        "left_semi",
    )
    # three 1-row aggregates crossJoined (bounded broadcast scalars, the
    # house pattern) -- no driver-side counting loop
    s_deg = deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.coalesce(F.sum(F.expr("deg * (deg - 1) DIV 2")), F.lit(0)).cast("bigint").alias("n_wedges"),
    )
    s_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    s_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        s_deg.crossJoin(s_edges)
        .crossJoin(s_tri)
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr(
                "CAST(CASE WHEN n_wedges > 0 THEN 3 * n_triangles * 1000000 DIV n_wedges"
                " ELSE 0 END AS BIGINT)"
            ).alias("clustering_ppm"),
        )
    )


ORACLE_Q191 = f"""
WITH raw AS (SELECT doc_a, doc_b FROM ({ORACLE_Q42})),
pairs AS (SELECT DISTINCT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b FROM raw),
sym AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
e AS (
  SELECT p.a, p.b, da.deg AS da, db.deg AS db
  FROM pairs p JOIN deg da ON p.a = da.u JOIN deg db ON p.b = db.u
),
oriented AS (
  SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS src,
         CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS dst,
         CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS ddst
  FROM e
),
wedges AS (
  SELECT o1.dst AS x, o2.dst AS y
  FROM oriented o1 JOIN oriented o2 ON o1.src = o2.src
  WHERE o1.ddst < o2.ddst OR (o1.ddst = o2.ddst AND o1.dst < o2.dst)
),
tri AS (
  SELECT count(*) AS t FROM wedges w
  WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.src = w.x AND o.dst = w.y)
),
stats AS (
  SELECT (SELECT count(*) FROM deg) AS n_vertices,
         (SELECT count(*) FROM pairs) AS n_edges,
         (SELECT CAST(coalesce(sum(deg * (deg - 1) // 2), 0) AS BIGINT) FROM deg) AS n_wedges,
         (SELECT t FROM tri) AS n_triangles
)
SELECT CAST(n_vertices AS BIGINT) AS n_vertices,
       CAST(n_edges AS BIGINT) AS n_edges,
       n_wedges,
       CAST(n_triangles AS BIGINT) AS n_triangles,
       CAST(CASE WHEN n_wedges > 0 THEN 3 * n_triangles * 1000000 // n_wedges
            ELSE 0 END AS BIGINT) AS clustering_ppm
FROM stats
"""



# --------------------------------------------------------------------------
# q202: exact similarity join via PREFIX FILTERING (PPJoin-style)
# --------------------------------------------------------------------------

PF_TAU_PPM = 800_000  # Jaccard threshold tau = 0.8, as integer ppm


def q202_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged wrapper: the (tiny, near-dup-sized) exact pair set is THE
    lossless truth artifact three consumers read (q222's audit twice,
    q229's m-estimation, this query's own driver row) -- Catalyst does
    not CSE across their subtrees, so without the stage each consumer
    re-runs the whole prefix-filter pipeline (measured: q222 11.5 s ->
    ~2 s in-sweep). Same discipline as q42_pairs."""
    return cached_df(
        spark, f"q202_pairs:{sf_dir}", lambda: _q202_build(spark, sf_dir)
    )


def _q202_candidates(ds: DataFrame) -> DataFrame:
    """Prefix-filter candidate tier: (doc_a, doc_b) pairs sharing a rarest-
    shingle prefix key and passing the 5*min >= 4*max size filter. The ONE
    definition both the shipped pipeline (_q202_build) and the scale
    measurement (tools/scale.py stress) use, so the measured candidate
    curve can never drift from the production expressions."""
    # dfreq is corpus-sized (one row per distinct shingle) but the static
    # estimator sizes the aggregate under the broadcast threshold -- at a
    # 10x-inflated sf0.1 the driver-side broadcast build OOMs (measured by
    # tools/scale.py stress). The MERGE hint pins a shuffle join: both
    # sides exchange on sh, nothing corpus-scaling ever lands on the driver.
    dfreq = ds.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).hint("merge")
    per_doc = (
        ds.join(dfreq, "sh")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "sh"))).alias("ordered"),
            F.count(F.lit(1)).alias("sz"),
        )
    )
    prefix = (
        per_doc.withColumn("p", F.expr("sz - ((4 * sz + 4) DIV 5) + 1"))
        .select("doc_id", "sz", F.explode(F.expr("slice(ordered, 1, p)")).alias("t"))
        .select("doc_id", "sz", F.col("t.sh").alias("sh"))
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (5 * F.least("a.sz", "b.sz") >= 4 * F.greatest("a.sz", "b.sz")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def _q202_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.8 similarity join via prefix filtering
    (SSJoin/PPJoin family) -- the lossless counterpart of q42's LSH: no
    probabilistic bands, yet no all-pairs join either. Each document
    keeps only its p = |A| - ceil(tau*|A|) + 1 RAREST shingles (global
    (doc-frequency, hash) order) as join keys; the prefix lemma
    guarantees every pair with J >= tau shares a prefix token, so the
    candidate join is complete, and candidates are verified exactly.
    The oracle is the FULL shingle equijoin -- the driver hash compare
    therefore proves the prefix filter loses nothing.

    Scale: the per-doc prefix order comes from array_sort over the
    doc's own (df, sh) structs -- a global shingle RANK table (global
    sort) is never built. Prefix keys are by construction the rarest
    shingles, so the candidate self-join is skew-resistant exactly
    where a naive shingle equijoin is hottest; the size filter
    5*min >= 4*max prunes length-incompatible pairs before the verify,
    and the verify joins run on candidate-doc semi-filtered shingles
    (the q42/q193 staging discipline)."""
    ds = _doc_shingles(spark, sf_dir, cache=True)
    cand = _q202_candidates(ds)
    ds_c = _cand_shingle_sizes(spark, sf_dir, f"q202_dsc:{sf_dir}", cand, ds=ds)
    return (
        _verified_pair_stats(ds_c, cand)
        .select(
            "doc_a",
            "doc_b",
            F.col("sz_a").cast("bigint").alias("sz_a"),
            F.col("sz_b").cast("bigint").alias("sz_b"),
            F.col("inter").cast("bigint").alias("inter"),
            F.expr(
                "CAST(inter * 1000000 DIV (sz_a + sz_b - inter) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .filter(F.col("jaccard_ppm") >= PF_TAU_PPM)
    )


ORACLE_Q202 = f"""
WITH ds AS ({DS_HASH_SQL}),
sizes AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM ds a JOIN ds b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(za.sz AS BIGINT) AS sz_a,
       CAST(zb.sz AS BIGINT) AS sz_b,
       CAST(inter AS BIGINT) AS inter,
       CAST(inter * 1000000 // (za.sz + zb.sz - inter) AS BIGINT) AS jaccard_ppm
FROM pairs
JOIN sizes za ON doc_a = za.doc_id
JOIN sizes zb ON doc_b = zb.doc_id
WHERE inter * 1000000 // (za.sz + zb.sz - inter) >= {PF_TAU_PPM}
"""



# --------------------------------------------------------------------------
# q218: sorted-neighborhood dedup (Hernandez-Stolfo SNM over a MinHash key)
# --------------------------------------------------------------------------

SNM_WINDOW = 4        # neighbors compared per doc in sorted order
SNM_BAND_SHIFT = 54   # sort-order bands: minhash DIV 2^54 (64 coarse bands)


def q218_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged wrapper (q42_pairs/q202_pairs discipline): q222 consumes
    the SNM pair set twice (count + truth semi-join); the stage makes
    that two reads of a tiny parquet instead of two pipeline runs."""
    return cached_df(
        spark, f"q218_pairs:{sf_dir}", lambda: _q218_build(spark, sf_dir)
    )


def _q218_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup (the Hernandez-Stolfo merge/purge
    method): sort documents by a similarity-correlated key and compare
    each only to its next W neighbors -- candidate generation by
    SORTING instead of hashing buckets (q42's LSH) or prefix tokens
    (q202). The sort key is the document's MINIMUM shingle hash: two
    documents share it with probability equal to their Jaccard (the
    MinHash estimator), so near-duplicates sort adjacent and the W-row
    window catches them. Candidates verify exactly through the shared
    _verified_pair_stats pipeline at the q42 threshold.

    Like every SNM, pairs straddling a sort boundary beyond W are
    missed by construction; the oracle replicates the SAME banded
    ordering and window, so the driver verifies the METHOD faithfully
    rather than pretending it is exhaustive.

    Scale: the global sort is banded -- documents hash to 64 key bands
    (minhash DIV 2^54) and the lead() window runs per band, so no
    SinglePartition window touches the corpus; cross-band adjacencies
    are part of the declared miss set, exactly as windowing within a
    sorted run is in the original algorithm."""
    from pyspark.sql import Window as W

    ds = _doc_shingles(spark, sf_dir, cache=True)
    keys = ds.groupBy("doc_id").agg(F.min("sh").alias("minsh"))
    # exact integer band: minsh is a non-negative 60-bit hash, so DIV is
    # floor division exactly like the oracle's `//` -- a double-division
    # cast could misband a minsh within ~2^7 of a 2^54 boundary (double
    # rounds bigints above 2^53) and diverge from DuckDB on that doc
    w = W.partitionBy(F.expr(f"minsh DIV {1 << SNM_BAND_SHIFT}")).orderBy(
        "minsh", "doc_id"
    )
    neighbors = keys.select(
        "doc_id",
        *[F.lead("doc_id", k).over(w).alias(f"nb{k}") for k in range(1, SNM_WINDOW + 1)],
    )
    pairs = None
    for k in range(1, SNM_WINDOW + 1):
        p = neighbors.filter(F.col(f"nb{k}").isNotNull()).select(
            F.least("doc_id", f"nb{k}").alias("doc_a"),
            F.greatest("doc_id", f"nb{k}").alias("doc_b"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    cand = pairs.distinct()
    ds_c = _cand_shingle_sizes(spark, sf_dir, f"q218_dsc:{sf_dir}", cand, ds=ds)
    return (
        _verified_pair_stats(ds_c, cand)
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "CAST(inter * 1000000 DIV (sz_a + sz_b - inter) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .filter(F.col("jaccard_ppm") >= PF_TAU_PPM)
    )


ORACLE_Q218 = f"""
WITH ds AS ({DS_HASH_SQL}),
keys AS (SELECT doc_id, min(sh) AS minsh FROM ds GROUP BY doc_id),
nb AS (
  SELECT doc_id,
         {", ".join(
             f"lead(doc_id, {k}) OVER (PARTITION BY minsh // {1 << SNM_BAND_SHIFT} "
             f"ORDER BY minsh, doc_id) AS nb{k}"
             for k in range(1, SNM_WINDOW + 1)
         )}
  FROM keys
),
cand AS (
  {" UNION ".join(
      f"SELECT least(doc_id, nb{k}) AS doc_a, greatest(doc_id, nb{k}) AS doc_b "
      f"FROM nb WHERE nb{k} IS NOT NULL"
      for k in range(1, SNM_WINDOW + 1)
  )}
),
sizes AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN ds a ON c.doc_a = a.doc_id
  JOIN ds b ON c.doc_b = b.doc_id AND a.sh = b.sh
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(inter * 1000000 // (za.sz + zb.sz - inter) AS BIGINT) AS jaccard_ppm
FROM inter
JOIN sizes za ON doc_a = za.doc_id
JOIN sizes zb ON doc_b = zb.doc_id
WHERE inter * 1000000 // (za.sz + zb.sz - inter) >= {PF_TAU_PPM}
"""



def q222_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation shoot-out: pair completeness of the two
    sub-quadratic blocking strategies (q42 LSH bands, q218
    sorted-neighborhood) against the LOSSLESS truth set (q202's
    prefix-filter join -- exact by the prefix lemma, proven by its
    full-equijoin oracle). Per method: verified pairs found, true pairs
    recovered, completeness in ppm -- the dedup-recall dashboard that
    decides which blocking strategy a corpus gets. Every input is a
    staged artifact of its own query, so the audit costs three reads
    and bounded joins, not three pipeline re-runs.

    Scale: pair sets are near-dup-sized; the truth side stays exact at
    any corpus because prefix filtering is lossless -- this audit needs
    no sampled ground truth.

    Threshold caveat (deliberate): each method's n_pairs uses ITS OWN
    registered >= 0.8 definition -- q42 rounds Jaccard to 6dp, q202/q218
    floor to ppm -- so a pair with true J in [0.7999995, 0.8) can appear
    in lsh_bands' n_pairs but not in the truth set. Completeness (the
    reported metric) is unaffected; do NOT derive precision as
    n_true_found / n_pairs across methods without normalizing the
    threshold, and do not "fix" this by changing q42's rounded threshold
    -- it is the adjudicated definition every q42 consumer shares."""
    truth = q202_prefix_filter_join(spark, sf_dir).select("doc_a", "doc_b")
    truth_n = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    methods = [
        ("lsh_bands", q42_minhash_lsh_dedup(spark, sf_dir).select("doc_a", "doc_b")),
        ("sorted_neighborhood",
         q218_sorted_neighborhood(spark, sf_dir).select("doc_a", "doc_b")),
        ("prefix_filter_exact", truth),
    ]
    out = None
    for name, pairs in methods:
        row = pairs.alias("p").join(
            truth.alias("t"),
            (F.col("p.doc_a") == F.col("t.doc_a"))
            & (F.col("p.doc_b") == F.col("t.doc_b")),
            "semi",
        ).agg(
            F.lit(name).alias("method"),
            F.count(F.lit(1)).alias("n_true_found"),
        ).crossJoin(
            F.broadcast(pairs.agg(F.count(F.lit(1)).alias("n_pairs")))
        ).crossJoin(F.broadcast(truth_n)).select(
            "method", "n_pairs", "n_true_found",
            F.col("n_truth").cast("bigint").alias("n_truth"),
            F.expr("CAST(n_true_found * 1000000 DIV greatest(n_truth, 1) AS BIGINT)")
            .alias("completeness_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out


ORACLE_Q222 = f"""
WITH truth AS ({ORACLE_Q202}),
lsh AS ({ORACLE_Q42}),
snm AS ({ORACLE_Q218}),
tn AS (SELECT count(*) AS n_truth FROM truth)
SELECT method, n_pairs, n_true_found, n_truth,
       CAST(n_true_found * 1000000 // greatest(n_truth, 1) AS BIGINT)
         AS completeness_ppm
FROM (
  SELECT 'lsh_bands' AS method,
         (SELECT count(*) FROM lsh) AS n_pairs,
         (SELECT count(*) FROM lsh p
          WHERE EXISTS (SELECT 1 FROM truth t
                        WHERE t.doc_a = p.doc_a AND t.doc_b = p.doc_b))
           AS n_true_found,
         n_truth
  FROM tn
  UNION ALL
  SELECT 'sorted_neighborhood',
         (SELECT count(*) FROM snm),
         (SELECT count(*) FROM snm p
          WHERE EXISTS (SELECT 1 FROM truth t
                        WHERE t.doc_a = p.doc_a AND t.doc_b = p.doc_b)),
         n_truth
  FROM tn
  UNION ALL
  SELECT 'prefix_filter_exact',
         (SELECT count(*) FROM truth),
         (SELECT count(*) FROM truth),
         n_truth
  FROM tn
)
"""


# --------------------------------------------------------------------------
# q245: tf-idf weighted sparse cosine similarity join
# --------------------------------------------------------------------------

SIMJ_TAU2_NUM = 9    # cosine threshold 0.6: 25 * dot^2 >= 9 * n2a * n2b
SIMJ_TAU2_DEN = 25
SIMJ_DF_MAX_PCT = 10  # prune terms present in > 10% of documents


def _q245_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf weighted postings, df-pruned. The MERGE hint pins the dfreq
    join to a shuffle: dfreq scales with the distinct-shingle count, so it
    must never broadcast (same driver-OOM failure mode as q202's dfreq
    join; see tools/scale.py stress)."""
    raw = _doc_shingles_raw(spark, sf_dir)
    tf = raw.groupBy("doc_id", "sh").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).hint("merge")
    nd = load(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(dfreq, "sh")
        .crossJoin(F.broadcast(nd))
        .filter(F.col("df") * 100 <= SIMJ_DF_MAX_PCT * F.col("n_docs"))
        .select(
            "doc_id", "sh",
            (
                F.col("tf")
                * F.floor(
                    F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                    * 1_000_000
                ).cast("bigint")
            ).alias("w"),
        )
    )


def q245_tfidf_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical similarity join: documents as tf-idf weighted
    shingle vectors, pairwise COSINE over the shared-term inner product
    -- the term-at-a-time self-join family (Bayardo et al. 2007) that
    complements the set-resemblance tiers (q42 Jaccard bands, q202
    prefix filter): idf makes a shared RARE shingle count for more
    than a shared common one, so boilerplate overlap no longer masks
    real near-dups. Candidate generation is the postings self-join
    with the classic df prune (terms in > 10% of docs are dropped
    before the join -- exactly the hot keys that would dominate both
    the shuffle and the score while carrying no signal).

    Exactness: idf floor-quantizes to integer micro units off the
    shared ln((N+1)/(df+1)) tree (the q35/q92 discipline), weights and
    inner products are then exact integers, and the threshold is the
    cross-multiplied SQUARE comparison 25·dot² >= 9·|a|²·|b|² in
    decimal -- no sqrt crosses the decision boundary; the reported
    sim_milli floors the identical double tree.

    Scale: postings stage once (tf join df join the 1-row corpus
    size); the self-join shuffles on the term key whose hottest keys
    the df prune just removed; norms join back keyed by doc. Σdf² over
    surviving terms bounds the join exactly as in the SSJoin
    literature."""
    postings = cached_df(
        spark, f"q245_postings:{sf_dir}", lambda: _q245_postings(spark, sf_dir)
    )
    # widen BEFORE the product: w reaches ~tf * idf_micro, so w*w in BIGINT
    # wraps silently past 2^63 on a large corpus while the oracle multiplies
    # in HUGEINT -- the decimal operand makes Spark's multiply exact too
    norms = postings.groupBy("doc_id").agg(
        F.sum(F.col("w").cast("decimal(38,0)") * F.col("w")).alias("n2")
    )
    a, b = postings.alias("a"), postings.alias("b")
    dots = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.sum(F.col("a.w").cast("decimal(38,0)") * F.col("b.w")).alias("dot")
        )
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    return (
        dots.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .filter(
            F.lit(SIMJ_TAU2_DEN) * F.col("dot") * F.col("dot")
            >= F.lit(SIMJ_TAU2_NUM) * F.col("na.n2") * F.col("nb.n2")
        )
        .select(
            "doc_a", "doc_b",
            F.col("dot").cast("bigint").alias("dot_w"),
            F.floor(
                1000.0
                * F.col("dot").cast("double")
                / F.sqrt(F.col("na.n2").cast("double") * F.col("nb.n2").cast("double"))
            ).cast("bigint").alias("sim_milli"),
        )
    )


ORACLE_Q245 = f"""
WITH raw AS MATERIALIZED (
  SELECT doc_id, {h60_sql("shingle")} AS sh FROM ({SHINGLES_SQL})
),
tf AS MATERIALIZED (SELECT doc_id, sh, count(*) AS tf FROM raw GROUP BY 1, 2),
dfq AS MATERIALIZED (SELECT sh, count(*) AS df FROM tf GROUP BY sh),
nd AS (SELECT count(*) AS n_docs FROM documents),
postings AS MATERIALIZED (
  SELECT doc_id, sh,
         tf * CAST(floor(ln((n_docs + 1.0) / (df + 1.0)) * 1000000) AS BIGINT)
           AS w
  FROM tf JOIN dfq USING (sh) CROSS JOIN nd
  WHERE df * 100 <= {SIMJ_DF_MAX_PCT} * n_docs
),
norms AS MATERIALIZED (
  SELECT doc_id, CAST(sum(CAST(w AS HUGEINT) * w) AS HUGEINT) AS n2
  FROM postings GROUP BY doc_id
),
dots AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(CAST(a.w AS HUGEINT) * b.w) AS HUGEINT) AS dot
  FROM postings a JOIN postings b
    ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(dot AS BIGINT) AS dot_w,
       CAST(floor(1000.0 * CAST(dot AS DOUBLE)
            / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
            AS BIGINT) AS sim_milli
FROM dots
JOIN norms na ON doc_a = na.doc_id
JOIN norms nb ON doc_b = nb.doc_id
WHERE {SIMJ_TAU2_DEN} * dot * dot >= {SIMJ_TAU2_NUM} * na.n2 * nb.n2
"""


# --------------------------------------------------------------------------
# q231: k-core peeling rounds over the duplicate graph
# --------------------------------------------------------------------------

KCORE_K = 2       # degree threshold: the 2-core strips pendant/chain dups
KCORE_ROUNDS = 4  # fixed peel rounds -- enough to converge on this graph,
                  # and a FIXED count so both engines run the same program


def q231_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling (Matula & Beck 1983)
    over the verified near-dup graph: each round removes nodes of
    degree < 2 and the edges they carried; what survives distinguishes
    densely cross-linked duplicate CLUSTERS (cycles, cliques -- template
    farms) from pendant chains that PageRank (q124) and the triangle
    census (q191) bracket but don't peel. Per round: surviving nodes
    and undirected edges -- the convergence trace is the data. Rounds
    are FIXED (4), so the oracle is the same straight-line program as
    chained CTEs; this graph converges within them (final two rounds
    equal = fixpoint reached, visible in the output).

    Scale: per round one degree aggregate plus two semi-joins, all on
    the near-dup-sized edge set (never the corpus); each round's edge
    set is parquet-staged because the next round reads it twice
    (degree + filter) and Spark does not CSE across subtrees. O(rounds)
    bounded work on a bounded artifact -- the large-star discipline of
    q68 applied to peeling."""
    def build_edges() -> DataFrame:
        p = q42_minhash_lsh_dedup(spark, sf_dir).select("doc_a", "doc_b")
        return p.select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        ).unionByName(p.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))

    edges = cached_df(spark, f"q231_edges_r0:{sf_dir}", build_edges)
    out = None
    for r in range(KCORE_ROUNDS + 1):
        stats = edges.agg(
            F.lit(r).cast("int").alias("round"),
            F.countDistinct("u").alias("n_nodes"),
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
        )
        out = stats if out is None else out.unionByName(stats)
        if r == KCORE_ROUNDS:
            break
        deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= KCORE_K).select("u")
        nxt = edges.join(F.broadcast(keep), "u", "semi").join(
            F.broadcast(keep.withColumnRenamed("u", "v")), "v", "semi"
        )
        r1 = r + 1
        edges = cached_df(
            spark, f"q231_edges_r{r1}:{sf_dir}", lambda df=nxt: df
        )
    return out


def _kcore_round_ctes() -> str:
    parts = []
    for r in range(KCORE_ROUNDS):
        parts.append(
            f"""d{r} AS MATERIALIZED (SELECT u, count(*) AS deg FROM e{r} GROUP BY u),
k{r} AS MATERIALIZED (SELECT u FROM d{r} WHERE deg >= {KCORE_K}),
e{r + 1} AS MATERIALIZED (
  SELECT u, v FROM e{r}
  WHERE u IN (SELECT u FROM k{r}) AND v IN (SELECT u FROM k{r})
)"""
        )
    return ",\n".join(parts)


ORACLE_Q231 = f"""
WITH pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ({ORACLE_Q42})),
e0 AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
{_kcore_round_ctes()}
{" UNION ALL ".join(
    f"SELECT CAST({r} AS INT) AS round,"
    f" CAST(count(DISTINCT u) AS BIGINT) AS n_nodes,"
    f" CAST(count(*) // 2 AS BIGINT) AS n_edges FROM e{r}"
    for r in range(KCORE_ROUNDS + 1)
)}
"""


# --------------------------------------------------------------------------
# q229: Fellegi-Sunter record-linkage match weights
# --------------------------------------------------------------------------

FS_LEN_BAND = 64  # n_chars DIV 64: the coarse length field compared


def q229_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (Fellegi & Sunter 1969): score the
    LSH candidate pairs (q42) by per-field agreement likelihood ratios
    m/u, where m = P(fields agree | true match) is estimated from the
    LOSSLESS truth pairs (q202, exact by the prefix lemma) and
    u = P(agree | random pair) from the value histogram identity
    sum(c_v^2)/N^2 -- no sampled random pairs, the exact closed form.
    Fields: lang, source, and the coarse length band n_chars DIV 64.

    All m/u estimates are exact integer ppm; the composite weight
    multiplies the three field ratios in ONE identical double
    expression tree per engine and floor-quantizes to milli (the
    q221/q197 discipline), so the driver hash-matches it exactly.

    Scale: the attribute projection stages once; u is three
    histogram aggregates over it (value-cardinality-sized), m is one
    bounded join over the truth pairs, and scoring broadcasts the
    1-row parameter table over the candidate set -- nothing pairwise
    beyond the already-bucketed candidates."""
    def build() -> DataFrame:
        return load(spark, sf_dir, "documents").select(
            "doc_id", "lang", "source",
            F.expr(f"n_chars DIV {FS_LEN_BAND}").alias("lb"),
        )

    attrs = cached_df(spark, f"q229_attrs:{sf_dir}", build)
    fields = ["lang", "source", "lb"]

    # u_f in ppm: sum over values of c^2, divided by N^2 (both decimal-wide)
    params = None
    for f in fields:
        hist = attrs.groupBy(f).agg(F.count(F.lit(1)).alias("c"))
        u = hist.agg(
            F.expr(
                "CAST(sum(CAST(c AS DECIMAL(38,0)) * c) * 1000000"
                " DIV (sum(CAST(c AS DECIMAL(38,0))) * sum(c)) AS BIGINT)"
            ).alias(f"u_{f}")
        )
        params = u if params is None else params.crossJoin(F.broadcast(u))

    truth = q202_prefix_filter_join(spark, sf_dir).select("doc_a", "doc_b")
    ta, tb = attrs.alias("ta"), attrs.alias("tb")
    # NO forced broadcast on the pair side: it grows with the corpus's
    # near-dup population, the exact build side _cand_shingle_sizes and
    # q128 refuse to pin (a dup-heavy crawl OOMs the driver). AQE demotes
    # these joins to broadcast at runtime whenever the pair set IS small.
    m = (
        truth.join(ta, F.col("doc_a") == F.col("ta.doc_id"))
        .join(tb, F.col("doc_b") == F.col("tb.doc_id"))
        .agg(
            *[
                F.expr(
                    f"CAST(sum(CASE WHEN ta.{f} = tb.{f} THEN 1 ELSE 0 END)"
                    f" * 1000000 DIV greatest(count(1), 1) AS BIGINT)"
                ).alias(f"m_{f}")
                for f in fields
            ]
        )
    )
    params = params.crossJoin(F.broadcast(m))

    pairs = q42_minhash_lsh_dedup(spark, sf_dir).select("doc_a", "doc_b")
    pa, pb = attrs.alias("pa"), attrs.alias("pb")
    scored = (
        pairs.join(pa, F.col("doc_a") == F.col("pa.doc_id"))
        .join(pb, F.col("doc_b") == F.col("pb.doc_id"))
        .crossJoin(F.broadcast(params))
    )
    # the SAME generated expression string the oracle embeds -- one
    # definition, so the two engines cannot drift apart
    ratio = _fs_ratio_sql()
    return scored.select(
        "doc_a",
        "doc_b",
        *[(F.col(f"pa.{f}") == F.col(f"pb.{f}")).alias(f"agree_{f}") for f in fields],
        F.expr(f"CAST(floor(1000.0 * {ratio}) AS BIGINT)").alias("weight_milli"),
    )


def _fs_ratio_sql() -> str:
    return " * ".join(
        f"(CASE WHEN pa.{f} = pb.{f}"
        f" THEN CAST(m_{f} AS DOUBLE) / greatest(u_{f}, 1)"
        f" ELSE CAST(1000000 - m_{f} AS DOUBLE) / greatest(1000000 - u_{f}, 1)"
        f" END)"
        for f in ["lang", "source", "lb"]
    )


ORACLE_Q229 = f"""
WITH attrs AS (
  SELECT doc_id, lang, source, n_chars // {FS_LEN_BAND} AS lb FROM documents
),
{", ".join(
    f'''h_{f} AS (
  SELECT CAST(sum(CAST(c AS HUGEINT) * c) * 1000000
              // (sum(CAST(c AS HUGEINT)) * sum(c)) AS BIGINT) AS u_{f}
  FROM (SELECT {f}, count(*) AS c FROM attrs GROUP BY {f})
)''' for f in ["lang", "source", "lb"]
)},
truth AS (SELECT doc_a, doc_b FROM ({ORACLE_Q202})),
m AS (
  SELECT {", ".join(
    f"CAST(sum(CASE WHEN ta.{f} = tb.{f} THEN 1 ELSE 0 END)"
    f" * 1000000 // greatest(count(*), 1) AS BIGINT) AS m_{f}"
    for f in ["lang", "source", "lb"]
  )}
  FROM truth
  JOIN attrs ta ON doc_a = ta.doc_id
  JOIN attrs tb ON doc_b = tb.doc_id
),
params AS (SELECT * FROM h_lang, h_source, h_lb, m),
pairs AS (SELECT doc_a, doc_b FROM ({ORACLE_Q42}))
SELECT doc_a, doc_b,
       {", ".join(f"pa.{f} = pb.{f} AS agree_{f}" for f in ["lang", "source", "lb"])},
       CAST(floor(1000.0 * {_fs_ratio_sql()}) AS BIGINT) AS weight_milli
FROM pairs
JOIN attrs pa ON doc_a = pa.doc_id
JOIN attrs pb ON doc_b = pb.doc_id
CROSS JOIN params
"""


QUERIES = {
    "q40_exact_dedup": q40_exact_dedup,
    "q41_minhash_signatures": q41_minhash_signatures,
    "q42_minhash_lsh_dedup": q42_minhash_lsh_dedup,
    "q43_ngram_jaccard": q43_ngram_jaccard,
    "q44_simhash": q44_simhash,
    "q45_simhash_neardup": q45_simhash_neardup,
    "q68_dup_clusters": q68_dup_clusters,
    "q83_dedup_purge": q83_dedup_purge,
    "q86_decontamination": q86_decontamination,
    "q106_minhash_estimator_error": q106_minhash_estimator_error,
    "q119_edit_distance_verify": q119_edit_distance_verify,
    "q120_window_dedup": q120_window_dedup,
    "q124_dupgraph_pagerank": q124_dupgraph_pagerank,
    "q128_incremental_dedup": q128_incremental_dedup,
    "q130_canonical_election": q130_canonical_election,
    "q137_hybrid_dedup_audit": q137_hybrid_dedup_audit,
    "q141_khop_neighborhood": q141_khop_neighborhood,
    "q166_deletion_manifest": q166_deletion_manifest,
    "q167_cluster_split": q167_cluster_split,
    "q188_crossdoc_spans": q188_crossdoc_spans,
    "q191_dupgraph_triangles": q191_dupgraph_triangles,
    "q193_containment_dedup": q193_containment_dedup,
    "q202_prefix_filter_join": q202_prefix_filter_join,
    "q218_sorted_neighborhood": q218_sorted_neighborhood,
    "q222_blocking_audit": q222_blocking_audit,
    "q229_fellegi_sunter": q229_fellegi_sunter,
    "q231_kcore_peel": q231_kcore_peel,
    "q245_tfidf_simjoin": q245_tfidf_simjoin,
}

ORACLES = {
    "q40_exact_dedup": ORACLE_Q40,
    "q41_minhash_signatures": ORACLE_Q41,
    "q42_minhash_lsh_dedup": ORACLE_Q42,
    "q43_ngram_jaccard": ORACLE_Q43,
    "q44_simhash": ORACLE_Q44,
    "q45_simhash_neardup": ORACLE_Q45,
    "q68_dup_clusters": ORACLE_Q68,
    "q83_dedup_purge": ORACLE_Q83,
    "q86_decontamination": ORACLE_Q86,
    "q106_minhash_estimator_error": ORACLE_Q106,
    "q119_edit_distance_verify": ORACLE_Q119,
    "q120_window_dedup": ORACLE_Q120,
    "q124_dupgraph_pagerank": ORACLE_Q124,
    "q128_incremental_dedup": ORACLE_Q128,
    "q130_canonical_election": ORACLE_Q130,
    "q137_hybrid_dedup_audit": ORACLE_Q137,
    "q141_khop_neighborhood": ORACLE_Q141,
    "q166_deletion_manifest": ORACLE_Q166,
    "q167_cluster_split": ORACLE_Q167,
    "q188_crossdoc_spans": ORACLE_Q188,
    "q191_dupgraph_triangles": ORACLE_Q191,
    "q193_containment_dedup": ORACLE_Q193,
    "q202_prefix_filter_join": ORACLE_Q202,
    "q218_sorted_neighborhood": ORACLE_Q218,
    "q222_blocking_audit": ORACLE_Q222,
    "q229_fellegi_sunter": ORACLE_Q229,
    "q231_kcore_peel": ORACLE_Q231,
    "q245_tfidf_simjoin": ORACLE_Q245,
}
