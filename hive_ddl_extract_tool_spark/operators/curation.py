"""Corpus-curation composites: the cross-shard contamination matrix and
the end-to-end quality-gate funnel report. These compose the text-analysis
primitives (q33/q34/q71, operators/text.py) into the two reports a
training-data curation run actually publishes: "which shards leak into each
other" and "how many documents survive each gate, per shard".

Exactness discipline: every published number is an integer count (or an
integer ppm ratio); the one float in the pipeline -- the q34 quality score
feeding the >= 0.5 gate -- is built from the identical expression tree in
both engines, and IEEE arithmetic over identical doubles is deterministic,
so even the threshold comparison is cross-engine exact (q34's own `keep`
column is driver-green under the same argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ._hashing import h60, h60_sql
from .text import (LOWER_WORDS_SQL, NON_ALNUM, NORM_TEXT_EXPR, _marker_count,
                   _marker_count_sql, _quality_score, _quality_score_sql, _words)
from ..tables import load

# --------------------------------------------------------------------------
# q94: cross-source contamination matrix (shared prefix fingerprints)
# --------------------------------------------------------------------------

PREFIX_WORDS = 8


def q94_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many distinct document fingerprints each pair of source shards
    shares -- the train/eval leakage matrix. The fingerprint is the first
    PREFIX_WORDS tokens (prefix shingle), not the whole text: near-dup
    copies differ in their tails, and a full-text hash would report zero
    leakage on a corpus that plants near-duplicates across shards (the
    standard contamination probe is n-gram overlap for the same reason).

    Shape: distinct (source, fp) -- one map-side-combined aggregate,
    parquet-staged so BOTH self-join sides read the compact fingerprint
    set instead of re-scanning and re-hashing the corpus (no CSE across
    Spark subtrees) -- then a self-equi-join on fp. The join key is the
    fingerprint, so each fingerprint's bucket meets only its own
    duplicates; the output is |sources|^2-bounded. No broadcast needed at
    any corpus size."""
    from ._cache import cached_df

    def build() -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        w = docs.select("source", _words("lower(text)").alias("w"))
        fp = h60(f"concat_ws(' ', slice(w, 1, {PREFIX_WORDS}))")
        # zero-word documents carry no prefix content: without the filter
        # Spark fingerprints them as h60('') -- two shards each holding one
        # empty doc would read as "leaking" into each other -- while the
        # oracle's array_to_string over the empty list is NULL and silently
        # DROPS the row (confirmed divergence on the pinned hostile shapes)
        return w.filter(F.size("w") >= 1).select("source", fp.alias("fp")).distinct()

    fps = cached_df(spark, f"source_prefix_fps:{sf_dir}", build)
    a = fps.select(F.col("source").alias("source_a"), "fp")
    b = fps.select(F.col("source").alias("source_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fp"))
    )


_PREFIX_FP_SQL = h60_sql(
    f"array_to_string(list_slice({LOWER_WORDS_SQL}, 1, {PREFIX_WORDS}), ' ')"
)

ORACLE_Q94 = f"""
WITH fps AS (
  -- len >= 1 mirrors the Spark-side zero-word filter (an empty word list
  -- would otherwise hash to h60('') on Spark and NULL-drop here)
  SELECT DISTINCT source, {_PREFIX_FP_SQL} AS fp
  FROM documents
  WHERE len({LOWER_WORDS_SQL}) >= 1
)
SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared_fp
FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q95: curation funnel -- per-source survival through the quality gates
# --------------------------------------------------------------------------

MIN_WORDS = 20          # gate 1: length floor
QUALITY_MIN = 0.5       # gate 2: q34 composite score threshold
# gate 3: distinct-word ratio >= 0.3, compared as 10*nd >= 3*nw (integers)
DWR_NUM, DWR_DEN = 3, 10


def _gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc gate columns shared by q95 (funnel report) and q112
    (training manifest): (doc_id, source, nw, fp, g1..g4). One linear pass
    computes every signal from a word array materialized once
    (HOF-recompute trap); dedup canonicalization is a window min over the
    fingerprint partition restricted to gate-3 survivors -- no second
    join. Gates 1/3/4 are pure integer predicates; gate 2 reuses q34's
    exact expression tree."""
    docs = load(spark, sf_dir, "documents")
    w = docs.select("doc_id", "source", "text", _words("lower(text)").alias("w"))
    per = w.select(
        "doc_id",
        "source",
        F.size("w").cast("bigint").alias("nw"),
        F.size(F.array_distinct("w")).cast("bigint").alias("nd"),
        F.regexp_count("text", F.lit(NON_ALNUM)).cast("double").alias("n_punct"),
        _marker_count("en", F.col("w")).cast("double").alias("n_stop"),
        F.length("text").cast("double").alias("n_chars"),
        h60(NORM_TEXT_EXPR).alias("fp"),
    )
    nwd = F.col("nw").cast("double")
    # Guarded: nw >= MIN_WORDS (>0) implies text is non-empty, so inside g2
    # both denominators are positive; the WHEN makes that explicit instead
    # of relying on conjunction short-circuiting under ANSI.
    score = F.when(
        (F.col("nw") > 0) & (F.col("n_chars") > 0),
        _quality_score(nwd, F.col("n_stop"), F.col("n_punct"), F.col("n_chars")),
    )
    g1 = F.col("nw") >= MIN_WORDS
    g2 = g1 & (score >= QUALITY_MIN)
    g3 = g2 & (F.col("nd") * DWR_DEN >= F.col("nw") * DWR_NUM)
    g = per.select(
        "doc_id", "source", "nw", "fp", g1.alias("g1"), g2.alias("g2"), g3.alias("g3")
    )
    canon = F.min(F.when(F.col("g3"), F.col("doc_id"))).over(W.partitionBy("fp"))
    return g.withColumn("g4", F.col("g3") & (F.col("doc_id") == canon))


def q95_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel: per source shard, how many documents survive
    each successive gate -- length floor, q34 quality score, repetition
    (distinct-word ratio, the Gopher-rule shape), and exact dedup (keep the
    min doc_id per normalized-text fingerprint among gate-3 survivors).
    This is the report a data-curation run publishes per ingest; the final
    rollup is one low-cardinality aggregate over the shared gate pass."""
    g = _gated(spark, sf_dir)
    return (
        g.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum(F.col("g1").cast("bigint")).alias("n_len_ok"),
            F.sum(F.col("g2").cast("bigint")).alias("n_quality_ok"),
            F.sum(F.col("g3").cast("bigint")).alias("n_rep_ok"),
            F.sum(F.col("g4").cast("bigint")).alias("n_unique"),
        )
        .select(
            "*",
            F.expr("n_unique * 1000000 DIV n_raw").alias("retained_ppm"),
        )
    )


_NORM_FP_SQL = h60_sql("trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))")

# Shared oracle prelude mirroring _gated(): per-doc signals -> q34 score ->
# gates -> dedup canonical. Ends with the `canon` CTE.
_GATED_SQL = f"""per AS (
  SELECT doc_id, source,
         CAST(len({LOWER_WORDS_SQL}) AS BIGINT) AS nw,
         CAST(len(list_distinct({LOWER_WORDS_SQL})) AS BIGINT) AS nd,
         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]')) AS DOUBLE) AS n_punct,
         CAST({_marker_count_sql("en", LOWER_WORDS_SQL)} AS DOUBLE) AS n_stop,
         CAST(length(text) AS DOUBLE) AS n_chars,
         {_NORM_FP_SQL} AS fp
  FROM documents
),
s AS (
  SELECT *,
         CASE WHEN nw > 0 AND n_chars > 0 THEN {_quality_score_sql('CAST(nw AS DOUBLE)', 'n_stop', 'n_punct', 'n_chars')} END AS score
  FROM per
),
gated AS (
  SELECT *,
         nw >= {MIN_WORDS} AS g1,
         nw >= {MIN_WORDS} AND score >= {QUALITY_MIN} AS g2,
         nw >= {MIN_WORDS} AND score >= {QUALITY_MIN} AND nd * 10 >= nw * 3 AS g3
  FROM s
),
canon AS (
  SELECT *,
         g3 AND doc_id = min(CASE WHEN g3 THEN doc_id END) OVER (PARTITION BY fp) AS g4
  FROM gated
)"""

ORACLE_Q95 = f"""
WITH {_GATED_SQL}
SELECT source,
       count(*) AS n_raw,
       CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
       CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
       CAST(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rep_ok,
       CAST(sum(CASE WHEN g4 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(sum(CASE WHEN g4 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS retained_ppm
FROM canon
GROUP BY source
"""


# --------------------------------------------------------------------------
# q112: end-to-end training-data manifest (gates -> dedup -> split -> pack)
# --------------------------------------------------------------------------

def q112_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE query, emitting the artifact a
    training run actually consumes: per (source shard, split), how many
    documents survived every gate plus dedup, their token mass, and the
    number of PACK_BLOCK context windows that mass fills. Composes the
    shared gate pass (_gated, q95), the deterministic q36 hash split, and
    q90's packing arithmetic -- each individually driver-verified; this
    query verifies their composition end to end. All integer outputs."""
    from .text import PACK_BLOCK, split_of

    g = _gated(spark, sf_dir).filter(F.col("g4"))
    return (
        g.select("source", "nw", split_of("doc_id").alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("nw").alias("n_tokens"))
        .select(
            "*",
            F.expr(f"(n_tokens + {PACK_BLOCK - 1}) DIV {PACK_BLOCK}").alias("n_blocks"),
        )
    )


def _oracle_q112() -> str:
    from .text import PACK_BLOCK, split_bucket_sql

    bk = split_bucket_sql("doc_id")
    split_case = (
        f"CASE WHEN {bk} < 80 THEN 'train' "
        f"WHEN {bk} < 90 THEN 'val' "
        "ELSE 'test' END"
    )
    return f"""
WITH {_GATED_SQL}
SELECT source, {split_case} AS split,
       count(*) AS n_docs,
       CAST(sum(nw) AS BIGINT) AS n_tokens,
       CAST((sum(nw) + {PACK_BLOCK - 1}) // {PACK_BLOCK} AS BIGINT) AS n_blocks
FROM canon
WHERE g4
GROUP BY source, {split_case}
"""


ORACLE_Q112 = _oracle_q112()


# --------------------------------------------------------------------------
# q145: decontamination dashboard -- all three probes, one method-tagged table
# --------------------------------------------------------------------------

def q145_decontam_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-page decontamination report an eval release publishes: each
    detection method's candidate population, flagged count, and flag rate
    -- lexical word-8-grams (q104), verified near-dup pairs crossing the
    split (q86), and embedding cosine inside k-means cells (q133). The
    three probes catch different leaks (verbatim spans, whole-document
    copies, paraphrases), so the dashboard is the union, not a
    replacement; verifying it jointly also pins the COMPOSITION of three
    staged artifacts (split grams, pair set, cell assignment) the way q112
    does for the curation funnel. Denominators differ by construction and
    are part of the contract: gram-eligible test docs / all test docs /
    embedded test vectors. All integers; zero new corpus scans in a
    session that ran the constituents."""
    from .dedup import q86_decontamination
    from .selection import q104_ngram_decontam
    from .similarity import q133_semantic_decontam
    from .text import split_bucket

    m1 = (
        q104_ngram_decontam(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum((F.col("n_hit") > 0).cast("bigint")).alias("n_flagged"),
        )
        .select(F.lit("lexical_8gram").alias("method"), "n_candidates", "n_flagged")
    )
    docs = load(spark, sf_dir, "documents")
    n_test = docs.filter(split_bucket("doc_id") >= 90).agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    flagged2 = (
        q86_decontamination(spark, sf_dir)
        .select("test_doc")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )
    m2 = n_test.crossJoin(flagged2).select(
        F.lit("neardup_pair").alias("method"), "n_candidates", "n_flagged"
    )
    m3 = (
        q133_semantic_decontam(spark, sf_dir)
        .agg(
            F.sum("n_test").alias("n_candidates"),
            F.sum("n_contam").alias("n_flagged"),
        )
        .select(F.lit("semantic_cosine").alias("method"), "n_candidates", "n_flagged")
    )
    return (
        m1.unionByName(m2)
        .unionByName(m3)
        .select(
            "method",
            "n_candidates",
            "n_flagged",
            F.expr(
                "CASE WHEN n_candidates > 0 THEN CAST(n_flagged * 1000000 DIV n_candidates AS BIGINT) END"
            ).alias("flagged_ppm"),
        )
    )


def _oracle_q145() -> str:
    from .dedup import ORACLE_Q86
    from .selection import ORACLE_Q104
    from .similarity import ORACLE_Q133
    from .text import split_bucket_sql

    bk = split_bucket_sql("doc_id")
    return f"""
WITH u AS (
  SELECT 'lexical_8gram' AS method,
         CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
  FROM ({ORACLE_Q104}) q104
  UNION ALL
  SELECT 'neardup_pair',
         (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE {bk} >= 90),
         (SELECT CAST(count(DISTINCT test_doc) AS BIGINT) FROM ({ORACLE_Q86}) q86)
  UNION ALL
  SELECT 'semantic_cosine',
         CAST(sum(n_test) AS BIGINT),
         CAST(sum(n_contam) AS BIGINT)
  FROM ({ORACLE_Q133}) q133
)
SELECT method, n_candidates, n_flagged,
       CASE WHEN n_candidates > 0
            THEN CAST(n_flagged * 1000000 // n_candidates AS BIGINT) END AS flagged_ppm
FROM u
"""


ORACLE_Q145 = _oracle_q145()


QUERIES = {
    "q94_source_overlap": q94_source_overlap,
    "q95_curation_report": q95_curation_report,
    "q112_training_manifest": q112_training_manifest,
    "q145_decontam_dashboard": q145_decontam_dashboard,
}

ORACLES = {
    "q94_source_overlap": ORACLE_Q94,
    "q95_curation_report": ORACLE_Q95,
    "q112_training_manifest": ORACLE_Q112,
    "q145_decontam_dashboard": ORACLE_Q145,
}
