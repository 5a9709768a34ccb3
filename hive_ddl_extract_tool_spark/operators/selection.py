"""Corpus-selection operators: the decisions a pretraining-data pipeline
makes AFTER scoring -- which documents clear the published rule set
(Gopher-style gates), how much of each source shard to sample (temperature
mixing), which documents fit a token budget (histogram-threshold
selection), which test documents leak n-grams from train (decontamination),
and how documents pack into fixed-shape training batches (length
bucketing).

Exactness discipline (house rules from operators/curation.py): every
published number is an integer count or integer-ppm ratio; threshold
comparisons on floats only ever compare doubles built from the identical
expression tree in both engines (IEEE arithmetic over identical inputs is
deterministic); cross-row float sums are floor-quantized to fixed point
and summed as int64 (order-free) before any division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ._hashing import h60, h60_expr, h60_sql
from ._rounding import mround
from .text import (LANG_MARKERS, LOWER_WORDS_SQL, NON_ALNUM, SPLIT_SEED,
                   _marker_count, _marker_count_sql, _quality_score,
                   _quality_score_sql, _words, split_bucket_sql)
from ..tables import load

_WORDS_SQL = LOWER_WORDS_SQL  # the ONE tokenizer SQL (text.py's WS_CLASS contract)

# --------------------------------------------------------------------------
# q100: Gopher-style rule gates -- per-source pass counts
# --------------------------------------------------------------------------

# The four classic document-level rules (Rae et al., "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", §A1.1):
# word-count band, mean-word-length band, alphabetic-word fraction,
# required-stopword hits. Thresholds are the paper's, except the stopword
# list which reuses this repo's EN marker set (text.py) so the rule is
# exercised rather than vacuous on the synthetic corpus.
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_WLEN, GOPHER_MAX_WLEN = 3, 10          # mean word length band
GOPHER_ALPHA_NUM, GOPHER_ALPHA_DEN = 4, 5         # >= 80% alphabetic words
GOPHER_MIN_STOPWORDS = 2                          # distinct stopword hits


def q100_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source pass counts for the four Gopher document gates. Every
    gate is an integer predicate: the mean-word-length band compares
    cross-multiplied integers (lo*nw <= sum_wlen <= hi*nw), the alphabetic
    fraction compares 5*n_alpha >= 4*nw -- no float ever divides, so the
    check is hash-exact by construction. One linear pass over a word array
    materialized once per doc; the only shuffle is the final
    low-cardinality per-source rollup."""
    docs = load(spark, sf_dir, "documents")
    w = docs.select("source", _words("lower(text)").alias("w"))
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    per = w.select(
        "source",
        F.size("w").cast("bigint").alias("nw"),
        F.aggregate("w", F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)).alias("sum_wlen"),
        F.size(F.filter("w", lambda x: x.rlike("^[a-z]+$"))).cast("bigint").alias("n_alpha"),
        F.size(F.array_intersect(F.array_distinct("w"), markers)).cast("bigint").alias("n_stop_distinct"),
    )
    g_len = (F.col("nw") >= GOPHER_MIN_WORDS) & (F.col("nw") <= GOPHER_MAX_WORDS)
    g_wlen = (F.col("sum_wlen") >= GOPHER_MIN_WLEN * F.col("nw")) & (
        F.col("sum_wlen") <= GOPHER_MAX_WLEN * F.col("nw")
    )
    g_alpha = GOPHER_ALPHA_DEN * F.col("n_alpha") >= GOPHER_ALPHA_NUM * F.col("nw")
    g_stop = F.col("n_stop_distinct") >= GOPHER_MIN_STOPWORDS
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(g_len.cast("bigint")).alias("n_len_ok"),
        F.sum(g_wlen.cast("bigint")).alias("n_wlen_ok"),
        F.sum(g_alpha.cast("bigint")).alias("n_alpha_ok"),
        F.sum(g_stop.cast("bigint")).alias("n_stop_ok"),
        F.sum((g_len & g_wlen & g_alpha & g_stop).cast("bigint")).alias("n_pass_all"),
    )


_EN_MARKER_LIST = "[" + ", ".join(f"'{m}'" for m in LANG_MARKERS["en"]) + "]"

ORACLE_Q100 = f"""
WITH per AS (
  SELECT source,
         CAST(len(w) AS BIGINT)                                            AS nw,
         CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS sum_wlen,
         CAST(len(list_filter(w, x -> regexp_full_match(x, '[a-z]+'))) AS BIGINT) AS n_alpha,
         CAST(len(list_intersect(list_distinct(w), {_EN_MARKER_LIST})) AS BIGINT) AS n_stop_distinct
  FROM (SELECT source, {_WORDS_SQL} AS w FROM documents)
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN nw >= {GOPHER_MIN_WORDS} AND nw <= {GOPHER_MAX_WORDS} THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
       CAST(sum(CASE WHEN sum_wlen >= {GOPHER_MIN_WLEN} * nw AND sum_wlen <= {GOPHER_MAX_WLEN} * nw THEN 1 ELSE 0 END) AS BIGINT) AS n_wlen_ok,
       CAST(sum(CASE WHEN {GOPHER_ALPHA_DEN} * n_alpha >= {GOPHER_ALPHA_NUM} * nw THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_ok,
       CAST(sum(CASE WHEN n_stop_distinct >= {GOPHER_MIN_STOPWORDS} THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_ok,
       CAST(sum(CASE WHEN nw >= {GOPHER_MIN_WORDS} AND nw <= {GOPHER_MAX_WORDS}
                 AND sum_wlen >= {GOPHER_MIN_WLEN} * nw AND sum_wlen <= {GOPHER_MAX_WLEN} * nw
                 AND {GOPHER_ALPHA_DEN} * n_alpha >= {GOPHER_ALPHA_NUM} * nw
                 AND n_stop_distinct >= {GOPHER_MIN_STOPWORDS} THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
FROM per
GROUP BY source
"""


# --------------------------------------------------------------------------
# q101: temperature-weighted source mixing (alpha = 0.5)
# --------------------------------------------------------------------------

Q9 = 10**9          # fixed-point scale shared with retrieval.py's discipline
EPOCH_DOC_BUDGET = 100_000  # documents drawn per training epoch


def q101_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights under temperature alpha=0.5
    (w_s = n_s^0.5 / sum n^0.5) -- the standard rebalancing that keeps huge
    shards from drowning small ones. alpha=0.5 makes the power a sqrt,
    which IEEE specifies correctly rounded, so both engines compute the
    identical double; it is then floor-quantized to 1e-9 fixed point and
    the cross-source total is an int64 sum (order-free), so the ppm weights
    and per-epoch draw counts are exact integers. The per-source token
    aggregate is the only corpus-sized shuffle; the weight normalization
    runs over |sources| rows (a bounded unpartitioned window, like every
    report footer)."""
    docs = load(spark, sf_dir, "documents")
    per = (
        docs.select("source", F.size(_words()).cast("bigint").alias("n_tok"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )
    s9 = F.floor(F.sqrt(F.col("n_tokens").cast("double")) * F.lit(float(Q9))).cast("bigint")
    tot = W.partitionBy()  # |sources| rows -- bounded
    # s9 * 1e6 widens to decimal before the product: s9 > 9.2e12 once a
    # source holds ~8.5e7 tokens, so the bare int64 multiply wraps silently
    # in Spark while the oracle errors (the q187/q228 discipline; the
    # quotient is a ppm, so the cast back to bigint is always exact)
    return (
        per.select("source", "n_docs", "n_tokens", s9.alias("s9"))
        .withColumn("total9", F.sum("s9").over(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr(
                "CAST(CAST(s9 AS DECIMAL(38,0)) * 1000000 DIV total9 AS BIGINT)"
            ).alias("weight_ppm"),
            F.expr(
                f"CAST(CAST(s9 AS DECIMAL(38,0)) * {EPOCH_DOC_BUDGET} DIV total9 AS BIGINT)"
            ).alias("docs_per_epoch"),
        )
    )


ORACLE_Q101 = f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(CAST(len({_WORDS_SQL}) AS BIGINT)) AS BIGINT) AS n_tokens
  FROM documents
  GROUP BY source
),
q AS (
  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * {Q9}.0) AS BIGINT) AS s9
  FROM per
)
SELECT source, n_docs, n_tokens,
       CAST(CAST(s9 AS HUGEINT) * 1000000 // (SELECT sum(s9) FROM q) AS BIGINT)          AS weight_ppm,
       CAST(CAST(s9 AS HUGEINT) * {EPOCH_DOC_BUDGET} // (SELECT sum(s9) FROM q) AS BIGINT) AS docs_per_epoch
FROM q
"""


# --------------------------------------------------------------------------
# q102: token-budget selection via quality-histogram threshold
# --------------------------------------------------------------------------

QB_SCALE = 1000  # quality-score buckets: floor(score * 1000)


def _quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged (doc_id, source, n_tok, qb): every document's token count and
    quantized q34 quality bucket -- ONE corpus scoring pass shared by q102
    (histogram threshold + selection join) and q142 (gate calibration).
    Shared q34 score tree (text._quality_score), denominator-guarded: a
    zero-word doc gets NULL score -> NULL bucket -> excluded from bucket
    joins identically on both engines."""
    from ._cache import cached_df

    def build_per() -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        w = docs.select("doc_id", "source", "text", _words("lower(text)").alias("w"))
        nwd = F.size("w").cast("double")
        n_punct = F.regexp_count("text", F.lit(NON_ALNUM)).cast("double")
        n_stop = _marker_count("en", F.col("w")).cast("double")
        n_chars = F.length("text").cast("double")
        score = F.when(
            (nwd > 0) & (n_chars > 0),
            _quality_score(nwd, n_stop, n_punct, n_chars),
        )
        return w.select(
            "doc_id",
            "source",
            F.size("w").cast("bigint").alias("n_tok"),
            F.floor(score * QB_SCALE).cast("bigint").alias("qb"),
        )

    return cached_df(spark, f"quality_buckets:{sf_dir}", build_per)


def q102_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select the highest-quality documents that fit a token budget (1/3 of
    the corpus), reported per source. NOT a global sort: the scalable shape
    is a quality HISTOGRAM threshold -- bucket every doc by quantized
    score, aggregate token mass per bucket (bounded <= {QB_SCALE}+1 rows),
    find the boundary bucket by a cumulative scan over that tiny table,
    take all docs strictly above it, and break ties inside the boundary
    bucket only, by doc_id order (a window keyed by the bucket, so even
    the tie-break is distributed). This is how a 100 TB curation run picks
    'the best N tokens' without ever totally ordering the corpus.

    The quality score is q34's expression tree verbatim (driver-green under
    the same argument); bucketing floors identical doubles, so bucket
    membership is cross-engine exact, and everything after is integers.

    The compact per-doc (doc_id, source, n_tok, qb) table feeds BOTH the
    histogram and the selection join, so it is parquet-staged once
    (cached_df) -- unstaged, each consumer re-scans and re-scores the raw
    corpus (no CSE across Spark subtrees; the q42 lesson). The histogram
    side of the selection join is <= QB_SCALE+1 rows by construction at any
    corpus size, so it broadcasts explicitly."""
    per = _quality_buckets(spark, sf_dir)
    hist = per.groupBy("qb").agg(F.sum("n_tok").alias("tok_s"))
    # tokens in strictly-better buckets + the budget, as 1-row-per-bucket
    # scalars (window over the bounded histogram)
    wd = W.partitionBy().orderBy(F.col("qb").desc())
    cum = hist.select(
        "qb",
        (F.sum("tok_s").over(wd) - F.col("tok_s")).alias("above"),
        F.sum("tok_s").over(W.partitionBy()).alias("total"),
    ).withColumn("budget", F.expr("total DIV 3"))
    wi = W.partitionBy("qb").orderBy("doc_id")
    sel = (
        per.join(F.broadcast(cum.select("qb", "above", "budget")), "qb")
        .withColumn("cum_in", F.sum("n_tok").over(wi))
        .filter(F.col("above") < F.col("budget"))
        .filter(F.col("above") + F.col("cum_in") <= F.col("budget"))
    )
    return sel.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("n_tok").alias("tokens_selected"),
    )


_Q102_SCORE_SQL = _quality_score_sql(
    "CAST(len(w) AS DOUBLE)",
    f"CAST({_marker_count_sql('en', 'w')} AS DOUBLE)",
    "CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]')) AS DOUBLE)",
    "CAST(length(text) AS DOUBLE)",
)

ORACLE_Q102 = f"""
WITH w AS (
  SELECT doc_id, source, text, {_WORDS_SQL} AS w FROM documents
),
per AS (
  SELECT doc_id, source,
         CAST(len(w) AS BIGINT) AS n_tok,
         CAST(floor((CASE WHEN len(w) > 0 AND length(text) > 0 THEN {_Q102_SCORE_SQL} END
         ) * {QB_SCALE}) AS BIGINT) AS qb
  FROM w
),
hist AS (SELECT qb, sum(n_tok) AS tok_s FROM per GROUP BY qb),
cum AS (
  SELECT qb,
         sum(tok_s) OVER (ORDER BY qb DESC ROWS UNBOUNDED PRECEDING) - tok_s AS above,
         (SELECT sum(tok_s) FROM hist) // 3 AS budget
  FROM hist
),
sel AS (
  SELECT source, n_tok
  FROM (
    SELECT p.source, p.n_tok, c.above, c.budget,
           sum(p.n_tok) OVER (PARTITION BY p.qb ORDER BY p.doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_in
    FROM per p JOIN cum c USING (qb)
  )
  WHERE above < budget AND above + cum_in <= budget
)
SELECT source, count(*) AS n_selected, CAST(sum(n_tok) AS BIGINT) AS tokens_selected
FROM sel
GROUP BY source
"""


# --------------------------------------------------------------------------
# q104: n-gram decontamination -- test-split docs leaking train n-grams
# --------------------------------------------------------------------------

DECONTAM_N = 8  # word n-gram size (13 in the PaLM/GPT-3 protocol; 8 fits the fixture doc lengths)


def q104_ngram_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard eval-decontamination probe: for every TEST-split
    document (q36's deterministic hash split), how many of its distinct
    word 8-grams also occur anywhere in the TRAIN split. Complements q86,
    which reports near-dup PAIRS; this is the n-gram-membership flavor
    actually run before publishing eval numbers.

    Shape: explode n-grams hashed to 60-bit ints, distinct per side
    (map-side combined -- gram hashes are the shuffle key), then one
    equi-join of the test gram set against the train gram membership set.
    Only integer ids and hashes move; contamination is an integer ppm.
    The distinct (doc_id, split, gh) set feeds BOTH join sides, so it is
    parquet-staged once -- unstaged, each side re-tokenizes and re-hashes
    the corpus (no CSE across Spark subtrees; the q42 lesson)."""
    from ._cache import cached_df

    def build_grams() -> DataFrame:
        from .text import split_of

        docs = load(spark, sf_dir, "documents")
        w = docs.select("doc_id", split_of("doc_id").alias("split"), _words("lower(text)").alias("w")).filter(
            F.size("w") >= DECONTAM_N
        )
        window = f"concat_ws(' ', slice(w, i, {DECONTAM_N}))"
        return w.select(
            "doc_id",
            "split",
            F.explode(
                F.expr(f"transform(sequence(1, size(w) - {DECONTAM_N - 1}), i -> {h60_expr(window)})")
            ).alias("gh"),
        ).distinct()

    grams = cached_df(spark, f"split_ngrams:{sf_dir}", build_grams)
    test = grams.filter(F.col("split") == "test").select("doc_id", "gh")
    train = grams.filter(F.col("split") == "train").select("gh").distinct().withColumn("hit", F.lit(1))
    return (
        test.join(train, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0)).cast("bigint")).alias("n_hit"),
        )
        .select("doc_id", "n_grams", "n_hit", F.expr("n_hit * 1000000 DIV n_grams").alias("contam_ppm"))
    )


_GRAM_SQL = h60_sql(f"array_to_string(list_slice(w, i, i + {DECONTAM_N - 1}), ' ')")

ORACLE_Q104 = f"""
WITH w AS (
  SELECT doc_id,
         CASE WHEN {split_bucket_sql("doc_id")} < 80 THEN 'train'
              WHEN {split_bucket_sql("doc_id")} < 90 THEN 'val'
              ELSE 'test' END AS split,
         {_WORDS_SQL} AS w
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, split, {_GRAM_SQL} AS gh
  FROM (SELECT * FROM w WHERE len(w) >= {DECONTAM_N}),
       LATERAL (SELECT unnest(range(1, len(w) - {DECONTAM_N - 1} + 1)) AS i)
),
train AS (SELECT DISTINCT gh FROM grams WHERE split = 'train')
SELECT doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN gh IN (SELECT gh FROM train) THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN gh IN (SELECT gh FROM train) THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS contam_ppm
FROM grams
WHERE split = 'test'
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# q105: length-bucketed batching -- padded-batch manifest per (source, bucket)
# --------------------------------------------------------------------------

LEN_BUCKETS = [16, 32, 64, 128, 256, 512, 1024]  # padded sequence lengths
BATCH_TOKENS = 2048                               # padded tokens per batch


def q105_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch planning: each document pads up to the
    smallest power-of-two bucket holding its token count, and batches are
    cut at BATCH_TOKENS padded tokens. Emits the per-(source, bucket)
    manifest -- doc count, real vs padded tokens, batch count, padding
    waste in ppm -- the numbers that decide whether a bucketing config
    wastes compute. The bucket is a closed CASE chain (no float log2,
    whose ULP at exact powers of two could flip buckets between engines);
    all outputs are integer arithmetic on two integer inputs."""
    docs = load(spark, sf_dir, "documents")
    n = F.greatest(F.size(_words()), F.lit(1)).cast("bigint")
    bucket = F.when(n <= LEN_BUCKETS[0], LEN_BUCKETS[0])
    for b in LEN_BUCKETS[1:]:
        bucket = bucket.when(n <= b, b)
    bucket = bucket.otherwise(2 * LEN_BUCKETS[-1])
    per = docs.select("source", n.alias("n_tok"), bucket.cast("bigint").alias("bucket"))
    return (
        per.groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
        .select(
            "source",
            "bucket",
            "n_docs",
            "n_tokens",
            (F.col("n_docs") * F.col("bucket")).alias("padded_tokens"),
            F.expr(f"(n_docs * bucket + {BATCH_TOKENS - 1}) DIV {BATCH_TOKENS}").alias("n_batches"),
            # padded mass * 1e6 widens first: a dominant (source, bucket)
            # group past ~9.2e12 padded tokens wraps the bare int64 product
            F.expr(
                "CAST(CAST(n_docs * bucket - n_tokens AS DECIMAL(38,0)) * 1000000"
                " DIV (n_docs * bucket) AS BIGINT)"
            ).alias("waste_ppm"),
        )
    )


def _bucket_case_sql() -> str:
    whens = " ".join(f"WHEN n <= {b} THEN {b}" for b in LEN_BUCKETS)
    return f"CASE {whens} ELSE {2 * LEN_BUCKETS[-1]} END"


ORACLE_Q105 = f"""
WITH per AS (
  SELECT source, n, CAST({_bucket_case_sql()} AS BIGINT) AS bucket
  FROM (SELECT source, CAST(greatest(len({_WORDS_SQL}), 1) AS BIGINT) AS n FROM documents)
)
SELECT source, bucket,
       count(*)                                                        AS n_docs,
       CAST(sum(n) AS BIGINT)                                          AS n_tokens,
       count(*) * bucket                                               AS padded_tokens,
       (count(*) * bucket + {BATCH_TOKENS - 1}) // {BATCH_TOKENS}      AS n_batches,
       CAST(CAST(count(*) * bucket - sum(n) AS HUGEINT) * 1000000 // (count(*) * bucket) AS BIGINT) AS waste_ppm
FROM per
GROUP BY source, bucket
"""


# --------------------------------------------------------------------------
# q122: DSIR-style importance weights (hashed n-gram importance resampling)
# --------------------------------------------------------------------------

# Data Selection for Language Models via Importance Resampling (Xie et al.,
# NeurIPS 2023): model target and raw corpora as bag-of-hashed-ngrams
# distributions; each raw document's importance weight is its
# log-likelihood ratio under the two distributions. Resampling by these
# weights shifts the corpus toward the target domain without a classifier.
DSIR_B = 1024                                     # hashed feature buckets
DSIR_TARGET = ("src0", "src1", "src2", "src3")    # target-domain proxy
Q9DS = 10**9  # fixed-point scale shared with retrieval.py's discipline


def _dsir_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged (doc_id, source, bucket) tokenize+hash pass -- the ONE corpus
    scan shared by q122/q126 (per-doc weights) and q125 (per-source bucket
    histograms). One definition, one cache key: divergence between the
    consumers is impossible by construction."""
    from ._cache import cached_df

    def build() -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        return docs.select(
            "doc_id",
            "source",
            F.explode(_words("lower(text)")).alias("tok"),
        ).select("doc_id", "source", (h60("tok") % F.lit(DSIR_B)).alias("b"))

    return cached_df(spark, f"dsir_toks:{sf_dir}", build)


def _dsir_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_tok, lw9): each document's integer-summed DSIR
    log-likelihood-ratio weight. Shared by q122 (the weight report) and
    q126 (the resampled draw).

    Plan shape (the 100 TB shape): ONE tokenize+hash pass is parquet-staged
    and feeds the two bucket histograms and the scoring join; the weight
    table is <= B rows and broadcasts; per-doc scoring is one map-side
    combined aggregate. Exactness: both ln arguments are doubles built from
    identical integer inputs, each per-bucket log-ratio is floor-quantized
    to 1e-9 before the integer per-doc sum (q92's discipline)."""
    toks = _dsir_toks(spark, sf_dir)
    raw = toks.groupBy("b").agg(F.count(F.lit(1)).alias("c_r"))
    tgt = (
        toks.filter(F.col("source").isin(*DSIR_TARGET))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    n_r = raw.agg(F.sum("c_r").alias("n_r"))
    n_t = tgt.agg(F.sum("c_t").alias("n_t"))
    w9 = F.floor(
        (
            F.log((F.col("c_t") + 1.0) / (F.col("n_t") + DSIR_B))
            - F.log((F.col("c_r") + 1.0) / (F.col("n_r") + DSIR_B))
        )
        * F.lit(float(Q9DS))
    ).cast("bigint")
    weights = (
        raw.join(tgt, "b", "left")
        .na.fill(0, ["c_t"])
        .crossJoin(F.broadcast(n_r))
        .crossJoin(F.broadcast(n_t))
        .select("b", w9.alias("w9"))
    )
    return (
        toks.join(F.broadcast(weights), "b")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n_tok"), F.sum("w9").alias("lw9"))
    )


def q122_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight: tokens hash into 1024 buckets
    (the shared md5-60-bit hash mod B); the target (4 proxy sources) and
    raw (whole corpus) bucket distributions are add-one smoothed; the
    document weight is the sum over its token occurrences of
    ln p_target(b) - ln p_raw(b). See _dsir_per_doc for the plan shape."""
    return _dsir_per_doc(spark, sf_dir).select(
        "doc_id",
        "source",
        "n_tok",
        "lw9",
        mround(F.col("lw9") / F.col("n_tok") / F.lit(float(Q9DS)), 6).alias(
            "avg_logweight"
        ),
    )


_DSIR_TGT_SQL = ", ".join(f"'{s}'" for s in DSIR_TARGET)

# Shared CTE chain ending in per(doc_id, source, n_tok, lw9) -- the DuckDB
# twin of _dsir_per_doc, reused by ORACLE_Q122 and ORACLE_Q126.
_DSIR_PER_CTES = f"""tok AS (
  SELECT doc_id, source, {h60_sql("tok")} % {DSIR_B} AS b
  FROM (SELECT doc_id, source, unnest({_WORDS_SQL}) AS tok FROM documents)
),
raw AS (SELECT b, count(*) AS c_r FROM tok GROUP BY 1),
tgt AS (SELECT b, count(*) AS c_t FROM tok WHERE source IN ({_DSIR_TGT_SQL}) GROUP BY 1),
nr AS (SELECT CAST(sum(c_r) AS BIGINT) AS n_r FROM raw),
nt AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t FROM tgt),
w AS (
  SELECT b,
         CAST(floor((ln((coalesce(c_t, 0) + 1.0) / (n_t + {DSIR_B}))
                   - ln((c_r + 1.0) / (n_r + {DSIR_B}))) * {Q9DS}.0) AS BIGINT) AS w9
  FROM raw LEFT JOIN tgt USING (b), nr, nt
),
per AS (
  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tok, CAST(sum(w9) AS BIGINT) AS lw9
  FROM tok JOIN w USING (b)
  GROUP BY 1, 2
)"""

ORACLE_Q122 = f"""
WITH {_DSIR_PER_CTES}
SELECT doc_id, source, n_tok, lw9, round(1.37e-6 + lw9 / n_tok / {Q9DS}.0, 6) AS avg_logweight
FROM per
"""


# --------------------------------------------------------------------------
# q123: hashed linear quality classifier -- fasttext-shape gate inference
# --------------------------------------------------------------------------

# The inference plumbing of a fasttext/DCLM-style quality classifier:
# hash each token into a bucket, sum the buckets' learned weights, gate on
# the sign. Weights here are a deterministic pseudo-model (derived from the
# bucket id by the shared md5 hash) -- the published numbers exercise the
# real plan shape (broadcast weight table, map-side-combined doc scores,
# per-source gate report) with a model both engines can rebuild bit-for-bit.
QC_B = 512            # classifier feature buckets
QC_W_RANGE = 1000     # weights uniform in [-1000, 1000]


def _classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged (doc_id, source, score): every document's hashed-linear
    classifier score -- ONE inference pass shared by q123 (per-source
    accept report) and q142 (calibration vs the heuristic score). The
    512-row weight table is generated (spark.range -- no scan) and
    broadcasts into the one token explode; doc scores are one map-side-
    combined aggregate. Zero-word docs produce no token rows, hence no
    score row -- excluded identically on both engines."""
    from ._cache import cached_df

    return cached_df(
        spark, f"qc_scores:{sf_dir}", lambda: _build_classifier_scores(spark, sf_dir)
    )


def _build_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unstaged inference pipeline (exposed for the plan audit: one
    documents scan, broadcast weight join)."""
    weights = spark.range(QC_B).select(
        F.col("id").alias("b"),
        (
            h60("concat('qw_', CAST(id AS STRING))") % (2 * QC_W_RANGE + 1)
            - QC_W_RANGE
        ).alias("w"),
    )
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(_words("lower(text)")).alias("tok")
    ).select("doc_id", "source", (h60("tok") % F.lit(QC_B)).alias("b"))
    return (
        toks.join(F.broadcast(weights), "b")
        .groupBy("doc_id", "source")
        .agg(F.sum("w").alias("score"))
    )


def q123_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source acceptance report of the hashed linear classifier:
    score(doc) = sum over tokens of w[h(token) mod 512], accept if > 0.
    All integers end-to-end: weights are h60-derived integers, scores are
    integer sums, the accept rate is integer ppm (see _classifier_scores
    for the staged inference pass)."""
    scored = _classifier_scores(spark, sf_dir)
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("score") > 0).cast("bigint")).alias("n_accept"),
        F.max("score").alias("max_score"),
        F.expr(
            "CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("accept_ppm"),
    )


ORACLE_Q123 = f"""
WITH w AS (
  SELECT range AS b,
         {h60_sql("'qw_' || CAST(range AS VARCHAR)")} % {2 * QC_W_RANGE + 1} - {QC_W_RANGE} AS w
  FROM range({QC_B})
),
tok AS (
  SELECT doc_id, source, {h60_sql("tok")} % {QC_B} AS b
  FROM (SELECT doc_id, source, unnest({_WORDS_SQL}) AS tok FROM documents)
),
scored AS (
  SELECT doc_id, source, CAST(sum(w) AS BIGINT) AS score
  FROM tok JOIN w USING (b)
  GROUP BY 1, 2
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
       max(score) AS max_score,
       CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS accept_ppm
FROM scored
GROUP BY source
"""


# --------------------------------------------------------------------------
# q125: source-divergence matrix -- Jeffreys (symmetric KL) between sources
# --------------------------------------------------------------------------

# Corpus-composition monitoring: how far apart two sources' unigram
# distributions are. The number a mixing pipeline (q101) watches to decide
# whether two shards are interchangeable or must be balanced separately;
# also the drift alarm when a source's crawl changes under it. Distances
# are over the same hashed-bucket space as q122 (the staged pass is
# shared), so the whole matrix costs S^2 * B bounded compute after one
# corpus scan at any corpus size.


def q125_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jeffreys divergence J(s1, s2) = KL(p1||p2) + KL(p2||p1) between the
    add-one-smoothed hashed-unigram distributions of every source pair
    (s1 < s2), in integer 1e-9 fixed point.

    Plan shape: reuses q122's staged (doc, source, bucket) tokenize pass;
    per-source bucket counts form a <= S*B-row table; a dense (source x
    bucket) grid (cross join of two tiny dims) left-joins the counts so
    zero-count buckets still contribute their smoothed term; the pair join
    is bucket-keyed between two S*B tables. Exactness: each bucket's
    contribution (p1-p2)*(ln p1 - ln p2) is one float expression over
    identical integer inputs, floor-quantized to 1e-9 before the integer
    pair sum (q92's discipline)."""
    toks = _dsir_toks(spark, sf_dir)
    counts = toks.groupBy("source", "b").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("source").agg(F.sum("c").alias("n"))
    # Dense 0..B-1 bucket axis (generated, no scan): buckets empty in EVERY
    # source still carry nonzero smoothed terms whenever two sources have
    # different token totals -- restricting to observed buckets would
    # silently under-report the divergence.
    buckets = spark.range(DSIR_B).select(F.col("id").cast("bigint").alias("b"))
    grid = (
        totals.crossJoin(buckets)
        .join(counts, ["source", "b"], "left")
        .na.fill(0, ["c"])
        .select("source", "b", "c", "n")
    )
    p = lambda c, n: (c + 1.0) / (n + DSIR_B)  # add-one smoothed probability
    a, bb = grid.alias("a"), grid.alias("b2")
    pa = p(F.col("a.c"), F.col("a.n"))
    pb = p(F.col("b2.c"), F.col("b2.n"))
    term9 = F.floor((pa - pb) * (F.log(pa) - F.log(pb)) * F.lit(float(Q9DS))).cast(
        "bigint"
    )
    return (
        a.join(bb, (F.col("a.b") == F.col("b2.b")) & (F.col("a.source") < F.col("b2.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b2.source").alias("source_b")
        )
        .agg(F.sum(term9).alias("jeffreys9"))
        .select(
            "source_a",
            "source_b",
            "jeffreys9",
            mround(F.col("jeffreys9") / F.lit(float(Q9DS)), 6).alias("jeffreys"),
        )
    )


ORACLE_Q125 = f"""
WITH tok AS (
  SELECT doc_id, source, {h60_sql("tok")} % {DSIR_B} AS b
  FROM (SELECT doc_id, source, unnest({_WORDS_SQL}) AS tok FROM documents)
),
counts AS (SELECT source, b, count(*) AS c FROM tok GROUP BY 1, 2),
totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1),
buckets AS (SELECT CAST(range AS BIGINT) AS b FROM range(1024)),
grid AS (
  SELECT t.source, bk.b, CAST(coalesce(c.c, 0) AS BIGINT) AS c, t.n
  FROM totals t CROSS JOIN buckets bk
  LEFT JOIN counts c ON c.source = t.source AND c.b = bk.b
),
pairs AS (
  SELECT a.source AS source_a, b2.source AS source_b,
         CAST(sum(CAST(floor(
           ((a.c + 1.0) / (a.n + {DSIR_B}) - (b2.c + 1.0) / (b2.n + {DSIR_B}))
           * (ln((a.c + 1.0) / (a.n + {DSIR_B})) - ln((b2.c + 1.0) / (b2.n + {DSIR_B})))
           * {Q9DS}.0) AS BIGINT)) AS BIGINT) AS jeffreys9
  FROM grid a JOIN grid b2 ON a.b = b2.b AND a.source < b2.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, jeffreys9, round(1.37e-6 + jeffreys9 / {Q9DS}.0, 6) AS jeffreys
FROM pairs
"""


# --------------------------------------------------------------------------
# q126: the DSIR resample itself -- weighted top-k draw (Efraimidis-Spirakis)
# --------------------------------------------------------------------------

# q122 computes importance weights; this query performs the resampling step
# that materializes the shifted corpus: a weighted random draw WITHOUT
# replacement via the Efraimidis-Spirakis one-pass reduction (select the k
# largest u_i^(1/w_i), equivalently the k largest ln(u_i)/w_i). u_i comes
# from the shared md5 hash, so the "random" draw is a pure function of the
# data -- reproducible across engines, runs, and cluster sizes.
SAMPLE_K = 100                  # documents drawn
ES_SHIFT9 = 2 * 10**9           # shifts avg-logweight (1e-9 units) positive
ES_U_BITS = 20                  # u = (h % 2^20 + 0.5) / 2^20, exact double


def q126_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-resampled corpus draw: the 100 documents with the largest
    Efraimidis-Spirakis keys ln(u)/w, where w is the document's shifted
    integer DSIR weight and u a hash-derived uniform. One linear pass over
    the staged per-doc weights; the draw is TakeOrderedAndProject on the
    integer key -- no global sort, no rand(). Exactness: w is an exact
    integer, u is an exact dyadic rational, and the key is floor-quantized
    to 1e-9 before ranking (doc_id tie-break)."""
    per = _dsir_per_doc(spark, sf_dir)
    # greatest(.., 1): the shift makes w positive for any realistic
    # log-ratio, but a pathological corpus (target vocabulary disjoint from
    # a source) could push the shifted weight to zero or below -- where the
    # key flips sign and div-by-zero semantics differ across engines. The
    # clamp pins the floor of the weight scale instead.
    w = F.greatest(
        F.floor(F.col("lw9") * F.lit(1.0) / F.col("n_tok")).cast("bigint")
        + F.lit(ES_SHIFT9).cast("bigint"),
        F.lit(1).cast("bigint"),
    ).alias("w")
    u = (
        (h60("concat('samp_', CAST(doc_id AS STRING))") % F.lit(2**ES_U_BITS))
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**ES_U_BITS))
    scored = per.select(
        "doc_id",
        "source",
        "n_tok",
        w,
    ).select(
        "doc_id",
        "source",
        "n_tok",
        "w",
        F.floor(F.log(u) * F.lit(float(Q9DS)) / F.col("w")).cast("bigint").alias("key9"),
    )
    return scored.orderBy(F.col("key9").desc(), "doc_id").limit(SAMPLE_K)


ORACLE_Q126 = f"""
WITH {_DSIR_PER_CTES},
scored AS (
  -- greatest(.., 1) mirrors the Spark clamp: a pathological corpus (target
  -- vocabulary disjoint from a source) pushes the shifted weight to <= 0,
  -- where the key flips sign / div-by-zero semantics differ across engines
  SELECT doc_id, source, n_tok,
         greatest(CAST(floor(lw9 * 1.0 / n_tok) AS BIGINT) + {ES_SHIFT9}, 1) AS w
  FROM per
)
SELECT doc_id, source, n_tok, w,
       CAST(floor(ln((({h60_sql("'samp_' || CAST(doc_id AS VARCHAR)")} % {2**ES_U_BITS}) + 0.5) / {float(2**ES_U_BITS)})
                  * {Q9DS}.0 / w) AS BIGINT) AS key9
FROM scored
ORDER BY key9 DESC, doc_id
LIMIT {SAMPLE_K}
"""


# --------------------------------------------------------------------------
# q132: DoReMi-lite domain reweighting (multiplicative weights, all-integer)
# --------------------------------------------------------------------------

# Domain Reweighting with Minimax Optimization (Xie et al., NeurIPS 2023
# "DoReMi") iterates: measure each domain's excess loss under a proxy
# model, multiplicatively upweight lossy domains, renormalize. The proxy
# loss here is the domain's cross-entropy against the CORPUS unigram
# distribution over the shared DSIR hashed-bucket space -- the same
# "surprisal under a reference model" shape, computable in one aggregate.
DOREMI_K = 10**6       # weight fixed point: weights are ppm, sum ~= K
DOREMI_ETA_DIV = 10_000  # step size: factor = K + excess9/ETA_DIV
DOREMI_ROUNDS = 3


def q132_doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style mixture reweighting over source domains, exact-integer
    end to end so the ITERATIVE algorithm replays bit-identically in the
    unrolled-CTE oracle (q124's discipline).

    Per-bucket surprisal nlp9 = floor(-ln((c_b+1)/(n+B)) * 1e9) is the only
    float step (identical expression tree both engines, q92/q122's
    accepted-hazard pattern); per-domain cross-entropy h9 is an integer
    weighted sum DIV token count; DOREMI_ROUNDS multiplicative-weight
    rounds then run in pure integer arithmetic: factor = K + excess9/ETA
    (floor), u = w*factor, w' = u*K DIV sum(u). Bounds: w <= K = 1e6,
    factor <= ~1.7e6, u <= 1.7e12, u*K <= 1.7e18 < 2^63 -- int64-safe at
    any corpus size (per-domain sums accumulate in decimal(30,0)).

    Plan shape: reuses the staged q122 tokenize pass (ONE corpus scan per
    session across q122/q125/q126/q132); the bucket surprisal table is
    <= B rows and broadcasts into the per-(source) aggregate; the rounds
    run on an S-row frame (S = #sources) -- window sums over S rows, no
    driver state, no collect."""
    from ._cache import cached_df

    toks = _dsir_toks(spark, sf_dir)
    # The bucket histogram is <= B rows but its INPUT is the corpus-sized
    # token table; unstaged, the ref -> n -> nlp chain re-aggregates that
    # table three times (no CSE across subtrees -- observed 6 staged-table
    # scans in the plan). Staged, the corpus-sized table is scanned exactly
    # twice: once building ref, once in the scoring join.
    ref = cached_df(
        spark,
        f"dsir_ref:{sf_dir}",
        lambda: toks.groupBy("b").agg(F.count(F.lit(1)).alias("c_b")),
    )
    n = ref.agg(F.sum("c_b").alias("n"))
    nlp9 = F.floor(
        -F.log((F.col("c_b") + 1.0) / (F.col("n") + DSIR_B)) * F.lit(float(Q9DS))
    ).cast("bigint")
    nlp = ref.crossJoin(F.broadcast(n)).select("b", nlp9.alias("nlp9"))
    base = (
        toks.join(F.broadcast(nlp), "b")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.col("nlp9").cast("decimal(30,0)")).alias("s_nlp"),
        )
        .select("source", "n_tok", F.expr("CAST(s_nlp DIV n_tok AS BIGINT)").alias("h9"))
    )
    all_rows = W.partitionBy()
    g = base.select(
        "source",
        "n_tok",
        "h9",
        (F.col("h9") - F.min("h9").over(all_rows)).alias("excess9"),
        F.count(F.lit(1)).over(all_rows).alias("n_src"),
    ).withColumn("factor", F.expr(f"{DOREMI_K} + excess9 DIV {DOREMI_ETA_DIV}"))
    g = g.withColumn("w0", F.expr(f"{DOREMI_K} DIV n_src"))
    for r in range(1, DOREMI_ROUNDS + 1):
        g = g.withColumn(f"u{r}", F.col(f"w{r-1}") * F.col("factor"))
        g = g.withColumn(
            f"w{r}",
            F.expr(f"CAST(u{r} * {DOREMI_K} DIV sum(u{r}) OVER () AS BIGINT)"),
        )
    return g.select("source", "n_tok", "h9", "excess9", "w1", "w2", "w3")


ORACLE_Q132 = f"""
WITH tok AS (
  SELECT doc_id, source, {h60_sql("tok")} % {DSIR_B} AS b
  FROM (SELECT doc_id, source, unnest({_WORDS_SQL}) AS tok FROM documents)
),
ref AS (SELECT b, count(*) AS c_b FROM tok GROUP BY 1),
n AS (SELECT CAST(sum(c_b) AS BIGINT) AS n FROM ref),
nlp AS (
  SELECT b, CAST(floor(-ln((c_b + 1.0) / (n + {DSIR_B})) * {Q9DS}.0) AS BIGINT) AS nlp9
  FROM ref, n
),
base AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(nlp9) // count(*) AS BIGINT) AS h9
  FROM tok JOIN nlp USING (b)
  GROUP BY source
),
e AS (
  SELECT source, n_tok, h9,
         h9 - min(h9) OVER () AS excess9,
         CAST({DOREMI_K} // count(*) OVER () AS BIGINT) AS w0,
         CAST({DOREMI_K} + (h9 - min(h9) OVER ()) // {DOREMI_ETA_DIV} AS BIGINT) AS factor
  FROM base
),
r1a AS (SELECT *, w0 * factor AS u1 FROM e),
r1 AS (SELECT *, CAST(u1 * {DOREMI_K} // sum(u1) OVER () AS BIGINT) AS w1 FROM r1a),
r2a AS (SELECT *, w1 * factor AS u2 FROM r1),
r2 AS (SELECT *, CAST(u2 * {DOREMI_K} // sum(u2) OVER () AS BIGINT) AS w2 FROM r2a),
r3a AS (SELECT *, w2 * factor AS u3 FROM r2),
r3 AS (SELECT *, CAST(u3 * {DOREMI_K} // sum(u3) OVER () AS BIGINT) AS w3 FROM r3a)
SELECT source, n_tok, h9, excess9, w1, w2, w3 FROM r3
"""


# --------------------------------------------------------------------------
# q142: gate calibration -- heuristic quality score vs learned-gate decision
# --------------------------------------------------------------------------

def q142_gate_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration of the two quality gates every curation stack runs in
    parallel: per DECILE of the q34 heuristic score, how often the q123
    hashed classifier accepts -- the table that decides whether the cheap
    heuristic can pre-filter for the expensive model (high agreement in
    the tails => gate early, disagreement in the middle => send only that
    band to the classifier). Composes the two STAGED passes (quality
    buckets, classifier scores) with one doc_id equi-join -- zero new
    corpus scans in a session that ran q102/q123. Decile = qb/100 capped
    at 9 (identical integer arithmetic both engines; zero-word docs have
    NULL bucket and no score row, excluded by the inner join on both
    sides). All outputs integer."""
    per = _quality_buckets(spark, sf_dir).filter(F.col("qb").isNotNull())
    scored = _classifier_scores(spark, sf_dir).select("doc_id", "score")
    decile = F.least(F.lit(9), F.expr("qb DIV 100")).cast("bigint")
    return (
        per.join(scored, "doc_id")
        .select(decile.alias("decile"), (F.col("score") > 0).alias("accept"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("accept").cast("bigint")).alias("n_accept"),
            F.expr(
                "CAST(sum(CASE WHEN accept THEN 1 ELSE 0 END) * 1000000 DIV count(*) AS BIGINT)"
            ).alias("accept_ppm"),
        )
    )


ORACLE_Q142 = f"""
WITH w AS (
  SELECT doc_id, source, text, {_WORDS_SQL} AS w FROM documents
),
per AS (
  SELECT doc_id,
         CAST(floor((CASE WHEN len(w) > 0 AND length(text) > 0 THEN {_Q102_SCORE_SQL} END
         ) * {QB_SCALE}) AS BIGINT) AS qb
  FROM w
),
wt AS (
  SELECT range AS b,
         {h60_sql("'qw_' || CAST(range AS VARCHAR)")} % {2 * QC_W_RANGE + 1} - {QC_W_RANGE} AS w
  FROM range({QC_B})
),
tok AS (
  SELECT doc_id, {h60_sql("tok")} % {QC_B} AS b
  FROM (SELECT doc_id, unnest({_WORDS_SQL}) AS tok FROM documents)
),
scored AS (
  SELECT doc_id, CAST(sum(w) AS BIGINT) AS score
  FROM tok JOIN wt USING (b)
  GROUP BY 1
)
SELECT CAST(least(9, p.qb // 100) AS BIGINT) AS decile,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN s.score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
       CAST(sum(CASE WHEN s.score > 0 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS accept_ppm
FROM per p JOIN scored s USING (doc_id)
WHERE p.qb IS NOT NULL
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q164: leave-one-source-out divergence -- source ablation impact
# --------------------------------------------------------------------------

def q164_source_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much would REMOVING each source shift the corpus token
    distribution? Jeffreys divergence between the corpus unigram
    distribution and the corpus-minus-source distribution, per source --
    the ablation twin of q125's pairwise matrix (a source can be close to
    every other source yet still dominate the mixture by volume; this is
    the statistic that says so). Derived entirely from q122's staged
    tokenize pass: per-source bucket counts subtract from the corpus
    bucket counts, so NO second corpus scan and no per-ablation job --
    all S ablations come from one S*B-row grid. Same exactness discipline
    as q125: each bucket term floor-quantizes to 1e-9 before the integer
    sum."""
    toks = _dsir_toks(spark, sf_dir)
    counts = toks.groupBy("source", "b").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("source").agg(F.sum("c").alias("n"))
    corpus_b = counts.groupBy("b").agg(F.sum("c").alias("cb"))
    buckets = spark.range(DSIR_B).select(F.col("id").cast("bigint").alias("b"))
    grid = (
        totals.crossJoin(buckets)
        .join(counts, ["source", "b"], "left")
        .na.fill(0, ["c"])
        .join(F.broadcast(corpus_b), "b", "left")
        .na.fill(0, ["cb"])
        .crossJoin(F.broadcast(totals.agg(F.sum("n").alias("nt"))))
        .select("source", "b", "c", "n", "cb", "nt")
    )
    p = lambda c, n: (c + 1.0) / (n + DSIR_B)
    p_abl = p(F.col("cb") - F.col("c"), F.col("nt") - F.col("n"))
    p_cor = p(F.col("cb"), F.col("nt"))
    term9 = F.floor((p_abl - p_cor) * (F.log(p_abl) - F.log(p_cor)) * F.lit(float(Q9DS))).cast(
        "bigint"
    )
    return (
        grid.groupBy("source")
        .agg(F.sum(term9).alias("jeffreys9"), F.min("n").alias("n_tokens"))
        .select(
            "source",
            "n_tokens",
            "jeffreys9",
            mround(F.col("jeffreys9") / F.lit(float(Q9DS)), 6).alias("jeffreys"),
        )
    )


ORACLE_Q164 = f"""
WITH tok AS (
  SELECT doc_id, source, {h60_sql("tok")} % {DSIR_B} AS b
  FROM (SELECT doc_id, source, unnest({_WORDS_SQL}) AS tok FROM documents)
),
counts AS (SELECT source, b, count(*) AS c FROM tok GROUP BY 1, 2),
totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1),
corpus_b AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM counts GROUP BY 1),
nt AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM totals),
buckets AS (SELECT CAST(range AS BIGINT) AS b FROM range({DSIR_B})),
grid AS (
  SELECT t.source, bk.b, CAST(coalesce(c.c, 0) AS BIGINT) AS c, t.n,
         CAST(coalesce(co.cb, 0) AS BIGINT) AS cb, nt.nt
  FROM totals t CROSS JOIN buckets bk
  LEFT JOIN counts c ON c.source = t.source AND c.b = bk.b
  LEFT JOIN corpus_b co ON co.b = bk.b
  CROSS JOIN nt
)
SELECT source, CAST(min(n) AS BIGINT) AS n_tokens,
       CAST(sum(CAST(floor(
         ((cb - c + 1.0) / (nt - n + {DSIR_B}) - (cb + 1.0) / (nt + {DSIR_B}))
         * (ln((cb - c + 1.0) / (nt - n + {DSIR_B})) - ln((cb + 1.0) / (nt + {DSIR_B})))
         * {Q9DS}.0) AS BIGINT)) AS BIGINT) AS jeffreys9,
       round(1.37e-6 + CAST(sum(CAST(floor(
         ((cb - c + 1.0) / (nt - n + {DSIR_B}) - (cb + 1.0) / (nt + {DSIR_B}))
         * (ln((cb - c + 1.0) / (nt - n + {DSIR_B})) - ln((cb + 1.0) / (nt + {DSIR_B})))
         * {Q9DS}.0) AS BIGINT)) AS BIGINT) / {Q9DS}.0, 6) AS jeffreys
FROM grid
GROUP BY source
"""


# --------------------------------------------------------------------------
# q187: weighted priority sampling with an unbiased-estimator audit
# --------------------------------------------------------------------------

# Priority sampling (Duffield, Lund & Thorup, JACM 2007): priority q_i =
# w_i / u_i with u_i uniform in (0,1]; keep the k largest priorities per
# stratum; tau = the (k+1)-th priority; then sum(max(w_i, tau)) over the
# sample is an (near-)unbiased estimator of sum(w_i) over the stratum.
PRIO_K = 10
PRIO_M = 1_000_003  # prime scale: u_int in [1, M] stands for u = u_int/M


def q187_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sampling per source WITHOUT replacement -- the
    pipeline operator behind 'audit 10 documents per shard, biased toward
    the documents that carry the tokens' -- plus the estimator audit that
    says how well the tiny sample reconstructs total corpus mass.

    Priority sampling with DETERMINISTIC randomness: u is derived from
    h60(doc_id), so both engines materialize the identical sample, and
    the whole computation is integer-exact -- priorities are
    q = (w * M * M) DIV u_int (w = n_chars, u_int in [1, M]; the extra M
    keeps q on the same w*M scale the estimator compares against), the
    top-k per source is a row_number window ordered by (q DESC, doc_id),
    tau is the (k+1)-th priority, and the Duffield estimator
    sum(max(w_i*M, tau)) stays in M-scaled integers; the final error ppm divides in
    DECIMAL(38,0)/HUGEINT (the product exact_scaled * 1e6 overflows
    BIGINT at larger corpora). The selected set itself is pinned by a
    mod-1e9+7 doc_id hash fingerprint, not just its size. Strata with
    <= k docs take everything and the estimator is exact by construction
    (tau = 0); larger strata err -- the audit-must-err rule (nonzero
    err_ppm at sf >= 0.01).

    Plan: one scan; per-source top-k is a bounded window; the join of
    per-source totals to per-source sample stats is 20 rows."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").alias("w")
    )
    # q is the M-SCALED priority w/u_frac (u_frac = u/M), i.e. q ~= w*M/u_frac
    # per unit weight*M -- the same scale as w*M, so tau and w*M compare
    # directly inside the estimator. w*M*M stays under 2^63 for n_chars up
    # to ~9e6; a corpus with longer documents raises M-scale to DECIMAL.
    d = docs.withColumn(
        "u", (h60("CAST(doc_id AS STRING)") % PRIO_M) + 1
    ).withColumn("q", F.expr(f"(w * {PRIO_M} * {PRIO_M}) DIV u"))
    wnd = W.partitionBy("source").orderBy(F.col("q").desc(), "doc_id")
    r = d.withColumn("rk", F.row_number().over(wnd))
    # tau rides a FULL-FRAME window over the same source partitioning the
    # row_number pass already shuffled on -- one exchange carries both
    # window passes and the corpus is scanned exactly once (a separate
    # tau branch joined back, or a totals/sample split, would each rescan
    # it: Catalyst does not CSE across branches).
    tau = F.coalesce(
        F.max(F.when(F.col("rk") == PRIO_K + 1, F.col("q"))).over(W.partitionBy("source")),
        F.lit(0),
    )
    in_sample = F.col("rk") <= PRIO_K
    joined = r.withColumn("tau", tau)
    agg = joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        # Widen BEFORE the stratum sums (not after): per-row w*PRIO_M fits
        # int64, but a stratum's sum of them overflows past ~9 TB of text --
        # the decimal accumulator is the overflow guard, mirroring the
        # oracle's HUGEINT sums.
        (F.sum(F.col("w").cast("decimal(38,0)")) * PRIO_M).alias("exact_scaled"),
        F.sum(in_sample.cast("bigint")).alias("n_selected"),
        F.sum(F.when(in_sample, F.col("w")).otherwise(0)).alias("sample_w_sum"),
        F.sum(
            F.when(in_sample, F.greatest(F.col("w") * PRIO_M, F.col("tau")))
            .otherwise(0)
            .cast("decimal(38,0)")
        ).alias("est_scaled"),
        (
            F.sum(
                F.when(
                    in_sample, h60("CAST(doc_id AS STRING)") % 1_000_000_007
                ).otherwise(0)
            )
            % 1_000_000_007
        ).alias("sample_fp"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_selected",
        "sample_w_sum",
        "sample_fp",
        F.expr(
            "CAST(abs(CAST(est_scaled AS DECIMAL(38,0)) - CAST(exact_scaled AS DECIMAL(38,0)))"
            " * 1000000 DIV CAST(exact_scaled AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("err_ppm"),
    )


_H60_DOC = h60_sql("CAST(doc_id AS VARCHAR)")

ORACLE_Q187 = f"""
WITH d AS (
  SELECT doc_id, source, n_chars AS w,
         ({_H60_DOC} % {PRIO_M}) + 1 AS u
  FROM documents
),
q AS (SELECT *, (w * {PRIO_M} * {PRIO_M}) // u AS q FROM d),
r AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rk
  FROM q
),
tau AS (SELECT source, q AS tau FROM r WHERE rk = {PRIO_K + 1}),
samp AS (
  SELECT r.*, COALESCE(tau.tau, 0) AS tau
  FROM r LEFT JOIN tau USING (source)
  WHERE rk <= {PRIO_K}
),
per AS (
  SELECT source,
         count(*) AS n_selected,
         CAST(sum(w) AS BIGINT) AS sample_w_sum,
         sum(CAST(greatest(w * {PRIO_M}, tau) AS HUGEINT)) AS est_scaled,
         CAST(CAST(sum(CAST({_H60_DOC} % 1000000007 AS HUGEINT)) AS HUGEINT)
              % 1000000007 AS BIGINT) AS sample_fp
  FROM samp GROUP BY source
),
tot AS (
  SELECT source, count(*) AS n_docs,
         sum(CAST(w AS HUGEINT)) * {PRIO_M} AS exact_scaled
  FROM d GROUP BY source
)
SELECT t.source,
       t.n_docs,
       p.n_selected,
       p.sample_w_sum,
       p.sample_fp,
       CAST(abs(p.est_scaled - t.exact_scaled) * 1000000 // t.exact_scaled AS BIGINT) AS err_ppm
FROM tot t JOIN per p USING (source)
"""



# --------------------------------------------------------------------------
# q214: classifier evaluation -- decile gains + tie-exact Mann-Whitney AUC
# --------------------------------------------------------------------------

GAINS_DECILES = 10
GAINS_LABEL_MIN_CHARS = 250  # ~60/40 label split at every fixture SF


def q214_classifier_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model evaluation for the hashed-linear quality classifier (q123's
    staged scores): the cumulative-gains table and the exact AUC --
    the numbers that decide whether a gate is worth its threshold
    (q142 checks agreement; this measures RANKING quality against a
    score-independent label, n_chars >= 250).

    AUC is the tie-corrected Mann-Whitney statistic computed as pure
    integers: per distinct score level, doubled average rank
    2*cum_lt + c + 1 (always an integer) weighted by the level's
    positives; AUC_ppm = (R2 - n_pos*(n_pos+1)) * 1e6 DIV
    (2*n_pos*n_neg). Gains: ntile deciles over (score desc, doc_id)
    -- both engines fill leading buckets first -- with per-decile and
    cumulative capture in exact ppm.

    Scale note: the level-rank window and the decile ntile order
    globally -- bounded here by score cardinality and the audit tier's
    corpus; at 100 TB the decile boundaries come from the q174
    equi-depth histogram and the rank accumulates per-range (q186's
    two-level prefix sum), identical arithmetic."""
    scored = _classifier_scores(spark, sf_dir)
    labels = load(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("n_chars") >= GAINS_LABEL_MIN_CHARS).cast("bigint").alias("pos"),
    )
    d = scored.join(labels, "doc_id")

    levels = d.groupBy("score").agg(
        F.count(F.lit(1)).alias("c"), F.sum("pos").alias("cp")
    )
    w_lt = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    ranked = levels.withColumn("cum_lt", F.coalesce(F.sum("c").over(w_lt), F.lit(0)))
    auc = ranked.agg(
        F.sum("cp").alias("n_pos"),
        (F.sum("c") - F.sum("cp")).alias("n_neg"),
        # r2's per-level terms reach ~N^2; Spark sums bigint (wraps) where
        # DuckDB's sum already returns HUGEINT -- widen the sum input
        F.sum(
            F.col("cp").cast("decimal(38,0)") * (2 * F.col("cum_lt") + F.col("c") + 1)
        ).alias("r2"),
    ).select(
        # the rank-sum numerator * 1e6 exceeds int64 once n_pos*n_neg
        # passes ~4.6e12 (~4M docs); widen before the product (the same
        # discipline as q101/q105 -- an AUC ppm always casts back exactly)
        F.expr(
            "CAST((r2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) * 1000000"
            " DIV (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)"
        ).alias("auc_ppm"),
        F.col("n_pos").cast("bigint").alias("total_pos"),
    )

    w_rank = W.orderBy(F.desc("score"), "doc_id")
    dec = (
        d.withColumn("decile", F.ntile(GAINS_DECILES).over(w_rank))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("pos").alias("n_pos"))
    )
    w_cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        dec.withColumn("cum_pos", F.sum("n_pos").over(w_cum))
        .crossJoin(F.broadcast(auc))
        .select(
            "decile",
            "n_docs",
            F.col("n_pos").cast("bigint").alias("n_pos"),
            F.col("cum_pos").cast("bigint").alias("cum_pos"),
            F.expr("CAST(cum_pos * 1000000 DIV total_pos AS BIGINT)")
            .alias("capture_ppm"),
            "auc_ppm",
        )
    )


ORACLE_Q214 = f"""
WITH w AS (
  SELECT range AS b,
         {h60_sql("'qw_' || CAST(range AS VARCHAR)")} % {2 * QC_W_RANGE + 1} - {QC_W_RANGE} AS w
  FROM range({QC_B})
),
tok AS (
  SELECT doc_id, {h60_sql("tok")} % {QC_B} AS b
  FROM (SELECT doc_id, unnest({_WORDS_SQL}) AS tok FROM documents)
),
scored AS (
  SELECT doc_id, CAST(sum(w) AS BIGINT) AS score
  FROM tok JOIN w USING (b) GROUP BY 1
),
d AS (
  SELECT s.doc_id, s.score,
         CASE WHEN doc.n_chars >= {GAINS_LABEL_MIN_CHARS} THEN 1 ELSE 0 END AS pos
  FROM scored s JOIN documents doc ON s.doc_id = doc.doc_id
),
levels AS (
  SELECT score, count(*) AS c, sum(pos) AS cp FROM d GROUP BY score
),
ranked AS (
  SELECT *, coalesce(sum(c) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_lt
  FROM levels
),
auc AS (
  SELECT CAST(CAST(sum(cp * (2 * cum_lt + c + 1)) - sum(cp) * (sum(cp) + 1) AS HUGEINT) * 1000000
              // (2 * CAST(sum(cp) AS HUGEINT) * (sum(c) - sum(cp))) AS BIGINT) AS auc_ppm,
         CAST(sum(cp) AS BIGINT) AS total_pos
  FROM ranked
),
dec AS (
  SELECT decile, count(*) AS n_docs, CAST(sum(pos) AS BIGINT) AS n_pos
  FROM (SELECT pos, ntile({GAINS_DECILES}) OVER (ORDER BY score DESC, doc_id) AS decile
        FROM d)
  GROUP BY decile
)
SELECT decile, n_docs, n_pos,
       CAST(sum(n_pos) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos,
       CAST(CAST(sum(n_pos) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            * 1000000 // total_pos AS BIGINT) AS capture_ppm,
       auc_ppm
FROM dec CROSS JOIN auc
"""


# --------------------------------------------------------------------------
# q247: greedy coverage-maximizing selection (submodular curation)
# --------------------------------------------------------------------------

COV_K = 5  # greedy picks -- fixed rounds, same straight-line program per engine


def q247_coverage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-maximizing subset selection: greedily pick K documents,
    each maximizing the number of NOT-YET-COVERED trigram shingles --
    the classic (1-1/e)-approximate greedy for submodular coverage
    (Nemhauser et al. 1978), which is how a diversity-first curation
    pass picks seed documents (maximize vocabulary/phrase coverage per
    document budget) where q102 maximizes quality mass and q243
    diversifies a RANKING. Emitted per round: the pick, its marginal
    gain, and the cumulative covered-shingle count -- the diminishing-
    returns curve is the data.

    All counts are exact integers with doc_id tie-breaks, so the
    greedy trajectory is deterministic cross-engine; the oracle runs
    the same fixed-round program as MATERIALIZED CTE chains.

    Scale: the shingle set stages once (shared artifact); each round
    is one anti-join against the covered set (bounded by K documents'
    shingles -- broadcast-sized by construction) plus a doc-keyed
    count and a 1-row argmax. K rounds of bounded work after one
    corpus scan -- the q68/q231 fixed-round discipline."""
    from ._cache import cached_df
    from .dedup import _doc_shingles

    ds = _doc_shingles(spark, sf_dir, cache=True)
    out = None
    covered = None
    for r in range(1, COV_K + 1):
        gains = ds if covered is None else ds.join(
            F.broadcast(covered), "sh", "anti"
        )
        # argmax as TakeOrderedAndProject (per-partition heap), never a
        # full-frame window that would drag the doc-gain table into one
        # task. Staged: THREE consumers read the pick (the covered update,
        # the output row, next round's anti-join base) and Catalyst does
        # not CSE across subtrees -- unstaged, every round ran its full
        # gains aggregate twice (the q42 lesson).
        pick = cached_df(
            spark,
            f"q247_pick_r{r}:{sf_dir}",
            lambda g=gains: (
                g.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("gain"))
                .orderBy(F.desc("gain"), "doc_id")
                .limit(1)
            ),
        )
        new_cov = ds.join(F.broadcast(pick.select("doc_id")), "doc_id", "semi").select("sh")
        covered = cached_df(
            spark,
            f"q247_covered_r{r}:{sf_dir}",
            (lambda nc=new_cov, cv=covered: (
                nc if cv is None else cv.unionByName(nc).distinct()
            )),
        )
        row = pick.crossJoin(
            F.broadcast(covered.agg(F.count(F.lit(1)).alias("covered_after")))
        ).select(
            F.lit(r).cast("int").alias("pick_round"),
            "doc_id", "gain", "covered_after",
        )
        out = row if out is None else out.unionByName(row)
    return out


def _oracle_q247() -> str:
    from .dedup import DS_HASH_SQL

    parts = [f"ds AS MATERIALIZED ({DS_HASH_SQL})"]
    prev_cov = None
    selects = []
    for r in range(1, COV_K + 1):
        gain_src = (
            "ds"
            if prev_cov is None
            else f"(SELECT * FROM ds WHERE sh NOT IN (SELECT sh FROM {prev_cov}))"
        )
        parts.append(f"""p{r} AS MATERIALIZED (
  SELECT doc_id, gain FROM (
    SELECT doc_id, count(*) AS gain,
           row_number() OVER (ORDER BY count(*) DESC, doc_id) AS rn
    FROM {gain_src} GROUP BY doc_id
  ) WHERE rn = 1
)""")
        cov = f"c{r}"
        base = f"SELECT sh FROM ds WHERE doc_id = (SELECT doc_id FROM p{r})"
        if prev_cov is None:
            parts.append(f"{cov} AS MATERIALIZED ({base})")
        else:
            parts.append(
                f"{cov} AS MATERIALIZED (SELECT DISTINCT sh FROM "
                f"(SELECT sh FROM {prev_cov} UNION ALL {base}))"
            )
        selects.append(
            f"SELECT CAST({r} AS INT) AS pick_round, doc_id, CAST(gain AS BIGINT)"
            f" AS gain, (SELECT count(*) FROM {cov}) AS covered_after FROM p{r}"
        )
        prev_cov = cov
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


# --------------------------------------------------------------------------
# q235: per-source calibration against global score deciles
# --------------------------------------------------------------------------

CAL_BUCKETS = 10  # global score deciles


def q235_decile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-distribution shift per source: every document is assigned
    its GLOBAL quality-score decile and the (source, decile) census
    shows which sources crowd the top or bottom of the corpus-wide
    distribution -- the cross-source calibration check run before
    trusting one threshold for all sources (q142 compares two gates;
    this compares each source against the corpus).

    Deciles are exact rank statistics at score-bucket granularity (the
    q174 cell trick): the corpus is never globally sorted -- the staged
    per-doc bucket table (shared with q102/q142) aggregates to a
    bounded bucket histogram, a cumulative window over that tiny table
    assigns each bucket its decile, and the bucket->decile map joins
    back as a broadcast. A heavy bucket may swallow whole deciles,
    deterministically in both engines.

    Scale: one staged corpus scoring pass (amortized across its three
    consumers), one bounded histogram, one broadcast join, one
    (source, decile) aggregate."""
    per = _quality_buckets(spark, sf_dir).filter(F.col("qb").isNotNull())
    cells = per.groupBy("qb").agg(F.count(F.lit(1)).alias("c"))
    w = W.partitionBy().orderBy("qb")
    decile_map = cells.select(
        "qb",
        F.coalesce(
            F.sum("c").over(w.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
        ).alias("cb"),
        F.sum("c").over(W.partitionBy()).alias("n"),
    ).select("qb", F.expr(f"CAST(cb * {CAL_BUCKETS} DIV n AS BIGINT)").alias("decile"))
    counts = (
        per.join(F.broadcast(decile_map), "qb")
        .groupBy("source", "decile")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    ws = W.partitionBy("source")
    return counts.select(
        "source",
        "decile",
        "n_docs",
        F.sum("n_docs").over(ws).alias("n_source"),
    ).select(
        "source", "decile", "n_docs",
        F.expr("CAST(n_docs * 1000000 DIV n_source AS BIGINT)").alias("src_ppm"),
    )


ORACLE_Q235 = f"""
WITH w AS (
  SELECT doc_id, source, text, {_WORDS_SQL} AS w FROM documents
),
per AS (
  SELECT doc_id, source,
         CAST(floor((CASE WHEN len(w) > 0 AND length(text) > 0
                          THEN {_Q102_SCORE_SQL} END) * {QB_SCALE}) AS BIGINT) AS qb
  FROM w
),
perq AS (SELECT * FROM per WHERE qb IS NOT NULL),
cells AS (SELECT qb, count(*) AS c FROM perq GROUP BY qb),
dmap AS (
  SELECT qb,
         CAST(coalesce(sum(c) OVER (ORDER BY qb
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              * {CAL_BUCKETS} // (SELECT sum(c) FROM cells) AS BIGINT) AS decile
  FROM cells
),
counts AS (
  SELECT source, decile, count(*) AS n_docs
  FROM perq JOIN dmap USING (qb)
  GROUP BY source, decile
)
SELECT source, decile, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_docs * 1000000 // sum(n_docs) OVER (PARTITION BY source)
            AS BIGINT) AS src_ppm
FROM counts
"""


# --------------------------------------------------------------------------
# q228: largest-remainder (Hamilton) budget apportionment
# --------------------------------------------------------------------------

LR_BUDGET = 1_000_000  # training-slot budget to apportion across sources


def q228_lr_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer apportionment of a fixed training-slot budget across
    sources by the largest-remainder (Hamilton) method: floor the exact
    proportional quota, then hand the leftover slots to the largest
    fractional remainders -- the standard way a data-mixing config
    turns q101/q132-style real-valued weights into an INTEGER sample
    plan whose parts sum exactly to the budget (naive per-source
    rounding over- or under-shoots; the emitted total_alloc == budget
    on every row is the proof, as data).

    Quotas never touch floats: quota = budget * n_tokens as
    decimal/HUGEINT, floor = quotient, remainder = modulus -- exact in
    both engines at any corpus size.

    Scale: one corpus scan to source-level token masses, then all
    arithmetic lives on the source-cardinality table (a full-frame
    window over ~20 rows, the bounded-result idiom)."""
    per = (
        load(spark, sf_dir, "documents")
        .select("source", F.size(_words()).cast("bigint").alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    w_all = W.partitionBy()
    base = per.withColumn("total", F.sum("n_tokens").over(w_all)).select(
        "source",
        "n_tokens",
        F.expr(
            f"CAST(CAST(n_tokens AS DECIMAL(38,0)) * {LR_BUDGET} DIV total AS BIGINT)"
        ).alias("floor_alloc"),
        F.expr(
            f"CAST(CAST(n_tokens AS DECIMAL(38,0)) * {LR_BUDGET} % total AS BIGINT)"
        ).alias("rem"),
    )
    ranked = base.withColumn(
        "leftover", F.lit(LR_BUDGET) - F.sum("floor_alloc").over(w_all)
    ).withColumn(
        "rnk", F.row_number().over(W.partitionBy().orderBy(F.desc("rem"), "source"))
    )
    return (
        ranked.select(
            "source",
            "n_tokens",
            (F.col("floor_alloc")
             + (F.col("rnk") <= F.col("leftover")).cast("bigint")).alias("alloc"),
            (F.col("rnk") <= F.col("leftover")).alias("got_extra"),
        )
        .withColumn("total_alloc", F.sum("alloc").over(w_all))
    )


ORACLE_Q228 = f"""
WITH per AS (
  SELECT source,
         CAST(sum(CAST(len({_WORDS_SQL}) AS BIGINT)) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), t AS (
  SELECT source, n_tokens, CAST(sum(n_tokens) OVER () AS BIGINT) AS total FROM per
), b AS (
  SELECT source, n_tokens,
         CAST(CAST(n_tokens AS HUGEINT) * {LR_BUDGET} // total AS BIGINT)
           AS floor_alloc,
         CAST(CAST(n_tokens AS HUGEINT) * {LR_BUDGET} % total AS BIGINT) AS rem
  FROM t
), r AS (
  SELECT source, n_tokens, floor_alloc,
         CAST({LR_BUDGET} - sum(floor_alloc) OVER () AS BIGINT) AS leftover,
         row_number() OVER (ORDER BY rem DESC, source) AS rnk
  FROM b
), alloc AS (
  SELECT source, n_tokens,
         CAST(floor_alloc + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
           AS alloc,
         rnk <= leftover AS got_extra
  FROM r
)
SELECT source, n_tokens, alloc, got_extra,
       CAST(sum(alloc) OVER () AS BIGINT) AS total_alloc
FROM alloc
"""


QUERIES = {
    "q100_gopher_rules": q100_gopher_rules,
    "q101_source_mixing": q101_source_mixing,
    "q102_token_budget_select": q102_token_budget_select,
    "q104_ngram_decontam": q104_ngram_decontam,
    "q105_length_buckets": q105_length_buckets,
    "q122_dsir_weights": q122_dsir_weights,
    "q123_quality_classifier": q123_quality_classifier,
    "q125_source_divergence": q125_source_divergence,
    "q126_dsir_resample": q126_dsir_resample,
    "q132_doremi_mixture": q132_doremi_mixture,
    "q142_gate_agreement": q142_gate_agreement,
    "q164_source_ablation": q164_source_ablation,
    "q187_weighted_sample": q187_weighted_sample,
    "q214_classifier_gains": q214_classifier_gains,
    "q228_lr_apportionment": q228_lr_apportionment,
    "q235_decile_calibration": q235_decile_calibration,
    "q247_coverage_select": q247_coverage_select,
}

ORACLES = {
    "q100_gopher_rules": ORACLE_Q100,
    "q101_source_mixing": ORACLE_Q101,
    "q102_token_budget_select": ORACLE_Q102,
    "q104_ngram_decontam": ORACLE_Q104,
    "q105_length_buckets": ORACLE_Q105,
    "q122_dsir_weights": ORACLE_Q122,
    "q123_quality_classifier": ORACLE_Q123,
    "q125_source_divergence": ORACLE_Q125,
    "q126_dsir_resample": ORACLE_Q126,
    "q132_doremi_mixture": ORACLE_Q132,
    "q142_gate_agreement": ORACLE_Q142,
    "q164_source_ablation": ORACLE_Q164,
    "q187_weighted_sample": ORACLE_Q187,
    "q214_classifier_gains": ORACLE_Q214,
    "q228_lr_apportionment": ORACLE_Q228,
    "q235_decile_calibration": ORACLE_Q235,
    "q247_coverage_select": _oracle_q247(),
}
