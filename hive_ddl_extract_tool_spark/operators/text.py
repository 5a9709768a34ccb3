"""Text analysis for training-data pipelines (SURVEY.md §2B X12):
quality scoring, token counting (whitespace + BPE-ish regex), language ID
(marker-word heuristic), document fingerprinting.

Everything is built-in string/regex/higher-order functions -- JVM-side,
whole-stage codegen, no Python UDFs -- so the per-row cost is constant and
the operators scale linearly with document count (the only shuffles are the
final low-cardinality aggregations).

The shared tokenizer kernels (_words, word_ngrams) take Spark SQL text -- a
column name or an expression such as "lower(text)" -- and return ONE
`F.expr` over the text their `*_expr` twins build, which sit beside the
DuckDB twins (LOWER_WORDS_SQL, ngrams_sql). Every PySpark `F.*` call costs
the driver three py4j round trips (two reflection lookups plus the call),
so a kernel spelled as Column calls costs three per function node, while
its SQL text costs three for the whole tree -- or nothing extra when it is
spliced into a caller's `selectExpr`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ._hashing import h60, h60_sql
from ._rounding import mround
from ..tables import load

# Tokenization shared by every text operator (and mirrored in the oracles):
# split on whitespace runs, drop empties. The whitespace set is an EXPLICIT
# character class, never \s: Java's \s is [ \t\n\x0B\f\r] but RE2's (DuckDB,
# Arrow) omits \x0B, so a bare \s tokenizer silently diverges across engines
# on the first document containing a vertical tab -- with row counts still
# matching, the worst failure signature. The class below is Java's set
# spelled out; it is embedded verbatim in the Spark patterns, every oracle
# SQL string, and the Arrow kernels (tests/test_properties.py proves
# three-engine agreement on hostile whitespace).
WS_CLASS = r"[ \t\n\x0B\f\r]"
WS = WS_CLASS + "+"
# 'punctuation': not alphanumeric, not whitespace -- same explicit set.
NON_ALNUM = r"[^a-zA-Z0-9 \t\n\x0B\f\r]"
# BPE-ish pre-tokenizer: letter runs | digit runs | single non-alnum glyph.
BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9 \t\n\x0B\f\r]"

# Marker stopwords per language for the heuristic language ID.
LANG_MARKERS = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "los", "que", "de"],
    "fr": ["le", "les", "et", "est", "une"],
    "zh": ["de", "shi", "le", "zai", "he"],
}


# WS inside a Spark SQL string literal: the SQL parser unescapes backslashes
# once, so each is doubled here and the regex receives WS exactly
# (a bare '\x0B' would reach it as 'x0B').
_WS_LITERAL = "'" + WS.replace("\\", "\\\\") + "'"


def _words_expr(expr: str = "text") -> str:
    """Spark SQL text of the whitespace-split, empty-free word array."""
    return f"filter(split({expr}, {_WS_LITERAL}), x -> x != '')"


def _words(expr: str = "text") -> Column:
    return F.expr(_words_expr(expr))


def word_ngrams_expr(w: str, n: int) -> str:
    """Space-joined n-word grams from a MATERIALIZED word-array column `w`
    (a column name: it is referenced inside the gram lambda); empty array
    for docs shorter than n words. THE single Spark-side implementation of
    the span template: q188 (8-grams), q190 (trigrams), q192 (bigrams), and
    dedup's 3-word shingles all derive from this one expression, so the
    tokenizer/whitespace contract (WS_CLASS) and the boundary arithmetic
    live in exactly one place. Pair with ngrams_sql for the DuckDB twin."""
    grams = ", ".join(f"element_at({w}, i + {j})" for j in range(n))
    return (
        f"CASE WHEN size({w}) >= {n} "
        f"THEN transform(sequence(1, size({w}) - {n} + 1), i -> concat_ws(' ', {grams})) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def word_ngrams(w: str, n: int) -> Column:
    return F.expr(word_ngrams_expr(w, n))


def ngrams_sql(n: int, w_expr: str = "w") -> str:
    """DuckDB twin of word_ngrams: a list-of-n-grams expression over a
    word-list column, byte-identical output to the Spark side."""
    joined = " || ' ' || ".join(
        f"{w_expr}[i]" if j == 0 else f"{w_expr}[i+{j}]" for j in range(n)
    )
    return (
        f"CASE WHEN len({w_expr}) >= {n} "
        f"THEN list_transform(range(1, len({w_expr}) - {n} + 2), i -> {joined}) "
        f"ELSE [] END"
    )


def _marker_count(lang: str, words: Column) -> Column:
    """Occurrences of lang's marker TOKENS in a lowered word array.

    Token membership, not a \\b regex: Java's word boundary is
    Unicode-aware while DuckDB/RE2's is ASCII-only, so \\b counts diverge
    the moment a marker word abuts a non-ASCII letter ('leña' contains
    \\ble\\b to RE2 but not to Java). Equality over the shared
    whitespace-split tokens is engine-neutral by construction."""
    markers = LANG_MARKERS[lang]
    return F.size(F.filter(words, lambda x: x.isin(*markers)))


def _marker_count_sql(lang: str, words_expr: str) -> str:
    """DuckDB twin of _marker_count over a words-array SQL expression."""
    lst = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter({words_expr}, x -> x IN ({lst})))"


# KNOWN cross-engine limitation (documented, not fixed): lower() itself
# diverges on locale-special codepoints -- Spark lowercases U+0130 'İ' to
# 'i'+U+0307 (two codepoints) while DuckDB yields plain 'i'. Every
# fingerprint/token built from lower(text) would differ on text containing
# such characters. The driver's synthetic corpus is ASCII; a Unicode-robust
# normalization (strip combining marks after lowering, on BOTH engines)
# is the round-6 path if a non-ASCII drop ever appears.

# Words of the LOWERED text -- the array the marker counts run over.
LOWER_WORDS_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')"
)


def _quality_score(nw_d: Column, n_stop: Column, n_punct: Column, n_chars: Column) -> Column:
    """The ONE q34 quality-score expression tree (shared by q34, curation's
    gate 2, and selection's q102 bucket score -- four call sites, one
    definition, so the cross-engine exactness argument cannot drift).
    Caller guarantees nw_d > 0 and n_chars > 0 (guard with F.when)."""
    return (
        F.least(nw_d / 50.0, F.lit(1.0)) * 0.4
        + F.least((n_stop / nw_d) * 5.0, F.lit(1.0)) * 0.3
        + (1.0 - F.least((n_punct / n_chars) * 10.0, F.lit(1.0))) * 0.3
    )


def _quality_score_sql(nw: str, n_stop: str, n_punct: str, n_chars: str) -> str:
    """DuckDB twin of _quality_score, same term order."""
    return (
        f"least({nw} / 50.0, 1.0) * 0.4"
        f" + least(({n_stop} / {nw}) * 5.0, 1.0) * 0.3"
        f" + (1.0 - least(({n_punct} / {n_chars}) * 10.0, 1.0)) * 0.3"
    )


# --------------------------------------------------------------------------
# q30: corpus stats per source (quality-distribution monitoring)
# --------------------------------------------------------------------------

def q30_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.length("text").alias("len"),
        F.size(_words()).alias("n_words"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        mround(F.avg("len"), 4).alias("avg_chars"),
        mround(F.avg("n_words"), 4).alias("avg_words"),
        F.min("len").cast("bigint").alias("min_chars"),
        F.max("len").cast("bigint").alias("max_chars"),
    )


ORACLE_Q30 = """
WITH per_doc AS (
  SELECT source, length(text) AS len,
         len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) AS n_words
  FROM documents
)
SELECT source,
       count(*)                          AS n_docs,
       round(1.37e-6 + avg(len), 4)      AS avg_chars,
       round(1.37e-6 + avg(n_words), 4)  AS avg_words,
       CAST(min(len) AS BIGINT)          AS min_chars,
       CAST(max(len) AS BIGINT)          AS max_chars
FROM per_doc
GROUP BY source
"""


# --------------------------------------------------------------------------
# q31: token counting -- whitespace tokens + BPE-ish regex pre-tokens
# --------------------------------------------------------------------------

def q31_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(_words()).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_RE), 0)).cast("bigint").alias("bpe_tokens"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
    )


ORACLE_Q31 = f"""
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{BPE_RE}')) AS BIGINT)                    AS bpe_tokens,
       CAST(octet_length(encode(text)) AS BIGINT)                                          AS n_bytes
FROM documents
"""


# --------------------------------------------------------------------------
# q32: heuristic language ID (marker-word scores -> argmax) + confusion agg
# --------------------------------------------------------------------------

def q32_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-TOKEN scores (see _marker_count: \\b regex boundaries diverge
    cross-engine on non-ASCII neighbors), deterministic argmax."""
    docs = load(spark, sf_dir, "documents")
    w = docs.select("lang", _words("lower(text)").alias("lw"))
    scores = {lang: _marker_count(lang, F.col("lw")) for lang in LANG_MARKERS}
    # deterministic argmax: first language (in fixed order) with maximal score;
    # all-zero scores -> 'unknown'
    langs = list(LANG_MARKERS)
    best = F.greatest(*[scores[lang] for lang in langs])
    guess = F.when(best == 0, "unknown")
    for lang in langs:
        guess = guess.when(scores[lang] == best, lang)
    scored = w.select("lang", guess.alias("guess"))
    return scored.groupBy("lang", "guess").agg(F.count(F.lit(1)).alias("n_docs"))


def _langid_guess_sql() -> str:
    langs = list(LANG_MARKERS)
    score = {lang: _marker_count_sql(lang, "lw") for lang in langs}
    best = "greatest(" + ", ".join(score[lang] for lang in langs) + ")"
    whens = "\n         ".join(
        f"WHEN {score[lang]} = best THEN '{lang}'" for lang in langs
    )
    return f"""
  SELECT lang,
         CASE WHEN best = 0 THEN 'unknown'
         {whens}
         END AS guess
  FROM (SELECT lang, lw, {best} AS best
        FROM (SELECT lang, {LOWER_WORDS_SQL} AS lw FROM documents))
"""


ORACLE_Q32 = f"""
SELECT lang, guess, count(*) AS n_docs
FROM ({_langid_guess_sql()})
GROUP BY lang, guess
"""


# --------------------------------------------------------------------------
# q33: document fingerprint (60-bit hash of whitespace-normalized text)
# --------------------------------------------------------------------------

# Whitespace-normalized lowered text: the fingerprint input of q33 and of
# curation's exact-dup gate (DuckDB twin: _NORM_SQL).
NORM_TEXT_EXPR = f"trim(regexp_replace(lower(text), {_WS_LITERAL}, ' '))"


def q33_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", h60(NORM_TEXT_EXPR).alias("fingerprint"))


_NORM_SQL = "trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"
ORACLE_Q33 = f"""
SELECT doc_id, {h60_sql(_NORM_SQL)} AS fingerprint
FROM documents
"""


# --------------------------------------------------------------------------
# q34: per-document quality scoring (length / punctuation / stopword ratios)
# --------------------------------------------------------------------------

def q34_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals + the toy keep score.

    Divergence-proofing (round-5 hardening): stopwords are counted by
    token membership (_marker_count -- \\b diverges cross-engine on
    non-ASCII neighbors); every ratio guards its denominator with an
    explicit WHEN (a zero-word doc yields NULL on BOTH engines instead of
    an ANSI abort vs engine-version-dependent NULL/inf); and the ratio
    outputs round through mround (quotients of small integers land on
    exact decimal ties where Spark and DuckDB round differently)."""
    docs = load(spark, sf_dir, "documents")
    words = _words()
    n_words = F.size(words).cast("double")
    n_chars_c = F.length("text").cast("double")
    n_punct = F.regexp_count("text", F.lit(NON_ALNUM)).cast("double")
    n_stop = _marker_count("en", _words("lower(text)")).cast("double")
    avg_wlen = F.when(
        n_words > 0, F.aggregate(words, F.lit(0.0), lambda acc, w: acc + F.length(w)) / n_words
    )
    punct_ratio = F.when(n_chars_c > 0, n_punct / n_chars_c)
    stop_ratio = F.when(n_words > 0, n_stop / n_words)
    score = F.when(
        (n_words > 0) & (n_chars_c > 0),
        _quality_score(n_words, n_stop, n_punct, n_chars_c),
    )
    return docs.select(
        "doc_id",
        mround(avg_wlen, 6).alias("avg_word_len"),
        mround(punct_ratio, 6).alias("punct_ratio"),
        mround(stop_ratio, 6).alias("stopword_ratio"),
        mround(score, 6).alias("quality"),
        (score >= 0.5).alias("keep"),
    )


ORACLE_Q34 = f"""
WITH d AS (
  SELECT doc_id, text,
         CAST(len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) AS DOUBLE)  AS n_words,
         CAST(length(text) AS DOUBLE)                                                          AS n_chars_c,
         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]')) AS DOUBLE)                      AS n_punct,
         CAST({_marker_count_sql("en", LOWER_WORDS_SQL)} AS DOUBLE)                            AS n_stop,
         coalesce(list_sum(list_transform(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> ''),
                                 w -> CAST(length(w) AS DOUBLE))), 0.0)                        AS sum_wlen
  FROM documents
), s AS (
  SELECT doc_id,
         CASE WHEN n_words > 0 THEN sum_wlen / n_words END  AS avg_word_len,
         CASE WHEN n_chars_c > 0 THEN n_punct / n_chars_c END AS punct_ratio,
         CASE WHEN n_words > 0 THEN n_stop / n_words END    AS stop_ratio,
         CASE WHEN n_words > 0 AND n_chars_c > 0 THEN
           {_quality_score_sql("n_words", "n_stop", "n_punct", "n_chars_c")}
         END AS score
  FROM d
)
SELECT doc_id,
       round(1.37e-6 + avg_word_len, 6) AS avg_word_len,
       round(1.37e-6 + punct_ratio, 6)  AS punct_ratio,
       round(1.37e-6 + stop_ratio, 6)   AS stopword_ratio,
       round(1.37e-6 + score, 6)        AS quality,
       score >= 0.5                     AS keep
FROM s
"""


# --------------------------------------------------------------------------
# q35: tf-idf top terms per document (corpus-statistic weighting)
# --------------------------------------------------------------------------

def q35_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by smoothed tf-idf. Plan shape for scale:
    tf and df are both partial-aggregated before their shuffles; the corpus
    size is a 1-row aggregate broadcast into the scoring join (never a
    driver collect); the per-doc top-3 is a window over each document's
    distinct terms only. Ties order by the ROUNDED score then term so the
    ranking is identical cross-engine."""
    from pyspark.sql import Window as W
    from ._cache import cached_df

    docs = load(spark, sf_dir, "documents")
    # staged: tf feeds BOTH the df aggregate and the scoring join, and
    # Catalyst does not CSE across the two subtrees -- unstaged, the
    # corpus explode + (doc, term) aggregate ran twice per query
    tf = cached_df(
        spark,
        f"q35_tf:{sf_dir}",
        lambda: docs.select(
            "doc_id", F.explode(_words("lower(text)")).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf")),
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf", F.col("rn").cast("int").alias("rn"))
    )


ORACLE_Q35 = """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn FROM scored)
WHERE rn <= 3
"""


# --------------------------------------------------------------------------
# q36: deterministic hash split (train/val/test) + stratified sample counts
# --------------------------------------------------------------------------

SPLIT_SEED = "split_v1"


def split_bucket(expr: str) -> Column:
    """The q36 hash-split bucket in [0, 100): pmod(h60('{SPLIT_SEED}:'||id),
    100). Contract: train = bucket < 80, val = 80-89, test >= 90. The
    SINGLE split definition -- q36 itself, q86's lexical decontam and
    q133's semantic decontam all derive membership from it; a drifted copy
    silently breaks the train/test contract (q133 had exactly that drift:
    a 2-way collapse that reported val vectors as test)."""
    return F.pmod(h60(f"concat('{SPLIT_SEED}:', CAST({expr} AS STRING))"), F.lit(100))


def split_bucket_sql(expr: str) -> str:
    """DuckDB twin of split_bucket."""
    return f"({h60_sql(f''''{SPLIT_SEED}:' || CAST({expr} AS VARCHAR)''')} % 100)"


def split_of(expr: str) -> Column:
    """Bucket -> 'train'/'val'/'test' label per the q36 contract."""
    b = split_bucket(expr)
    return F.when(b < 80, "train").when(b < 90, "val").otherwise("test")


def q36_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible dataset splitting -- the sampling operator a training
    pipeline actually needs. NOT rand(): the split key is the 60-bit md5
    hash of (seed, doc_id), so membership is a pure function of the row --
    stable across runs, executors, retries, and engines (F.rand is
    nondeterministic under task retry and unreproducible elsewhere).
    80/10/10 by hash mod 100; emits per-(source, split) counts so the
    oracle also checks the stratification is unbiased."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("source", split_of("doc_id").alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


ORACLE_Q36 = f"""
WITH b AS (
  SELECT source,
         {h60_sql(f"'{SPLIT_SEED}:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket
  FROM documents
)
SELECT source,
       CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs
FROM b
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q71: repetition metrics (Gopher-style repetitious-text detection)
# --------------------------------------------------------------------------

def q71_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals used to drop boilerplate/spam from training
    corpora: distinct-word ratio and the fraction of word-bigrams taken by
    the single most frequent bigram (the Gopher-rule shape; the corpus has
    no newlines, so line-level duplication is moot). The bigram mode is an
    explode -> (doc, gram) count -> per-doc max: two partial-aggregated
    shuffles, both keyed by doc so the data volume is bounded by token
    count, never pairwise."""
    docs = load(spark, sf_dir, "documents")
    # materialize the word array once (HOF-over-inline-expression recompute trap)
    w = docs.select("doc_id", _words("lower(text)").alias("w"))
    stats = w.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.size(F.array_distinct("w")).alias("n_distinct"),
    )
    bigrams = word_ngrams("w", 2)
    top = (
        w.select("doc_id", F.explode(bigrams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("total"))
    )
    return stats.join(top, "doc_id", "left").select(
        "doc_id",
        mround(
            F.when(
                F.col("n_words") > 0,
                F.col("n_distinct").cast("double") / F.col("n_words"),
            ),
            6,
        ).alias("distinct_word_ratio"),
        mround(
            F.coalesce(F.col("top_c").cast("double") / F.col("total"), F.lit(0.0)), 6
        ).alias("top_bigram_frac"),
    )


ORACLE_Q71 = """
WITH w AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS w
  FROM documents
),
stats AS (SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_distinct FROM w),
bg AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS g
  FROM w, LATERAL (SELECT unnest(range(1, len(w))) AS i)
),
cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
top AS (SELECT doc_id, max(c) AS top_c, sum(c) AS total FROM cnt GROUP BY 1)
SELECT s.doc_id,
       round(1.37e-6 + CASE WHEN n_words > 0 THEN CAST(n_distinct AS DOUBLE) / n_words END, 6) AS distinct_word_ratio,
       round(1.37e-6 + coalesce(CAST(top_c AS DOUBLE) / total, 0.0), 6)                        AS top_bigram_frac
FROM stats s LEFT JOIN top t USING (doc_id)
"""


# --------------------------------------------------------------------------
# q73: deterministic stratified sampling (top-n per stratum by hash order)
# --------------------------------------------------------------------------

SAMPLE_SEED = "sample_v1"
SAMPLE_N = 5


def q73_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sample of 5 documents, chosen by 60-bit hash order --
    the distributed sampling shape a corpus-curation pipeline needs:
    membership is a pure function of (seed, doc_id), so the sample is
    stable across runs/retries/engines (unlike TABLESAMPLE/rand), and the
    per-stratum top-n is one window over the stratum, no global sort."""
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    hk = h60(f"concat('{SAMPLE_SEED}:', CAST(doc_id AS STRING))")
    w = W.partitionBy("lang").orderBy(hk.asc(), F.col("doc_id").asc())
    return (
        docs.select("lang", "doc_id", hk.alias("hk"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_N)
        .select("lang", "doc_id", F.col("rn").cast("int").alias("rn"))
    )


ORACLE_Q73 = f"""
SELECT lang, doc_id, CAST(rn AS INT) AS rn
FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
  FROM (SELECT lang, doc_id,
               {h60_sql(f"'{SAMPLE_SEED}:' || CAST(doc_id AS VARCHAR)")} AS hk
        FROM documents)
)
WHERE rn <= {SAMPLE_N}
"""


# --------------------------------------------------------------------------
# q76: exact heavy hitters -- global top-20 tokens
# --------------------------------------------------------------------------

TOP_TOKENS = 20


def q76_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level frequent-token census: explode -> count -> top-20 with a
    deterministic (count DESC, token ASC) tiebreak. The count is
    map-side-combined per token before the single shuffle, and the top-k is
    TakeOrderedAndProject -- each partition keeps 20 rows, the driver merges
    20 per partition, never a global sort of the vocabulary."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_words("lower(text)")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(TOP_TOKENS)
    )


ORACLE_Q76 = f"""
SELECT token, count(*) AS n
FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) AS token
      FROM documents)
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT {TOP_TOKENS}
"""


# --------------------------------------------------------------------------
# q90: sequence packing -- concat-then-chunk context-window assignment
# --------------------------------------------------------------------------

PACK_BLOCK = 128  # tokens per context window


def q90_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-style sequence packing: within each source shard,
    documents are concatenated in doc_id order and the token stream is cut
    every PACK_BLOCK tokens; a doc whose span straddles a cut lands in
    every block it touches. Output is the per-(source, block) packing
    manifest: docs present, tokens contributed, and how many docs carry
    over into the next block -- what a loader needs to materialize shard
    files.

    Scale shape: packing is per-shard by construction (matching how a
    100 TB corpus is physically sharded), so the running token offset is a
    window over partitionBy(source) -- no global single-partition sort.
    The span explode emits (len/BLOCK + 1) integer rows per doc and
    everything downstream is integer arithmetic -- hash-exact."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.greatest(F.size(_words()), F.lit(1)).cast("bigint").alias("n_tok")
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    spans = toks.select(
        "doc_id",
        "source",
        "n_tok",
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("start"),
    ).select(
        "*",
        (F.col("start") + F.col("n_tok") - 1).alias("end"),
    )
    b = F.lit(PACK_BLOCK)
    exploded = spans.select(
        "source",
        "n_tok",
        "start",
        "end",
        F.explode(F.sequence(F.expr(f"start DIV {PACK_BLOCK}"), F.expr(f"end DIV {PACK_BLOCK}"))).alias("block"),
    )
    tok_in_block = F.least(F.col("end") + 1, (F.col("block") + 1) * b) - F.greatest(
        F.col("start"), F.col("block") * b
    )
    return (
        exploded.groupBy("source", "block")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(tok_in_block).alias("n_tokens"),
            F.sum((F.col("end") >= (F.col("block") + 1) * b).cast("int")).alias("n_carry"),
        )
    )


ORACLE_Q90 = f"""
WITH t AS (
  SELECT doc_id, source,
         greatest(len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')), 1)::BIGINT AS n_tok
  FROM documents
),
s AS (
  SELECT *,
         CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start
  FROM t
),
e AS (SELECT *, start + n_tok - 1 AS fin FROM s),
x AS (
  SELECT source, n_tok, start, fin, unnest(generate_series(start // {PACK_BLOCK}, fin // {PACK_BLOCK})) AS block
  FROM e
)
SELECT source, block,
       count(*) AS n_docs,
       CAST(sum(least(fin + 1, (block + 1) * {PACK_BLOCK}) - greatest(start, block * {PACK_BLOCK})) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN fin >= (block + 1) * {PACK_BLOCK} THEN 1 ELSE 0 END) AS BIGINT) AS n_carry
FROM x
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q91: vocabulary coverage -- OOV rate against a frequency-built vocab
# --------------------------------------------------------------------------

VOCAB_K = 16


def q91_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against a top-K corpus
    vocabulary (count DESC, token ASC tiebreak -- deterministic
    cross-engine). The vocab is K rows by construction, so its join side
    is a legitimate broadcast no matter the corpus size; the OOV ratio is
    emitted in integer parts-per-million ((n_oov * 1e6) DIV n_tokens) so
    the check is exact without any float rounding discipline."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_words("lower(text)")).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(VOCAB_K)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum((F.col("in_vocab").isNull()).cast("bigint")).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("n_oov * 1000000 DIV n_tokens").alias("oov_ppm"),
        )
    )


ORACLE_Q91 = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) AS token
  FROM documents
),
vocab AS (
  SELECT token FROM tok GROUP BY token
  ORDER BY count(*) DESC, token ASC LIMIT {VOCAB_K}
)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN token IN (SELECT token FROM vocab) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
       CAST(sum(CASE WHEN token IN (SELECT token FROM vocab) THEN 0 ELSE 1 END) * 1000000
         // count(*) AS BIGINT) AS oov_ppm
FROM tok
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# q113: Zipf-law fit -- OLS of ln(count) on ln(rank) over the top tokens
# --------------------------------------------------------------------------

ZIPF_K = 20     # fit over the top-K tokens (bounded window)
Q6 = 10**6      # fixed-point scale: ln values quantized to 1e-6


def q113_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-law diagnostic: fit ln(count) = a + b*ln(rank) over the
    top-ZIPF_K tokens -- the Zipf slope b (~-1 for natural language) that
    corpus health checks monitor across ingests. Token counts map-side
    combine before one shuffle; the ranked top-K is bounded (K rows), so
    the ranking window and the final regression run on constant-size data
    at any corpus scale.

    Exactness: q69's sufficient-statistics discipline -- ln(rank)/ln(count)
    are floor-quantized to 1e-6 fixed point per row (identical doubles ->
    identical floors), the six OLS moments accumulate as exact int64 sums
    over K rows (no overflow: |x6| ~ 3e6, squares ~ 1e13, K=20), and the
    slope/intercept/r2 derivation runs ONCE in doubles with formula text
    identical to the oracle."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    top = (
        docs.select(F.explode(_words("lower(text)")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(ZIPF_K)
    )
    rnk = F.row_number().over(W.orderBy(F.col("n").desc(), F.col("token").asc()))
    q = top.select(
        F.floor(F.log(rnk.cast("double")) * Q6).cast("bigint").alias("x6"),
        F.floor(F.log(F.col("n").cast("double")) * Q6).cast("bigint").alias("y6"),
    )
    m = q.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x6").alias("sx"),
        F.sum("y6").alias("sy"),
        F.sum(F.col("x6") * F.col("x6")).alias("sxx"),
        F.sum(F.col("x6") * F.col("y6")).alias("sxy"),
        F.sum(F.col("y6") * F.col("y6")).alias("syy"),
    )
    kd = F.col("k").cast("double")
    cxy = kd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    cxx = kd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    cyy = kd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    # Degenerate-moment guards: cxx = 0 (single distinct token) or cyy = 0
    # (all top-K counts equal) must yield NULL on BOTH engines, not an ANSI
    # abort vs an engine-version-dependent NULL/inf.
    slope = F.when(cxx != 0, cxy / cxx)
    intercept = F.when(cxx != 0, (F.col("sy").cast("double") - slope * F.col("sx")) / kd / Q6)
    r2 = F.when((cxx != 0) & (cyy != 0), cxy * cxy / (cxx * cyy))
    return m.select(
        F.col("k").cast("int").alias("n_points"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round(intercept, 4).alias("zipf_intercept"),
        F.round(r2, 4).alias("r2"),
    )


ORACLE_Q113 = f"""
WITH top AS (
  SELECT token, count(*) AS n
  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) AS token
        FROM documents)
  GROUP BY token
  ORDER BY n DESC, token ASC
  LIMIT {ZIPF_K}
),
q AS (
  SELECT CAST(floor(ln(CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS DOUBLE)) * {Q6}) AS BIGINT) AS x6,
         CAST(floor(ln(CAST(n AS DOUBLE)) * {Q6}) AS BIGINT) AS y6
  FROM top
),
m AS (
  SELECT count(*) AS k,
         CAST(sum(x6) AS BIGINT) AS sx, CAST(sum(y6) AS BIGINT) AS sy,
         CAST(sum(x6 * x6) AS BIGINT) AS sxx,
         CAST(sum(x6 * y6) AS BIGINT) AS sxy,
         CAST(sum(y6 * y6) AS BIGINT) AS syy
  FROM q
)
SELECT CAST(k AS INT) AS n_points,
       round(CASE WHEN (k * sxx - CAST(sx AS DOUBLE) * sx) <> 0 THEN
         (k * sxy - CAST(sx AS DOUBLE) * sy) / (k * sxx - CAST(sx AS DOUBLE) * sx) END, 4) AS zipf_slope,
       round(CASE WHEN (k * sxx - CAST(sx AS DOUBLE) * sx) <> 0 THEN
         (CAST(sy AS DOUBLE) - ((k * sxy - CAST(sx AS DOUBLE) * sy) / (k * sxx - CAST(sx AS DOUBLE) * sx)) * sx) / k / {Q6} END, 4) AS zipf_intercept,
       round(CASE WHEN (k * sxx - CAST(sx AS DOUBLE) * sx) <> 0 AND (k * syy - CAST(sy AS DOUBLE) * sy) <> 0 THEN
         (k * sxy - CAST(sx AS DOUBLE) * sy) * (k * sxy - CAST(sx AS DOUBLE) * sy)
             / ((k * sxx - CAST(sx AS DOUBLE) * sx) * (k * syy - CAST(sy AS DOUBLE) * sy)) END, 4) AS r2
FROM m
"""


# --------------------------------------------------------------------------
# q144: duplicate-n-gram character fraction (the remaining Gopher rep rule)
# --------------------------------------------------------------------------

DUPG_N = 3           # word n-gram order
DUPG_MAX_PPM = 100_000  # gate: docs above 10% duplicated-gram mass fail


def q144_dup_ngram_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's duplicate-n-gram rule (Rae et al. 2021 §A1.1): the
    fraction of text mass sitting in word 3-grams that repeat WITHIN the
    document -- the signal that catches looping boilerplate q71's
    distinct-word ratio and top-bigram mode both miss (a doc can have high
    lexical diversity and still loop a 40-word paragraph). Mass is
    measured in gram characters (standard approximation of 'characters in
    duplicated n-grams': overlapping-span bookkeeping is not worth a
    shuffle): dup_ppm = sum over grams with count >= 2 of count*len(gram)
    * 1e6 DIV sum over all grams of count*len(gram). Exact integers end
    to end. Per source: docs, mean ppm, worst ppm, gate failures.

    Plan shape: one explode -> (doc, gram) map-side-combined count ->
    per-doc integer masses -> per-source rollup; both shuffles are keyed
    by doc (bounded by token count, never pairwise)."""
    docs = load(spark, sf_dir, "documents")
    w = docs.select("doc_id", "source", _words("lower(text)").alias("w"))
    # word_ngrams IS this span template -- the inline copy it replaced
    # violated the helper's own single-definition contract
    per_doc = (
        w.select("doc_id", "source", F.explode(word_ngrams("w", DUPG_N)).alias("g"))
        .groupBy("doc_id", "source", "g")
        # glen is functionally determined by the grouping key -- no
        # first() aggregate buffer needed on the hottest shuffle
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("glen", F.length("g"))
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.col("c") * F.col("glen")).alias("total_mass"),
            F.sum(F.when(F.col("c") >= 2, F.col("c") * F.col("glen")).otherwise(0)).alias(
                "dup_mass"
            ),
        )
        .select(
            "doc_id",
            "source",
            F.expr("CAST(dup_mass * 1000000 DIV total_mass AS BIGINT)").alias("dup_ppm"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("CAST(sum(dup_ppm) DIV count(*) AS BIGINT)").alias("mean_dup_ppm"),
        F.max("dup_ppm").alias("max_dup_ppm"),
        F.sum((F.col("dup_ppm") > DUPG_MAX_PPM).cast("bigint")).alias("n_gate_fail"),
    )


ORACLE_Q144 = f"""
WITH w AS (
  SELECT doc_id, source, list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS w
  FROM documents
),
g AS (
  SELECT doc_id, source, unnest({ngrams_sql(DUPG_N)}) AS gram
  FROM w
),
gc AS (
  SELECT doc_id, source, gram, count(*) AS c, length(gram) AS glen
  FROM g GROUP BY 1, 2, 3
),
per AS (
  SELECT doc_id, source,
         CAST(sum(CASE WHEN c >= 2 THEN c * glen ELSE 0 END) * 1000000
              // sum(c * glen) AS BIGINT) AS dup_ppm
  FROM gc GROUP BY 1, 2
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(dup_ppm) // count(*) AS BIGINT) AS mean_dup_ppm,
       max(dup_ppm) AS max_dup_ppm,
       CAST(sum(CASE WHEN dup_ppm > {DUPG_MAX_PPM} THEN 1 ELSE 0 END) AS BIGINT) AS n_gate_fail
FROM per
GROUP BY source
"""


# --------------------------------------------------------------------------
# q185: PII detection + redaction audit
# --------------------------------------------------------------------------

# Explicit character classes only (the WS_CLASS discipline): Java regex and
# RE2 agree on classes, +, bounded repeats, and literal dots -- the
# constructs below -- while shorthand like \b and \s diverge cross-engine.
PII_EMAIL_RE = r"[a-z0-9._-]+@[a-z0-9-]+\.[a-z][a-z]+"
PII_PHONE_RE = r"\+1-555-[0-9]{7}"
PII_IP_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def q185_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction -- the scrub pass every training-data
    pipeline runs before release (emails, phone numbers, IP addresses).

    The synthetic corpus carries no PII, so the fixture plants it
    deterministically first: docs with doc_id%7==0 gain an email,
    %11==0 a +1-555 phone, %13==0 an IPv4 -- pure string algebra over
    existing columns that BOTH engines derive identically, so the oracle
    sees the same corpus (and the detector measures a nonzero phenomenon,
    the audit-must-err rule). The scanner is JVM-only: regexp_count per
    category, then a three-stage regexp_replace cascade to typed
    placeholders, with the redacted text h60-fingerprinted so the oracle
    certifies the REDACTED BYTES, not just the counts (a scrubber that
    mangles surrounding text while zeroing the counts still fails).
    Patterns use explicit character classes only -- Java vs RE2 shorthand
    (\\b, \\s) diverges; classes, +, and {m,n} repeats agree.

    Plan: one linear scan, map-side-combined per-source rollup -- no
    joins, no Python; at 100 TB this is the cheapest full-corpus pass
    there is."""
    docs = load(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@ex-"), F.col("source"), F.lit(".com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit(" call +1-555-"), (F.lit(1000000) + F.col("doc_id") % 9000000).cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" host 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                ((F.col("doc_id") * 7) % 256).cast("string"),
                F.lit("."),
                (F.col("doc_id") % 200).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(planted, F.lit(PII_EMAIL_RE), F.lit("<EMAIL>")),
            F.lit(PII_PHONE_RE),
            F.lit("<PHONE>"),
        ),
        F.lit(PII_IP_RE),
        F.lit("<IP>"),
    )
    scanned = docs.select(
        "source",
        F.regexp_count(planted, F.lit(PII_EMAIL_RE)).alias("e"),
        F.regexp_count(planted, F.lit(PII_PHONE_RE)).alias("p"),
        F.regexp_count(planted, F.lit(PII_IP_RE)).alias("i"),
        redacted.alias("red"),
    )
    return scanned.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("e").alias("n_emails"),
        F.sum("p").alias("n_phones"),
        F.sum("i").alias("n_ips"),
        F.sum((F.col("e") + F.col("p") + F.col("i") > 0).cast("bigint")).alias("n_pii_docs"),
        # per-row term widened to decimal(38,0) before the sum (q194's
        # pattern): an int64 accumulator of ~1e9 terms overflows at ~9.2e9
        # docs, and the oracle side already sums in HUGEINT
        ((F.sum((h60("red") % 1_000_000_007).cast("decimal(38,0)")) % 1_000_000_007)
         .cast("bigint").alias("redacted_fp")),
    )


def _oracle_q185() -> str:
    planted = (
        "text"
        " || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@ex-' || source || '.com' ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN ' call +1-555-' || CAST(1000000 + doc_id % 9000000 AS VARCHAR) ELSE '' END"
        " || CASE WHEN doc_id % 13 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || '.' || CAST(doc_id % 200 AS VARCHAR) ELSE '' END"
    )
    email, phone, ip = PII_EMAIL_RE, PII_PHONE_RE, PII_IP_RE
    red = (
        f"regexp_replace(regexp_replace(regexp_replace(t, '{email}', '<EMAIL>', 'g'),"
        f" '{phone}', '<PHONE>', 'g'), '{ip}', '<IP>', 'g')"
    )
    return f"""
WITH d AS (SELECT source, {planted} AS t FROM documents),
s AS (
  SELECT source,
         len(regexp_extract_all(t, '{email}')) AS e,
         len(regexp_extract_all(t, '{phone}')) AS p,
         len(regexp_extract_all(t, '{ip}'))    AS i,
         {red} AS red
  FROM d
)
SELECT source,
       count(*)        AS n_docs,
       CAST(sum(e) AS BIGINT) AS n_emails,
       CAST(sum(p) AS BIGINT) AS n_phones,
       CAST(sum(i) AS BIGINT) AS n_ips,
       CAST(sum(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
       CAST(CAST(sum(CAST({h60_sql('red')} % 1000000007 AS HUGEINT)) AS HUGEINT)
            % 1000000007 AS BIGINT) AS redacted_fp
FROM s
GROUP BY source
"""


# --------------------------------------------------------------------------
# q192: Shannon entropy rate per source -- corpus diversity in nats
# --------------------------------------------------------------------------

ENT_Q = 10**9  # fixed-point scale for per-type entropy terms


def q192_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Shannon entropy per source, H = Σ p·ln(1/p) in nats --
    the information-theoretic diversity gauge behind mixing decisions
    (low-entropy sources are templated/boilerplate-heavy; near-uniform
    ones are noise) and the complement of q190's unseen-mass view.

    Exactness follows the q122/q125 discipline for ln: each type's term
    (c/N)·ln(N/c) is built from the IDENTICAL double expression tree in
    both engines, floor-quantized to 1e-9 fixed point PER TYPE, then
    summed as int64 -- order-free where a cross-row double sum is not.
    Normalized entropy H/ln(V) is a ratio of two already-quantized
    integers (integer ppm), so no second float boundary exists. Shape:
    bigram counts (map-side combined, one corpus scan), per-source totals
    on a full-frame window over the type table, one rollup."""
    docs = load(spark, sf_dir, "documents")
    w = docs.select("source", _words("lower(text)").alias("w"))
    bigrams = word_ngrams("w", 2)
    cnt = (
        w.select("source", F.explode(bigrams).alias("g"))
        .groupBy("source", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql import Window as W

    tot = F.sum("c").over(W.partitionBy("source"))
    term9 = F.floor(
        (F.col("c") / F.col("n")) * F.log(F.col("n") / F.col("c")) * F.lit(float(ENT_Q))
    ).cast("bigint")
    typed = cnt.withColumn("n", tot).withColumn("t9", term9)
    agg = typed.groupBy("source").agg(
        F.max("n").alias("n_bigrams"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum("t9").alias("entropy9"),
    )
    return agg.select(
        "source",
        "n_bigrams",
        "vocab",
        "entropy9",
        F.expr(
            f"CAST(CASE WHEN vocab > 1 THEN entropy9 * 1000000"
            f" DIV CAST(floor(ln(CAST(vocab AS DOUBLE)) * {ENT_Q}) AS BIGINT)"
            f" ELSE 0 END AS BIGINT)"
        ).alias("norm_entropy_ppm"),
    )


ORACLE_Q192 = f"""
WITH wa AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS w
  FROM documents
),
g AS (
  SELECT source, unnest(
{ngrams_sql(2)}) AS gram
  FROM wa
),
cnt AS (SELECT source, gram, count(*) AS c FROM g GROUP BY 1, 2),
typed AS (
  SELECT source, c, sum(c) OVER (PARTITION BY source) AS n FROM cnt
),
t AS (
  SELECT source, n,
         CAST(floor((c / n) * ln(n / c) * {ENT_Q}.0) AS BIGINT) AS t9
  FROM typed
),
agg AS (
  SELECT source, CAST(max(n) AS BIGINT) AS n_bigrams, count(*) AS vocab,
         CAST(sum(t9) AS BIGINT) AS entropy9
  FROM t GROUP BY source
)
SELECT source, n_bigrams, vocab, entropy9,
       CAST(CASE WHEN vocab > 1 THEN entropy9 * 1000000
            // CAST(floor(ln(CAST(vocab AS DOUBLE)) * {ENT_Q}) AS BIGINT)
            ELSE 0 END AS BIGINT) AS norm_entropy_ppm
FROM agg
"""


QUERIES = {
    "q30_text_stats": q30_text_stats,
    "q31_token_count": q31_token_count,
    "q32_langid": q32_langid,
    "q33_fingerprint": q33_fingerprint,
    "q34_quality_score": q34_quality_score,
    "q35_tfidf_topterms": q35_tfidf_topterms,
    "q36_hash_split": q36_hash_split,
    "q71_repetition_metrics": q71_repetition_metrics,
    "q144_dup_ngram_chars": q144_dup_ngram_chars,
    "q185_pii_scan": q185_pii_scan,
    "q192_entropy_rate": q192_entropy_rate,
    "q73_stratified_sample": q73_stratified_sample,
    "q76_heavy_hitters": q76_heavy_hitters,
    "q90_sequence_packing": q90_sequence_packing,
    "q91_vocab_coverage": q91_vocab_coverage,
    "q113_zipf_fit": q113_zipf_fit,
}

ORACLES = {
    "q30_text_stats": ORACLE_Q30,
    "q31_token_count": ORACLE_Q31,
    "q32_langid": ORACLE_Q32,
    "q33_fingerprint": ORACLE_Q33,
    "q34_quality_score": ORACLE_Q34,
    "q35_tfidf_topterms": ORACLE_Q35,
    "q36_hash_split": ORACLE_Q36,
    "q71_repetition_metrics": ORACLE_Q71,
    "q144_dup_ngram_chars": ORACLE_Q144,
    "q185_pii_scan": _oracle_q185(),
    "q192_entropy_rate": ORACLE_Q192,
    "q73_stratified_sample": ORACLE_Q73,
    "q76_heavy_hitters": ORACLE_Q76,
    "q90_sequence_packing": ORACLE_Q90,
    "q91_vocab_coverage": ORACLE_Q91,
    "q113_zipf_fit": ORACLE_Q113,
}
