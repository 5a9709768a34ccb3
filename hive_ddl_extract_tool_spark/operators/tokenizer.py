"""Tokenizer training (SURVEY.md §2B X56): the BPE merge loop's core step,
distributed.

Byte-pair encoding training (Sennrich et al. 2016, the algorithm behind
GPT-2/RoBERTa vocabularies) repeats one primitive: count adjacent symbol
pairs across the corpus, merge the most frequent pair everywhere, recount.
q156 runs two exact rounds of that primitive over the document corpus:

- pair counting is a vocabulary-sized aggregation (distinct words carry
  their corpus frequency, so the corpus is scanned once and every later
  pass touches only the vocabulary — the same "work on (word, freq), not
  tokens" trick the reference BPE implementations use);
- the greedy left-to-right merge is expressed with window functions over
  (word, position): an occurrence of pair (l, r) merges iff l != r (two
  occurrences can never overlap: the middle symbol would have to equal
  both l and r) or its offset within its run of l's is even (a run of
  length L merges floor(L/2) times — exactly greedy non-overlapping
  scanning). This makes the merge a pure relational expression, identical
  in the DuckDB oracle, with no per-row Python.

Integer counts + a total-order tiebreak (count DESC, left, right) make
both rounds deterministic cross-engine. Scale: every shuffle is keyed by
the word (vocabulary-sized, short char arrays); the winning pair is a
1-row broadcast. A full vocab build = this step in a loop, exactly like
q66b's k-means rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ._cache import cached_df
from .text import LOWER_WORDS_SQL, _words
from ..tables import load


def q156_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two exact BPE merge rounds over the document corpus: for round 1
    and round 2 emit (round, left_sym, right_sym, merged, pair_count) —
    the pair chosen by each round and its corpus frequency."""
    # The (word, freq, pos, char) table feeds three consumers (round-1 pair
    # count, the merge pass, and through it round 2); Catalyst does not CSE
    # across them, so stage it once -- ONE corpus scan total, and the staged
    # table is vocabulary-sized, not corpus-sized.
    def build_chars() -> DataFrame:
        wf = (
            load(spark, sf_dir, "documents")
            .select(F.explode(_words("lower(text)")).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("f"))
        )
        return wf.select(
            "w", "f", F.posexplode(F.regexp_extract_all("w", F.lit("."), 0)).alias("pos", "sym")
        )

    chars = cached_df(spark, f"bpe_chars:{sf_dir}", build_chars)
    win = W.partitionBy("w").orderBy("pos")

    def top_pair(stream: DataFrame, sym_col: str) -> DataFrame:
        pairs = stream.withColumn("nxt", F.lead(sym_col).over(win)).filter(
            F.col("nxt").isNotNull()
        )
        cnt = pairs.groupBy(F.col(sym_col).alias("l"), F.col("nxt").alias("r")).agg(
            F.sum("f").alias("c")
        )
        return cnt.orderBy(F.desc("c"), "l", "r").limit(1)

    top1 = top_pair(chars, "sym")

    # Greedy merge of top1's pair: run starts mark maximal same-symbol
    # runs; the running max of run-start positions gives each symbol its
    # offset within its run without a second shuffle key.
    base = (
        chars.withColumn("nxt", F.lead("sym").over(win))
        .withColumn(
            "rs",
            F.when(
                F.lag("sym").over(win).isNull() | (F.lag("sym").over(win) != F.col("sym")),
                F.col("pos"),
            ),
        )
        .withColumn("run_start", F.max("rs").over(win))
    )
    j = base.crossJoin(
        F.broadcast(top1.select(F.col("l").alias("m_l"), F.col("r").alias("m_r")))
    )
    ms = (
        (F.col("sym") == F.col("m_l"))
        & (F.col("nxt") == F.col("m_r"))
        & ((F.col("m_l") != F.col("m_r")) | ((F.col("pos") - F.col("run_start")) % 2 == 0))
    )
    merged_stream = (
        j.withColumn("ms", F.coalesce(ms, F.lit(False)))
        .withColumn("consumed", F.coalesce(F.lag("ms").over(win), F.lit(False)))
        .filter(~F.col("consumed"))
        .select(
            "w",
            "f",
            "pos",
            F.when(F.col("ms"), F.concat("m_l", "m_r")).otherwise(F.col("sym")).alias("sym2"),
        )
    )
    top2 = top_pair(merged_stream, "sym2")

    def emit(top: DataFrame, rnd: int) -> DataFrame:
        return top.select(
            F.lit(rnd).cast("bigint").alias("round"),
            F.col("l").alias("left_sym"),
            F.col("r").alias("right_sym"),
            F.concat("l", "r").alias("merged"),
            F.col("c").alias("pair_count"),
        )

    return emit(top1, 1).unionByName(emit(top2, 2))


ORACLE_Q156 = f"""
WITH wf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT unnest({LOWER_WORDS_SQL}) AS w FROM documents)
  GROUP BY w
),
wc AS (SELECT w, f, regexp_extract_all(w, '.') AS cs FROM wf),
pe AS (SELECT w, f, cs, unnest(generate_series(1, len(cs))) AS pos FROM wc),
syms AS (SELECT w, f, pos, cs[pos] AS sym FROM pe),
p1 AS (SELECT w, f, sym, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM syms),
cnt1 AS (SELECT sym AS l, nxt AS r, CAST(sum(f) AS BIGINT) AS c
         FROM p1 WHERE nxt IS NOT NULL GROUP BY 1, 2),
top1 AS (SELECT l, r, c FROM cnt1 ORDER BY c DESC, l, r LIMIT 1),
rs AS (
  SELECT w, f, pos, sym,
         lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt,
         CASE WHEN lag(sym) OVER (PARTITION BY w ORDER BY pos) IS DISTINCT FROM sym
              THEN pos END AS run_start_pos
  FROM syms
),
base AS (
  SELECT w, f, pos, sym, nxt,
         max(run_start_pos) OVER (PARTITION BY w ORDER BY pos) AS run_start
  FROM rs
),
m AS (
  SELECT w, f, pos, sym,
         coalesce(sym = t.l AND nxt = t.r
                  AND (t.l <> t.r OR (pos - run_start) % 2 = 0), FALSE) AS ms,
         t.l AS m_l, t.r AS m_r
  FROM base, top1 t
),
mm AS (
  SELECT w, f, pos, ms, m_l, m_r, sym,
         coalesce(lag(ms) OVER (PARTITION BY w ORDER BY pos), FALSE) AS consumed
  FROM m
),
ns AS (
  SELECT w, f, pos, CASE WHEN ms THEN m_l || m_r ELSE sym END AS sym2
  FROM mm WHERE NOT consumed
),
p2 AS (SELECT w, f, sym2, lead(sym2) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM ns),
cnt2 AS (SELECT sym2 AS l, nxt AS r, CAST(sum(f) AS BIGINT) AS c
         FROM p2 WHERE nxt IS NOT NULL GROUP BY 1, 2),
top2 AS (SELECT l, r, c FROM cnt2 ORDER BY c DESC, l, r LIMIT 1)
SELECT CAST(1 AS BIGINT) AS round, l AS left_sym, r AS right_sym,
       l || r AS merged, c AS pair_count FROM top1
UNION ALL
SELECT CAST(2 AS BIGINT), l, r, l || r, c FROM top2
"""


# --------------------------------------------------------------------------
# q161: character coverage — SentencePiece-style vocab prep
# --------------------------------------------------------------------------

COVERAGE_BP = [9000, 9900, 9995]  # basis points: 90%, 99%, 99.95%


def q161_char_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece's character_coverage statistic (its --character_coverage
    knob, default 0.9995): for each coverage target, the minimal number of
    distinct characters (most frequent first) whose cumulative frequency
    reaches the target, plus the exact character mass covered. The census
    explodes non-whitespace chars and map-side-combines to an
    alphabet-sized table; the cumulative window and threshold tests run on
    that tiny table, as integer cross-multiplications (cum * 10000 >=
    bp * total) so boundary characters resolve identically cross-engine.
    Ties in frequency break on the character itself."""
    docs = load(spark, sf_dir, "documents")
    census = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(r"[^ \t\n\x0B\f\r]"), 0)
            ).alias("ch")
        )
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = W.orderBy(F.col("c").desc(), F.col("ch")).rowsBetween(W.unboundedPreceding, 0)
    # total as a full-frame window over the SAME (alphabet-sized, already
    # single-partition) table -- a broadcast-aggregate crossJoin would
    # re-derive the census subtree and scan the corpus a second time.
    w_all = W.orderBy(F.col("c").desc(), F.col("ch")).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    ranked = census.select(
        "ch", "c",
        F.sum("c").over(w).alias("cum"),
        F.row_number().over(W.orderBy(F.col("c").desc(), F.col("ch"))).alias("rk"),
        F.sum("c").over(w_all).alias("total"),
    )
    # ONE conditional aggregate answers all three thresholds (a filter+agg
    # per threshold would re-derive the census subtree -- three corpus
    # scans), then stack unpivots the 1-row result.
    aggs = []
    for bp in COVERAGE_BP:
        cond = F.col("cum") * 10000 >= F.lit(bp) * F.col("total")
        aggs.append(F.min(F.when(cond, F.col("rk"))).cast("bigint").alias(f"n{bp}"))
        aggs.append(F.min(F.when(cond, F.struct("rk", "cum"))).getField("cum").alias(f"m{bp}"))
    aggs.append(F.min("total").alias("total_mass"))
    one = ranked.agg(*aggs)
    stack_args = ", ".join(f"CAST({bp} AS BIGINT), n{bp}, m{bp}" for bp in COVERAGE_BP)
    return one.select(
        F.expr(
            f"stack({len(COVERAGE_BP)}, {stack_args}) AS (coverage_bp, n_chars_needed, covered_mass)"
        ),
        "total_mass",
    )


_CHAR_CENSUS_SQL = """
  SELECT ch, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\x0B\\f\\r]')) AS ch
        FROM documents)
  GROUP BY ch
"""

ORACLE_Q161 = f"""
WITH census AS ({_CHAR_CENSUS_SQL}),
ranked AS (
  SELECT ch, c,
         sum(c) OVER (ORDER BY c DESC, ch ROWS UNBOUNDED PRECEDING) AS cum,
         row_number() OVER (ORDER BY c DESC, ch) AS rk,
         (SELECT sum(c) FROM census) AS total
  FROM census
)
{" UNION ALL ".join(f'''
SELECT CAST({bp} AS BIGINT) AS coverage_bp,
       CAST(min(rk) AS BIGINT) AS n_chars_needed,
       CAST(min_by(cum, rk) AS BIGINT) AS covered_mass,
       CAST(min(total) AS BIGINT) AS total_mass
FROM ranked WHERE cum * 10000 >= {bp} * total''' for bp in COVERAGE_BP)}
"""


# --------------------------------------------------------------------------
# q162: negative-sampling weight table (unigram^0.75, exact integers)
# --------------------------------------------------------------------------

NEG_V = 200  # vocabulary rows kept for the sampling table


def _pow34_steps(c: str, dialect: str) -> list[tuple[str, str]]:
    """floor(c^(3/4)) = isqrt(isqrt(c^3)) as (column, small-expr) steps
    ending in column ``b_r``. NAMED intermediates, not textual nesting:
    substituting each sub-expression everywhere it appears quintuples the
    tree per level (the one-expression version compiled to a 1.1 MB task
    binary). Each isqrt: seed from the double sqrt (+1 so the seed sits
    at/above the true root), ONE exact integer Newton step, then a ±1
    correction CASE with exact integer compares — no float comparison
    anywhere, valid at any magnitude the wide type holds (Mikolov et al.
    2013's 0.75 negative-sampling exponent)."""
    wide = "HUGEINT" if dialect == "duckdb" else "DECIMAL(38,0)"

    def idiv(a: str, b: str) -> str:
        # DuckDB's // is exact on HUGEINT. Spark's DIV does accept decimal
        # operands, but its result type is BIGINT, which silently wraps at
        # the c^3 magnitudes these quotients reach (observed: a DECIMAL(38)
        # div produced a negative long). floor() of the DECIMAL(38,6)
        # quotient stays inside the wide type, and (38,6) keeps enough
        # precision at these magnitudes for floor() to be the exact
        # integer quotient.
        if dialect == "duckdb":
            return f"(({a}) // ({b}))"
        return f"CAST(floor(({a}) / ({b})) AS DECIMAL(38,0))"

    def isqrt_steps(pfx: str, x: str) -> list[tuple[str, str]]:
        s0, s1, r = f"{pfx}_s0", f"{pfx}_s1", f"{pfx}_r"
        return [
            (s0, f"CAST(floor(sqrt(CAST({x} AS DOUBLE))) AS BIGINT) + 1"),
            (s1, idiv(f"{s0} + {idiv(x, s0)}", "2")),
            (r,
             f"CASE WHEN ({s1} + 1) * ({s1} + 1) <= {x} THEN {s1} + 1 "
             f"WHEN {s1} * {s1} > {x} THEN {s1} - 1 ELSE {s1} END"),
        ]

    return [
        ("cube", f"CAST({c} AS {wide}) * ({c}) * ({c})"),
        *isqrt_steps("a", "cube"),
        ("cube2", f"CAST(a_r AS {wide})"),
        *isqrt_steps("b", "cube2"),
    ]


def q162_negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style negative-sampling distribution: the top NEG_V tokens
    by frequency with weight = floor(count^0.75) and the weight's share of
    the table in integer ppm. The 3/4 power runs as exact integer
    arithmetic (cube in wide decimal, two exact integer square roots), so
    weights and shares are engine-identical at any count magnitude — no
    float pow anywhere. Token census map-side-combines; the table is a
    top-k heap; the weight total broadcasts back over NEG_V rows."""
    docs = load(spark, sf_dir, "documents")
    census = (
        docs.select(F.explode(_words("lower(text)")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = census.orderBy(F.col("cnt").desc(), F.col("token")).limit(NEG_V)
    for name, expr in _pow34_steps("cnt", "spark"):
        top = top.withColumn(name, F.expr(expr))
    top = top.select("token", "cnt", F.col("b_r").cast("bigint").alias("weight"))
    # the weight total rides a full-frame window over the NEG_V-row result
    # of the heap -- an aggregate crossJoin would recompute the census +
    # top-k subtree (a second corpus scan).
    w_all = W.orderBy(F.col("cnt").desc(), F.col("token")).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return top.withColumn(
        "tw", F.sum(F.col("weight").cast("decimal(38,0)")).over(w_all)
    ).select(
        "token",
        "cnt",
        "weight",
        F.expr("CAST(CAST(weight AS DECIMAL(38,0)) * 1000000 DIV tw AS BIGINT)").alias(
            "weight_ppm"
        ),
    )


ORACLE_Q162 = f"""
WITH census AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({LOWER_WORDS_SQL}) AS token FROM documents)
  GROUP BY token
),
topv AS (SELECT token, cnt FROM census ORDER BY cnt DESC, token LIMIT {NEG_V}),
{", ".join(f'''st{i} AS (SELECT *, {expr} AS {name} FROM {"topv" if i == 0 else f"st{i - 1}"})'''
           for i, (name, expr) in enumerate(_pow34_steps("cnt", "duckdb")))},
top AS (SELECT token, cnt, CAST(b_r AS BIGINT) AS weight FROM st{len(_pow34_steps("cnt", "duckdb")) - 1}),
t AS (SELECT CAST(sum(weight) AS HUGEINT) AS tw FROM top)
SELECT token, cnt, weight,
       CAST(CAST(weight AS HUGEINT) * 1000000 // tw AS BIGINT) AS weight_ppm
FROM top, t
"""


# --------------------------------------------------------------------------
# q234: vocabulary growth curve (Heaps'-law checkpoints)
# --------------------------------------------------------------------------

HEAPS_CKPTS = 10  # deciles of the doc_id range


def q234_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve -- the empirical Heaps'-law trace a
    tokenizer-training run reads to decide when the corpus stops
    yielding new types: at each of 10 checkpoints over the deterministic
    doc_id ingest order, the cumulative token mass, the cumulative
    vocabulary (types whose FIRST occurrence lies at or before the
    checkpoint), and the type/token ratio in ppm. No curve fitting
    crosses the engine boundary (a log-log OLS would ride libm log);
    the checkpoints ARE the curve, all exact integers.

    A type's first occurrence is min(doc_id) over its postings -- one
    vocabulary-sized shuffle off one corpus scan; checkpoint k covers
    doc_id <= (k * max_id) DIV 10, so a type's checkpoint index is the
    exact integer ceil division (first*10 + max-1) DIV max. Both
    10-row decile tables cumulate with a bounded window.

    Scale: two aggregates off the token stream (first-occurrence and
    per-decile mass), everything downstream is 10 rows."""
    docs = load(spark, sf_dir, "documents").select("doc_id", _words("lower(text)").alias("w"))
    mx = docs.agg(F.max("doc_id").alias("max_id"))
    toks = docs.select("doc_id", F.explode("w").alias("tok"))

    def ck(col: str) -> F.Column:
        # smallest k with col <= k*max_id DIV 10  ==  ceil(col*10 / max_id)
        return F.expr(f"CAST(({col} * {HEAPS_CKPTS} + max_id - 1) DIV max_id AS BIGINT)")

    firsts = (
        toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
        .crossJoin(F.broadcast(mx))
        .groupBy(ck("first_doc").alias("ckpt"))
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    mass = (
        toks.crossJoin(F.broadcast(mx))
        .groupBy(ck("doc_id").alias("ckpt"))
        .agg(F.count(F.lit(1)).alias("toks"), F.countDistinct("doc_id").alias("docs"))
    )
    w = W.partitionBy().orderBy("ckpt")
    joined = mass.join(firsts, "ckpt", "full").select(
        "ckpt",
        F.coalesce("toks", F.lit(0)).alias("toks"),
        F.coalesce("docs", F.lit(0)).alias("docs"),
        F.coalesce("new_types", F.lit(0)).alias("new_types"),
    )
    return joined.select(
        "ckpt",
        F.sum("docs").over(w).alias("n_docs"),
        F.sum("toks").over(w).alias("n_tokens"),
        F.sum("new_types").over(w).alias("vocab"),
    ).select(
        "ckpt", "n_docs", "n_tokens", "vocab",
        F.expr("CAST(vocab * 1000000 DIV n_tokens AS BIGINT)").alias("ttr_ppm"),
    )


ORACLE_Q234 = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, unnest({LOWER_WORDS_SQL}) AS tok FROM documents
),
mx AS MATERIALIZED (SELECT max(doc_id) AS max_id FROM documents),
firsts AS (
  SELECT CAST((doc_id * {HEAPS_CKPTS} + max_id - 1) // max_id AS BIGINT) AS ckpt,
         count(*) AS new_types
  FROM (SELECT tok, min(doc_id) AS doc_id FROM toks GROUP BY tok), mx
  GROUP BY 1
),
mass AS (
  SELECT CAST((doc_id * {HEAPS_CKPTS} + max_id - 1) // max_id AS BIGINT) AS ckpt,
         count(*) AS toks, count(DISTINCT doc_id) AS docs
  FROM toks, mx
  GROUP BY 1
),
joined AS (
  SELECT coalesce(mass.ckpt, firsts.ckpt) AS ckpt,
         coalesce(toks, 0) AS toks, coalesce(docs, 0) AS docs,
         coalesce(new_types, 0) AS new_types
  FROM mass FULL JOIN firsts ON mass.ckpt = firsts.ckpt
)
SELECT ckpt,
       CAST(sum(docs) OVER wd AS BIGINT) AS n_docs,
       CAST(sum(toks) OVER wd AS BIGINT) AS n_tokens,
       CAST(sum(new_types) OVER wd AS BIGINT) AS vocab,
       CAST(CAST(sum(new_types) OVER wd AS BIGINT) * 1000000
            // CAST(sum(toks) OVER wd AS BIGINT) AS BIGINT) AS ttr_ppm
FROM joined
WINDOW wd AS (ORDER BY ckpt ROWS UNBOUNDED PRECEDING)
"""


QUERIES = {
    "q156_bpe_merge_rounds": q156_bpe_merge_rounds,
    "q161_char_coverage": q161_char_coverage,
    "q162_negative_sampling_table": q162_negative_sampling_table,
    "q234_vocab_growth": q234_vocab_growth,
}
ORACLES = {
    "q156_bpe_merge_rounds": ORACLE_Q156,
    "q161_char_coverage": ORACLE_Q161,
    "q162_negative_sampling_table": ORACLE_Q162,
    "q234_vocab_growth": ORACLE_Q234,
}
