"""Dataset profiling (SURVEY.md §2B X57): one-pass per-table column
statistics — the deequ/TFDV-style profile a 100 TB ingest runs before any
curation decision (null fractions, cardinalities, value ranges feed schema
checks, partition-key choice, and skew planning; q116 does the same for
join keys specifically).

One aggregation pass per table computes every profiled column's metrics
(count / nulls / exact distinct / min / max) in a single scan — Spark
plans the multi-distinct aggregate with one Expand over the scan, which
is the honest distributed one-pass plan; the per-table 1-row result is
then unpivoted to (table, column) rows with ``stack`` (driver never sees
data). Min/max are emitted as engine-neutral canonical strings chosen per
column kind — raw strings compare in binary order on both engines, money
doubles quantize to integer cents BEFORE the min (the 2dp fixture quanta
are not all exactly representable as doubles, so comparing raw casts
would hit shortest-repr-vs-binary formatting divergence), timestamps
become epoch microseconds — so the DuckDB oracle (generated from the SAME
column spec, one SELECT per column) is hash-exact by construction.

events.ts is deliberately NOT profiled: its parquet encoding rotates
between NANOS and MICROS across data drops and only the Spark-side loader
normalizes it (tables.py probe); o_orderdate covers the timestamp kind.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ._hashing import h60_sql
from .text import LOWER_WORDS_SQL, ngrams_sql, word_ngrams
from ..tables import load

# (table, column, kind): kind picks the canonical min/max representation.
#   str   -> raw string, binary collation on both engines
#   int   -> integer cast to string
#   cents -> round(x*100) as bigint, then string (2dp-quantized doubles)
#   ts    -> epoch microseconds as string (MICROS-encoded columns only)
PROFILE_SPEC = [
    ("orders", "o_orderstatus", "str"),
    ("orders", "o_orderpriority", "str"),
    ("orders", "o_totalprice", "cents"),
    ("orders", "o_orderdate", "ts"),
    ("documents", "lang", "str"),
    ("documents", "source", "str"),
    ("documents", "n_chars", "int"),
    ("events", "event_type", "str"),
    ("events", "user_id", "int"),
    ("events", "value", "cents"),
]


def _repr_col(col: str, kind: str) -> Column:
    c = F.col(col)
    if kind == "cents":
        return F.round(c * 100).cast("bigint")
    if kind == "ts":
        # Parquet MICROS columns read as timestamp_ntz; the loader pins the
        # session to UTC (tables.py), so the ntz->ltz cast is the identity
        # and unix_micros recovers the raw physical value.
        return F.unix_micros(c.cast("timestamp"))
    return c


def _repr_sql(col: str, kind: str) -> str:
    if kind == "cents":
        return f"CAST(round({col} * 100) AS BIGINT)"
    if kind == "ts":
        return f"epoch_us({col})"
    return col


def q157_dataset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of orders / documents / events: one aggregation pass
    per table, unpivoted to a (tbl, col_name) metrics row per column."""
    frames = []
    for tbl in ("orders", "documents", "events"):
        cols = [(c, k) for t, c, k in PROFILE_SPEC if t == tbl]
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c, k in cols:
            aggs.append(F.count(c).alias(f"{c}__nn"))
            aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__nd"))
            aggs.append(F.min(_repr_col(c, k)).cast("string").alias(f"{c}__mi"))
            aggs.append(F.max(_repr_col(c, k)).cast("string").alias(f"{c}__ma"))
        one = load(spark, sf_dir, tbl).agg(*aggs)
        stack_args = ", ".join(
            f"'{c}', {c}__nn, {c}__nd, {c}__mi, {c}__ma" for c, _ in cols
        )
        frames.append(
            one.select(
                F.lit(tbl).alias("tbl"),
                F.expr(
                    f"stack({len(cols)}, {stack_args}) AS (col_name, nn, n_distinct, min_repr, max_repr)"
                ),
                "n_rows",
            ).select(
                "tbl",
                "col_name",
                "n_rows",
                (F.col("n_rows") - F.col("nn")).alias("n_null"),
                "n_distinct",
                "min_repr",
                "max_repr",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _profile_col_sql(tbl: str, col: str, kind: str) -> str:
    rep = _repr_sql(col, kind)
    return f"""
SELECT '{tbl}' AS tbl, '{col}' AS col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({col}) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
       CAST(min({rep}) AS VARCHAR) AS min_repr,
       CAST(max({rep}) AS VARCHAR) AS max_repr
FROM {tbl}"""


ORACLE_Q157 = "\nUNION ALL".join(_profile_col_sql(t, c, k) for t, c, k in PROFILE_SPEC)


# --------------------------------------------------------------------------
# q168: incremental statistics maintenance — partial-aggregate composition
# --------------------------------------------------------------------------

N_SHARDS = 4  # deterministic ingest "days": doc_id % N_SHARDS


def q168_incremental_stats_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-maintenance pattern behind every per-shard compose
    claim in SCALE.md, executed and oracle-proved: per-source statistics
    are computed as PER-SHARD partials (count, sum, sum-of-squares, min,
    max over deterministic doc_id%N ingest batches) and then MERGED by
    pure algebra — never re-touching the rows. The oracle computes the
    same statistics DIRECTLY from the corpus, so the hash compare is the
    proof that the merge is lossless. All moments are exact integers
    (n_chars is integral; squares sum in decimal(38,0)), so the identity
    is bit-exact, not approximate. At 100 TB the partial table is the
    artifact each daily ingest writes; corpus stats are a shard-count-
    sized re-aggregation."""
    docs = load(spark, sf_dir, "documents").select(
        "source", "n_chars", (F.col("doc_id") % N_SHARDS).alias("shard")
    )
    partials = docs.groupBy("source", "shard").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("s"),
        F.sum((F.col("n_chars") * F.col("n_chars")).cast("decimal(38,0)")).alias("ss"),
        F.min("n_chars").alias("mn"),
        F.max("n_chars").alias("mx"),
    )
    return partials.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.sum("s").cast("bigint").alias("sum_chars"),
        F.sum("ss").cast("decimal(38,0)").cast("double").alias("sumsq_chars"),
        F.min("mn").cast("bigint").alias("min_chars"),
        F.max("mx").cast("bigint").alias("max_chars"),
        F.count(F.lit(1)).cast("bigint").alias("n_shards_seen"),
    )


ORACLE_Q168 = f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS DOUBLE) AS sumsq_chars,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       CAST(count(DISTINCT doc_id % {N_SHARDS}) AS BIGINT) AS n_shards_seen
FROM documents
GROUP BY source
"""


# --------------------------------------------------------------------------
# q190: Good-Turing frequency spectrum -- unseen-mass estimate per source
# --------------------------------------------------------------------------

GT_N = 3  # spectrum unit: word trigrams (the Katz-backoff granularity)


def q190_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Good-Turing frequency-of-frequencies profile per source: event
    total N, distinct types V, singleton count n1, doubleton n2, and the
    Good-Turing unseen-probability-mass estimate P0 = n1/N -- the
    corpus-statistics answer to "how much of this source's distribution
    have we NOT sampled yet", which drives stop-crawling and
    mixing-weight decisions. The unit is the word TRIGRAM (the Katz
    smoothing granularity): this fixture's unigram vocabulary (~30 words)
    saturates even at sf0.001, so a unigram spectrum would be all zeros
    -- trigram space keeps singletons plentiful at every SF, and a
    shrinking p0 across snapshot sizes is the saturation signal.

    Two bounded shuffles off one corpus scan: (source, trigram) counts
    (map-side combined, keyed by the 60-bit gram hash -- the q41 rule),
    then the type-sized frequency spectrum rollup. Integer-exact: p0 in
    ppm via integer division; the adjusted singleton mass r* = 2*n2/n1
    (Good's estimate of the true count for once-seen types) is emitted
    as a milli-count integer."""
    from ._hashing import h60
    from .text import _words

    docs = load(spark, sf_dir, "documents")
    w = docs.select("source", _words("lower(text)").alias("w"))
    grams = word_ngrams("w", GT_N)
    wc = (
        w.select("source", F.explode(grams).alias("g"))
        .groupBy("source", h60("g").alias("gh"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return wc.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum((F.col("c") == 1).cast("bigint")).alias("n1"),
        F.sum((F.col("c") == 2).cast("bigint")).alias("n2"),
        F.expr("CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000"
               " DIV sum(c) AS BIGINT)").alias("p0_ppm"),
        F.expr("CAST(CASE WHEN sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) > 0"
               " THEN 2000 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)"
               " DIV sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) ELSE 0 END"
               " AS BIGINT)").alias("r_star_milli"),
    )


_GT_WORDS = LOWER_WORDS_SQL  # the ONE tokenizer SQL (text.py's WS_CLASS contract)

ORACLE_Q190 = f"""
WITH wa AS (
  SELECT source, {_GT_WORDS} AS w FROM documents
),
g AS (
  SELECT source, unnest(
{ngrams_sql(GT_N)}) AS gram
  FROM wa
),
c AS (SELECT source, {h60_sql('gram')} AS gh, count(*) AS c FROM g GROUP BY 1, 2)
SELECT source,
       CAST(sum(c) AS BIGINT)                                   AS n_tokens,
       count(*)                                                 AS vocab,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)   AS n1,
       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)   AS n2,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
            // sum(c) AS BIGINT)                                AS p0_ppm,
       CAST(CASE WHEN sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) > 0
            THEN 2000 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                 // sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) ELSE 0 END
            AS BIGINT)                                          AS r_star_milli
FROM c
GROUP BY source
"""



# --------------------------------------------------------------------------
# q201: mergeable HLL sketch shards (Apache DataSketches surface)
# --------------------------------------------------------------------------

HLL_ERR_PCT = 5  # declared bound checked by the audit boolean


def q201_hll_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed-distinct via BINARY-MERGEABLE sketches: per-day
    hll_sketch_agg(user_id) shards (Apache DataSketches HLL), merged with
    hll_union_agg -- the incremental-count architecture where each daily
    ingest persists a few-KB sketch and the monthly distinct is a
    shard-count-sized union, rows never re-read (the sketch analog of
    q168's algebraic moment merge; q06 audits Spark's HyperLogLog++
    approx_count_distinct, which is NOT persistable or mergeable across
    jobs). Shard key is the TZ-free epoch day (unix_micros DIV 86.4e9).

    The sketch binaries are engine-internal, so the driver-checkable
    outputs are the audit booleans (the q06 upgrade pattern): the merged
    and the direct estimates must each sit within the declared error of
    the exact distinct count (which the oracle recomputes exactly), and
    the two must agree within 1% of each other -- union consistency, the
    property that makes shard persistence sound. Strict equality is NOT
    the contract: once registers leave sparse mode the union path and
    the direct path can legitimately land on different estimates
    (observed 1488 vs 1494 at 1500 true distinct).

    Scale: one (day, user) dedup shuffle staged and shared by both
    branches, then a shard-count aggregate and a 1-row x 1-row join."""
    from ._cache import cached_df

    def build() -> DataFrame:
        ev = load(spark, sf_dir, "events")
        return ev.select(
            F.expr("unix_micros(ts) DIV 86400000000").alias("day"), "user_id"
        ).distinct()

    du = cached_df(spark, f"q201_day_user:{sf_dir}", build)
    merged = (
        du.groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(
            F.count(F.lit(1)).alias("n_shards"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged"),
        )
    )
    direct = du.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_direct"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return merged.crossJoin(direct).select(
        "n_shards",
        "exact_users",
        (
            F.abs(F.col("est_merged") - F.col("exact_users")) * (100 // HLL_ERR_PCT)
            <= F.col("exact_users")
        ).alias("merged_within_bound"),
        (
            F.abs(F.col("est_direct") - F.col("exact_users")) * (100 // HLL_ERR_PCT)
            <= F.col("exact_users")
        ).alias("direct_within_bound"),
        (
            F.abs(F.col("est_merged") - F.col("est_direct")) * 100
            <= F.col("est_direct")
        ).alias("union_consistent"),
    )


ORACLE_Q201 = """
SELECT CAST(count(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT) AS n_shards,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS merged_within_bound,
       TRUE AS direct_within_bound,
       TRUE AS union_consistent
FROM events
"""


# --------------------------------------------------------------------------
# q203: robust outlier detection via MAD (median absolute deviation)
# --------------------------------------------------------------------------

MAD_K2 = 3  # outlier if deviation > MAD_K2 * MAD


def q203_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outliers: median / MAD instead of the
    mean / stddev family (q80), so extreme values cannot mask
    themselves by inflating the spread they are measured against.
    Every order statistic stays an EXACT integer by doubling units:
    the interpolated median of integer cents is a multiple of 1/2, so
    2*median is an exact int64 (the (1-g)*a + g*b interpolation of
    ints < 2^53 with g = 0 or 1/2 is exact dyadic double arithmetic,
    identical in both engines); deviations dev = |2x - m2| are
    integers; mad_x4 = 2*median(dev) is again an int64; and the rule
    dev > 3*median(dev) clears denominators to the pure integer
    comparison 2*dev > 3*mad_x4.

    Scale: exact percentile aggregation merges per-partition
    value->count maps, bounded by the metric's distinct values
    (~50k cent levels), not rows; the two 5-row statistic tables
    broadcast back over the stream (never a window that drags a
    whole event-type partition into one task); the deviation stream
    is parquet-staged because the MAD pass and the outlier count are
    separate aggregations Catalyst will not CSE."""
    from ._cache import cached_df

    def build() -> DataFrame:
        e = load(spark, sf_dir, "events").select(
            "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
        )
        med = e.groupBy("event_type").agg(
            (F.percentile("cents", F.lit(0.5)) * 2).cast("bigint").alias("m2"),
            F.count(F.lit(1)).alias("n_events"),
        )
        return e.join(F.broadcast(med), "event_type").select(
            "event_type", "m2", "n_events",
            F.abs(2 * F.col("cents") - F.col("m2")).alias("dev"),
        )

    dev = cached_df(spark, f"q203_dev:{sf_dir}", build)
    mad = dev.groupBy("event_type", "m2", "n_events").agg(
        (F.percentile("dev", F.lit(0.5)) * 2).cast("bigint").alias("mad_x4")
    )
    counts = (
        dev.join(F.broadcast(mad.select("event_type", "mad_x4")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(2 * F.col("dev") > MAD_K2 * F.col("mad_x4"), 1).otherwise(0)
            ).alias("n_outliers")
        )
    )
    return mad.join(counts, "event_type").select(
        "event_type", "n_events", "m2", "mad_x4", "n_outliers"
    )


ORACLE_Q203 = f"""
WITH e AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
), med AS (
  SELECT event_type,
         CAST(quantile_cont(cents, 0.5) * 2 AS BIGINT) AS m2,
         count(*) AS n_events
  FROM e GROUP BY event_type
), dev AS (
  SELECT e.event_type, m2, n_events, abs(2 * cents - m2) AS dev
  FROM e JOIN med USING (event_type)
), mad AS (
  SELECT event_type, m2, n_events,
         CAST(quantile_cont(dev, 0.5) * 2 AS BIGINT) AS mad_x4
  FROM dev GROUP BY event_type, m2, n_events
)
SELECT dev.event_type,
       CAST(mad.n_events AS BIGINT) AS n_events,
       mad.m2, mad.mad_x4,
       CAST(sum(CASE WHEN 2 * dev > {MAD_K2} * mad_x4 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev JOIN mad USING (event_type)
GROUP BY dev.event_type, mad.n_events, mad.m2, mad.mad_x4
"""



# Benford first-digit expectation, integer ppm of log10(1 + 1/d). The
# literal table is THE cross-engine contract -- both sides read these
# exact constants, never a runtime log.
BENFORD_PPM = {1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
               6: 66947, 7: 57992, 8: 51153, 9: 45757}


def q221_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law forensic audit over order totals -- the
    fraud/synthetic-data screen: natural multi-magnitude amounts put
    ~30.1% of first digits at 1, and a generator (or a tamperer) that
    draws uniformly gets caught by the divergence. Per digit: observed
    count and ppm against the literal expectation table, plus the
    chi-square statistic -- computed from exact integer counts by the
    same double expression in both engines and floor-quantized to 1e-3
    (the q197 discipline). This fixture's uniform-ish totals FAIL the
    law loudly (chi2 >> 15.5), which is the audit doing its job (house
    rule: an audit that cannot err is not an audit).

    Scale: one scan, a 9-row aggregate, a 1-row total broadcast."""
    from ._cache import cached_df

    def build() -> DataFrame:
        cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
        return (
            load(spark, sf_dir, "orders")
            .select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
            .filter(F.col("digit") >= 1)
            .groupBy("digit")
            .agg(F.count(F.lit(1)).alias("n_obs"))
        )

    # 9-row digit table staged once: three consumers (totals, per-digit
    # scoring, chi-square) would otherwise re-scan orders per branch.
    digits = cached_df(spark, f"q221_digits:{sf_dir}", build)
    exp_ppm = F.element_at(
        F.create_map(*[F.lit(x) for kv in BENFORD_PPM.items() for x in kv]),
        F.col("digit"),
    )
    w_all = digits.select(F.sum("n_obs").alias("n_total"))
    scored = digits.crossJoin(F.broadcast(w_all)).select(
        "digit", "n_obs",
        F.expr("CAST(n_obs * 1000000 DIV n_total AS BIGINT)").alias("obs_ppm"),
        exp_ppm.cast("bigint").alias("exp_ppm"),
        "n_total",
    )
    # each digit's term floor-quantizes to 1e-3 BEFORE the 9-term sum (the
    # q203/q192 discipline this query's own consumers cite): a raw double
    # sum accumulates in partition order, and IEEE addition is
    # non-associative, so floor(1000*sum) could flip a ulp from the
    # oracle's accumulation order on an unlucky total
    dev = (F.col("n_obs").cast("double")
           - F.col("n_total").cast("double") * F.col("exp_ppm") / 1e6)
    term = dev * dev / (F.col("n_total").cast("double") * F.col("exp_ppm") / 1e6)
    chi2 = scored.agg(
        F.sum(F.floor(1000.0 * term).cast("bigint")).alias("chi2_milli")
    )
    return (
        scored.crossJoin(F.broadcast(chi2))
        .select("digit", "n_obs", "obs_ppm", "exp_ppm", "chi2_milli")
    )


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p}" for d, p in BENFORD_PPM.items()
)

ORACLE_Q221 = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit,
         count(*) AS n_obs
  FROM orders
  GROUP BY 1
  HAVING digit >= 1
), tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM digits),
scored AS (
  SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
         CAST(n_obs * 1000000 // n_total AS BIGINT) AS obs_ppm,
         CAST(CASE digit {_BENFORD_CASE} END AS BIGINT) AS exp_ppm,
         n_total
  FROM digits CROSS JOIN tot
), chi AS (
  -- per-digit terms floor-quantized BEFORE the sum (order-free integers)
  SELECT CAST(sum(CAST(floor(1000.0 *
           (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * exp_ppm / 1e6)
           * (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * exp_ppm / 1e6)
           / (CAST(n_total AS DOUBLE) * exp_ppm / 1e6)
         ) AS BIGINT)) AS BIGINT) AS chi2_milli
  FROM scored
)
SELECT digit, n_obs, obs_ppm, exp_ppm, chi2_milli
FROM scored CROSS JOIN chi
"""



# (child table, fk column) -> (parent table, pk column)
RI_RELATIONSHIPS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
]


def q223_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's declared
    foreign keys: per relationship, child rows, distinct FK values,
    orphaned rows (left-anti against the parent key set), and the
    orphan rate in ppm -- the load-time contract check that decides
    whether a join is safe to run as INNER (an orphan silently drops
    fact rows). NULL FKs count as orphans: a fact row that cannot
    join is broken regardless of why.

    Scale: one anti-join per relationship, each a key-hash shuffle of
    the child against the parent's key projection (broadcast where the
    parent is a dim); counts are map-side combined."""
    out = None
    for child, fk, parent, pk in RI_RELATIONSHIPS:
        c = load(spark, sf_dir, child).select(F.col(fk).alias("fk"))
        p = load(spark, sf_dir, parent).select(F.col(pk).alias("pk")).distinct()
        orphans = c.join(p, c.fk == p.pk, "left_anti")
        row = (
            c.agg(
                F.count(F.lit(1)).alias("n_child"),
                F.countDistinct("fk").alias("n_distinct_fk"),
            )
            .crossJoin(
                F.broadcast(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            )
            .select(
                F.lit(f"{child}.{fk} -> {parent}.{pk}").alias("relationship"),
                "n_child",
                "n_distinct_fk",
                "n_orphans",
                F.expr("CAST(n_orphans * 1000000 DIV n_child AS BIGINT)")
                .alias("orphan_ppm"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


ORACLE_Q223 = """
""" + "\nUNION ALL\n".join(
    f"""SELECT '{child}.{fk} -> {parent}.{pk}' AS relationship,
       count(*) AS n_child,
       CAST(count(DISTINCT {fk}) AS BIGINT) AS n_distinct_fk,
       CAST(sum(CASE WHEN {fk} IS NULL OR {fk} NOT IN
                     (SELECT {pk} FROM {parent}) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       CAST(sum(CASE WHEN {fk} IS NULL OR {fk} NOT IN
                     (SELECT {pk} FROM {parent}) THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS orphan_ppm
FROM {child}"""
    for child, fk, parent, pk in RI_RELATIONSHIPS
)


# --------------------------------------------------------------------------
# q248: one-way ANOVA across sources (k-sample inference)
# --------------------------------------------------------------------------

def q248_anova_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of document length across sources -- the k-sample
    generalization of q197's two-arm Welch test: does ANY source differ
    in mean length, before pairwise drill-downs? Per-source sufficient
    statistics (n, Σx, Σx² over integral n_chars) are EXACT integers;
    SSB, SSW, the F statistic, and the η² effect share are the only
    doubles, computed from those moments by the same expression text
    in both engines and floor-quantized to 1e-6/ppm (the q197
    discipline). One row: k groups, N, dfs, F, η².

    Scale: one map-side-combined pass to source-level moments, then a
    k-row aggregate -- the statistic costs a narrow groupBy at any
    corpus size, and the per-source moment table is the same
    shard-mergeable artifact q168 maintains incrementally."""
    g = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("s"),
            F.sum(
                (F.col("n_chars") * F.col("n_chars")).cast("decimal(38,0)")
            ).alias("ss"),
        )
    )
    # SSB = sum(s_g^2/n_g) - S^2/N ; SSW = sum(ss_g) - sum(s_g^2/n_g)
    # per-group s^2/n is fractional: floor-quantize EACH term to 1e-6
    # fixed point before the cross-group sum, so the sum is an order-free
    # int64 (a raw double sum across groups accumulates in partition
    # order -- the q192/q122 rule)
    agg = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_total"),
        F.sum("s").alias("s_total"),
        F.sum(F.col("ss")).cast("decimal(38,0)").alias("ss_all_d"),
        # floor(s^2 * 1e6 / n) as EXACT integer division in decimal: the
        # double formulation saturated Spark's floor at Long.MaxValue
        # (silently) and errored DuckDB's cast once a source passed ~1e6
        # average-size docs, and double rounding could flip the floor a
        # ulp from the exact quotient. Computed via s = q*n + r as
        #   s*q*1e6 + (s*r*1e6 DIV n)   (q = s DIV n, r = s MOD n)
        # which equals floor(s^2*1e6/n) exactly but caps the widest
        # intermediate at s*r*1e6 < s*n*1e6 instead of s^2*1e6 -- the
        # direct product silently NULLed Spark's decimal(38,0) (non-ANSI)
        # once s passed ~3.2e15 (~3 PB of text in one source) while the
        # DuckDB HUGEINT twin errored loudly. The restructured ceiling is
        # the first term s*q*1e6 ~= n*c^2*1e6 (n docs of avg size c), i.e.
        # exact while n*c^2 <= ~1e32 -- e.g. 1e12 docs of 10 KB average,
        # ~1e7x more text than the direct product allowed at that doc
        # size, far past any single source. The quotient itself must fit
        # int64 -- true for any single source under ~10 TB of text; the
        # cross-group SUM widens to decimal regardless.
        F.sum(
            F.expr(
                "CAST(s AS DECIMAL(38,0)) * (s DIV n) * 1000000"
                " + (CAST(s AS DECIMAL(38,0)) * (s % n) * 1000000 DIV n)"
            ).cast("decimal(38,0)")
        ).alias("sq_over_n_u"),
    )
    sq_over_n = F.col("sq_over_n_u").cast("double") / 1_000_000
    ss_all = F.col("ss_all_d").cast("double")
    s2_over_n = (
        F.col("s_total").cast("double") * F.col("s_total") / F.col("n_total")
    )
    ssb = sq_over_n - s2_over_n
    ssw = ss_all - sq_over_n
    sst = ss_all - s2_over_n
    fstat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n_total") - F.col("k")))
    return agg.select(
        "k",
        "n_total",
        (F.col("k") - 1).cast("bigint").alias("df_between"),
        (F.col("n_total") - F.col("k")).cast("bigint").alias("df_within"),
        F.floor(fstat * 1_000_000).cast("bigint").alias("f_micro"),
        F.floor(ssb / sst * 1_000_000).cast("bigint").alias("eta2_ppm"),
    )


ORACLE_Q248 = """
WITH g AS (
  SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS s,
         CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS ss
  FROM documents GROUP BY source
),
agg AS (
  SELECT count(*) AS k,
         CAST(sum(n) AS BIGINT) AS n_total,
         CAST(sum(s) AS BIGINT) AS s_total,
         CAST(CAST(sum(ss) AS HUGEINT) AS DOUBLE) AS ss_all,
         -- exact HUGEINT integer division mirrors the Spark decimal DIV,
         -- restructured identically (s = q*n + r) so the widest
         -- intermediate is s*r*1e6, not s^2*1e6
         sum(CAST(s AS HUGEINT) * (s // n) * 1000000
             + (CAST(s AS HUGEINT) * (s % n) * 1000000 // n)) AS sq_over_n_u
  FROM g
)
SELECT k, n_total,
       CAST(k - 1 AS BIGINT) AS df_between,
       CAST(n_total - k AS BIGINT) AS df_within,
       CAST(floor(((CAST(sq_over_n_u AS DOUBLE) / 1000000
                    - CAST(s_total AS DOUBLE) * s_total / n_total)
                   / (k - 1))
                  / ((ss_all - CAST(sq_over_n_u AS DOUBLE) / 1000000)
                     / (n_total - k))
                  * 1000000) AS BIGINT) AS f_micro,
       CAST(floor((CAST(sq_over_n_u AS DOUBLE) / 1000000
                   - CAST(s_total AS DOUBLE) * s_total / n_total)
                  / (ss_all - CAST(s_total AS DOUBLE) * s_total / n_total)
                  * 1000000) AS BIGINT) AS eta2_ppm
FROM agg
"""


# --------------------------------------------------------------------------
# q237: key-space gap census (sequence completeness audit)
# --------------------------------------------------------------------------

GAP_BAND = 256        # keys per ordering band: key DIV 256
GAP_DROP_CHUNK = 5    # planted lost chunk: keys with k DIV 128 == 5
GAP_DROP_SCATTER = 377  # planted scattered losses: k % 377 == 0


def q237_keyspace_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-completeness audit over the order key space: gap count,
    total missing keys, the largest gap, and key density in ppm -- the
    ingest check that catches a dropped chunk before a downstream join
    silently shrinks. The fixture's keys are dense, so the audit's
    subject is a deterministically damaged ingest (the q226 planting
    discipline): one contiguous 128-key chunk (k DIV 128 == 5, a lost
    file) and scattered single keys (k % 377 == 0, lost rows) are
    dropped by key arithmetic both engines replicate -- the audit must
    find exactly that chunk as max_gap plus the scatter, at every SF.

    No global sort: keys order WITHIN bands of GAP_BAND=256 (key DIV
    256) for the lead()-based within-band gaps, and the per-band (min,
    max, count) summary table -- bounded at keyspace/256 rows -- closes the
    cross-band boundaries with its own lead() over bands, which also
    accounts for entirely-missing bands. Gap count, missing mass, and
    max gap decompose exactly into within-band + boundary terms.

    Scale: one exchange on the band key, one bounded summary pass --
    the same banding discipline as q218's SNM sort."""
    keys = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("k"))
        .filter(
            (F.expr("k DIV 128") != GAP_DROP_CHUNK)
            & (F.col("k") % GAP_DROP_SCATTER != 0)
        )
        .withColumn("band", F.expr(f"k DIV {GAP_BAND}"))
    )
    wb = W.partitionBy("band").orderBy("k")
    inband = keys.withColumn("nxt", F.lead("k").over(wb)).groupBy("band").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
        F.sum(((F.col("nxt") - F.col("k")) > 1).cast("int")).alias("n_gaps_in"),
        F.sum(
            F.when(F.col("nxt") - F.col("k") > 1, F.col("nxt") - F.col("k") - 1)
            .otherwise(0)
        ).alias("missing_in"),
        F.max(
            F.when(F.col("nxt") - F.col("k") > 1, F.col("nxt") - F.col("k") - 1)
            .otherwise(0)
        ).alias("max_gap_in"),
    )
    wo = W.partitionBy().orderBy("band")
    bands = inband.withColumn("nxt_min", F.lead("k_min").over(wo))
    return bands.agg(
        F.sum("n_keys").alias("n_keys"),
        F.min("k_min").alias("key_lo"),
        F.max("k_max").alias("key_hi"),
        (
            F.sum("n_gaps_in")
            + F.sum(
                F.when(F.col("nxt_min") - F.col("k_max") > 1, 1).otherwise(0)
            )
        ).alias("n_gaps"),
        (
            F.sum("missing_in")
            + F.sum(
                F.when(
                    F.col("nxt_min") - F.col("k_max") > 1,
                    F.col("nxt_min") - F.col("k_max") - 1,
                ).otherwise(0)
            )
        ).alias("missing_keys"),
        F.greatest(
            F.max("max_gap_in"),
            F.max(
                F.when(
                    F.col("nxt_min") - F.col("k_max") > 1,
                    F.col("nxt_min") - F.col("k_max") - 1,
                ).otherwise(0)
            ),
        ).alias("max_gap"),
    ).select(
        "n_keys", "key_lo", "key_hi", "n_gaps", "missing_keys", "max_gap",
        F.expr(
            "CAST(n_keys * 1000000 DIV (key_hi - key_lo + 1) AS BIGINT)"
        ).alias("density_ppm"),
    )


ORACLE_Q237 = f"""
WITH keys AS (
  SELECT o_orderkey AS k, o_orderkey // {GAP_BAND} AS band FROM orders
  WHERE o_orderkey // 128 != {GAP_DROP_CHUNK}
    AND o_orderkey % {GAP_DROP_SCATTER} != 0
),
inband AS (
  SELECT band,
         count(*) AS n_keys, min(k) AS k_min, max(k) AS k_max,
         CAST(sum(CASE WHEN nxt - k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps_in,
         CAST(sum(CASE WHEN nxt - k > 1 THEN nxt - k - 1 ELSE 0 END) AS BIGINT)
           AS missing_in,
         CAST(max(CASE WHEN nxt - k > 1 THEN nxt - k - 1 ELSE 0 END) AS BIGINT)
           AS max_gap_in
  FROM (SELECT k, band, lead(k) OVER (PARTITION BY band ORDER BY k) AS nxt
        FROM keys)
  GROUP BY band
),
bands AS (SELECT *, lead(k_min) OVER (ORDER BY band) AS nxt_min FROM inband)
SELECT CAST(sum(n_keys) AS BIGINT) AS n_keys,
       min(k_min) AS key_lo,
       max(k_max) AS key_hi,
       CAST(sum(n_gaps_in)
            + sum(CASE WHEN nxt_min - k_max > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gaps,
       CAST(sum(missing_in)
            + sum(CASE WHEN nxt_min - k_max > 1 THEN nxt_min - k_max - 1
                       ELSE 0 END) AS BIGINT) AS missing_keys,
       CAST(greatest(max(max_gap_in),
            max(CASE WHEN nxt_min - k_max > 1 THEN nxt_min - k_max - 1
                     ELSE 0 END)) AS BIGINT) AS max_gap,
       CAST(sum(n_keys) * 1000000 // (max(k_max) - min(k_min) + 1) AS BIGINT)
         AS density_ppm
FROM bands
"""


# --------------------------------------------------------------------------
# q233: k-anonymity audit over quasi-identifiers
# --------------------------------------------------------------------------

KANON_KS = [2, 5, 10]
# $1000 balance bands; the +10_000_000 shift keeps the dividend positive so
# Spark's truncating DIV and DuckDB's flooring // agree (acctbal < 0 exists)
KANON_BAND_SQL = (
    "(CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) DIV 100000"
)


def q233_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the customer table's
    quasi-identifier tuple (nation, market segment, $1000 balance
    band): the privacy screen a training-data release runs before
    publishing joinable attributes. Per k in {2, 5, 10}: equivalence
    classes, classes below k, rows re-identifiable at that k (risk
    mass in ppm), plus the table's k-anonymity level (the minimum
    class size -- the k the release actually provides).

    Negative balances make the band a floor-division trap: Spark DIV
    truncates toward zero while DuckDB // floors, so the band shifts
    the dividend positive first (documented house rule).

    Scale: ONE shuffle on the quasi-identifier tuple; the staged
    class-size table (bounded by QI-combination cardinality) serves
    the three k rows."""
    from ._cache import cached_df

    def build() -> DataFrame:
        return (
            load(spark, sf_dir, "customer")
            .select(
                "c_nationkey", "c_mktsegment",
                F.expr(KANON_BAND_SQL).alias("bal_band"),
            )
            .groupBy("c_nationkey", "c_mktsegment", "bal_band")
            .agg(F.count(F.lit(1)).alias("csize"))
        )

    classes = cached_df(spark, f"q233_classes:{sf_dir}", build)
    out = None
    for k in KANON_KS:
        row = classes.agg(
            F.lit(k).cast("int").alias("k"),
            F.count(F.lit(1)).alias("n_classes"),
            F.min("csize").alias("k_anonymity"),
            F.sum((F.col("csize") < k).cast("int")).alias("n_small_classes"),
            F.sum(F.when(F.col("csize") < k, F.col("csize")).otherwise(0)).alias(
                "rows_at_risk"
            ),
            F.sum("csize").alias("n_rows"),
        ).select(
            "k", "n_classes", "k_anonymity", "n_small_classes", "rows_at_risk",
            F.expr("CAST(rows_at_risk * 1000000 DIV n_rows AS BIGINT)")
            .alias("risk_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out


ORACLE_Q233 = f"""
WITH classes AS MATERIALIZED (
  SELECT c_nationkey, c_mktsegment,
         (CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) // 100000
           AS bal_band,
         count(*) AS csize
  FROM customer GROUP BY 1, 2, 3
)
{" UNION ALL ".join(f'''
SELECT CAST({k} AS INT) AS k,
       count(*) AS n_classes,
       CAST(min(csize) AS BIGINT) AS k_anonymity,
       CAST(sum(CASE WHEN csize < {k} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_small_classes,
       CAST(sum(CASE WHEN csize < {k} THEN csize ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       CAST(sum(CASE WHEN csize < {k} THEN csize ELSE 0 END) * 1000000
            // sum(csize) AS BIGINT) AS risk_ppm
FROM classes''' for k in KANON_KS)}
"""


# --------------------------------------------------------------------------
# q232: Cramer's V categorical-association matrix
# --------------------------------------------------------------------------

# (table, X expr, Y expr, label) -- SQL exprs valid in BOTH engines.
CV_PAIRS = [
    ("documents", "source", "lang", "documents.source~lang"),
    ("customer", "c_nationkey", "c_mktsegment", "customer.nation~segment"),
    ("events", "event_type", "user_id % 16", "events.type~userband"),
    ("lineitem", "l_returnflag", "l_linestatus", "lineitem.flag~status"),
]


def q232_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-association profile: chi-square and Cramer's V for
    four column pairs -- the profiling complement of q227's FDs (an FD
    is the V=1 extreme; this measures the whole dependence spectrum,
    e.g. l_returnflag~l_linestatus are strongly associated without
    either determining the other).

    No logarithms cross the engine boundary (libm log is not
    correctly-rounded, so ln-based mutual information could differ in
    the last ulp per engine); chi-square uses only + * / and sqrt,
    all IEEE-exact on identical inputs. Missing contingency cells are
    handled by the identity sum-over-all-cells(expected) = N:
    chi2 = N + sum over PRESENT cells of ((c-ex)^2/ex - ex), each
    cell's term floor-quantized to micro units so the cross-cell sum
    is an order-free int64 (the q203/q221 discipline -- a raw double
    sum accumulates in partition order).

    Scale: one corpus scan per pair into a value-pair-sized
    contingency table (staged: margins and the statistic are three
    consumers); everything downstream is bounded by category
    cardinalities."""
    from ._cache import cached_df

    out = None
    for table, xe, ye, label in CV_PAIRS:
        def build(t=table, x=xe, y=ye) -> DataFrame:
            return (
                load(spark, sf_dir, t)
                .groupBy(F.expr(x).alias("x"), F.expr(y).alias("y"))
                .agg(F.count(F.lit(1)).alias("c"))
            )

        ct = cached_df(spark, f"q232_ct_{label}:{sf_dir}", build)
        mx = ct.groupBy("x").agg(F.sum("c").alias("cx"))
        my = ct.groupBy("y").agg(F.sum("c").alias("cy"))
        tot = ct.agg(
            F.sum("c").alias("n_rows"),
            F.countDistinct("x").alias("nx"),
            F.countDistinct("y").alias("ny"),
        )
        cells = (
            ct.join(F.broadcast(mx), "x")
            .join(F.broadcast(my), "y")
            .crossJoin(F.broadcast(tot))
        )
        # ex = cx*cy/n as double; per-cell term floored to micro units
        term = (
            "CAST(floor(1000000.0 * ((CAST(c AS DOUBLE)"
            " - CAST(cx AS DOUBLE) * cy / n_rows)"
            " * (CAST(c AS DOUBLE) - CAST(cx AS DOUBLE) * cy / n_rows)"
            " / (CAST(cx AS DOUBLE) * cy / n_rows)"
            " - CAST(cx AS DOUBLE) * cy / n_rows)) AS BIGINT)"
        )
        row = cells.agg(
            F.lit(label).alias("pair"),
            F.max("n_rows").alias("n_rows"),
            F.max("nx").alias("nx"),
            F.max("ny").alias("ny"),
            # floor error is < 1 micro-unit per cell, so the micro total can
            # dip a hair below the true chi2>=0; clamp so DIV (truncating)
            # and // (flooring) agree -- they differ on negatives
            F.expr(
                f"CAST(greatest(max(n_rows) * 1000000"
                f" + sum({term}), 0) DIV 1000 AS BIGINT)"
            ).alias("chi2_milli"),
        ).select(
            "pair", "n_rows", "nx", "ny", "chi2_milli",
            F.expr(
                "CAST(floor(1000.0 * sqrt((CAST(chi2_milli AS DOUBLE) / 1000.0)"
                " / (CAST(n_rows AS DOUBLE)"
                " * least(nx - 1, ny - 1)))) AS BIGINT)"
            ).alias("v_milli"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _cv_pair_sql(table: str, xe: str, ye: str, label: str) -> str:
    term = (
        "CAST(floor(1000000.0 * ((CAST(c AS DOUBLE)"
        " - CAST(cx AS DOUBLE) * cy / n_rows)"
        " * (CAST(c AS DOUBLE) - CAST(cx AS DOUBLE) * cy / n_rows)"
        " / (CAST(cx AS DOUBLE) * cy / n_rows)"
        " - CAST(cx AS DOUBLE) * cy / n_rows)) AS BIGINT)"
    )
    return f"""
SELECT pair, n_rows, nx, ny, chi2_milli,
       CAST(floor(1000.0 * sqrt((CAST(chi2_milli AS DOUBLE) / 1000.0)
            / (CAST(n_rows AS DOUBLE) * least(nx - 1, ny - 1)))) AS BIGINT)
         AS v_milli
FROM (
  SELECT '{label}' AS pair,
         CAST(max(n_rows) AS BIGINT) AS n_rows,
         CAST(max(nx) AS BIGINT) AS nx,
         CAST(max(ny) AS BIGINT) AS ny,
         CAST(greatest(max(n_rows) * 1000000 + sum({term}), 0) // 1000 AS BIGINT)
           AS chi2_milli
  FROM (
    SELECT c, cx, cy, n_rows, nx, ny
    FROM (SELECT {xe} AS x, {ye} AS y, count(*) AS c FROM {table} GROUP BY 1, 2) ct
    JOIN (SELECT {xe} AS x, count(*) AS cx FROM {table} GROUP BY 1) USING (x)
    JOIN (SELECT {ye} AS y, count(*) AS cy FROM {table} GROUP BY 1) USING (y)
    CROSS JOIN (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
                       CAST(count(DISTINCT x) AS BIGINT) AS nx,
                       CAST(count(DISTINCT y) AS BIGINT) AS ny
                FROM (SELECT {xe} AS x, {ye} AS y, count(*) AS c
                      FROM {table} GROUP BY 1, 2))
  )
)"""


ORACLE_Q232 = "\nUNION ALL\n".join(
    _cv_pair_sql(t, x, y, lbl) for t, x, y, lbl in CV_PAIRS
)


# --------------------------------------------------------------------------
# q227: approximate functional-dependency discovery (g3 measure)
# --------------------------------------------------------------------------

# (table, determinant, dependent): candidates an FD miner would score.
# Mixed on purpose -- exact keys (g3 = 0) and genuine violations, so the
# audit separates rather than rubber-stamps.
FD_SPEC = [
    ("orders", "o_orderkey", "o_custkey"),
    ("lineitem", "l_orderkey", "l_partkey"),
    ("documents", "doc_id", "lang"),
    ("documents", "source", "lang"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("events", "user_id", "event_type"),
]


def q227_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency discovery (the TANE/Pyro
    profiling step): for each candidate X -> Y, the g3 error -- the
    minimum number of rows to delete so the FD holds exactly
    (Kivinen & Mannila 1995), computed as N - sum over X-groups of the
    group's majority-Y count. Emitted per candidate: rows, distinct
    determinant values, violating groups, g3 rows and ppm -- the
    schema-inference signal that says which "keys" are trustworthy
    before a 100 TB join assumes them (q223 audits declared FKs; this
    DISCOVERS dependency strength without declarations).

    Scale: per FD one map-side-combinable (X, Y) count shuffle whose
    output is value-pair-sized, then an X-sized combine; candidates
    never join each other, and the union is 6 one-row aggregates."""
    out = None
    for table, lhs, rhs in FD_SPEC:
        pair = (
            load(spark, sf_dir, table)
            .groupBy(F.col(lhs).alias("x"), F.col(rhs).alias("y"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        grp = pair.groupBy("x").agg(
            F.sum("c").alias("n_rows"),
            F.max("c").alias("n_majority"),
            F.count(F.lit(1)).alias("n_y"),
        )
        row = grp.agg(
            F.lit(f"{table}.{lhs} -> {rhs}").alias("fd"),
            F.sum("n_rows").alias("n_rows"),
            F.count(F.lit(1)).alias("n_lhs"),
            F.sum((F.col("n_y") > 1).cast("int")).alias("n_violating_lhs"),
            F.sum(F.col("n_rows") - F.col("n_majority")).alias("g3_rows"),
        ).select(
            "fd", "n_rows", "n_lhs", "n_violating_lhs", "g3_rows",
            F.expr("CAST(g3_rows * 1000000 DIV n_rows AS BIGINT)").alias("g3_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out


ORACLE_Q227 = "\nUNION ALL\n".join(
    f"""SELECT '{table}.{lhs} -> {rhs}' AS fd,
       CAST(sum(n_rows) AS BIGINT) AS n_rows,
       count(*) AS n_lhs,
       CAST(sum(CASE WHEN n_y > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_lhs,
       CAST(sum(n_rows - n_majority) AS BIGINT) AS g3_rows,
       CAST(sum(n_rows - n_majority) * 1000000 // sum(n_rows) AS BIGINT) AS g3_ppm
FROM (
  SELECT x, CAST(sum(c) AS BIGINT) AS n_rows, CAST(max(c) AS BIGINT) AS n_majority,
         count(*) AS n_y
  FROM (SELECT {lhs} AS x, {rhs} AS y, count(*) AS c FROM {table} GROUP BY 1, 2)
  GROUP BY x
)"""
    for table, lhs, rhs in FD_SPEC
)


# --------------------------------------------------------------------------
# q225: count-min sketch estimator audit
# --------------------------------------------------------------------------

CMS_D = 4    # sketch depth: independent hash rows (min over these)
CMS_W = 64   # sketch width: buckets per row -- deliberately LEAN so
             # collisions (the phenomenon this audits) occur at every SF;
             # keys > CMS_W guarantees them by pigeonhole
CMS_TOPK = 20


def q225_cms_estimator_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch estimator audit -- the heavy-hitter counting
    sketch (Cormode & Muthukrishnan 2005) that q76's exact top-k would
    be replaced by at stream scale: d=4 universal-hash rows of w=64
    counters, point estimate = min over rows of the landed counter.
    CMS never undercounts (each counter is a sum INCLUDING the key's
    own count), so the audit reports per-key overestimate ppm for the
    top-20 users by exact count -- with w sized below the key
    cardinality, collisions are guaranteed by pigeonhole and the audit
    measures real error at every SF (house rule: an audit that cannot
    err is not an audit).

    Both engines build the SAME sketch from the same md5-derived
    universal hash family (_hashing.MINHASH_SEEDS), so cells, minima,
    and ppm are exact-integer identical; the oracle is the full
    construction, not a rubber stamp.

    Scale: one corpus shuffle for the exact per-key counts (needed by
    the audit regardless); the sketch itself is d key-sized aggregates
    whose outputs are d*w = 256 cells, broadcast back over the
    key-sized table -- at stream scale the same construction runs as
    d*w counters per partition merged by addition (counters are
    mergeable by construction), never a per-key state."""
    from ._cache import cached_df
    from ._hashing import MINHASH_SEEDS, minhash

    def build() -> DataFrame:
        return (
            load(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_exact"))
        )

    # staged: the sketch build reads it d times and the estimate join once
    counts = cached_df(spark, f"q225_counts:{sf_dir}", build)
    key_str = "CAST(user_id AS STRING)"
    keyed = counts.select(
        "user_id",
        "n_exact",
        *[
            (minhash(key_str, *MINHASH_SEEDS[i]) % CMS_W).alias(f"b{i}")
            for i in range(CMS_D)
        ],
    )
    out = keyed
    for i in range(CMS_D):
        cells = keyed.groupBy(f"b{i}").agg(F.sum("n_exact").alias(f"cell{i}"))
        out = out.join(F.broadcast(cells), f"b{i}")
    est = F.least(*[F.col(f"cell{i}") for i in range(CMS_D)])
    return (
        out.withColumn("n_est", est)
        .select(
            "user_id",
            "n_exact",
            "n_est",
            F.expr(
                "CAST((n_est - n_exact) * 1000000 DIV n_exact AS BIGINT)"
            ).alias("over_ppm"),
        )
        .orderBy(F.desc("n_exact"), "user_id")
        .limit(CMS_TOPK)
    )


def _cms_bucket_sql(i: int) -> str:
    from ._hashing import MINHASH_SEEDS, minhash_sql

    a, b = MINHASH_SEEDS[i]
    return f"({minhash_sql('CAST(user_id AS VARCHAR)', a, b)} % {CMS_W})"


ORACLE_Q225 = f"""
WITH counts AS (
  SELECT user_id, count(*) AS n_exact FROM events GROUP BY user_id
), keyed AS (
  SELECT user_id, n_exact,
         {", ".join(f"{_cms_bucket_sql(i)} AS b{i}" for i in range(CMS_D))}
  FROM counts
),
{", ".join(
    f"c{i} AS (SELECT b{i}, CAST(sum(n_exact) AS BIGINT) AS cell{i} "
    f"FROM keyed GROUP BY b{i})"
    for i in range(CMS_D)
)}
SELECT user_id, n_exact,
       least({", ".join(f"cell{i}" for i in range(CMS_D))}) AS n_est,
       CAST((least({", ".join(f"cell{i}" for i in range(CMS_D))}) - n_exact)
            * 1000000 // n_exact AS BIGINT) AS over_ppm
FROM keyed {" ".join(f"JOIN c{i} USING (b{i})" for i in range(CMS_D))}
ORDER BY n_exact DESC, user_id
LIMIT {CMS_TOPK}
"""


QUERIES = {
    "q157_dataset_profile": q157_dataset_profile,
    "q168_incremental_stats_merge": q168_incremental_stats_merge,
    "q190_good_turing": q190_good_turing,
    "q201_hll_shard_merge": q201_hll_shard_merge,
    "q203_mad_outliers": q203_mad_outliers,
    "q221_benford_audit": q221_benford_audit,
    "q223_referential_integrity": q223_referential_integrity,
    "q225_cms_estimator_audit": q225_cms_estimator_audit,
    "q227_fd_audit": q227_fd_audit,
    "q232_cramers_v": q232_cramers_v,
    "q233_k_anonymity": q233_k_anonymity,
    "q237_keyspace_gaps": q237_keyspace_gaps,
    "q248_anova_sources": q248_anova_sources,
}
ORACLES = {
    "q157_dataset_profile": ORACLE_Q157,
    "q168_incremental_stats_merge": ORACLE_Q168,
    "q190_good_turing": ORACLE_Q190,
    "q201_hll_shard_merge": ORACLE_Q201,
    "q203_mad_outliers": ORACLE_Q203,
    "q221_benford_audit": ORACLE_Q221,
    "q223_referential_integrity": ORACLE_Q223,
    "q225_cms_estimator_audit": ORACLE_Q225,
    "q227_fd_audit": ORACLE_Q227,
    "q232_cramers_v": ORACLE_Q232,
    "q233_k_anonymity": ORACLE_Q233,
    "q237_keyspace_gaps": ORACLE_Q237,
    "q248_anova_sources": ORACLE_Q248,
}
