"""Data-layout and scan-pruning operators: the physical-design toolkit a
100 TB deployment uses to make the OTHER queries cheap.

- q172: Z-order (Morton) multi-dimensional clustering audit. Writing files
  clustered by an interleaved-bit key bounds EVERY dimension's min/max
  span per file, so single-dimension probes prune files regardless of
  which dimension they hit -- the reason Delta/Iceberg OPTIMIZE ZORDER
  exists. The query measures it: the same rows grouped into z-prefix
  files vs date-sorted files, per-file min/max spans, and the exact
  file-skip counts a date probe and a key probe would achieve on each
  layout (parquet row-group pruning simulated from the stats it would
  use).
- q173: Bloom-filter semi-join pruning audit -- the runtime-filter
  mechanic behind spark.sql.optimizer.runtime.bloomFilter.enabled,
  re-derived from first principles with the shared md5-based hash family
  so the false-positive count is cross-engine exact, not a property of
  Spark's private hash.
- q174: equi-depth histogram -- the optimizer statistic behind selectivity
  estimation, computed scale-correctly as a two-level sketch: one
  map-side-combined count per fixed value cell, then rank arithmetic on
  the bounded cell table. Boundaries are exact at cell granularity by
  construction (rank statistics, never interpolated percentiles -- the
  q116 lesson).

All three are pure JVM expression pipelines: no Python stage, no global
row sort, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ._hashing import h60, h60_sql
from ..tables import load


# --------------------------------------------------------------------------
# q172: Z-order layout audit -- multi-dim clustering vs linear sort
# --------------------------------------------------------------------------

# 12 bits per dimension -> 24-bit Morton code. xq = days since 1992-01-01
# (fixture shipdates span ~1995-2001, < 4096 days). yq must FILL its 12
# bits or interleaving degenerates: partkey's domain grows with SF, so a
# fixed divisor leaves the high y bits all-zero and every z-prefix file
# collapses to the date prefix (observed: identical stats for both
# layouts). The key dim is therefore quantized against its domain max --
# (k * 4096) DIV (max+1) -- exactly how an engine quantizes z-order dims
# from column stats; integer arithmetic with the same max on both sides
# keeps it hash-exact.
Z_BITS = 12
Z_FILE_SHIFT = 14   # file = z >> 14: low 7 bits of EACH dim vary in-file
LIN_FILE_SHIFT = 7  # linear files cover 128-day ranges (same day capacity)
DATE_PROBE = (1200, 1206)  # one-week day-bucket probe (within fixture range)
KEY_PROBE = (256, 511)     # quantized-key band: 1/16th of the key domain


def z_interleave_expr(dialect: str) -> str:
    """Morton-code expression over columns ``xq``/``yq`` (12 bits each) in
    either engine's dialect -- one generator so the two can never drift
    (property-tested against a Python bit-interleave in
    tests/test_properties.py)."""
    if dialect == "spark":
        terms = (
            f"shiftleft(shiftright(xq, {i}) & 1, {2 * i})"
            f" + shiftleft(shiftright(yq, {i}) & 1, {2 * i + 1})"
            for i in range(Z_BITS)
        )
    else:
        terms = (
            f"(((xq >> {i}) & 1) << {2 * i}) + (((yq >> {i}) & 1) << {2 * i + 1})"
            for i in range(Z_BITS)
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def q172_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit Z-order clustering against a date-sorted layout. One lineitem
    scan quantizes two dims (day number, partkey cell), interleaves their
    bits into a Morton code, and assigns each row to a file under BOTH
    layouts (z-prefix file vs date-prefix file) via one explode -- so the
    comparison never re-reads the fact. Per (layout, file): row count and
    each dim's min/max (exactly the parquet row-group stats a reader
    prunes on); per layout: total span and the exact number of files a
    date probe / a partkey probe skips. Z-ordering bounds BOTH spans, the
    linear layout only the sort dim's -- the key probe's skip count is the
    whole point. Grouping by key prefix (not global rank) keeps the job a
    pair of hash aggregates: no global sort, no single-task window, scales
    like any groupBy. Integer bit arithmetic end to end -> hash-exact."""
    li = load(spark, sf_dir, "lineitem")
    base = (
        li.crossJoin(F.broadcast(li.agg(F.max("l_partkey").alias("mxp"))))
        .select(
            F.expr(
                "CAST(least(4095, greatest(0,"
                " datediff(CAST(l_shipdate AS DATE), DATE'1992-01-01'))) AS BIGINT)"
            ).alias("xq"),
            F.expr("CAST((l_partkey * 4096) DIV (mxp + 1) AS BIGINT)").alias("yq"),
        )
        .withColumn("z", F.expr(z_interleave_expr("spark")))
    )
    both = base.select(
        "xq",
        "yq",
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr(f"CAST(shiftright(z, {Z_FILE_SHIFT}) AS BIGINT)").alias("f"),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.expr(f"CAST(shiftright(xq, {LIN_FILE_SHIFT}) AS BIGINT)").alias("f"),
                ),
            )
        ).alias("lf"),
    ).select("xq", "yq", F.col("lf.layout").alias("layout"), F.col("lf.f").alias("f"))
    files = both.groupBy("layout", "f").agg(
        F.count(F.lit(1)).alias("c"),
        F.min("xq").alias("mnx"),
        F.max("xq").alias("mxx"),
        F.min("yq").alias("mny"),
        F.max("yq").alias("mxy"),
    )
    d0, d1 = DATE_PROBE
    k0, k1 = KEY_PROBE
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("c").alias("n_rows"),
        F.sum(F.col("mxx") - F.col("mnx") + 1).alias("sum_day_span"),
        F.sum(F.col("mxy") - F.col("mny") + 1).alias("sum_key_span"),
        F.sum(((F.col("mxx") < d0) | (F.col("mnx") > d1)).cast("bigint")).alias(
            "n_skip_date_probe"
        ),
        F.sum(((F.col("mxy") < k0) | (F.col("mny") > k1)).cast("bigint")).alias(
            "n_skip_key_probe"
        ),
    )


def _oracle_q172() -> str:
    d0, d1 = DATE_PROBE
    k0, k1 = KEY_PROBE
    return f"""
WITH b AS (
  SELECT CAST(least(4095, greatest(0,
           datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)))) AS BIGINT) AS xq,
         CAST((l_partkey * 4096) // ((SELECT max(l_partkey) FROM lineitem) + 1) AS BIGINT) AS yq
  FROM lineitem
),
bz AS (SELECT xq, yq, {z_interleave_expr("duckdb")} AS z FROM b),
fl AS (
  SELECT 'zorder' AS layout, z >> {Z_FILE_SHIFT} AS f, xq, yq FROM bz
  UNION ALL
  SELECT 'linear' AS layout, xq >> {LIN_FILE_SHIFT} AS f, xq, yq FROM bz
),
files AS (
  SELECT layout, f, count(*) AS c,
         min(xq) AS mnx, max(xq) AS mxx, min(yq) AS mny, max(yq) AS mxy
  FROM fl GROUP BY layout, f
)
SELECT layout,
       count(*) AS n_files,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(sum(mxx - mnx + 1) AS BIGINT) AS sum_day_span,
       CAST(sum(mxy - mny + 1) AS BIGINT) AS sum_key_span,
       CAST(sum(CASE WHEN mxx < {d0} OR mnx > {d1} THEN 1 ELSE 0 END) AS BIGINT) AS n_skip_date_probe,
       CAST(sum(CASE WHEN mxy < {k0} OR mny > {k1} THEN 1 ELSE 0 END) AS BIGINT) AS n_skip_key_probe
FROM files GROUP BY layout
"""


# --------------------------------------------------------------------------
# q173: Bloom-filter semi-join pruning audit
# --------------------------------------------------------------------------

BLOOM_BITS_PER_KEY = 6  # m = 6 * n_build: low on purpose -> FPs exist
BLOOM_K = 3             # hash functions


def q173_bloom_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The runtime-filter mechanic, made auditable: build an m-bit Bloom
    filter over the dim-side key set (suppliers in every third nation),
    probe it with every distinct fact-side suppkey, and report the EXACT
    membership/pass/false-positive counts. At 100 TB this is the filter a
    shuffle join ships to the fact scan so non-matching rows die at the
    source (Spark's runtime.bloomFilter does exactly this); re-deriving
    the bits from the shared md5 hash family (_hashing.h60) instead of
    Spark's private implementation is what lets DuckDB reproduce every
    bit. m is sized FROM the build count (6 bits/key -- deliberately lean
    so false positives actually occur) the way a real runtime filter sizes
    from build-side stats; a fixed m either saturates or overshoots as the
    dim side scales. A key passes iff ALL its distinct bit positions are
    set -- the (key,pos) pairs are deduped first so a within-key hash
    collision can never manufacture a false negative. The bit set (<= m
    rows) and the build keys broadcast; the only wide op is the distinct
    over probe keys. One row out, every column an integer."""
    build = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") % 3 == 0)
        .select(F.col("s_suppkey").alias("k"))
        .distinct()
    )
    # greatest(1, ...): an empty build set must degrade to a 1-bit filter,
    # not a modulo-by-zero NULL cascade (both engines return NULL for % 0,
    # but NULL-position join semantics are not a contract worth relying on)
    mrow = build.agg(
        F.greatest(F.lit(1), F.count(F.lit(1)) * BLOOM_BITS_PER_KEY).alias("m_bits")
    )

    def positions(df: DataFrame) -> DataFrame:
        return df.crossJoin(F.broadcast(mrow)).select(
            "k",
            F.explode(
                F.array(
                    *[
                        (h60(f"concat('bloom{j}:', CAST(k AS STRING))")
                         % F.col("m_bits")).alias("p")
                        for j in range(BLOOM_K)
                    ]
                )
            ).alias("pos"),
        ).distinct()

    bits = positions(build).select("pos").distinct()
    probe = load(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("k")).distinct()
    per = (
        positions(probe)
        .join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
        .join(F.broadcast(build.withColumn("is_member", F.lit(1))), "k", "left")
    )
    passed = F.col("n_hit") == F.col("n_pos")
    member = F.col("is_member").isNotNull()
    counts = per.agg(
        F.count(F.lit(1)).alias("n_probe_keys"),
        F.sum(member.cast("bigint")).alias("n_members"),
        F.sum(passed.cast("bigint")).alias("n_bloom_pass"),
        F.sum((passed & ~member).cast("bigint")).alias("n_false_pos"),
    )
    return (
        counts.crossJoin(F.broadcast(build.agg(F.count(F.lit(1)).alias("n_build_keys"))))
        .crossJoin(F.broadcast(mrow))
        .crossJoin(F.broadcast(bits.agg(F.count(F.lit(1)).alias("n_bits_set"))))
        .select(
            "n_build_keys",
            "m_bits",
            "n_bits_set",
            "n_probe_keys",
            "n_members",
            "n_bloom_pass",
            "n_false_pos",
        )
    )


def _oracle_q173() -> str:
    pos = h60_sql("'bloom' || CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)")
    return f"""
WITH build AS (
  SELECT DISTINCT s_suppkey AS k FROM supplier WHERE s_nationkey % 3 = 0
),
mm AS (SELECT CAST(greatest(1, {BLOOM_BITS_PER_KEY} * count(*)) AS BIGINT) AS m_bits FROM build),
js AS (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS j),
bbits AS (
  SELECT DISTINCT ({pos}) % (SELECT m_bits FROM mm) AS pos FROM build, js
),
probe AS (SELECT DISTINCT l_suppkey AS k FROM lineitem),
ppos AS (
  SELECT DISTINCT k, ({pos}) % (SELECT m_bits FROM mm) AS pos FROM probe, js
),
per AS (
  SELECT k, count(*) AS n_pos,
         CAST(sum(CASE WHEN pos IN (SELECT pos FROM bbits) THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
  FROM ppos GROUP BY k
)
SELECT (SELECT count(*) FROM build) AS n_build_keys,
       (SELECT m_bits FROM mm) AS m_bits,
       (SELECT count(*) FROM bbits) AS n_bits_set,
       count(*) AS n_probe_keys,
       CAST(sum(CASE WHEN k IN (SELECT k FROM build) THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       CAST(sum(CASE WHEN n_hit = n_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
       CAST(sum(CASE WHEN n_hit = n_pos AND k NOT IN (SELECT k FROM build) THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
FROM per
"""


# --------------------------------------------------------------------------
# q174: equi-depth histogram (optimizer statistics, rank-exact)
# --------------------------------------------------------------------------

HIST_BUCKETS = 8
HIST_CELL_CENTS = 100_000  # $1,000 value cells (totalprice tops out ~$500k)


def q174_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram over order totalprice -- the statistic a CBO
    uses for range selectivity. Scale shape: a histogram NEVER sorts the
    fact globally; it map-side-combines one count per fixed $1,000 value
    cell (bounded: ~500 cells whatever the SF), then assigns each cell to
    bucket (rows_before * B) DIV n with a cumulative window over the
    bounded cell table. Boundaries are exact integer rank statistics at
    cell granularity -- no interpolated percentile ever crosses the oracle
    boundary (the q116 rule), and cents come from the shared
    round(x*100) contract for 2dp money. A giant cell may swallow whole
    buckets (its id range just skips) -- deterministically on both
    engines."""
    cells = (
        load(spark, sf_dir, "orders")
        .select(F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"))
        .select(F.expr(f"cents DIV {HIST_CELL_CENTS}").alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = W.partitionBy().orderBy("cell")
    cum = cells.select(
        "cell",
        "c",
        F.coalesce(
            F.sum("c").over(w.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
        ).alias("cb"),
        F.sum("c").over(W.partitionBy()).alias("n"),
    )
    return cum.groupBy(
        F.expr(f"CAST((cb * {HIST_BUCKETS}) DIV n AS BIGINT)").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("c").alias("n_rows"),
        F.min("cell").alias("min_cell"),
        F.max("cell").alias("max_cell"),
    )


ORACLE_Q174 = f"""
WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
cells AS (SELECT cents // {HIST_CELL_CENTS} AS cell, count(*) AS c FROM o GROUP BY 1),
cum AS (
  SELECT cell, c,
         coalesce(sum(c) OVER (ORDER BY cell ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
         sum(c) OVER () AS n
  FROM cells
)
SELECT CAST((cb * {HIST_BUCKETS}) // n AS BIGINT) AS bucket,
       count(*) AS n_cells,
       CAST(sum(c) AS BIGINT) AS n_rows,
       min(cell) AS min_cell,
       max(cell) AS max_cell
FROM cum GROUP BY 1
"""


# --------------------------------------------------------------------------
# q177: join-cardinality estimation audit (System-R formula vs exact)
# --------------------------------------------------------------------------

CARD_CELL = 64  # partkey range per histogram cell


def q177_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The estimate a cost-based optimizer makes before picking a join
    strategy, audited against ground truth -- on the case where estimation
    actually errs. A PK-FK join makes the containment formula trivially
    exact (d = n on the key side collapses n_l*n_o/d to the true count; a
    first cut measured err_ppm = 0 and proved nothing), so the audit
    targets the fact-fact SELF-join on partkey: per partkey-range cell,
    |L ⋈ L| is estimated as n²/d (System-R's uniform-frequency assumption
    over q174-style histogram cells) and compared to the exact
    sum-of-squared-counts. Within-cell frequency skew makes the formula
    undershoot by Jensen's inequality -- ~3% on this corpus, and that gap
    is the number a CBO needs to know its histogram resolution. All
    integer: one map-side-combined per-key count, a ~hundreds-row cell
    rollup, one squared-count aggregate -- the audit costs far less than
    the join it predicts, which is the point of having the statistic."""
    li_k = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    actual = li_k.agg(F.sum(F.col("c") * F.col("c")).alias("actual_rows"))
    est = (
        li_k.groupBy(F.expr(f"k DIV {CARD_CELL}").alias("cell"))
        .agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum(F.expr("(n * n) DIV d")).alias("est_rows"),
        )
    )
    return est.crossJoin(F.broadcast(actual)).select(
        "n_cells",
        "est_rows",
        "actual_rows",
        F.expr("abs(est_rows - actual_rows) * 1000000 DIV actual_rows").alias("err_ppm"),
    )


ORACLE_Q177 = f"""
WITH k AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
actual AS (SELECT CAST(sum(c * c) AS BIGINT) AS actual_rows FROM k),
cells AS (
  SELECT k // {CARD_CELL} AS cell, CAST(sum(c) AS BIGINT) AS n, count(*) AS d
  FROM k GROUP BY 1
),
est AS (
  SELECT count(*) AS n_cells,
         CAST(sum((n * n) // d) AS BIGINT) AS est_rows
  FROM cells
)
SELECT n_cells, est_rows, actual_rows,
       CAST(abs(est_rows - actual_rows) * 1000000 // actual_rows AS BIGINT) AS err_ppm
FROM est, actual
"""


# --------------------------------------------------------------------------
# q239: sampling-based approximate query processing, audited
# --------------------------------------------------------------------------

AQP_RATE = 16  # 1-in-16 deterministic hash sample


def q239_sampling_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing by uniform sampling, audited against
    ground truth: a deterministic 1/16 hash sample of lineitem (h60 of
    the unique (orderkey, linenumber) row key -- reproducible in both
    engines, unlike Bernoulli rand()) estimates per (returnflag,
    linestatus) row counts and revenue by scaling the sample sum by 16;
    the audit reports the exact values and the estimator's signed error
    in ppm. Sampling is THE 100 TB trick this repo's exact tier
    deliberately avoids -- this query measures what it costs: group
    sizes vary, so errors are visibly nonzero and differ per group
    (an audit that cannot err is not an audit).

    Scale: ONE scan computes both tiers -- the sample contributes via
    conditional aggregation (sum-if-sampled), never a second pass or a
    join; the output is group-cardinality-sized."""
    from .relational2 import _rev4

    rowkey = "concat_ws('#', CAST(l_orderkey AS STRING), CAST(l_linenumber AS STRING))"
    # the ONE money-discipline definition (relational2._rev4), widened for
    # the scaled-error arithmetic below
    rev4 = _rev4().cast("decimal(38,0)")
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus",
        rev4.alias("rev4"),
        (h60(rowkey) % AQP_RATE == 0).cast("int").alias("in_sample"),
    )
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum("rev4").alias("rev4_exact"),
        F.sum("in_sample").alias("n_sampled"),
        F.sum(F.when(F.col("in_sample") == 1, F.col("rev4")).otherwise(0)).alias(
            "rev4_sampled"
        ),
    )
    return g.select(
        "l_returnflag", "l_linestatus", "n_exact",
        (F.col("n_sampled") * AQP_RATE).alias("n_est"),
        # ABSOLUTE ppm: a signed quotient would diverge (Spark DIV
        # truncates toward zero, DuckDB // floors on negatives); the sign
        # is already in n_est vs n_exact
        F.expr(
            f"CAST(abs(n_sampled * {AQP_RATE} - n_exact) * 1000000"
            " DIV n_exact AS BIGINT)"
        ).alias("rows_err_ppm"),
        F.expr(
            f"CAST(abs(rev4_sampled * {AQP_RATE} - rev4_exact) * 1000000"
            " DIV rev4_exact AS BIGINT)"
        ).alias("rev_err_ppm"),
    )


from .relational2 import _REV4_SQL as _AQP_REV4_BASE

_AQP_REV4 = f"CAST({_AQP_REV4_BASE} AS HUGEINT)"
_AQP_KEY = h60_sql(
    "(CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR))"
)

ORACLE_Q239 = f"""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_exact,
       CAST(sum(CASE WHEN {_AQP_KEY} % {AQP_RATE} = 0 THEN 1 ELSE 0 END)
            * {AQP_RATE} AS BIGINT) AS n_est,
       CAST(abs(sum(CASE WHEN {_AQP_KEY} % {AQP_RATE} = 0 THEN 1 ELSE 0 END)
             * {AQP_RATE} - count(*)) * 1000000 // count(*) AS BIGINT)
         AS rows_err_ppm,
       CAST(abs(sum(CASE WHEN {_AQP_KEY} % {AQP_RATE} = 0 THEN {_AQP_REV4}
                      ELSE 0 END) * {AQP_RATE}
             - sum({_AQP_REV4})) * 1000000 // sum({_AQP_REV4}) AS BIGINT)
         AS rev_err_ppm
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


QUERIES = {
    "q172_zorder_layout": q172_zorder_layout,
    "q173_bloom_prune_audit": q173_bloom_prune_audit,
    "q174_equidepth_histogram": q174_equidepth_histogram,
    "q177_join_cardinality_audit": q177_join_cardinality_audit,
    "q239_sampling_audit": q239_sampling_audit,
}

ORACLES = {
    "q172_zorder_layout": _oracle_q172(),
    "q173_bloom_prune_audit": _oracle_q173(),
    "q174_equidepth_histogram": ORACLE_Q174,
    "q177_join_cardinality_audit": ORACLE_Q177,
    "q239_sampling_audit": ORACLE_Q239,
}
