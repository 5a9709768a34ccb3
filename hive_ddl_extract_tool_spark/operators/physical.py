"""Physical-layout and skew operators driven from the query surface.

These wrap the pytest-verified primitives (`operators/skew.salted_join`,
`sources/io.write_bucketed`) in oracle-backed queries so the external
driver exercises them too:

- q56: joins the events fact through its pathologically hot key
  (event_type has only a handful of distinct values, so every row of a
  type lands on one task in a plain shuffle join) via `salted_join`. The
  salt spreads each hot key across 16 tasks; the result is identical to
  the plain join, which is exactly what the DuckDB oracle checks.
- q58: writes orders and a pre-aggregated lineitem side as bucketed tables
  on the join key, then joins the two bucketed tables -- at 100 TB this is
  the one-time-shuffle-at-write pattern: the join itself runs with no
  exchange on either side (plan-asserted in tests/test_plans.py).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ._cache import scratch_dir
from ._hashing import canon_empty_sql, h60, h60_sql
from ._rounding import mround
from .skew import salted_join
from ..sources.io import compact, read_table, write_bucketed, write_table
from ..tables import load


# --------------------------------------------------------------------------
# q56: skew-salted join through the hot event_type key
# --------------------------------------------------------------------------

def q56_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type count and revenue of events beating their type's average
    value. The dim side (one row per event_type) is joined to the full
    events fact via salted_join: the 16-way salt turns each hot key's
    single monster partition into 16 splittable ones. Row-level semantics
    are identical to the unsalted join -- the oracle is the plain SQL.

    The above-average predicate is boundary-exact: a raw double avg() sums
    in partition order, so a value within an ulp of the mean could flip
    membership across engines/partitionings. values are 2dp-quantized, so
    the test runs entirely in integers: cents * cnt > sum_cents is the
    same inequality as value > avg with zero float arithmetic (the q69/q80
    integer-moment discipline)."""
    events = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    dim = events.groupBy("event_type").agg(
        F.sum("cents").alias("sum_cents"), F.count(F.lit(1)).alias("cnt")
    )
    joined = salted_join(
        events, dim.withColumnRenamed("event_type", "et"),
        big_key="event_type", small_key="et", n_salts=16,
    )
    return (
        joined.filter(F.col("cents") * F.col("cnt") > F.col("sum_cents"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_above_avg"),
            # sum the EXACT cents (order-free int64), divide once: a raw
            # double sum accumulates in partition order and can land a
            # group total within an ulp of a .xx5 boundary differently per
            # engine; cents/100.0 is at most 2dp, so the round is tie-free.
            F.round(F.sum("cents") / 100.0, 2).alias("sum_above"),
        )
    )


ORACLE_Q56 = """
WITH e AS (
  SELECT event_type, value, CAST(round(value * 100) AS BIGINT) AS cents FROM events
),
dim AS (
  SELECT event_type AS et, sum(cents) AS sum_cents, count(*) AS cnt FROM e GROUP BY 1
)
SELECT event_type,
       count(*)                          AS n_above_avg,
       round(sum(cents) / 100.0, 2)      AS sum_above
FROM e JOIN dim ON event_type = et
WHERE cents * cnt > sum_cents
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q58: bucketed-table join (exchange-free at read time)
# --------------------------------------------------------------------------

def q58_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders joined to per-order lineitem revenue where BOTH sides are
    bucketed tables on o_orderkey/l_orderkey: the shuffle happened once at
    write time, so the join plan has no Exchange. The tables live at a
    DETERMINISTIC per-sf path and are overwritten in place -- a fresh
    mkdtemp per invocation would leak one staged copy per sweep on a
    long-lived host. At real scale the write is the one-time layout cost a
    100 TB fact pays so that every later join against it is exchange-free."""
    base = scratch_dir("q58_bucketed", sf_dir)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    # Exact integer revenue in 1e-4-dollar units: price is 2dp and discount
    # is 2dp, so cents * (100 - discount_pct) is an exact int64 -- the
    # cross-order sum is order-free, where a raw double sum accumulates in
    # partition order and can flip a .xx5 rounding boundary per engine.
    rev4 = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint"))
    )
    li_rev = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(rev4).alias("rev4"))
    )
    write_bucketed(orders, "q58_orders_b", ["o_orderkey"], n_buckets=8,
                   sort_cols=["o_orderkey"], path=f"{base}/orders")
    write_bucketed(li_rev, "q58_lineitem_b", ["l_orderkey"], n_buckets=8,
                   sort_cols=["l_orderkey"], path=f"{base}/lineitem")
    o = spark.table("q58_orders_b")
    l = spark.table("q58_lineitem_b")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            mround(F.sum("rev4") / 10000.0, 2).alias("revenue"),
        )
    )


ORACLE_Q58 = """
WITH li AS (
  SELECT l_orderkey,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev4
  FROM lineitem GROUP BY 1
)
SELECT o_orderstatus,
       count(*)                                  AS n_orders,
       round(1.37e-6 + sum(rev4) / 10000.0, 2)   AS revenue
FROM orders JOIN li ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
"""


# --------------------------------------------------------------------------
# q116: join-key skew report -- the diagnostic that decides to salt
# --------------------------------------------------------------------------

def q116_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution diagnostics for the two candidate join keys on the
    events fact (user_id: well spread; event_type: pathologically hot) --
    the numbers an engineer reads before choosing plain AQE vs q56's
    salting. Per key column: distinct keys, total rows, the hottest key's
    row count, the p99 per-key count, and the max/avg skew ratio in
    integer x1000. Shape: one map-side-combined count per key, then a
    1-row aggregate per column -- the report costs two narrow aggregations
    at any scale. Every output is an integer: p99 is the exact rank
    statistic (the per-key count at ascending rank ceil(0.99 * n_keys),
    computed as (99*n + 99) DIV 100 in pure integer arithmetic on both
    engines) -- interpolated percentile semantics are NOT pinned across
    engines/versions, so no float interpolation ever crosses the oracle
    boundary."""
    events = load(spark, sf_dir, "events")

    def stats(col: str) -> DataFrame:
        per = events.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        ranked = per.select(
            "c",
            F.row_number().over(W.partitionBy().orderBy("c")).alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy()).alias("nk"),
        )
        return ranked.agg(
            F.lit(col).alias("key_column"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.max("c").alias("max_key_rows"),
            F.max(F.when(F.expr("rn <= (99 * nk + 99) DIV 100"), F.col("c"))).alias(
                "p99_key_rows"
            ),
            F.expr("max(c) * 1000 * count(*) DIV sum(c)").alias("skew_x1000"),
        )

    return stats("user_id").unionByName(stats("event_type"))


def _skew_stats_sql(key: str) -> str:
    return f"""
SELECT '{key}' AS key_column,
       count(*) AS n_keys,
       CAST(sum(c) AS BIGINT) AS n_rows,
       max(c) AS max_key_rows,
       max(CASE WHEN rn <= (99 * nk + 99) // 100 THEN c END) AS p99_key_rows,
       CAST(max(c) * 1000 * count(*) // sum(c) AS BIGINT) AS skew_x1000
FROM (SELECT c, row_number() OVER (ORDER BY c) AS rn, count(*) OVER () AS nk
      FROM (SELECT {key}, count(*) AS c FROM events GROUP BY {key}))"""


ORACLE_Q116 = _skew_stats_sql("user_id") + "\nUNION ALL" + _skew_stats_sql("event_type")


# --------------------------------------------------------------------------
# q165: sink/read-back parity across every core format
# --------------------------------------------------------------------------

ROUNDTRIP_FORMATS = ("parquet", "orc", "json", "csv", "xml")
_FP_MOD = 1_000_000_007


def q165_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the documents table through every core sink format and read
    each copy back with an explicit schema; report per-format row count,
    an order-free WHOLE-ROW fingerprint, and the n_chars sum. The ORACLE
    computes the same aggregates from the ORIGINAL parquet — so a format
    that mangles any value (CSV quoting, JSON escaping, ORC nulls) is a
    hash mismatch, making the whole sink surface driver-verified rather
    than pytest-only. Paths are deterministic per sf and overwritten in
    place (q58's rule: a mkdtemp per invocation would leak a corpus copy
    per sweep). Fingerprint sums run in decimal(38,0) then reduce mod
    1e9+7 — order-free and overflow-safe at any corpus size. The row
    fingerprint hashes EVERY column, joined on a unit separator the data
    never contains; each string routes through a CASE that maps NULL and
    '' to one sentinel: CSV cannot represent the difference (its reader
    sees both as null), so the contract collapses them identically on
    both sides."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    base = scratch_dir("q165_roundtrip", sf_dir)
    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

    row_repr = (
        "concat_ws('\x1f', CAST(doc_id AS STRING), "
        f"{canon_empty_sql('text')}, {canon_empty_sql('lang')}, {canon_empty_sql('source')}, "
        "CAST(n_chars AS STRING))"
    )
    out = None
    for fmt in ROUNDTRIP_FORMATS:
        path = f"{base}/{fmt}"
        write_table(docs, path, fmt=fmt)
        rb = read_table(spark, path, fmt=fmt, schema=schema)
        agg = rb.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum((h60(row_repr) % _FP_MOD).cast("decimal(38,0)")) % _FP_MOD)
            .cast("bigint")
            .alias("row_fp"),
            F.sum("n_chars").alias("sum_chars"),
        ).select(F.lit(fmt).alias("fmt"), "n_rows", "row_fp", "sum_chars")
        out = agg if out is None else out.unionByName(agg)
    return out


def _oracle_q165() -> str:
    row_repr = (
        "concat_ws(chr(31), CAST(doc_id AS VARCHAR), "
        f"{canon_empty_sql('text')}, {canon_empty_sql('lang')}, "
        f"{canon_empty_sql('source')}, "
        "CAST(n_chars AS VARCHAR))"
    )
    return f"""
WITH a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(CAST(sum(CAST({h60_sql(row_repr)} % {_FP_MOD} AS HUGEINT)) AS HUGEINT)
              % {_FP_MOD} AS BIGINT) AS row_fp,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
  FROM documents
)
SELECT f.fmt, a.n_rows, a.row_fp, a.sum_chars
FROM a, (VALUES {", ".join(f"('{f}')" for f in ROUNDTRIP_FORMATS)}) f(fmt)
"""


# --------------------------------------------------------------------------
# q179: schema evolution -- mergeSchema over heterogeneous file generations
# --------------------------------------------------------------------------

def q179_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Years of ingest never share one schema; this drives Spark's
    mergeSchema read over three deliberately divergent parquet
    generations of the documents corpus -- v0 an "old writer" missing
    lang and n_chars, v1 the full schema PLUS a quality column later
    generations added, v2 with columns in a different physical order and
    lang dropped again -- and verifies the reconciled semantics: merged
    schema is the union, missing columns surface as NULLs (never as
    misaligned values: parquet resolves by NAME, so v2's reordering must
    be invisible), and per-source aggregates over the union are exact.
    The oracle regenerates all three generations from the original table
    with CASE on doc_id % 3, so any column misalignment, dropped row, or
    type widening slip is a hash mismatch. Scratch paths are
    deterministic per sf and overwritten (q165's rule)."""
    docs = load(spark, sf_dir, "documents")
    base = scratch_dir("q179_evolve", sf_dir)
    gen = F.pmod("doc_id", F.lit(3))
    v0 = docs.filter(gen == 0).select("doc_id", "text", "source")
    v1 = docs.filter(gen == 1).select(
        "doc_id", "text", "lang", "source", "n_chars",
        F.pmod("n_chars", F.lit(100)).alias("quality"),
    )
    v2 = docs.filter(gen == 2).select("n_chars", "source", "text", "doc_id")
    for i, part in enumerate((v0, v1, v2)):
        part.write.mode("overwrite").parquet(f"{base}/gen={i}")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/gen=0", f"{base}/gen=1", f"{base}/gen=2"
    )
    return merged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("lang").isNull().cast("bigint")).alias("n_null_lang"),
        F.sum(F.col("n_chars").isNull().cast("bigint")).alias("n_null_chars"),
        F.sum(F.coalesce("n_chars", F.lit(0))).alias("sum_chars"),
        F.sum(F.coalesce("quality", F.lit(-1))).alias("sum_quality"),
        F.sum(F.length("text")).alias("sum_text_len"),
    )


ORACLE_Q179 = """
WITH m AS (
  SELECT source,
         CASE WHEN doc_id % 3 = 1 THEN lang END AS lang,
         CASE WHEN doc_id % 3 <> 0 THEN n_chars END AS n_chars,
         CASE WHEN doc_id % 3 = 1 THEN n_chars % 100 END AS quality,
         text
  FROM documents
)
SELECT source,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)    AS n_null_lang,
       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_chars,
       CAST(sum(coalesce(n_chars, 0)) AS BIGINT)                        AS sum_chars,
       CAST(sum(coalesce(quality, -1)) AS BIGINT)                       AS sum_quality,
       CAST(sum(length(text)) AS BIGINT)                                AS sum_text_len
FROM m
GROUP BY source
"""



# --------------------------------------------------------------------------
# q204: small-files compaction round-trip
# --------------------------------------------------------------------------

COMPACT_SMALL_FILES = 64  # staged fragment count (the "streaming sink" state)
COMPACT_TARGET = 4        # post-compaction file count


def q204_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction as a verified operator: stage the events
    fact shattered into 64 fragments (what a fine-grained streaming sink
    or per-task write leaves behind -- at 100 TB, one task per tiny file
    murders scan planning and the namenode), run sources.io.compact
    (coalesce rewrite + crash-safe double-rename swap), and aggregate the
    READ-BACK: observed before/after file counts plus row count, exact
    cents sum, and the h60 event-id fingerprint. The oracle states the
    same numbers from the ORIGINAL parquet, so a compaction that drops,
    duplicates, or mangles any row -- or produces the wrong file count --
    is a hash mismatch.

    shuffle=True because the file COUNT is part of the verified contract:
    the default coalesce path emits min(target, planned scan partitions),
    and a low-parallelism host bin-packs the 64 tiny fragments into fewer
    scan partitions than the target (openCostInBytes math), which would
    fail the oracle on core count alone. The deterministic per-sf path
    overwrites in place (q58's no-leak rule)."""
    base = scratch_dir("q204_compact", sf_dir)
    data = f"{base}/data"
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    ev.repartition(COMPACT_SMALL_FILES).write.mode("overwrite").parquet(data)
    before = compact(spark, data, "parquet", target_files=COMPACT_TARGET,
                     shuffle=True)
    after = sum(
        1 for f in os.listdir(data) if not f.startswith(("_", "."))
    )
    rb = spark.read.parquet(data)
    id_fp = h60("CAST(event_id AS STRING)") % 1_000_000_007
    return rb.agg(
        F.lit(before).cast("bigint").alias("n_files_before"),
        F.lit(after).cast("bigint").alias("n_files_after"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("cents").cast("decimal(30,0)")).cast("bigint").alias("sum_cents"),
        (F.sum(id_fp.cast("decimal(38,0)")) % 1_000_000_007)
        .cast("bigint")
        .alias("id_fp"),
    )


# least(..., count): round-robin repartition writes a file only per
# NON-EMPTY partition, so a fixture smaller than the fragment count
# produces fewer files (same guard class as q180's empty buckets).
ORACLE_Q204 = f"""
SELECT CAST(least({COMPACT_SMALL_FILES}, count(*)) AS BIGINT) AS n_files_before,
       CAST(least({COMPACT_TARGET}, count(*)) AS BIGINT) AS n_files_after,
       count(*) AS n_rows,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(CAST(sum(CAST({h60_sql("CAST(event_id AS VARCHAR)")} % 1000000007
                          AS HUGEINT)) AS HUGEINT) % 1000000007 AS BIGINT) AS id_fp
FROM events
"""


# --------------------------------------------------------------------------
# q205: partition-directory pruning as a verified operator
# --------------------------------------------------------------------------

PRUNE_DAY_LO = 19728  # epoch days; the fixture's events span 2024-01
PRUNE_DAY_HI = 19734


def q205_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition-directory pruning as part of the graded query
    surface (tests/test_sources.py pins the plan property; this makes the
    end-to-end numbers driver-verified): events re-land partitioned by
    TZ-free epoch day, and the probe filters a 7-day range -- the scan
    must touch only those 7 directories (PartitionFilters, pinned by the
    plan test), which at 100 TB is the difference between reading a week
    and reading a month. Per-day row count and exact cents sum, oracle
    recomputed from the raw parquet with the same integer day arithmetic.

    The partition column comes back from directory names as an inferred
    int -- cast explicitly, never trusting inference width."""
    base = scratch_dir("q205_byday", sf_dir)
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.expr("unix_micros(ts) DIV 86400000000").alias("day"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(base)
    rb = spark.read.parquet(base).filter(
        (F.col("day") >= PRUNE_DAY_LO) & (F.col("day") <= PRUNE_DAY_HI)
    )
    return rb.groupBy(F.col("day").cast("bigint").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("cents").cast("decimal(30,0)")).cast("bigint").alias("sum_cents"),
    )


ORACLE_Q205 = f"""
SELECT epoch_us(ts) // 86400000000 AS day,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
WHERE epoch_us(ts) // 86400000000 BETWEEN {PRUNE_DAY_LO} AND {PRUNE_DAY_HI}
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q226: Merkle-style replica reconciliation (anti-entropy diff)
# --------------------------------------------------------------------------

MKL_LEAVES = 256     # leaf buckets (level 4); fanout 4 -> 64, 16, 4, 1
MKL_FANOUT = 4
MKL_DEL_MOD = 97     # replica B lost rows where o_orderkey % 97 == 0
MKL_CORRUPT_MOD = 131  # replica B shifted the total by 1 cent where % 131 == 0


def q226_merkle_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy replica reconciliation (the Cassandra/Dynamo repair
    pattern): two copies of the orders table are compared by a 5-level
    hash tree -- 256 leaf buckets of order-free mod-sum row hashes rolled
    up by fanout 4 -- so divergence localizes by exchanging O(log n)
    digests instead of shipping either replica. Replica B is derived
    in-query by deterministic key arithmetic both engines reproduce
    exactly: rows with o_orderkey % 97 == 0 are missing (lost writes)
    and rows with o_orderkey % 131 == 0 carry a 1-cent corruption.

    Output: per tree level, node count, mismatched-node count, and the
    A/B row volume under mismatched nodes -- the narrowing property
    (level 0 implicates the whole table; the leaf level confines repair
    to the divergent buckets' rows) is the data.

    Scale: ONE scan of the table computes both replicas' bucket
    digests (B is a projection of the same rows), staged as a 256-row
    table that the five per-level rollups read; every rollup is
    driver-tiny. At real scale each replica computes its own bucket
    digests locally and only the 256-row digest tables travel."""
    from ._cache import cached_df

    def build() -> DataFrame:
        o = load(spark, sf_dir, "orders")
        cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
        cents_b = f"{cents} + CASE WHEN o_orderkey % {MKL_CORRUPT_MOD} = 0 THEN 1 ELSE 0 END"
        in_b = (F.col("o_orderkey") % MKL_DEL_MOD != 0).cast("int")

        def rowh(c):
            return h60(
                f"concat_ws('\x1f', CAST(o_orderkey AS STRING), CAST({c} AS STRING), o_orderstatus)"
            ) % _FP_MOD

        return (
            o.select(
                (h60("CAST(o_orderkey AS STRING)") % MKL_LEAVES).alias("bucket"),
                rowh(cents).cast("decimal(38,0)").alias("ha"),
                (rowh(cents_b) * in_b).cast("decimal(38,0)").alias("hb"),
                in_b.alias("nb"),
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_a"),
                (F.sum("ha") % _FP_MOD).cast("bigint").alias("h_a"),
                F.sum("nb").alias("n_b"),
                (F.sum("hb") % _FP_MOD).cast("bigint").alias("h_b"),
            )
        )

    buckets = cached_df(spark, f"q226_buckets:{sf_dir}", build)
    out = None
    for level in range(5):
        # level 4 = leaves (256 nodes), then 64, 16, 4, root
        div = MKL_FANOUT ** (4 - level)
        node = buckets.groupBy(
            F.expr(f"bucket DIV {div}").alias("node")
        ).agg(
            F.sum("n_a").alias("n_a"),
            (F.sum("h_a") % _FP_MOD).alias("h_a"),
            F.sum("n_b").alias("n_b"),
            (F.sum("h_b") % _FP_MOD).alias("h_b"),
        )
        mismatch = (F.col("h_a") != F.col("h_b")) | (F.col("n_a") != F.col("n_b"))
        row = node.agg(
            F.lit(level).cast("int").alias("level"),
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(mismatch.cast("int")).alias("n_mismatch"),
            F.sum(F.when(mismatch, F.col("n_a")).otherwise(0)).alias("rows_a_affected"),
            F.sum(F.when(mismatch, F.col("n_b")).otherwise(0)).alias("rows_b_affected"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _mkl_rowh_sql(cents_expr: str) -> str:
    rr = (
        "concat_ws(chr(31), CAST(o_orderkey AS VARCHAR), "
        f"CAST({cents_expr} AS VARCHAR), o_orderstatus)"
    )
    return f"({h60_sql(rr)} % {_FP_MOD})"


ORACLE_Q226 = f"""
WITH rows_h AS MATERIALIZED (
  SELECT {h60_sql('CAST(o_orderkey AS VARCHAR)')} % {MKL_LEAVES} AS bucket,
         {_mkl_rowh_sql('CAST(round(o_totalprice * 100) AS BIGINT)')} AS ha,
         CASE WHEN o_orderkey % {MKL_DEL_MOD} = 0 THEN 0
              ELSE {_mkl_rowh_sql(
                  f'CAST(round(o_totalprice * 100) AS BIGINT) '
                  f'+ CASE WHEN o_orderkey % {MKL_CORRUPT_MOD} = 0 THEN 1 ELSE 0 END'
              )} END AS hb,
         CASE WHEN o_orderkey % {MKL_DEL_MOD} = 0 THEN 0 ELSE 1 END AS nb
  FROM orders
), buckets AS MATERIALIZED (
  SELECT bucket,
         count(*) AS n_a,
         CAST(CAST(sum(CAST(ha AS HUGEINT)) AS HUGEINT) % {_FP_MOD} AS BIGINT) AS h_a,
         CAST(sum(nb) AS BIGINT) AS n_b,
         CAST(CAST(sum(CAST(hb AS HUGEINT)) AS HUGEINT) % {_FP_MOD} AS BIGINT) AS h_b
  FROM rows_h GROUP BY bucket
)
{" UNION ALL ".join(f'''
SELECT CAST({level} AS INT) AS level,
       count(*) AS n_nodes,
       CAST(sum(CASE WHEN mis THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
       CAST(sum(CASE WHEN mis THEN n_a ELSE 0 END) AS BIGINT) AS rows_a_affected,
       CAST(sum(CASE WHEN mis THEN n_b ELSE 0 END) AS BIGINT) AS rows_b_affected
FROM (
  SELECT bucket // {MKL_FANOUT ** (4 - level)} AS node,
         CAST(sum(n_a) AS BIGINT) AS n_a,
         CAST(CAST(sum(CAST(h_a AS HUGEINT)) AS HUGEINT) % {_FP_MOD} AS BIGINT)
           != CAST(CAST(sum(CAST(h_b AS HUGEINT)) AS HUGEINT) % {_FP_MOD} AS BIGINT)
           OR sum(n_a) != sum(n_b) AS mis,
         CAST(sum(n_b) AS BIGINT) AS n_b
  FROM buckets GROUP BY node
)''' for level in range(5))}
"""


QUERIES = {
    "q56_salted_join": q56_salted_join,
    "q58_bucketed_join": q58_bucketed_join,
    "q116_skew_report": q116_skew_report,
    "q165_format_roundtrip": q165_format_roundtrip,
    "q179_schema_evolution_merge": q179_schema_evolution_merge,
    "q204_compaction_roundtrip": q204_compaction_roundtrip,
    "q205_partition_pruned_scan": q205_partition_pruned_scan,
    "q226_merkle_reconcile": q226_merkle_reconcile,
}

ORACLES = {
    "q116_skew_report": ORACLE_Q116,
    "q165_format_roundtrip": _oracle_q165(),
    "q56_salted_join": ORACLE_Q56,
    "q58_bucketed_join": ORACLE_Q58,
    "q179_schema_evolution_merge": ORACLE_Q179,
    "q204_compaction_roundtrip": ORACLE_Q204,
    "q205_partition_pruned_scan": ORACLE_Q205,
    "q226_merkle_reconcile": ORACLE_Q226,
}
