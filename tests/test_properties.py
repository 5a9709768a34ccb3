"""Property-based tests (hypothesis) for the pure transforms, plus a
fixed tricky-string corpus check of the cross-engine 60-bit hash -- the
foundation every dedup/fingerprint oracle stands on."""

from __future__ import annotations

import string

from hypothesis import given
from hypothesis import strategies as st

from hive_ddl_extract_tool_spark.catalog.extractor import (
    fix_create_table,
    format_partition_spec,
    relative_location,
    strip_catalog_prefix,
)

_ident = st.text(alphabet=string.ascii_lowercase + string.digits + "_", min_size=1, max_size=12)
_value = st.text(
    alphabet=string.ascii_letters + string.digits + "-_.", min_size=1, max_size=12
)


@given(st.lists(st.tuples(_ident, _value), min_size=1, max_size=4))
def test_format_partition_spec_structure(kvs):
    name = "/".join(f"{k}={v}" for k, v in kvs)
    spec = format_partition_spec(name)
    parts = spec.split(",")
    assert len(parts) == len(kvs)
    for (k, v), part in zip(kvs, parts):
        assert part == f"{k}='{v}'"


@given(_ident, _ident)
def test_fix_create_table_is_idempotent(db, table):
    line = f"CREATE TABLE `{db}.{table}`("
    fixed = fix_create_table(line)
    assert fixed == f"CREATE TABLE `{db}`.`{table}`("
    assert fix_create_table(fixed) == fixed


@given(st.text(max_size=60))
def test_fix_create_table_never_touches_non_headers(line):
    if not line.startswith("CREATE "):
        assert fix_create_table(line) == line


@given(_ident, _ident)
def test_strip_catalog_prefix_only_spark_catalog(db, table):
    assert (
        strip_catalog_prefix(f"CREATE TABLE spark_catalog.{db}.{table} (")
        == f"CREATE TABLE {db}.{table} ("
    )
    other = f"CREATE TABLE other_catalog.{db}.{table} ("
    assert strip_catalog_prefix(other) == other


@given(st.lists(_ident, min_size=1, max_size=4), st.lists(_ident, min_size=1, max_size=3))
def test_relative_location_strips_exactly_the_prefix(base_parts, rel_parts):
    table_path = "/" + "/".join(base_parts)
    rel = "/".join(f"{p}=x" for p in rel_parts)
    loc = f"{table_path}/{rel}"
    assert relative_location(loc, table_path) == rel
    assert relative_location(loc, table_path + "/") == rel


# Tricky-corpus parity for the shared md5-derived 60-bit hash: every dedup /
# fingerprint oracle depends on Spark and DuckDB agreeing on these integers.
TRICKY = [
    "", " ", "a", "the", "\n", "\t", "a b", "a  b",
    "quote'quote", 'double"double', "back\\slash", "back`tick",
    "ümlaut", "中文字符", "emoji \U0001f600", "ends with space ",
    "  leading", "null\x00byte" if False else "nullbyte",  # \x00 unsupported in SQL literals
    "very " * 50 + "long",
    "=", "k=v", "a/b", "a,b", "%", "_", "[bracket]", "(paren)",
]


def test_h60_cross_engine_parity_on_tricky_corpus():
    import duckdb

    from hive_ddl_extract_tool_spark.operators._hashing import h60_sql

    con = duckdb.connect()
    # a bare column and an expression argument: the kernel takes SQL text
    duck = [
        con.sql(f"SELECT {h60_sql('$s')}, {h60_sql('lower($s)')}", params={"s": s}).fetchone()
        for s in TRICKY
    ]
    from hive_ddl_extract_tool_spark.operators._hashing import h60
    from hive_ddl_extract_tool_spark.session import get_spark

    sp = get_spark(app_name="tests", cpus=4, shuffle_partitions=4)
    sdf = sp.createDataFrame([(s,) for s in TRICKY], "s string").select(
        h60("s").alias("h"), h60("lower(s)").alias("hl")
    )
    spark_vals = [(r["h"], r["hl"]) for r in sdf.collect()]
    assert spark_vals == duck


# --------------------------------------------------------------------------
# Cross-engine tokenizer agreement on hostile whitespace
# --------------------------------------------------------------------------
#
# The tokenizer's whitespace set is the explicit class text.WS_CLASS, never
# \s: Java's \s includes \x0B, RE2's (DuckDB, Arrow) does not, so a bare \s
# diverges across engines the moment a document contains a vertical tab --
# with row counts still matching.  These tests pin Spark (Java regex),
# DuckDB (RE2), and pyarrow (RE2) to identical token lists over strings
# drawn from an alphabet that includes every hazard: the five ASCII
# whitespace escapes, the vertical tab, and Unicode whitespace (NBSP,
# em-space, ideographic space, zero-width space) that must NOT split.

HOSTILE_WS_STRINGS = [
    "plain words only",
    "  leading and trailing  ",
    "tab\tseparated\ttokens",
    "newline\nand\r\ncarriage",
    "vertical\x0btab\x0bsplit",
    "form\ffeed\fsplit",
    "mixed \t\x0b\f\r\n all at once",
    "nbsp\xa0stays\xa0glued",
    "em space stays",
    "ideographic　space",
    "zero​width​stays",
    "",
    " \t\x0b\f\r\n ",  # whitespace-only
    "ünïcode wörds blëíben",
]


def _duck_tokens(strings, fold=""):
    import duckdb

    from hive_ddl_extract_tool_spark.operators.text import WS

    con = duckdb.connect()
    out = []
    for s in strings:
        row = con.execute(
            f"SELECT list_filter(regexp_split_to_array({fold}(?), ?), x -> x <> '')",
            [s, WS],
        ).fetchone()[0]
        out.append(list(row))
    con.close()
    return out


def test_tokenizer_spark_duckdb_agree_on_hostile_whitespace(spark):
    from hive_ddl_extract_tool_spark.operators.text import _words

    df = spark.createDataFrame([(s,) for s in HOSTILE_WS_STRINGS], "text string")
    got = [r[0] for r in df.select(_words("text")).collect()]
    want = _duck_tokens(HOSTILE_WS_STRINGS)
    assert got == want
    # an expression argument goes through the same escaped pattern literal
    got = [r[0] for r in df.select(_words("lower(text)")).collect()]
    assert got == _duck_tokens(HOSTILE_WS_STRINGS, fold="lower")


def test_tokenizer_arrow_duckdb_agree_on_hostile_whitespace():
    import pyarrow as pa
    import pyarrow.compute as pc

    from hive_ddl_extract_tool_spark.operators.text import WS

    arr = pa.array(HOSTILE_WS_STRINGS)
    got = [
        [t for t in row if t != ""]
        for row in pc.split_pattern_regex(arr, WS).to_pylist()
    ]
    want = _duck_tokens(HOSTILE_WS_STRINGS)
    assert got == want


def test_punct_class_spark_duckdb_agree_on_hostile_whitespace(spark):
    """NON_ALNUM (the 'punctuation' class) must count identically: under a
    bare \\s complement, \\x0B is punctuation to RE2 but whitespace to Java."""
    import duckdb

    from pyspark.sql import functions as F

    from hive_ddl_extract_tool_spark.operators.text import NON_ALNUM

    df = spark.createDataFrame([(s,) for s in HOSTILE_WS_STRINGS], "text string")
    got = [
        r[0]
        for r in df.select(F.regexp_count("text", F.lit(NON_ALNUM))).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            "SELECT len(regexp_extract_all(?, ?))", [s, NON_ALNUM]
        ).fetchone()[0]
        for s in HOSTILE_WS_STRINGS
    ]
    con.close()
    assert got == want


def test_tokenizer_spark_duckdb_agree_on_real_corpus(spark, sf_dir):
    """Beyond the synthetic hostile strings: the shared tokenizer must
    produce identical token LISTS per document over the actual fixture
    corpus -- the direct evidence that every tokenizing oracle compares
    like with like on this data drop."""
    import duckdb

    from pyspark.sql import functions as F

    from hive_ddl_extract_tool_spark.operators.text import _words

    got = {
        r["doc_id"]: r["w"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", _words("lower(text)").alias("w"))
        .collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            "SELECT doc_id, list_filter(regexp_split_to_array(lower(text),"
            " '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') FROM"
            f" '{sf_dir}/documents.parquet'"
        ).fetchall()
    )
    con.close()
    assert got == want


def test_doremi_weight_invariants(spark, sf_dir):
    """q132's multiplicative-weight rounds must behave like the algorithm
    they claim to be: every weight in [0, K], each round's weights sum to
    ~K (floor-division slack < S per round), and after reweighting the
    per-source ordering follows excess loss (higher excess => weakly
    higher weight, since every round multiplies by the same monotone
    factor and renormalizes)."""
    from hive_ddl_extract_tool_spark.operators.selection import (
        DOREMI_K,
        q132_doremi_mixture,
    )

    rows = q132_doremi_mixture(spark, sf_dir).collect()
    assert len(rows) >= 2
    s = len(rows)
    for rnd in ("w1", "w2", "w3"):
        ws = [r[rnd] for r in rows]
        assert all(0 <= w <= DOREMI_K for w in ws)
        assert DOREMI_K - s <= sum(ws) <= DOREMI_K
    by_excess = sorted(rows, key=lambda r: r["excess9"])
    for a, b in zip(by_excess, by_excess[1:]):
        assert a["w3"] <= b["w3"] + 1  # +1: independent floor-div slack


def test_mround_epsilon_agrees_cross_engine_on_decimal_ties(spark):
    """The money-rounding contract: for 2dp-quantized inputs (and the
    derived x*(1-d) 1e-4-quantized products that land exactly on .xx5
    boundaries), Spark's mround and the oracle's `round(1.37e-6 + x, 2)`
    must agree value-for-value. Runs ONE batch of hostile values through
    both engines instead of per-example sessions: every .005-tie in
    [0, 20), plus scaled magnitudes where shortest-decimal vs binary
    rounding historically diverged."""
    import duckdb

    from pyspark.sql import functions as F
    from hive_ddl_extract_tool_spark.operators._rounding import mround

    vals = []
    for k in range(0, 4000):  # 0.005, 0.015, ... 39.995 — every 2dp tie
        vals.append((k * 10 + 5) / 1000.0)
    for mag in (1.0, 1e3, 1e5, 3.11582535e5):  # known divergent magnitude
        for k in range(50):
            vals.append(mag + k * 0.005)
    sdf = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, x double")
    got = {
        r["i"]: r["y"]
        for r in sdf.select("i", mround(F.col("x"), 2).alias("y")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(i, v) for i, v in enumerate(vals)])
    exp = dict(con.sql("SELECT i, round(1.37e-6 + x, 2) AS y FROM t").fetchall())
    diffs = {i: (got[i], exp[i]) for i in got if got[i] != exp[i]}
    assert not diffs, f"{len(diffs)} disagreements, e.g. {list(diffs.items())[:5]}"


import pytest as _pytest


@_pytest.mark.parametrize(
    "qname",
    [
        "q01_pricing_summary",   # money sums
        "q69_regression_stats",  # sufficient-statistic moments
        "q92_bigram_lm_score",   # fixed-point log accumulation
        "q113_zipf_fit",         # fixed-point OLS over top tokens
        "q122_dsir_weights",     # fixed-point log-likelihood sums
        "q132_doremi_mixture",   # integer multiplicative rounds
        "q146_source_embedding_drift",  # 1e-12 quantized cosine terms
        "q156_bpe_merge_rounds",  # staged greedy merge, integer pair counts
        "q158_pq_distortion",    # integer milli-unit argmin + distortion sums
        "q162_negative_sampling_table",  # exact integer c^0.75 + ppm shares
        "q164_source_ablation",  # 1e-9 floor-quantized divergence terms
        "q226_merkle_reconcile",  # mod-sum digests are order-free by design
        "q232_cramers_v",        # micro-floored per-cell chi-square terms
        "q240_winsorize_audit",  # count-map rank statistics + integer drift
        "q243_mmr_rerank",       # micro-floored sims, integer greedy scores
        "q245_tfidf_simjoin",    # micro-floored idf, integer inner products
    ],
)
def test_results_invariant_to_shuffle_partitioning(qname, spark, sf_dir):
    """The order-free-accumulation claim, tested directly: changing
    spark.sql.shuffle.partitions changes how partial aggregates combine,
    so any result that survives 5-vs-default partitioning bit-identically
    cannot depend on summation order. Every query above accumulates
    through exact integers / fixed-point quantization precisely to earn
    this property."""
    from hive_ddl_extract_tool_spark.operators import all_queries
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache

    q = all_queries()[qname]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    base = {tuple(r) for r in q(spark, sf_dir).collect()}
    clear_cache()  # staged artifacts must rebuild under the new partitioning
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        alt = {tuple(r) for r in q(spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        clear_cache()
    assert base == alt


def test_pow34_steps_exact_on_both_engines(spark):
    """q162's integer c^0.75 (isqrt(isqrt(c^3)) via double-seeded Newton +
    ±1 correction) must equal Python's exact math.isqrt chain on BOTH
    engines, including magnitudes where c^3 exceeds double precision and a
    naive floor(sqrt(double)) is off."""
    import math

    import duckdb
    from pyspark.sql import functions as F

    from hive_ddl_extract_tool_spark.operators.tokenizer import _pow34_steps

    cs = list(range(1, 300)) + [10**3, 10**4 + 7, 10**5 + 3, 10**6 + 9,
                                2**31 - 1, 10**10 + 19, 10**12 + 39]
    want = {c: math.isqrt(math.isqrt(c * c * c)) for c in cs}

    sdf = spark.createDataFrame([(c,) for c in cs], "cnt long")
    for name, expr in _pow34_steps("cnt", "spark"):
        sdf = sdf.withColumn(name, F.expr(expr))
    got_spark = {r["cnt"]: int(r["b_r"]) for r in sdf.select("cnt", "b_r").collect()}
    assert got_spark == want

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT unnest(?) AS cnt", [cs])
    sql = "SELECT cnt FROM t"
    for name, expr in _pow34_steps("cnt", "duckdb"):
        sql = f"SELECT *, {expr} AS {name} FROM ({sql})"
    got_duck = {row[0]: int(row[1]) for row in
                con.sql(f"SELECT cnt, b_r FROM ({sql})").fetchall()}
    assert got_duck == want


def test_z_interleave_agrees_cross_engine_and_with_python(spark):
    """q172's Morton code is generated expression text in two dialects; this
    pins both against a Python bit-interleave on hostile inputs (all-ones,
    alternating masks, single bits, boundaries)."""
    import duckdb
    from pyspark.sql import functions as F

    from hive_ddl_extract_tool_spark.operators.layout import Z_BITS, z_interleave_expr

    def py_z(x, y):
        z = 0
        for i in range(Z_BITS):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    vals = [0, 1, 2, 3, 0xAAA, 0x555, 0xFFF, 0x800, 0x7FF, 1365, 2730, 4095]
    pairs = [(x, y) for x in vals for y in vals]
    want = {(x, y): py_z(x, y) for x, y in pairs}

    sdf = spark.createDataFrame(pairs, "xq long, yq long").withColumn(
        "z", F.expr(z_interleave_expr("spark"))
    )
    got_spark = {(r["xq"], r["yq"]): r["z"] for r in sdf.collect()}
    assert got_spark == want

    con = duckdb.connect()
    con.execute("CREATE TABLE t (xq BIGINT, yq BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
    got_duck = {
        (x, y): z
        for x, y, z in con.sql(
            f"SELECT xq, yq, {z_interleave_expr('duckdb')} AS z FROM t"
        ).fetchall()
    }
    assert got_duck == want


def test_apportionment_invariants(spark, sf_dir):
    """q228 must behave like the Hamilton method it claims to be: the
    allocations sum EXACTLY to the budget (the method's reason to exist),
    every source's allocation is within 1 of its real-valued quota
    (Hamilton satisfies quota), and exactly `leftover` sources got the
    +1 top-up."""
    from hive_ddl_extract_tool_spark.operators.selection import (
        LR_BUDGET,
        q228_lr_apportionment,
    )

    rows = q228_lr_apportionment(spark, sf_dir).collect()
    assert sum(r["alloc"] for r in rows) == LR_BUDGET
    assert all(r["total_alloc"] == LR_BUDGET for r in rows)
    total = sum(r["n_tokens"] for r in rows)
    for r in rows:
        quota = LR_BUDGET * r["n_tokens"] / total
        assert quota - 1 < r["alloc"] < quota + 1, (r, quota)
    assert sum(r["got_extra"] for r in rows) == LR_BUDGET - sum(
        (LR_BUDGET * r["n_tokens"]) // total for r in rows
    )


def test_cms_never_undercounts_and_matches_python(spark, sf_dir):
    """q225's two contracts, checked against an independent Python CMS:
    the estimate is NEVER below the exact count (each counter includes
    the key's own mass), and the Spark-built sketch minimum equals a
    from-scratch Python construction over the same exact counts."""
    import hashlib

    from hive_ddl_extract_tool_spark.operators._hashing import MINHASH_SEEDS, P31
    from hive_ddl_extract_tool_spark.operators.profiling import (
        CMS_D,
        CMS_W,
        q225_cms_estimator_audit,
    )
    from hive_ddl_extract_tool_spark.tables import load
    from pyspark.sql import functions as F

    counts = {
        r["user_id"]: r["c"]
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }

    def h60_py(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    cells = [[0] * CMS_W for _ in range(CMS_D)]
    for uid, c in counts.items():
        for i in range(CMS_D):
            a, b = MINHASH_SEEDS[i]
            cells[i][((a * (h60_py(str(uid)) % P31) + b) % P31) % CMS_W] += c
    for r in q225_cms_estimator_audit(spark, sf_dir).collect():
        uid = r["user_id"]
        assert r["n_est"] >= r["n_exact"]
        py_est = min(
            cells[i][((MINHASH_SEEDS[i][0] * (h60_py(str(uid)) % P31)
                       + MINHASH_SEEDS[i][1]) % P31) % CMS_W]
            for i in range(CMS_D)
        )
        assert r["n_est"] == py_est, (uid, r["n_est"], py_est)


def test_rank_statistic_quantiles_match_python(spark, sf_dir):
    """q242's ceil(p*n) rank selection vs Python's sorted-list indexing on
    the same data: the exact-order-statistic claim, verified off-engine."""
    from hive_ddl_extract_tool_spark.operators.behavior import (
        TREND_WEEK_US,
        q242_weekly_quantiles,
    )
    from hive_ddl_extract_tool_spark.tables import load
    from pyspark.sql import functions as F

    raw = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(f"unix_micros(ts) DIV {TREND_WEEK_US}").alias("week"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .collect()
    )
    groups: dict = {}
    for r in raw:
        groups.setdefault((r["event_type"], r["week"]), []).append(r["cents"])
    for r in q242_weekly_quantiles(spark, sf_dir).collect():
        vals = sorted(groups[(r["event_type"], r["week"])])
        n = len(vals)
        assert r["n"] == n
        assert r["p50_cents"] == vals[(50 * n + 99) // 100 - 1]
        assert r["p95_cents"] == vals[(95 * n + 99) // 100 - 1]
