"""Cross-engine deterministic hashing.

Spark's builtin hash functions (murmur3 `hash`, `xxhash64`, `crc32`) have no
DuckDB equivalent, so every operator whose oracle must reproduce hash values
uses a 60-bit hash derived from md5 (identical in both engines, verified
bit-for-bit incl. unicode and empty strings):

    Spark :  CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT)
    DuckDB:  ('0x' || substr(md5(x), 1, 15))::BIGINT

15 hex chars = 60 bits, always positive, no BIGINT overflow. For MinHash the
universal-hash family is h_i(x) = (a_i * (h60(x) % P31) + b_i) % P31 with
P31 = 2^31 - 1: the product stays < 2^62, inside BIGINT for both engines.

Each Spark kernel takes Spark SQL text (a column name or an expression such
as "lower(text)") and returns ONE `F.expr`, its SQL beside the DuckDB `*_sql`
twin (`h60_expr` hands the text itself to callers that splice it into a
larger expression). Building a Column costs the driver py4j round trips --
three per `F.*` function (two reflection lookups plus the call) -- so an
expression tree written as SQL text costs the three of one `F.expr` instead
of three per node, and spliced into a `selectExpr` it costs nothing extra.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

P31 = 2_147_483_647  # 2^31 - 1 (Mersenne prime)

# 16 fixed (a, b) seed pairs for the MinHash family; a odd, both < 2^31.
MINHASH_SEEDS: list[tuple[int, int]] = [
    (40503 * (i + 1) * 2 + 1, 1_013_904_223 * (i + 1) % P31) for i in range(16)
]


def h60_expr(expr: str) -> str:
    """Spark SQL text of the 60-bit hash of the SQL expression `expr`."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def h60(expr: str) -> Column:
    return F.expr(h60_expr(expr))


def h60_sql(expr: str) -> str:
    """DuckDB SQL fragment computing the same 60-bit hash."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def canon_empty_sql(expr: str) -> str:
    """NULL and '' collapsed to one sentinel before fingerprinting: CSV
    cannot represent the difference (its reader sees both as null), so the
    round-trip contracts (q165/q194) canonicalize identically on both
    engines. The text is the same in Spark SQL and DuckDB."""
    return f"CASE WHEN {expr} IS NULL OR {expr} = '' THEN '<empty>' ELSE {expr} END"


def minhash(expr: str, a: int, b: int) -> Column:
    """One member of the universal hash family over h60, mod P31."""
    return F.expr(f"(({a} * ({h60_expr(expr)} % {P31})) + {b}) % {P31}")


def minhash_sql(expr: str, a: int, b: int) -> str:
    return f"(({a} * ({h60_sql(expr)} % {P31}) + {b}) % {P31})"
