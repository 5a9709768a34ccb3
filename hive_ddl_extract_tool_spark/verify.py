"""The oracle check: one Spark result against its DuckDB twin.

Every correctness gate goes through this module -- the pytest parity suite
(tests/parity.py), ``run --check``, the sf0.01 driver mirror
(tools/drive_driver.py), the scale harness's oracle (tools/scale.py) and the
benchmark's once-per-run verify -- so they cannot disagree on what a match is.

The pass rule: the same column names and the same multiset of canonical rows.
A canonical row takes the cells in column-NAME order (the engines may order
columns differently) and renders each cell TYPE-SENSITIVELY: a float never
folds into an int, a bool is not an int. DuckDB widens sum(BIGINT) to HUGEINT,
which the external driver's comparator fetches as a different type and
hash-mismatches on every sweep; a canon that folded 5.0 into 5 would pass
exactly that divergence here. ``hash_rows`` digests the same canonical rows,
so a ``compare`` pass implies equal hashes.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os

import duckdb

from .tables import TABLES


def register_views(con, sf_dir: str) -> None:
    """Register one view per table present under sf_dir on a DuckDB
    connection. Reads both layouts: single parquet FILES (the driver
    fixtures) and Spark-written parquet DIRECTORIES (inflated corpora)."""
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            src = f"read_parquet('{p}/*.parquet')" if os.path.isdir(p) else f"'{p}'"
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {src}")


def oracle_rows(sql: str, sf_dir: str) -> tuple[list[str], list[tuple]]:
    """Columns and rows of an oracle query over sf_dir's tables."""
    con = duckdb.connect()
    try:
        register_views(con, sf_dir)
        rel = con.sql(sql)
        return list(rel.columns), rel.fetchall()
    finally:
        con.close()


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "bool:" + str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "float:NaN"
        return "float:" + repr(v)
    if isinstance(v, int):
        return "int:" + str(v)
    if isinstance(v, datetime.datetime):
        return "ts:" + v.replace(tzinfo=None).isoformat()
    return type(v).__name__ + ":" + str(v)


def canon_rows(cols, rows) -> list[tuple[str, ...]]:
    """The sorted canonical rows, cells in column-name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def hash_rows(cols, rows) -> str:
    """16-hex digest of the canonical rows, independent of row order."""
    h = hashlib.sha256()
    for r in sorted("|".join(c) for c in canon_rows(cols, rows)):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def compare(scols, srows, ocols, orows) -> bool:
    """True when both sides have the same column names and the same
    multiset of canonical rows."""
    return (
        sorted(scols) == sorted(ocols)
        and len(srows) == len(orows)
        and canon_rows(scols, srows) == canon_rows(ocols, orows)
    )
