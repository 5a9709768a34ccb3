"""Shared oracle-compare primitives for the local verify tools.

The canonicalization is TYPE-SENSITIVE on purpose (a Python float never
folds into an int, bool is not an int, Decimal is its own thing): if the
two engines disagree on TYPE, that is a divergence we must see -- the
round-4 driver-only divergence class reproduces here by construction.
`tools/drive_driver.py` (the sf0.01 sweep) and `tools/scale.py oracle`
(the 10x-corpus check) share these so the two gates cannot drift.
"""
from __future__ import annotations

import datetime
import hashlib
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def register_views(con, sf_dir: str) -> None:
    """Register the standard table views on a DuckDB connection. Handles
    both physical layouts: single parquet FILES (the driver fixtures) and
    Spark-written parquet DIRECTORIES (the inflated corpora) -- one
    registration helper for every gate, so the oracle environments cannot
    drift."""
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        src = f"read_parquet('{p}/*.parquet')" if os.path.isdir(p) else f"'{p}'"
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {src}")


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
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


def hash_rows(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for r in canon_rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def compare(scols, srows, ocols, orows) -> bool:
    """drive_driver's exact pass rule: schema names, row count, value hash."""
    return (
        sorted(scols) == sorted(ocols)
        and len(srows) == len(orows)
        and hash_rows(scols, srows) == hash_rows(ocols, orows)
    )
