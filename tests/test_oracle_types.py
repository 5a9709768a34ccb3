"""Guard: every oracle's DuckDB output schema stays inside the allowlisted
type set.

Round-4 post-mortem: all 17 queries that failed the driver's hash compare
(while passing every local re-run, on two different data drops) — and ONLY
those 17 — had a HUGEINT column in their oracle output.  DuckDB's
``sum(BIGINT)`` widens to HUGEINT (int128); the local comparator fetches
Python ints either way so the divergence is invisible here, but the
driver's comparator canonicalizes HUGEINT differently from BIGINT (e.g. a
pandas/Arrow fetch path turns int128 into float64 or Decimal), so every
row hash-mismatches deterministically in that environment only.

The fix is structural — ``CAST(... AS BIGINT)`` in the final select — and
this test keeps it that way: any new oracle whose output schema contains
HUGEINT / DECIMAL / LIST / TIMESTAMP / anything outside the proven-safe
set fails CI before it can fail a driver sweep.
"""
from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry
from hive_ddl_extract_tool_spark.verify import register_views

# Types proven driver-safe by four rounds of green sweep rows (r1-r4:
# VARCHAR/BIGINT/INTEGER/DOUBLE/BOOLEAN all appear in driver-green
# queries).  Everything else is guilty until a driver sweep proves it --
# notably FLOAT (float32 canonicalizes differently from Spark's float64
# under a pandas fetch) stays OUT until some query needs it and survives
# a sweep.
SAFE_DUCK_TYPES = {"VARCHAR", "BIGINT", "INTEGER", "DOUBLE", "BOOLEAN"}


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    register_views(con, sf_dir)
    yield con
    con.close()


def test_every_oracle_output_type_is_allowlisted(duck):
    offenders = []
    for name, sql in sorted(entry.oracle_sql().items()):
        rel = duck.sql(sql)  # lazy: schema only, no execution
        for col, typ in zip(rel.columns, rel.types):
            if str(typ) not in SAFE_DUCK_TYPES:
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, (
        "oracle output columns outside the driver-safe type set "
        "(HUGEINT et al. hash-diverge in the driver environment; "
        "CAST the final select to BIGINT/DOUBLE): " + "; ".join(offenders)
    )
