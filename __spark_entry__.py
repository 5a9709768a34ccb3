"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All implementation lives in ``hive_ddl_extract_tool_spark/``; this module is
just the registry surface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from hive_ddl_extract_tool_spark.operators import all_oracles, latest_green, sweep_order


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (X1+X2+X3): revenue by nation -- broadcast-dim 5-way
    join + hash aggregate over lineitem at sf0.001."""
    from hive_ddl_extract_tool_spark.operators.relational import q02_revenue_by_nation

    return q02_revenue_by_nation(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2B, in the sweep
    order generated from this checkout's CORRECTNESS_r{N}.json history."""
    return sweep_order(latest_green(HERE)[0])


def oracle_sql() -> dict[str, str]:
    """DuckDB twin for each SQL-expressible query (rows-only ops omitted)."""
    return all_oracles()
