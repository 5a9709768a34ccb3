"""The pytest form of the oracle check (hive_ddl_extract_tool_spark.verify):
run a Spark result's oracle twin on DuckDB over the same parquet tables and
fail with a sample of the rows only one side has."""

from __future__ import annotations

from hive_ddl_extract_tool_spark.verify import canon_rows, compare, oracle_rows


def assert_parity(spark_df, oracle_sql: str, sf_dir) -> None:
    scols, srows = spark_df.columns, [tuple(r) for r in spark_df.collect()]
    ocols, orows = oracle_rows(oracle_sql, str(sf_dir))
    if compare(scols, srows, ocols, orows):
        return
    a, e = canon_rows(scols, srows), canon_rows(ocols, orows)
    a_set, e_set = set(a), set(e)
    raise AssertionError(
        f"spark {sorted(scols)} x {len(srows)} rows != "
        f"oracle {sorted(ocols)} x {len(orows)} rows\n"
        f"  spark-only rows (sample): {[r for r in a if r not in e_set][:5]}\n"
        f"  oracle-only rows (sample): {[r for r in e if r not in a_set][:5]}"
    )
