"""CLI for the DDL extractor -- the reference tool's user interface
(ExtractHiveDDL.java:34-45: exactly three positional args
{databasePattern, tablePattern, outFile} or exit non-zero; env-var toggles
ExtractHiveDDL.java:25,29).

    python -m hive_ddl_extract_tool_spark.catalog DB_PATTERN TABLE_PATTERN OUT.sql

Env (the first three keep the reference's names):
    USE_ADD_SQL=true|false   force ADD PARTITION over MSCK (default false)
    USE_CONTEXT=true|false   USE db + unqualified names + relative paths (default true)
    BEELINE_MARKERS=true     emit `!sh echo` progress lines (default false)
    ENABLE_HIVE=true         back the session with a Hive metastore (default false: in-memory catalog)
"""

from __future__ import annotations

import os
import sys
import time

from .extractor import ExtractConfig, extract_ddl


def _bool_env(name: str, default: bool) -> bool:
    return os.environ.get(name, str(default)).strip().lower() == "true"


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 3:
        print(
            "usage: python -m hive_ddl_extract_tool_spark.catalog "
            "<databasePattern> <tablePattern> <outFile>",
            file=sys.stderr,
        )
        return 1
    db_pattern, table_pattern, out_file = argv
    cfg = ExtractConfig(
        use_add_sql=_bool_env("USE_ADD_SQL", False),
        use_context=_bool_env("USE_CONTEXT", True),
        beeline_markers=_bool_env("BEELINE_MARKERS", False),
    )
    from ..session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="hive-ddl-extract", enable_hive=_bool_env("ENABLE_HIVE", False))
    script = extract_ddl(spark, db_pattern, table_pattern, out_file, cfg)
    elapsed = time.perf_counter() - t0
    n_stmts = sum(1 for line in script.splitlines() if line.rstrip().endswith(";"))
    # wall-clock report, as the reference prints at exit (ExtractHiveDDL.java:71-72)
    print(f"wrote {out_file}: {n_stmts} statements in {elapsed:.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
