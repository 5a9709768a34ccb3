"""§2A per-round evidence: the catalog/DDL extraction migration fixpoint
(X16 — the reference's entire capability) against a REAL embedded-Derby
Hive metastore, emitted as a PARITY-style one-liner.

The §2B surface gets a fresh driver sweep row every round; the §2A suite
was pytest-green but its evidence never rotated (round-8 verdict, Next
item 4). This tool packages the strongest §2A check — create a
partitioned Hive table, extract DDL (AS SERDE + ADD PARTITION + MSCK),
APPLY the generated script to a renamed database as a cluster migration
would, re-extract, and require the two scripts identical modulo db name
and DDL timestamp — as a per-round artifact: `tools/drive_driver.py`
runs it after the sweep and appends the result to PARITY.md, so every
round's parity file carries a dated §2A line next to the §2B rows.

Since round 10 the scenario replays BOTH config arms: the default
USE_CONTEXT path (USE db + unqualified names + relative partition
locations) and the use_context=False path (qualified `db.table` names +
ABSOLUTE partition locations, ExtractHiveDDL.java:268-274's other branch)
on an external table whose location is db-neutral, so the same fixpoint
criterion applies across the rename.

Runs in a subprocess because spark.sql.catalogImplementation is static
per JVM (the caller's session uses the in-memory catalog); the same
scenario backs tests/test_hive_metastore.py so the checked logic cannot
drift from the round artifact.

Usage: python tools/catalog_parity.py            # prints the one-liner
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import textwrap
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Glob patterns the catalog listings must filter exactly as SHOW ... LIKE
# does: case, alternation (incl. an empty branch), literal '.', '%', a
# regex character class, and surrounding spaces.
LISTING_PATTERNS = ["*", "x_*", "X_*", "a|b", "a||b", "x.y", "*a", "x%", "x_[ab]*", " x_* "]


# SQL-path oracles: the statements whose results the extractor's catalog
# calls must reproduce.

def sql_path_databases(spark, pattern: str) -> list[str]:
    return sorted(r[0] for r in spark.sql(f"SHOW DATABASES LIKE '{pattern}'").collect())


def sql_path_tables(spark, db: str, pattern: str) -> list[str]:
    rows = spark.sql(f"SHOW TABLES IN `{db}` LIKE '{pattern}'").collect()
    return sorted(r["tableName"] for r in rows if not r["isTemporary"])


def sql_path_ddl(spark, db: str, table: str) -> str:
    """SHOW CREATE TABLE ... AS SERDE, else the plain form, then the
    extractor's own fixups."""
    from hive_ddl_extract_tool_spark.catalog.extractor import fix_create_table, strip_catalog_prefix

    t = f"`{db}`.`{table}`"
    try:
        ddl = spark.sql(f"SHOW CREATE TABLE {t} AS SERDE").collect()[0][0]
    except Exception:
        ddl = spark.sql(f"SHOW CREATE TABLE {t}").collect()[0][0]
    lines = [fix_create_table(strip_catalog_prefix(line)) for line in ddl.splitlines()]
    return "\n".join(lines).rstrip() + ";"


def scenario_script(workdir: str) -> str:
    """The full fixpoint scenario, parameterized by a scratch dir (the
    Derby metastore_db and warehouse land there). Prints
    HIVE_METASTORE_OK on success; any assert kills the subprocess."""
    return textwrap.dedent(f"""
        import sys; sys.path.insert(0, {REPO!r})
        import os
        os.chdir({workdir!r})   # derby metastore_db lands here
        from hive_ddl_extract_tool_spark.session import get_spark
        spark = get_spark(cpus=2, enable_hive=True,
                          extra_conf={{"spark.sql.warehouse.dir": {workdir!r} + "/wh"}})
        spark.sparkContext.setLogLevel("ERROR")
        assert spark.conf.get("spark.sql.catalogImplementation") == "hive"
        spark.sql("CREATE DATABASE hv")
        spark.sql("CREATE TABLE hv.t (a INT, dt STRING) PARTITIONED BY (dt) STORED AS PARQUET")
        spark.sql("INSERT INTO hv.t PARTITION (dt='x') VALUES (1)")
        spark.sql("INSERT INTO hv.t PARTITION (dt='y') VALUES (2)")
        # HiveExternalCatalog's own partition-name path: an INT partition
        # column, and values the metastore stores path-escaped (a:b ->
        # a%3Ab), restored with ADD PARTITION below
        spark.sql("CREATE TABLE hv.e (a INT) PARTITIONED BY (n INT, s STRING) STORED AS PARQUET")
        spark.sql("ALTER TABLE hv.e ADD PARTITION (n=1, s='a:b')")
        spark.sql("INSERT INTO hv.e PARTITION (n=2, s='b/c 100%') VALUES (1)")
        e_parts = ["n=1/s=a%3Ab", "n=2/s=b%2Fc 100%25"]
        # one table of each SHOW CREATE shape; all go through the fixpoint
        spark.sql("CREATE EXTERNAL TABLE hv.txt (a INT, b STRING) ROW FORMAT DELIMITED "
                  "FIELDS TERMINATED BY ',' STORED AS TEXTFILE "
                  "LOCATION '" + {workdir!r} + "/ext/hv_txt'")
        spark.sql("CREATE TABLE hv.bk (a INT, b STRING) CLUSTERED BY (a) SORTED BY (a) "
                  "INTO 4 BUCKETS STORED AS ORC")
        spark.sql("CREATE TABLE hv.cv (c CHAR(5), v VARCHAR(10)) STORED AS PARQUET")
        spark.sql("CREATE TABLE hv.ds (a INT, s STRING) USING parquet")
        spark.sql("CREATE VIEW hv.v AS SELECT a, dt FROM hv.t")
        from hive_ddl_extract_tool_spark.catalog.extractor import (
            ExtractConfig, extract_ddl, get_create_ddl, list_databases, list_tables,
            table_section)
        from tools.catalog_parity import (
            LISTING_PATTERNS, sql_path_databases, sql_path_ddl, sql_path_tables)
        hv_tables = list_tables(spark, "hv", "*")
        assert hv_tables == ["bk", "cv", "ds", "e", "t", "txt", "v"], hv_tables
        for t in hv_tables:
            assert get_create_ddl(spark, "hv", t) == sql_path_ddl(spark, "hv", t), t

        # listings filter as SHOW ... LIKE does; the metastore's own pattern
        # matching (listDatabases(pattern)) finds nothing for x_[ab]*
        for d in ("x_a1", "x_b2", "x_c3"):
            spark.sql("CREATE DATABASE " + d)
        for p in LISTING_PATTERNS + ["[bc]*"]:
            assert list_databases(spark, p) == sql_path_databases(spark, p), p
            assert list_tables(spark, "hv", p) == sql_path_tables(spark, "hv", p), p
        assert list_databases(spark, "x_[ab]*") == ["x_a1", "x_b2"]
        assert list_tables(spark, "hv", "[bc]*") == ["bk", "cv"]

        # metastore call budget, by Spark's own count of Hive client calls:
        # a Hive-format table or view costs its one getTable (SHOW CREATE
        # text is rendered from it); a partitioned one adds listPartitions,
        # whose HiveExternalCatalog path makes its own getTable +
        # getRawHiveTable before fetching the partitions
        metrics = spark._jvm.org.apache.spark.metrics.source.HiveCatalogMetrics
        client_calls = metrics.METRIC_HIVE_CLIENT_CALLS()
        def hive_calls(f, *args):
            before = client_calls.getCount()
            f(*args)
            return client_calls.getCount() - before
        budget = {{"bk": 1, "cv": 1, "txt": 1, "v": 1, "e": 4, "t": 4}}
        spent = {{t: hive_calls(table_section, spark, "hv", t, ExtractConfig()) for t in budget}}
        assert spent == budget, spent
        print("HIVE_CLIENT_CALLS", hive_calls(extract_ddl, spark, "hv", "*", None, ExtractConfig()))

        # statement budget: Hive-format tables and views issue no spark.sql,
        # the datasource table one plain SHOW CREATE TABLE
        issued = []
        sql = spark.sql
        spark.sql = lambda q, *a, **k: issued.append(q) or sql(q, *a, **k)
        extract_ddl(spark, "hv", "bk|cv|e|t|txt|v", None, ExtractConfig(use_add_sql=True))
        assert issued == [], issued
        add = extract_ddl(spark, "hv", "*", None, ExtractConfig(use_add_sql=True))
        spark.sql = sql
        assert issued == ["SHOW CREATE TABLE `hv`.`ds`"], issued
        assert "CREATE TABLE hv.t" in add.replace("`", "")
        assert "ROW FORMAT SERDE" in add            # Hive-format fidelity (AS SERDE)
        assert add.count("ADD PARTITION") == 4
        assert "ADD PARTITION (n='1',s='a:b')" in add, add
        msck = extract_ddl(spark, "hv", "*", None, ExtractConfig(use_add_sql=False))
        assert "MSCK REPAIR TABLE t;" in msck
        assert "MSCK REPAIR TABLE e;" not in msck   # escaped paths force ADD PARTITION

        # Migration round-trip FIXPOINT -- the tool's entire purpose: apply
        # the generated script (db renamed, as a cluster migration would) and
        # re-extract; the scripts must match modulo db name and the
        # transient_lastDdlTime DDL timestamp. This proves the script is
        # EXECUTABLE (not just plausible text), the relative partition
        # locations (R11) re-resolve under the new table dir, and extraction
        # is idempotent across a migration hop.
        applied = add.replace("hv", "hv2")
        stmts = [s.strip() for s in "\\n".join(
            ln for ln in applied.splitlines() if not ln.startswith("--")
        ).split(";") if s.strip()]
        for s in stmts:
            spark.sql(s)
        assert [r[0] for r in spark.sql("SHOW PARTITIONS hv2.t").collect()] == ["dt=x", "dt=y"]
        assert sorted(r[0] for r in spark.sql("SHOW PARTITIONS hv2.e").collect()) == e_parts
        assert list_tables(spark, "hv2", "*") == hv_tables
        dst = extract_ddl(spark, "hv2", "*", None, ExtractConfig(use_add_sql=True))
        def normalized(t, db):
            return "\\n".join(ln for ln in t.replace(db, "DB").splitlines()
                              if "transient_lastDdlTime" not in ln)
        assert normalized(add, "hv") == normalized(dst, "hv2"), (add, dst)

        # Second arm -- use_context=False (ExtractHiveDDL.java:268-274's
        # OTHER branch): qualified `db.table` names, NO `USE db;` header,
        # ABSOLUTE partition locations. An EXTERNAL table at a db-neutral
        # path makes the absolute locations survive the migration rename
        # (a managed table's warehouse path embeds the db name, which the
        # rename would falsify); the db names are chosen so they cannot
        # collide with the random scratch-path characters.
        ext = {workdir!r} + "/ext/t"
        assert "dbsrcq" not in {workdir!r} and "dbdstq" not in {workdir!r}
        spark.sql("CREATE DATABASE dbsrcq")
        spark.sql("CREATE EXTERNAL TABLE dbsrcq.t (a INT) PARTITIONED BY (dt STRING) "
                  "STORED AS PARQUET LOCATION '" + ext + "'")
        spark.sql("INSERT INTO dbsrcq.t PARTITION (dt='x') VALUES (1)")
        spark.sql("INSERT INTO dbsrcq.t PARTITION (dt='y') VALUES (2)")
        cfg_abs = ExtractConfig(use_add_sql=True, use_context=False)
        add2 = extract_ddl(spark, "dbsrcq", "*", None, cfg_abs)
        assert "USE dbsrcq;" not in add2                 # qualified-name mode
        assert add2.count("ADD PARTITION") == 2
        alters = [ln for ln in add2.splitlines() if "ADD PARTITION" in ln]
        assert all("ALTER TABLE dbsrcq.t" in ln.replace("`", "") for ln in alters)
        assert all(ext + "/dt=" in ln for ln in alters)  # absolute locations
        applied2 = add2.replace("dbsrcq", "dbdstq")
        stmts2 = [s.strip() for s in "\\n".join(
            ln for ln in applied2.splitlines() if not ln.startswith("--")
        ).split(";") if s.strip()]
        for s in stmts2:
            spark.sql(s)
        assert [r[0] for r in spark.sql("SHOW PARTITIONS dbdstq.t").collect()] == ["dt=x", "dt=y"]
        dst2 = extract_ddl(spark, "dbdstq", "*", None, cfg_abs)
        assert normalized(add2, "dbsrcq") == normalized(dst2, "dbdstq"), (add2, dst2)
        print("HIVE_METASTORE_OK")
    """)


def run_fixpoint(workdir: str | None = None, timeout: int = 300) -> dict:
    """Run the scenario in a fresh JVM; return a PARITY-ready result row.
    A self-created scratch dir (Derby metastore_db + warehouse parquet) is
    removed on the way out -- one leaked multi-MB dir per sweep otherwise."""
    own_workdir = workdir is None
    if own_workdir:
        workdir = tempfile.mkdtemp(prefix="catalog_parity_")
    t0 = time.monotonic()
    try:
        proc = subprocess.run(
            [sys.executable, "-c", scenario_script(workdir)],
            capture_output=True, text=True, timeout=timeout,
        )
    finally:
        if own_workdir:
            shutil.rmtree(workdir, ignore_errors=True)
    ok = "HIVE_METASTORE_OK" in proc.stdout
    calls = next((ln.split()[1] for ln in proc.stdout.splitlines()
                  if ln.startswith("HIVE_CLIENT_CALLS ")), "?")
    return {
        "ok": ok,
        "sec": round(time.monotonic() - t0, 1),
        "line": ("OK   §2A catalog fixpoint: Derby metastore extract -> apply "
                 "-> re-extract identical, ctx+abs (AS SERDE text, delimited "
                 "external, bucketed ORC, CHAR/VARCHAR, datasource and view "
                 "tables, ADD PARTITION x4 incl. INT and path-escaped values, "
                 "MSCK; listings as SHOW ... LIKE; Hive client calls: 1 per "
                 "table or view, 4 per partitioned table, "
                 f"{calls} per extract of hv; "
                 "use_context=False arm: qualified names + absolute "
                 "locations on an external table)"
                 if ok else "FAIL §2A catalog fixpoint"),
        "stdout_tail": proc.stdout[-2000:],
        "stderr_tail": proc.stderr[-2000:],
    }


def main() -> int:
    res = run_fixpoint()
    print(f"{res['line']} ({res['sec']}s)")
    if not res["ok"]:
        print(res["stdout_tail"])
        print(res["stderr_tail"], file=sys.stderr)
    return 0 if res["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
