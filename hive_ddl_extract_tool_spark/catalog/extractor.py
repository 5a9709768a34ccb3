"""Hive DDL extraction -- the reference tool's own capability (SURVEY.md §2A,
R1-R25), rebuilt Spark-first.

The reference (jamthoma/hive-ddl-extract-tool) walks a Hive metastore +
HiveServer2 over Thrift and writes one .sql script that recreates matching
tables on another cluster: CREATE DATABASE / USE / SHOW CREATE TABLE output /
partition restore (MSCK REPAIR or ALTER TABLE ADD PARTITION). Here a single
Hive-enabled SparkSession is both metastore client and SQL executor
(`ExtractHiveDDL.java`'s three RPC paths collapse into `spark.sql`), metadata
flows as DataFrames, and the script ordering is deterministic (the reference
interleaves tables nondeterministically via parallelStream on a shared
writer, ExtractHiveDDL.java:109).

Reference parity notes (each function cites the behavior it re-expresses):

- glob database/table enumeration ........ ExtractHiveDDL.java:58,141-149
- degrade-to-empty on table-list errors .. ExtractHiveDDL.java:146-148
- CREATE TABLE header quoting fixup ...... ExtractHiveDDL.java:154-191
- partition strategy decision table ...... ExtractHiveDDL.java:205-252
    * default partition => MSCK .......... :212-218,233 (README.md:39-41)
    * uppercase rel. path => ADD ......... :219-228,234 (README.md:43-45)
    * both => fatal ...................... :231-232     (README.md:47-49)
- partition spec formatting k='v',k2='v2'  ExtractHiveDDL.java:263-276
- USE_ADD_SQL / USE_CONTEXT config ....... ExtractHiveDDL.java:25,29,79-83
- beeline !sh echo progress markers ...... ExtractHiveDDL.java:129,133
- per-table fan-out (R21) ................ serial: a session's catalog calls
  all pass through HiveExternalCatalog.withClient, which is synchronized,
  so the reference's 8-worker pool (ExtractHiveDDL.java:109) would only
  queue on its lock.
- 32767-partition cap .................... removed (was :199,207); Spark's
  SHOW PARTITIONS returns all partitions as a DataFrame.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import SparkSession

DEFAULT_PARTITION_KEYWORD = "__HIVE_DEFAULT_PARTITION__"


@dataclass
class ExtractConfig:
    """Mirrors the reference's env-var config (ExtractHiveDDL.java:25,29) as
    explicit options; the CLI fills it from the same env vars."""

    use_add_sql: bool = False   # USE_ADD_SQL: force ADD PARTITION over MSCK
    use_context: bool = True    # USE_CONTEXT: USE db + unqualified names + relative paths
    beeline_markers: bool = False  # emit the `!sh echo ...` progress lines
    progress: bool = False      # R3: per-table "(i/total)" progress lines on stderr
    refresh_cache: bool = False  # per-db metadata refresh (reference flushCache, :112)


class DefaultPartitionConflictError(ValueError):
    """Raised when a table has BOTH a default partition (forces MSCK) and an
    uppercase relative location (forces ADD PARTITION) -- the combination the
    reference treats as fatal (ExtractHiveDDL.java:231-232, README.md:47-49)."""


# --------------------------------------------------------------------------
# Pure transforms (unit-testable without a metastore)
# --------------------------------------------------------------------------

def fix_create_table(line: str) -> str:
    """Compat shim for Hive's ``SHOW CREATE TABLE `db.t``` output, which
    quotes the dotted name in ONE backtick pair; rewrite to ``d`b`.`t``.
    (ExtractHiveDDL.java:154-191.) Spark's own SHOW CREATE TABLE already
    quotes correctly, in which case this is the identity."""
    m = re.match(r"^(CREATE (?:EXTERNAL )?TABLE )`([^`.]+)\.([^`]+)`", line)
    if not m:
        return line
    return f"{m.group(1)}`{m.group(2)}`.`{m.group(3)}`{line[m.end():]}"


def strip_catalog_prefix(line: str) -> str:
    """Spark's SHOW CREATE TABLE qualifies with the session catalog
    (``CREATE TABLE spark_catalog.db.t`` / ```spark_catalog`.`db`.`t```);
    the reference's scripts are catalog-agnostic, and the prefix would break
    replay on a cluster whose catalog is named differently."""
    return re.sub(
        r"^(CREATE (?:EXTERNAL )?TABLE )(?:`spark_catalog`\.|spark_catalog\.)",
        r"\1",
        line,
    )


def format_partition_spec(name: str) -> str:
    """``k1=v1/k2=v2`` -> ``k1='v1',k2='v2'`` -- every value single-quoted as
    a string, relying on implicit casts (ExtractHiveDDL.java:264-265)."""
    parts = name.split("/")
    return ",".join("{}='{}'".format(*p.split("=", 1)) for p in parts)


def relative_location(location: str, table_path: str) -> str:
    """Partition location minus the table-path prefix; the reference appends
    '/' to the table path first so relative paths carry no leading slash
    (ExtractHiveDDL.java:206 `getLocation() + "/"`, :222, :270).

    Deliberate deviation: the reference's String.replace removes EVERY
    occurrence of the prefix, which mangles locations that embed the table
    path more than once; only a leading prefix is stripped here."""
    prefix = table_path if table_path.endswith("/") else table_path + "/"
    return location[len(prefix):] if location.startswith(prefix) else location


def choose_partition_strategy(
    has_default_partition: bool, has_uppercase_path: bool, use_add_sql: bool
) -> bool:
    """Return True for ADD PARTITION, False for MSCK (the reference's
    decision table, ExtractHiveDDL.java:205,231-234):

    - both flags set -> fatal (MSCK would choke on the uppercase path, ADD
      PARTITION on the default-partition keyword)
    - default partition -> MSCK (ADD PARTITION fails on the keyword)
    - uppercase relative path -> ADD PARTITION (MSCK missed such paths)
    - otherwise the configured default (USE_ADD_SQL)
    """
    if has_default_partition and has_uppercase_path:
        raise DefaultPartitionConflictError(
            "table has default partition and non-lower-case chars in a "
            "partition location; neither MSCK nor ADD PARTITION can restore it"
        )
    if has_default_partition:
        return False
    if has_uppercase_path:
        return True
    return use_add_sql


def msck_sql(db: str, table: str, use_context: bool) -> str:
    """(ExtractHiveDDL.java:247-252)"""
    qualified = table if use_context else f"{db}.{table}"
    return f"MSCK REPAIR TABLE {qualified};"


def add_partition_sql(
    db: str, table: str, table_path: str, name: str, location: str, use_context: bool
) -> str:
    """One ALTER TABLE ... ADD PARTITION (...) LOCATION "..." line per
    partition (ExtractHiveDDL.java:263-276); location is relative under
    USE_CONTEXT, absolute otherwise (:268-274)."""
    qualified = table if use_context else f"{db}.{table}"
    spec = format_partition_spec(name)
    loc = relative_location(location, table_path) if use_context else location
    return f'ALTER TABLE {qualified} ADD PARTITION ({spec}) LOCATION "{loc}";'


# --------------------------------------------------------------------------
# Catalog scans (Spark replaces both Thrift clients)
# --------------------------------------------------------------------------

def list_databases(spark: SparkSession, pattern: str) -> list[str]:
    """R1: glob-matched database names, sorted for deterministic output."""
    rows = spark.sql(f"SHOW DATABASES LIKE '{pattern}'").collect()
    return sorted(r[0] for r in rows)


def list_tables(spark: SparkSession, db: str, pattern: str) -> list[str]:
    """R2: glob-matched table names; errors degrade to an empty list
    (ExtractHiveDDL.java:146-148). Excludes temp views (not catalog tables)."""
    try:
        rows = spark.sql(f"SHOW TABLES IN `{db}` LIKE '{pattern}'").collect()
        return sorted(r["tableName"] for r in rows if not r["isTemporary"])
    except Exception:
        return []


def get_create_ddl(spark: SparkSession, db: str, table: str) -> str:
    """R4+R5+R6: fetch SHOW CREATE TABLE text, apply the header fixup, strip
    trailing whitespace, terminate with ';' (HiveClient.java:82-92,
    ExtractHiveDDL.java:154-175). `AS SERDE` preserves Hive-format fidelity
    for Hive tables; plain output is used for non-Hive (e.g. datasource)
    tables where AS SERDE is unsupported."""
    try:
        ddl = spark.sql(f"SHOW CREATE TABLE `{db}`.`{table}` AS SERDE").collect()[0][0]
    except Exception:
        ddl = spark.sql(f"SHOW CREATE TABLE `{db}`.`{table}`").collect()[0][0]
    lines = [fix_create_table(strip_catalog_prefix(line)) for line in ddl.splitlines()]
    return "\n".join(lines).rstrip() + ";"


def _location(spark: SparkSession, target: str) -> str:
    rows = spark.sql(f"DESCRIBE FORMATTED {target}").collect()
    return next((r["data_type"] for r in rows if r["col_name"] == "Location"), "")


def get_partitions(spark: SparkSession, db: str, table: str) -> list[tuple[str, str]]:
    """R7+R8: (partition-name, location) pairs in sorted name order. Names
    come from SHOW PARTITIONS (same ``k=v/k2=v2`` format the metastore
    returns); locations from one DESCRIBE ... PARTITION each. Non-partitioned
    tables -> empty list. No 32767 cap (reference: Short.MAX_VALUE,
    ExtractHiveDDL.java:199)."""
    try:
        names = sorted(r[0] for r in spark.sql(f"SHOW PARTITIONS `{db}`.`{table}`").collect())
    except Exception:
        return []  # not partitioned
    return [
        (name, _location(spark, f"`{db}`.`{table}` PARTITION ({format_partition_spec(name)})"))
        for name in names
    ]


def get_table_location(spark: SparkSession, db: str, table: str) -> str:
    return _location(spark, f"`{db}`.`{table}`")


# --------------------------------------------------------------------------
# Per-table section + whole-script assembly
# --------------------------------------------------------------------------

def partition_restore_sql(
    spark: SparkSession, db: str, table: str, cfg: ExtractConfig
) -> list[str]:
    """R9-R17: the partition-restore block for one table."""
    parts = get_partitions(spark, db, table)
    if not parts:
        return []  # R9: empty short-circuit (ExtractHiveDDL.java:200-203)
    table_path = get_table_location(spark, db, table)
    has_default = any(f"={DEFAULT_PARTITION_KEYWORD}" in name for name, _ in parts)
    rels = [relative_location(loc, table_path) for _, loc in parts]
    # Deliberate deviation from the reference: it case-checks the raw
    # location (ExtractHiveDDL.java:219-228), but the stock default-partition
    # directory name is itself uppercase, which would make EVERY default
    # partition hit the fatal combination. Mask the keyword before checking
    # so the two README rules (39-45) compose the way they were intended.
    rels = [rel.replace(DEFAULT_PARTITION_KEYWORD, "") for rel in rels]
    has_upper = any(rel != rel.lower() for rel in rels)
    use_add = choose_partition_strategy(has_default, has_upper, cfg.use_add_sql)
    if not use_add:
        return [msck_sql(db, table, cfg.use_context)]
    return [
        add_partition_sql(db, table, table_path, name, loc, cfg.use_context)
        for name, loc in parts
    ]


def table_section(spark: SparkSession, db: str, table: str, cfg: ExtractConfig) -> list[str]:
    """R19: banner + optional beeline marker + CREATE + partition block
    (ExtractHiveDDL.java:118-136)."""
    lines = [
        "-- ------------------------------------------------------------------",
        f"-- Table: {db}.{table}",
        "-- ------------------------------------------------------------------",
    ]
    if cfg.beeline_markers:
        lines.append(f'!sh echo "Creating table: {table}...";')
    lines.append(get_create_ddl(spark, db, table))
    partition_lines = partition_restore_sql(spark, db, table, cfg)
    if partition_lines:
        if cfg.beeline_markers:
            lines.append(f'!sh echo "Creating partitions for table: {table}...";')
        lines.extend(partition_lines)
    lines.append("")
    return lines


def refresh_database(spark: SparkSession, db: str, table_pattern: str = "*") -> int:
    """Per-database metadata refresh (reference `client.flushCache()`,
    ExtractHiveDDL.java:112): drop Spark's cached metadata/file listings for
    every matching table so a long-lived session sees a mutating metastore.
    Returns the number of tables refreshed."""
    tables = list_tables(spark, db, table_pattern)
    for t in tables:
        spark.catalog.refreshTable(f"`{db}`.`{t}`")
    return len(tables)


def extract_ddl(
    spark: SparkSession,
    database_pattern: str,
    table_pattern: str,
    out_file: str | None = None,
    cfg: ExtractConfig | None = None,
) -> str:
    """The whole pipeline (ExtractHiveDDL.java:34-74): enumerate databases,
    emit per-db header (R18: CREATE DATABASE IF NOT EXISTS + optional USE,
    :101-105 -- emitted for EVERY matched database, even table-less ones,
    matching the reference), then each matching table's section in sorted
    order (deterministic -- improves on the reference's nondeterministic
    interleaving, :109).

    R3 parity: with cfg.progress, matching tables are pre-counted across all
    databases and a "(i/total) db.table" line goes to stderr per table
    (reference pre-count + per-table println, ExtractHiveDDL.java:60-61,129).

    Returns the script text; also writes it to `out_file` when given (R20).
    """
    import sys as _sys

    cfg = cfg or ExtractConfig()
    dbs = list_databases(spark, database_pattern)
    if cfg.refresh_cache:
        for db in dbs:
            refresh_database(spark, db, table_pattern)
    db_tables = {db: list_tables(spark, db, table_pattern) for db in dbs}
    total = sum(len(ts) for ts in db_tables.values())
    done = 0
    out: list[str] = []
    for db in dbs:
        tables = db_tables[db]
        out.append(f"CREATE DATABASE IF NOT EXISTS {db};")
        if cfg.use_context:
            out.append(f"USE {db};")
        out.append("")
        for table in tables:
            section = table_section(spark, db, table, cfg)
            done += 1
            if cfg.progress:
                print(f"({done}/{total}) {db}.{table}", file=_sys.stderr)
            out.extend(section)
    script = "\n".join(out)
    if out_file:
        with open(out_file, "w") as f:
            f.write(script)
    return script
