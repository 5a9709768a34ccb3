"""Hive DDL extraction -- the reference tool's own capability (SURVEY.md §2A,
R1-R25), rebuilt Spark-first.

The reference (jamthoma/hive-ddl-extract-tool) walks a Hive metastore +
HiveServer2 over Thrift and writes one .sql script that recreates matching
tables on another cluster: CREATE DATABASE / USE / SHOW CREATE TABLE output /
partition restore (MSCK REPAIR or ALTER TABLE ADD PARTITION). Here a single
Hive-enabled SparkSession is both metastore client and SQL executor
(`ExtractHiveDDL.java`'s three RPC paths collapse into the session: its
catalog for names, metadata and partitions, and the SHOW CREATE TABLE
command's rendering, fed the metadata already fetched, for the DDL text;
`spark.sql` only for datasource tables), and the script ordering is
deterministic (the reference interleaves tables nondeterministically via
parallelStream on a shared writer, ExtractHiveDDL.java:109).

Reference parity notes (each function cites the behavior it re-expresses):

- glob database/table enumeration (R1/R2)  ExtractHiveDDL.java:58,141-149:
  the catalog's full listing filtered with StringUtils.filterPattern, the
  filter SHOW DATABASES/TABLES LIKE apply; the pattern is not pushed into
  the metastore, whose matcher reads it differently.
    * deviation: a name SHOW DATABASES would backtick-quote (digits
      only, `123`) is listed as the catalog stores it (123).
- degrade-to-empty on table-list errors .. ExtractHiveDDL.java:146-148
- DDL text (R4) .......................... HiveClient.java:82-92: the
  table's metadata picks the form. Hive-serde tables and views: the text
  SHOW CREATE TABLE ... AS SERDE returns, rendered from the CatalogTable
  the section already holds by the private method its command ends in
  (ShowCreateTableAsSerdeCommand.showCreateHiveTable, see
  get_create_ddl), so the text costs no metastore call; datasource
  tables: one plain SHOW CREATE TABLE statement.
- CREATE TABLE header quoting fixup ...... ExtractHiveDDL.java:154-191
- partition strategy decision table ...... ExtractHiveDDL.java:205-252
    * default partition => MSCK .......... :212-218,233 (README.md:39-41)
    * uppercase rel. path => ADD ......... :219-228,234 (README.md:43-45)
    * both => fatal ...................... :231-232     (README.md:47-49)
- partition name + object scans (R7/R8) .. ExtractHiveDDL.java:199,207: one
  ExternalCatalog.getTable (shared with the DDL text) + one listPartitions
  per table (the reference's listPartitionNames + listPartitions),
  whatever the partition count; names built as SHOW PARTITIONS builds
  them, locations as DESCRIBE prints them. On the Hive catalog, by Spark's
  own count of Hive client calls (HiveCatalogMetrics), a table or view
  costs 1 call and a partitioned table 4 (HiveExternalCatalog's
  listPartitions makes its own getTable + getRawHiveTable); the reference
  makes 4 RPCs per table.
- partition spec formatting k='v',k2='v2'  ExtractHiveDDL.java:263-276
    * deliberate deviation: values are path-unescaped (%XX) and SQL-escaped
      (' and \\), so dt='a:b' replays as 'a:b'; the reference quotes the
      escaped name (a%3Ab) and so creates a different partition.
- USE_ADD_SQL / USE_CONTEXT config ....... ExtractHiveDDL.java:25,29,79-83
- beeline !sh echo progress markers ...... ExtractHiveDDL.java:129,133
- per-table fan-out (R21) ................ serial: a session's catalog calls
  all pass through HiveExternalCatalog.withClient, which is synchronized,
  so the reference's 8-worker pool (ExtractHiveDDL.java:109) would only
  queue on its lock.
- 32767-partition cap .................... removed (was :199,207); Spark's
  listPartitions returns every partition.
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass
from types import SimpleNamespace

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


_PATH_ESCAPE = re.compile(r"%([0-9A-Fa-f]{2})")


def format_partition_spec(name: str) -> str:
    """``k1=v1/k2=v2`` -> ``k1='v1',k2='v2'`` -- every value single-quoted as
    a string, relying on implicit casts (ExtractHiveDDL.java:264-265).

    A partition name carries its values path-escaped (``a:b`` -> ``a%3Ab``,
    ExternalCatalogUtils.escapePathName), so each value is unescaped and
    then SQL-escaped (``\\`` and ``'``) to replay the value itself."""
    specs = []
    for part in name.split("/"):
        key, value = part.split("=", 1)
        value = _PATH_ESCAPE.sub(lambda m: chr(int(m.group(1), 16)), value)
        value = value.replace("\\", "\\\\").replace("'", "\\'")
        specs.append(f"{key}='{value}'")
    return ",".join(specs)


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
    """R1: glob-matched database names, sorted for deterministic output.
    The filter is the one SHOW DATABASES LIKE applies
    (StringUtils.filterPattern over every name), run on the catalog's
    listing; the Hive catalog's listDatabases(pattern) would push the
    pattern into the metastore, which reads it differently (``x_[ab]*``
    matches nothing there)."""
    api = _jvm_api(spark._jvm)
    return sorted(_names(api.filter_pattern(_catalog(spark).listDatabases(), pattern)))


def list_tables(spark: SparkSession, db: str, pattern: str) -> list[str]:
    """R2: glob-matched table names, filtered as SHOW TABLES LIKE filters
    them (not pushed into the metastore, see list_databases); errors
    degrade to an empty list (ExtractHiveDDL.java:146-148). The external
    catalog holds no temp views, and no global temp database."""
    api = _jvm_api(spark._jvm)
    catalog = _catalog(spark)
    try:
        names = catalog.externalCatalog().listTables(catalog.format(db))
        return sorted(_names(api.filter_pattern(names, pattern)))
    except Exception:
        return []


def get_create_ddl(spark: SparkSession, db: str, table: str, meta=None) -> str:
    """R4+R5+R6: fetch SHOW CREATE TABLE text, apply the header fixup, strip
    trailing whitespace, terminate with ';' (HiveClient.java:82-92,
    ExtractHiveDDL.java:154-175). The table's metadata picks the form:
    datasource tables, which `AS SERDE` rejects, get one plain SHOW CREATE
    TABLE statement; Hive-serde tables and views get the `AS SERDE` text
    from ShowCreateTableAsSerdeCommand's private showCreateHiveTable,
    called on ``meta``. The command's public run() is that method preceded
    by SessionCatalog.getTableRawMetadata, three metastore calls
    (databaseExists, tableExists, getTable) that fetch ``meta`` again; the
    private method holds the unsupported-feature check, the view branch
    and the header (named from the command's identifier), so the text is
    the statement's. ``meta`` is the table's CatalogTable when the caller
    has already fetched it."""
    meta = _table_metadata(spark, db, table) if meta is None else meta
    api = _jvm_api(spark._jvm)
    if api.is_datasource_table(meta):
        ddl = spark.sql(f"SHOW CREATE TABLE `{db}`.`{table}`").collect()[0][0]
    else:
        command = api.show_create_as_serde(api.table_identifier(table, api.some(db)), api.no_output)
        ddl = api.show_create_hive_table.invoke(command, api.singleton_list(meta).toArray())
    lines = [fix_create_table(strip_catalog_prefix(line)) for line in ddl.splitlines()]
    return "\n".join(lines).rstrip() + ";"


@functools.cache
def _jvm_api(jvm) -> SimpleNamespace:
    """The JVM classes the catalog scans call, resolved once per gateway:
    every step of a ``jvm.a.b.C`` lookup is a py4j round trip."""
    catalyst = jvm.org.apache.spark.sql.catalyst
    command = jvm.org.apache.spark.sql.execution.command
    params = jvm.java.lang.reflect.Array.newInstance(jvm.java.lang.Class._java_lang_class, 1)
    params[0] = catalyst.catalog.CatalogTable._java_lang_class
    show_create_hive_table = command.ShowCreateTableAsSerdeCommand._java_lang_class.getDeclaredMethod(
        "showCreateHiveTable", params)
    show_create_hive_table.setAccessible(True)
    return SimpleNamespace(
        table_identifier=catalyst.TableIdentifier,
        some=jvm.scala.Some,
        none=jvm.scala.Option.empty(),
        no_output=jvm.org.apache.spark.api.python.PythonUtils.toSeq(jvm.java.util.ArrayList()),
        singleton_list=jvm.java.util.Collections.singletonList,
        filter_pattern=catalyst.util.StringUtils.filterPattern,
        is_datasource_table=command.DDLUtils.isDatasourceTable,
        show_create_as_serde=command.ShowCreateTableAsSerdeCommand,
        show_create_hive_table=show_create_hive_table,
        partition_path_string=catalyst.catalog.ExternalCatalogUtils.getPartitionPathString,
        uri_to_string=catalyst.catalog.CatalogUtils.URIToString,
    )


def _seq(jseq) -> list:
    """A JVM Scala Seq as a Python list."""
    return [jseq.apply(i) for i in range(jseq.length())]


def _names(jseq) -> list[str]:
    """A JVM Seq of names as a Python list, in one round trip (the names
    hold no NUL)."""
    joined = jseq.mkString("\0")
    return joined.split("\0") if joined else []


def _catalog(spark: SparkSession):
    """The session's SessionCatalog (serves both the in-memory and the Hive
    catalog)."""
    return spark._jsparkSession.sessionState().catalog()


def _table_metadata(spark: SparkSession, db: str, table: str):
    """The table's CatalogTable, one call on the external catalog, so
    ``db`` and ``table`` are names as the catalog lists them.
    SessionCatalog.getTableMetadata would first check that the database and
    the table exist, two more metastore round trips."""
    return _catalog(spark).externalCatalog().getTable(db, table)


def _table_path(spark: SparkSession, meta) -> str:
    """The table's location as DESCRIBE FORMATTED prints it ("" for a view)."""
    uri = meta.storage().locationUri()
    return _jvm_api(spark._jvm).uri_to_string(uri.get()) if uri.isDefined() else ""


def get_partitions(
    spark: SparkSession, db: str, table: str, meta=None
) -> list[tuple[str, str]]:
    """R7+R8: (partition-name, location) pairs in sorted name order, from
    one listPartitions call per table (the reference's listPartitionNames +
    listPartitions, ExtractHiveDDL.java:199,207). Names are built as SHOW
    PARTITIONS builds them (``k=v/k2=v2``, each pair
    ExternalCatalogUtils.getPartitionPathString; the one-call
    PartitioningUtils.getPathFragment would cast numeric values, naming
    an MSCK-discovered ``n=002`` ``n=2``); locations as DESCRIBE prints
    them. ``meta`` is the table's CatalogTable when the caller has
    already fetched it. A table with no partition columns -> empty list;
    any other catalog error propagates. No 32767 cap (reference:
    Short.MAX_VALUE, ExtractHiveDDL.java:199)."""
    meta = _table_metadata(spark, db, table) if meta is None else meta
    cols = _seq(meta.partitionColumnNames())
    if not cols:
        return []
    api = _jvm_api(spark._jvm)
    parts = []
    for part in _seq(_catalog(spark).externalCatalog().listPartitions(db, table, api.none)):
        spec = part.spec()
        name = "/".join(api.partition_path_string(c, spec.apply(c)) for c in cols)
        parts.append((name, api.uri_to_string(part.location())))
    return sorted(parts)


def get_table_location(spark: SparkSession, db: str, table: str) -> str:
    return _table_path(spark, _table_metadata(spark, db, table))


# --------------------------------------------------------------------------
# Per-table section + whole-script assembly
# --------------------------------------------------------------------------

def partition_restore_sql(
    spark: SparkSession, db: str, table: str, cfg: ExtractConfig, meta=None
) -> list[str]:
    """R9-R17: the partition-restore block for one table. The table's
    metadata (``meta`` when the caller has it) serves both its partitions
    and its path."""
    meta = _table_metadata(spark, db, table) if meta is None else meta
    parts = get_partitions(spark, db, table, meta)
    if not parts:
        return []  # R9: empty short-circuit (ExtractHiveDDL.java:200-203)
    table_path = _table_path(spark, meta)
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
    (ExtractHiveDDL.java:118-136). The table's metadata is fetched once,
    for its CREATE text and its partition block."""
    meta = _table_metadata(spark, db, table)
    lines = [
        "-- ------------------------------------------------------------------",
        f"-- Table: {db}.{table}",
        "-- ------------------------------------------------------------------",
    ]
    if cfg.beeline_markers:
        lines.append(f'!sh echo "Creating table: {table}...";')
    lines.append(get_create_ddl(spark, db, table, meta))
    partition_lines = partition_restore_sql(spark, db, table, cfg, meta)
    if partition_lines:
        if cfg.beeline_markers:
            lines.append(f'!sh echo "Creating partitions for table: {table}...";')
        lines.extend(partition_lines)
    lines.append("")
    return lines


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
