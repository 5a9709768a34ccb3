"""Catalog/DDL extraction pipeline tests (SURVEY.md §2A / X16, FIXTURES.md §2).

The pure transforms get exhaustive unit tests (they ARE the reference's
semantics: header fixup, spec formatting, the 4-way strategy decision table
incl. the fatal combination). The pipeline tests create fixture tables in
Spark's catalog and compare the emitted script structure.
"""

from __future__ import annotations

from unittest import mock

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.errors import AnalysisException

from hive_ddl_extract_tool_spark.catalog.extractor import (
    DefaultPartitionConflictError,
    ExtractConfig,
    add_partition_sql,
    choose_partition_strategy,
    extract_ddl,
    fix_create_table,
    format_partition_spec,
    get_create_ddl,
    get_partitions,
    get_table_location,
    list_databases,
    list_tables,
    msck_sql,
    partition_restore_sql,
)
from tools.catalog_parity import (
    LISTING_PATTERNS,
    sql_path_databases,
    sql_path_ddl,
    sql_path_tables,
)

# --------------------------------------------------------------------------
# Pure transforms
# --------------------------------------------------------------------------

def test_fix_create_table_rewrites_hive_style_header():
    # Hive's SHOW CREATE TABLE `db.t` output (single backtick pair)
    assert fix_create_table("CREATE TABLE `mydb.myt`(") == "CREATE TABLE `mydb`.`myt`("
    assert (
        fix_create_table("CREATE EXTERNAL TABLE `mydb.myt`(")
        == "CREATE EXTERNAL TABLE `mydb`.`myt`("
    )


def test_fix_create_table_identity_cases():
    # already correctly quoted -> unchanged
    assert fix_create_table("CREATE TABLE `mydb`.`myt`(") == "CREATE TABLE `mydb`.`myt`("
    # no dot inside the first quoted part -> unchanged
    assert fix_create_table("CREATE TABLE `myt`(") == "CREATE TABLE `myt`("
    # non-header lines -> unchanged
    assert fix_create_table("  `col` string,") == "  `col` string,"


def test_format_partition_spec():
    assert format_partition_spec("dt=2024-01-01") == "dt='2024-01-01'"
    assert format_partition_spec("dt=2024-01-01/region=emea") == "dt='2024-01-01',region='emea'"
    # values containing '=' keep everything after the first '='
    assert format_partition_spec("k=a=b") == "k='a=b'"
    # names carry path-escaped values (%XX); the spec replays the value itself
    assert format_partition_spec("dt=a%3Ab") == "dt='a:b'"
    assert format_partition_spec("dt=a%2Fb/n=1") == "dt='a/b',n='1'"
    assert format_partition_spec("dt=100%25") == "dt='100%'"
    assert format_partition_spec("dt=%2541") == "dt='%41'"  # unescaped once
    # quote and backslash are SQL-escaped inside the literal
    assert format_partition_spec("dt=it%27s") == "dt='it\\'s'"
    assert format_partition_spec("dt=a%5Cb") == "dt='a\\\\b'"


def test_strategy_decision_table():
    # (has_default, has_upper) x use_add_sql -> expected (True = ADD PARTITION)
    assert choose_partition_strategy(False, False, use_add_sql=False) is False
    assert choose_partition_strategy(False, False, use_add_sql=True) is True
    assert choose_partition_strategy(True, False, use_add_sql=True) is False   # default forces MSCK
    assert choose_partition_strategy(False, True, use_add_sql=False) is True   # upper forces ADD
    with pytest.raises(DefaultPartitionConflictError):
        choose_partition_strategy(True, True, use_add_sql=False)


def test_sql_emission_context_variants():
    assert msck_sql("db1", "t1", use_context=True) == "MSCK REPAIR TABLE t1;"
    assert msck_sql("db1", "t1", use_context=False) == "MSCK REPAIR TABLE db1.t1;"
    add_rel = add_partition_sql("db1", "t1", "/wh/t1", "dt=a/r=b", "/wh/t1/dt=a/r=b", True)
    assert add_rel == 'ALTER TABLE t1 ADD PARTITION (dt=\'a\',r=\'b\') LOCATION "dt=a/r=b";'
    add_abs = add_partition_sql("db1", "t1", "/wh/t1", "dt=a/r=b", "/wh/t1/dt=a/r=b", False)
    assert add_abs == 'ALTER TABLE db1.t1 ADD PARTITION (dt=\'a\',r=\'b\') LOCATION "/wh/t1/dt=a/r=b";'


# --------------------------------------------------------------------------
# Pipeline against a live catalog (fixture tables per FIXTURES.md §2)
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def ddl_fixtures(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("ddl_fixtures")
    spark.sql("CREATE DATABASE IF NOT EXISTS ddl_db1")
    spark.sql("CREATE DATABASE IF NOT EXISTS ddl_db2")
    spark.sql("""CREATE TABLE ddl_db1.plain_t (id INT, name STRING, score DOUBLE)
                 USING parquet""")
    spark.sql("""CREATE TABLE ddl_db1.part_lower (v INT, dt STRING, region STRING)
                 USING parquet PARTITIONED BY (dt, region)""")
    spark.sql("INSERT INTO ddl_db1.part_lower PARTITION (dt='2024-01-01', region='emea') VALUES (1)")
    spark.sql("INSERT INTO ddl_db1.part_lower PARTITION (dt='2024-01-01', region='apac') VALUES (2)")
    spark.sql("INSERT INTO ddl_db1.part_lower PARTITION (dt='2024-01-02', region='emea') VALUES (3)")
    spark.sql("""CREATE TABLE ddl_db1.part_upper (v INT, dt STRING)
                 USING parquet PARTITIONED BY (dt)""")
    spark.sql("INSERT INTO ddl_db1.part_upper PARTITION (dt='a') VALUES (1)")
    spark.sql(
        f"ALTER TABLE ddl_db1.part_upper ADD PARTITION (dt='b') LOCATION '{base}/UPPER_LOC'"
    )
    spark.sql("""CREATE TABLE ddl_db1.part_default (v INT, dt STRING)
                 USING parquet PARTITIONED BY (dt)""")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    spark.sql("INSERT INTO ddl_db1.part_default PARTITION (dt) SELECT 1, 'x'")
    spark.sql("INSERT INTO ddl_db1.part_default PARTITION (dt) SELECT 2, CAST(NULL AS STRING)")
    spark.sql("""CREATE TABLE ddl_db1.part_conflict (v INT, dt STRING)
                 USING parquet PARTITIONED BY (dt)""")
    spark.sql("INSERT INTO ddl_db1.part_conflict PARTITION (dt) SELECT 1, CAST(NULL AS STRING)")
    spark.sql(
        f"ALTER TABLE ddl_db1.part_conflict ADD PARTITION (dt='c') LOCATION '{base}/UPPER_TOO'"
    )
    # mixed-case partition columns, one value the path escapes (a:b)
    spark.sql("""CREATE TABLE ddl_db1.part_mixed (v INT, DT STRING, Region STRING)
                 USING parquet PARTITIONED BY (DT, Region)""")
    spark.sql("INSERT INTO ddl_db1.part_mixed PARTITION (DT='a:b', Region='emea') VALUES (1)")
    spark.sql("INSERT INTO ddl_db1.part_mixed PARTITION (DT='c', Region='apac') VALUES (2)")
    for t in ("sales_2023", "sales_2024", "inv_2024"):
        spark.sql(f"CREATE TABLE ddl_db1.{t} (id INT) USING parquet")
    spark.sql("CREATE TABLE ddl_db2.other_t (id INT) USING parquet")
    yield
    spark.sql("DROP DATABASE ddl_db1 CASCADE")
    spark.sql("DROP DATABASE ddl_db2 CASCADE")


def test_list_databases_and_tables(spark, ddl_fixtures):
    assert list_databases(spark, "ddl_db*") == ["ddl_db1", "ddl_db2"]
    assert list_tables(spark, "ddl_db1", "sales_*") == ["sales_2023", "sales_2024"]
    assert list_tables(spark, "ddl_db1", "*") == sorted(
        ["plain_t", "part_lower", "part_upper", "part_default", "part_conflict",
         "part_mixed", "sales_2023", "sales_2024", "inv_2024"]
    )
    # degrade-to-empty on a missing database (ExtractHiveDDL.java:146-148)
    assert list_tables(spark, "no_such_db", "*") == []


def test_partition_enumeration(spark, ddl_fixtures):
    parts = get_partitions(spark, "ddl_db1", "part_lower")
    assert [name for name, _ in parts] == [
        "dt=2024-01-01/region=apac",
        "dt=2024-01-01/region=emea",
        "dt=2024-01-02/region=emea",
    ]
    assert all(loc for _, loc in parts)
    assert get_partitions(spark, "ddl_db1", "plain_t") == []


def test_partition_listing_errors_propagate(spark, ddl_fixtures):
    """Only a table without partition columns lists as empty; a failed
    catalog call must not turn into a table emitted without its restore."""
    with pytest.raises(AnalysisException):
        get_partitions(spark, "ddl_db1", "no_such_table")
    with pytest.raises(AnalysisException):
        partition_restore_sql(spark, "ddl_db1", "no_such_table", ExtractConfig())


def _describe_location(spark, target: str) -> str:
    rows = spark.sql(f"DESCRIBE FORMATTED {target}").collect()
    return next((r["data_type"] for r in rows if r["col_name"] == "Location"), "")


def _sql_path_partitions(spark, db: str, table: str, specs=None) -> list[tuple[str, str]]:
    """(name, location) pairs read through SQL: SHOW PARTITIONS names, each
    partition's DESCRIBE FORMATTED Location. ``specs`` maps a name to its
    true PARTITION spec where format_partition_spec is not the oracle."""
    t = f"`{db}`.`{table}`"
    try:
        names = sorted(r[0] for r in spark.sql(f"SHOW PARTITIONS {t}").collect())
    except AnalysisException:
        return []  # not partitioned
    specs = specs or {}
    return [
        (n, _describe_location(spark, f"{t} PARTITION ({specs.get(n) or format_partition_spec(n)})"))
        for n in names
    ]


def test_bulk_listing_matches_sql_path(spark, ddl_fixtures):
    tables = [("ddl_db1", t) for t in list_tables(spark, "ddl_db1", "*")] + [("ddl_db2", "other_t")]
    for db, table in tables:
        assert get_partitions(spark, db, table) == _sql_path_partitions(spark, db, table), table
        assert get_table_location(spark, db, table) == _describe_location(spark, f"`{db}`.`{table}`")


def test_partition_names_keep_numeric_values_as_stored(spark, tmp_path):
    """MSCK takes a numeric column's value from the directory name as is
    (n=002), and SHOW PARTITIONS names the partition with it. (No SQL can
    address that partition: a spec casts '002' to 2, so the bulk-listing
    oracle above cannot describe it.) PartitioningUtils.getPathFragment
    would name it n=2: it casts numeric values."""
    spark.sql("CREATE DATABASE ddl_num")
    try:
        spark.sql(f"""CREATE TABLE ddl_num.t (v INT, n INT) USING parquet
                      PARTITIONED BY (n) LOCATION '{tmp_path}/t'""")
        spark.sql("INSERT INTO ddl_num.t PARTITION (n=7) VALUES (1)")
        (tmp_path / "t" / "n=002").mkdir()
        spark.sql("MSCK REPAIR TABLE ddl_num.t")
        parts = get_partitions(spark, "ddl_num", "t")
        shown = [r[0] for r in spark.sql("SHOW PARTITIONS ddl_num.t").collect()]
        assert [name for name, _ in parts] == shown
        assert parts[0][0] == "n=002" and parts[0][1].endswith("/t/n=002")
    finally:
        spark.sql("DROP DATABASE ddl_num CASCADE")


@pytest.fixture(scope="module")
def escape_tables(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS ddl_esc")
    for t in ("src", "dst"):
        spark.sql(f"CREATE TABLE ddl_esc.{t} (v INT, dt STRING) USING parquet PARTITIONED BY (dt)")
    yield
    spark.sql("DROP DATABASE ddl_esc CASCADE")


@settings(max_examples=25, deadline=None)
@example(value="a:b")
@example(value="it's a \\ %41")
@given(value=st.text(alphabet="ab:/%=' #\\\"?*[]^{", min_size=1, max_size=8))
def test_escaped_partition_values_list_and_replay(spark, escape_tables, value):
    """Values that need path escaping: the bulk listing agrees with SHOW
    PARTITIONS + DESCRIBE, and the ADD PARTITION line replays the same
    partition (a spec built from the escaped name would create a new one)."""
    spec = "dt='{}'".format(value.replace("\\", "\\\\").replace("'", "\\'"))
    spark.sql(f"ALTER TABLE ddl_esc.src ADD PARTITION ({spec})")
    try:
        parts = get_partitions(spark, "ddl_esc", "src")
        [(name, _)] = parts
        assert parts == _sql_path_partitions(spark, "ddl_esc", "src", {name: spec})
        assert format_partition_spec(name) == spec
        [add] = partition_restore_sql(spark, "ddl_esc", "src", ExtractConfig(use_add_sql=True))
        spark.sql(add.rstrip(";").replace("ALTER TABLE src ", "ALTER TABLE ddl_esc.dst ", 1))
        assert partition_restore_sql(spark, "ddl_esc", "dst", ExtractConfig(use_add_sql=True)) == [
            add.replace("ALTER TABLE src ", "ALTER TABLE dst ", 1)
        ]
    finally:
        for t in ("src", "dst"):
            spark.sql(f"ALTER TABLE ddl_esc.{t} DROP IF EXISTS PARTITION ({spec})")


def test_extract_statement_budget(spark, ddl_fixtures):
    """Every fixture table is a datasource table, so its one statement is a
    plain SHOW CREATE TABLE: the metadata says up front that AS SERDE does
    not apply. Names, metadata and partitions are catalog calls, so nothing
    else is issued -- no SHOW DATABASES/TABLES, and the count does not grow
    with the partition count (part_lower has 3 partitions, part_upper 2,
    plain_t none)."""
    issued = []
    orig = spark.sql

    def recording_sql(q, *a, **k):
        issued.append(q)
        return orig(q, *a, **k)

    for table in ("part_lower", "part_upper", "plain_t"):
        issued.clear()
        with mock.patch.object(spark, "sql", side_effect=recording_sql):
            extract_ddl(spark, "ddl_db1", table, None, ExtractConfig())
        assert issued == [f"SHOW CREATE TABLE `ddl_db1`.`{table}`"], issued
    issued.clear()
    with mock.patch.object(spark, "sql", side_effect=recording_sql):
        extract_ddl(spark, "ddl_db*", "plain_t|sales_*|other_t", None, ExtractConfig())
    assert issued == [
        f"SHOW CREATE TABLE `{db}`.`{t}`"
        for db, t in [("ddl_db1", "plain_t"), ("ddl_db1", "sales_2023"),
                      ("ddl_db1", "sales_2024"), ("ddl_db2", "other_t")]
    ], issued


def test_show_create_matches_sql_path(spark, ddl_fixtures):
    """get_create_ddl picks its path from the table's metadata; the text
    equals the SQL path's (AS SERDE, else the plain form) for every fixture
    table and a view (which takes the AS SERDE command)."""
    spark.sql("CREATE VIEW ddl_db2.v_other AS SELECT id FROM ddl_db2.other_t")
    try:
        tables = [(db, t) for db in ("ddl_db1", "ddl_db2") for t in list_tables(spark, db, "*")]
        assert ("ddl_db2", "v_other") in tables
        for db, table in tables:
            assert get_create_ddl(spark, db, table) == sql_path_ddl(spark, db, table), table
    finally:
        spark.sql("DROP VIEW ddl_db2.v_other")


@pytest.fixture(scope="module")
def listing_fixtures(spark):
    names = ["x_a1", "x_b2", "x_c3", "xa", "a", "b", "ab"]
    for name in names:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")
        spark.sql(f"CREATE TABLE IF NOT EXISTS x_a1.{name} (i INT) USING parquet")
    spark.range(1).createOrReplaceTempView("x_a9")
    yield
    spark.catalog.dropTempView("x_a9")
    for name in names:
        spark.sql(f"DROP DATABASE {name} CASCADE")


@pytest.mark.parametrize("pattern", LISTING_PATTERNS)
def test_listing_matches_show_like(spark, listing_fixtures, pattern):
    """list_databases/list_tables filter as SHOW DATABASES/TABLES LIKE do,
    and leave out temp views (x_a9), which SHOW TABLES lists as temporary."""
    assert list_databases(spark, pattern) == sql_path_databases(spark, pattern)
    assert list_tables(spark, "x_a1", pattern) == sql_path_tables(spark, "x_a1", pattern)
    assert "x_a9" not in list_tables(spark, "x_a1", pattern)


def test_listing_excludes_temp_views(spark, listing_fixtures):
    """The parity above is not vacuous: SHOW TABLES lists the temp view,
    and the character class and the empty branch select."""
    shown = spark.sql("SHOW TABLES IN x_a1 LIKE 'x_*'").collect()
    assert ("x_a9", True) in [(r["tableName"], r["isTemporary"]) for r in shown]
    assert list_tables(spark, "x_a1", "x_*") == ["x_a1", "x_b2", "x_c3"]
    assert list_tables(spark, "x_a1", "x_[ab]*") == ["x_a1", "x_b2"]
    assert list_databases(spark, "x_[ab]*") == ["x_a1", "x_b2"]
    assert list_databases(spark, "a||b") == ["a", "b"]


def test_strategy_lower_default_msck(spark, ddl_fixtures):
    cfg = ExtractConfig(use_add_sql=False)
    assert partition_restore_sql(spark, "ddl_db1", "part_lower", cfg) == [
        "MSCK REPAIR TABLE part_lower;"
    ]


def test_strategy_add_partition_lines(spark, ddl_fixtures):
    cfg = ExtractConfig(use_add_sql=True)
    lines = partition_restore_sql(spark, "ddl_db1", "part_lower", cfg)
    assert len(lines) == 3
    assert lines[0].startswith(
        "ALTER TABLE part_lower ADD PARTITION (dt='2024-01-01',region='apac') LOCATION"
    )
    # relative location under USE_CONTEXT
    assert '"dt=2024-01-01/region=apac"' in lines[0]


def test_strategy_uppercase_forces_add(spark, ddl_fixtures):
    cfg = ExtractConfig(use_add_sql=False)  # MSCK default, but upper path wins
    lines = partition_restore_sql(spark, "ddl_db1", "part_upper", cfg)
    assert len(lines) == 2
    assert all("ADD PARTITION" in line for line in lines)
    assert any("UPPER_LOC" in line for line in lines)


def test_strategy_default_partition_forces_msck(spark, ddl_fixtures):
    cfg = ExtractConfig(use_add_sql=True)  # ADD requested, but default wins
    lines = partition_restore_sql(spark, "ddl_db1", "part_default", cfg)
    assert lines == ["MSCK REPAIR TABLE part_default;"]


def test_conflict_is_fatal(spark, ddl_fixtures):
    with pytest.raises(DefaultPartitionConflictError):
        partition_restore_sql(spark, "ddl_db1", "part_conflict", ExtractConfig())


def test_full_script_structure_and_determinism(spark, ddl_fixtures, tmp_path):
    cfg = ExtractConfig(use_add_sql=False, use_context=True, beeline_markers=True)
    out = tmp_path / "out.sql"
    script = extract_ddl(spark, "ddl_db2", "*", str(out), cfg)
    assert script == out.read_text()
    lines = script.splitlines()
    assert lines[0] == "CREATE DATABASE IF NOT EXISTS ddl_db2;"
    assert lines[1] == "USE ddl_db2;"
    assert '!sh echo "Creating table: other_t...";' in lines
    assert any(line.startswith("CREATE TABLE") and "other_t" in line for line in lines)
    assert script.rstrip().endswith(";")
    # deterministic (reference interleaved nondeterministically, :109)
    assert extract_ddl(spark, "ddl_db2", "*", None, cfg) == script


def test_full_script_patterns_and_partitions(spark, ddl_fixtures):
    cfg = ExtractConfig(use_add_sql=False, use_context=False)
    script = extract_ddl(spark, "ddl_db1", "part_lower|part_upper|part_default", None, cfg)
    # qualified names without USE under use_context=False
    assert "USE ddl_db1;" not in script
    assert "MSCK REPAIR TABLE ddl_db1.part_lower;" in script
    assert "MSCK REPAIR TABLE ddl_db1.part_default;" in script
    # uppercase table: ADD PARTITION with absolute locations
    assert "ALTER TABLE ddl_db1.part_upper ADD PARTITION (dt='b')" in script
    # conflict table raises through the pipeline
    with pytest.raises(DefaultPartitionConflictError):
        extract_ddl(spark, "ddl_db1", "part_conflict", None, cfg)


def test_roundtrip_recreate(spark, ddl_fixtures):
    """The emitted CREATE TABLE actually recreates the table (script is
    executable on Spark itself -- the cross-cluster migration use case)."""
    from hive_ddl_extract_tool_spark.catalog.extractor import get_create_ddl

    ddl = get_create_ddl(spark, "ddl_db1", "plain_t")
    spark.sql("CREATE DATABASE IF NOT EXISTS ddl_rt")
    try:
        recreated = ddl.rstrip(";").replace("ddl_db1", "ddl_rt", 1)
        spark.sql(recreated)
        src = spark.table("ddl_db1.plain_t").schema
        dst = spark.table("ddl_rt.plain_t").schema
        assert [f.name for f in src] == [f.name for f in dst]
        assert [f.dataType for f in src] == [f.dataType for f in dst]
    finally:
        spark.sql("DROP DATABASE ddl_rt CASCADE")


def test_relative_location_strips_leading_prefix_only():
    from hive_ddl_extract_tool_spark.catalog.extractor import relative_location

    assert relative_location("/wh/t/dt=a", "/wh/t") == "dt=a"
    assert relative_location("/wh/t/dt=a", "/wh/t/") == "dt=a"
    # partition outside the table path stays absolute
    assert relative_location("/elsewhere/dt=a", "/wh/t") == "/elsewhere/dt=a"
    # embedded occurrence of the prefix is NOT removed (reference's
    # replace-all would mangle this)
    assert relative_location("/wh/t/backup//wh/t/dt=a", "/wh/t") == "backup//wh/t/dt=a"


def test_empty_database_still_emits_header(spark, tmp_path):
    """Reference parity: CREATE DATABASE IF NOT EXISTS is emitted for every
    matched database even when no table matches (ExtractHiveDDL.java:101)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS ddl_empty_db")
    try:
        script = extract_ddl(spark, "ddl_empty_db", "*", None, ExtractConfig())
        assert "CREATE DATABASE IF NOT EXISTS ddl_empty_db;" in script
        assert "CREATE TABLE" not in script
    finally:
        spark.sql("DROP DATABASE ddl_empty_db CASCADE")


def test_progress_lines(spark, ddl_fixtures, capsys):
    """R3 parity: cfg.progress pre-counts matching tables and emits one
    '(i/total) db.table' line per table (ExtractHiveDDL.java:60-61,129)."""
    cfg = ExtractConfig(progress=True)
    extract_ddl(spark, "ddl_db1", "sales_*", None, cfg)
    err = capsys.readouterr().err
    assert "(1/2) ddl_db1.sales_2023" in err
    assert "(2/2) ddl_db1.sales_2024" in err


def test_cli_contract(spark, ddl_fixtures, tmp_path):
    """Reference CLI parity: exactly 3 args or non-zero exit
    (ExtractHiveDDL.java:36-45); success writes the script file."""
    from hive_ddl_extract_tool_spark.catalog.cli import main

    assert main([]) == 1
    assert main(["a", "b"]) == 1
    out = str(tmp_path / "cli_out.sql")
    assert main(["ddl_db2", "*", out]) == 0
    text = open(out).read()
    assert "CREATE DATABASE IF NOT EXISTS ddl_db2;" in text
    assert "other_t" in text


# --------------------------------------------------------------------------
# Second-dialect DDL round-trip (skip-gated: lakehouse jars not in this image)
# --------------------------------------------------------------------------

@pytest.mark.parametrize("fmt,provider", [("delta", "delta"), ("iceberg", "iceberg")])
def test_lakehouse_ddl_roundtrip(spark, tmp_path, fmt, provider):
    """When a lakehouse connector is on the classpath, the extractor's
    SHOW CREATE TABLE path must round-trip a table created with that
    provider (second DDL dialect beyond Hive/Spark parquet). Skipped when
    the jars are absent (this image ships none -- the probe is authoritative,
    see test_sources.py)."""
    from hive_ddl_extract_tool_spark.sources.io import optional_format

    if not optional_format(spark, fmt):
        pytest.skip(f"{fmt} connector not on the classpath")
    db = f"lh_{fmt}_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    try:
        spark.sql(
            f"CREATE TABLE {db}.t (id BIGINT, v STRING) USING {provider} "
            f"LOCATION '{tmp_path}/t'"
        )
        ddl = spark.sql(f"SHOW CREATE TABLE {db}.t").collect()[0][0]
        assert provider in ddl.lower()
        assert "id" in ddl and "v" in ddl
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_analyze_table_feeds_cbo_statistics(spark, sf_dir):
    """ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS]: the catalog-side
    statistics pipeline the CBO reads (the managed-table analogue of what
    q174/q177 compute in-query). Verifies the stats round-trip: table
    rowCount matches the actual count, and the column stats carry the true
    min/max/null-count for doc_id -- so a CBO decision made from them is
    made from the truth."""
    from pyspark.sql import functions as F

    from hive_ddl_extract_tool_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    spark.sql("DROP TABLE IF EXISTS stats_probe")
    try:
        docs.write.saveAsTable("stats_probe")
        spark.sql("ANALYZE TABLE stats_probe COMPUTE STATISTICS FOR COLUMNS doc_id")
        desc = {r["col_name"]: r["data_type"] for r in spark.sql("DESC EXTENDED stats_probe").collect()}
        assert f"{n} rows" in desc["Statistics"], desc["Statistics"]
        col = {r["info_name"]: r["info_value"] for r in spark.sql("DESC EXTENDED stats_probe doc_id").collect()}
        assert col["min"] == str(lo) and col["max"] == str(hi), col
        assert col["num_nulls"] == "0", col
        # the optimizer actually SEES the stats: with CBO on, the optimized
        # plan's row count equals the analyzed count (without cbo.enabled
        # the plan only carries sizeInBytes -- rowCount stays None)
        prev = spark.conf.get("spark.sql.cbo.enabled")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            stats = spark.table("stats_probe")._jdf.queryExecution().optimizedPlan().stats()
            assert stats.rowCount().get() == n
        finally:
            spark.conf.set("spark.sql.cbo.enabled", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS stats_probe")
