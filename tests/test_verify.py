"""The shared oracle check (hive_ddl_extract_tool_spark/verify.py) behind its
command-line callers: ``run --check`` and tools/drive_driver.py."""

from __future__ import annotations

import os

import __spark_entry__ as entry
import hive_ddl_extract_tool_spark.operators as operators
from hive_ddl_extract_tool_spark.run import main as run_main


def test_run_check_is_type_sensitive(monkeypatch, sf_dir):
    """An oracle DOUBLE 5.0 is a mismatch for a Spark BIGINT 5: the
    HUGEINT-widening divergence class must fail here, not pass folded."""
    five = lambda spark, sf: spark.sql("SELECT CAST(5 AS BIGINT) AS n")
    monkeypatch.setattr(operators, "all_queries", lambda: {"q_five": five})
    monkeypatch.setattr(operators, "all_oracles",
                        lambda: {"q_five": "SELECT CAST(5 AS DOUBLE) AS n"})
    assert run_main(["q_five", sf_dir, "--check"]) == 1


def test_run_check_reads_a_directory_corpus(spark, sf_dir, tmp_path, capsys):
    """A Spark-written corpus stores each table as a parquet directory;
    the oracle side must read it as one table."""
    from tools.scale import inflate

    dst = str(tmp_path / "k1")
    inflate(spark, sf_dir, dst, 1, tables=("lineitem",))
    assert os.path.isdir(f"{dst}/lineitem.parquet")
    assert run_main(["q01_pricing_summary", dst, "--check"]) == 0
    assert "OK: q01_pricing_summary" in capsys.readouterr().out


def test_drive_driver_prefix_sweep(spark, sf_dir, monkeypatch, capsys):
    """--prefix N sweeps the first N queries in registry order, one status
    line each, prints the PREFIX summary and leaves PARITY.md alone."""
    from tools import drive_driver

    qs = entry.queries()

    def unreachable(spark, sf):
        raise AssertionError("--prefix 2 ran the third query")

    monkeypatch.setattr(entry, "queries", lambda: {
        "q01_pricing_summary": qs["q01_pricing_summary"],
        "q52_zscore_groups": qs["q52_zscore_groups"],
        "q05_distinct_users": unreachable,
    })
    monkeypatch.setattr(drive_driver, "SF", sf_dir)
    parity_md = os.path.join(drive_driver.REPO, "PARITY.md")
    mtime = os.stat(parity_md).st_mtime_ns
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert drive_driver.main(["--prefix", "2"]) == 0
    finally:  # drive_driver's Spark settings must not leak into later tests
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
        spark.sparkContext.setLogLevel("WARN")
    out = capsys.readouterr().out.splitlines()
    assert sum(l.startswith("OK   q01_pricing_summary rows=") for l in out) == 1
    assert sum(l.startswith("ROWS q52_zscore_groups rows=") for l in out) == 1
    assert sum(l.startswith("PREFIX ") and " queries=2 fails=0 " in l for l in out) == 1
    assert os.stat(parity_md).st_mtime_ns == mtime
