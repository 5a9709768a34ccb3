"""Simulate the driver's verify at sf0.01 through __spark_entry__ only.

    python tools/drive_driver.py               # full sweep, rewrites PARITY.md
    python tools/drive_driver.py --prefix 50   # the first 50 in sweep order only

Every query with an oracle goes through the shared oracle check
(hive_ddl_extract_tool_spark/verify.py), whose TYPE-SENSITIVE canon makes a
DuckDB HUGEINT->float64 style widening a guaranteed local FAIL.

The full sweep runs entry(spark), every queries() entry in name order and
the §2A catalog fixpoint, and records PARITY.md: the exact duckdb version,
parquet physical types and per-query status, so a driver-sweep discrepancy
can be diffed against what this environment saw.

``--prefix N`` runs only the first N queries of queries() and writes
nothing. The external driver sweeps queries() in that order under a
wall-clock budget (~200 s has historically yielded ~50 rows), so its
PREFIX line is the measured cost of the sweep order generated from the
CORRECTNESS history (operators.sweep_order).

The corpus is $SPARK_GRAFT_VERIFY_SF_DIR (default: the sf0.01 testdata).
"""
import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import duckdb
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

import __spark_entry__ as e
from hive_ddl_extract_tool_spark.tables import TABLES
from hive_ddl_extract_tool_spark.verify import compare, register_views

SF = os.environ.get("SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01")


def sweep(spark, sf_dir, names):
    """Run each named query, and its oracle if it has one, printing one
    OK/FAIL/ROWS line each. Returns (PARITY.md lines, [(name, s)], fails)."""
    qs, oracles = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    register_views(con, sf_dir)
    lines, timings, fails = [], [], 0
    for name in names:
        t0 = time.time()
        sdf = qs[name](spark, sf_dir)
        scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
        dt = time.time() - t0
        timings.append((name, dt))
        status = "ROWS"
        if name in oracles:
            rel = con.sql(oracles[name])
            status = "OK" if compare(scols, srows, list(rel.columns), rel.fetchall()) else "FAIL"
            fails += status == "FAIL"
        print(f"{status:<4} {name} rows={len(srows)} ({dt:.1f}s)")
        lines.append(f"- {status} {name} rows={len(srows)}")
    con.close()
    return lines, timings, fails


def profile(timings):
    """Total seconds and the ten heaviest queries: the round-over-round
    regression signal BASELINE.md's "Full-sweep series" table tracks (a
    staging cache that stops hitting shows up here long before it hurts
    the sf0.1 headline bench)."""
    heavy = sorted(timings, key=lambda x: -x[1])[:10]
    return sum(t for _, t in timings), ", ".join(f"{n} {t:.1f}s" for n, t in heavy)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--prefix", type=int, metavar="N",
                    help="sweep only the first N queries in registry order; write nothing")
    args = ap.parse_args(argv)

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    if args.prefix is not None:
        _, timings, fails = sweep(spark, SF, list(e.queries())[: args.prefix])
        total, heavy = profile(timings)
        print(f"PREFIX total={total:.1f}s queries={len(timings)} fails={fails} heaviest: {heavy}")
        return 1 if fails else 0

    df = e.entry(spark)
    rows = df.collect()
    print("ENTRY", len(rows), df.schema.simpleString())

    parity = [f"# PARITY — local verify environment\n",
              f"- duckdb {duckdb.__version__}; python {sys.version.split()[0]}; "
              f"spark {spark.version}; sf_dir {SF}",
              "\n## Parquet physical schema at verify time\n"]
    for t in TABLES:
        s = pq.read_schema(f"{SF}/{t}.parquet")
        cols = ", ".join(f"{f.name}:{f.type}" for f in s)
        parity.append(f"- **{t}**: {cols}")
    parity.append("\n## Per-query (type-strict canon)\n")

    lines, timings, fails = sweep(spark, SF, sorted(e.queries()))
    parity += lines
    print("FAILS:", fails)
    total, heavy = profile(timings)
    print(f"SWEEP total={total:.1f}s queries={len(timings)} heaviest: {heavy}")
    parity.append(f"Sweep profile: {len(timings)} queries, {total:.1f} s total; "
                  f"heaviest: {heavy}\n")

    # §2A per-round evidence: the catalog extraction migration fixpoint
    # against a real Derby metastore, so the reference's own capability
    # gets a dated parity row every sweep, not just a pytest green.
    from tools.catalog_parity import run_fixpoint

    try:
        cat = run_fixpoint()
    except Exception as exc:  # a hung/killed Derby subprocess must not cost the sweep's parity evidence
        cat = {"ok": False, "sec": -1.0,
               "line": f"FAIL §2A catalog fixpoint ({type(exc).__name__}: {exc})"}
    print(f"{cat['line']} ({cat['sec']}s)")
    parity.append("## §2A catalog fixpoint\n")
    parity.append(f"- {cat['line']} ({cat['sec']}s)\n")
    fails += 0 if cat["ok"] else 1

    # The recorded FAILS is the COMBINED total (sweep + §2A), appended only
    # after both gates have run.
    parity.append(f"FAILS: {fails}\n")

    with open(os.path.join(REPO, "PARITY.md"), "w") as f:
        f.write("\n".join(parity))
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
