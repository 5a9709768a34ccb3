"""Simulate the driver's verify at sf0.01 through __spark_entry__ only.

Stricter than the driver is believed to be: the canonicalization is
TYPE-SENSITIVE (a Python float never folds into an int, so a DuckDB
HUGEINT->float64 style widening on one side is a guaranteed local FAIL —
the round-4 driver-only divergence class reproduces here by construction).
Also records PARITY.md: the exact duckdb version, parquet physical types,
and per-query status, so a driver-sweep discrepancy can be diffed against
what this environment saw.
"""
import sys, time, glob, os
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import duckdb
import pyarrow.parquet as pq
import __spark_entry__ as e
from pyspark.sql import SparkSession
from tools.verify_lib import TABLES, canon, hash_rows, register_views

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

df = e.entry(spark)
rows = df.collect()
print("ENTRY", len(rows), df.schema.simpleString())

SF = os.environ.get("SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01")
con = duckdb.connect()
register_views(con, SF)


# canon/hash_rows live in tools/verify_lib.py, shared with the 10x-corpus
# oracle gate (tools/scale.py oracle) so the two compares cannot drift.

parity = [f"# PARITY — local verify environment\n",
          f"- duckdb {duckdb.__version__}; python {sys.version.split()[0]}; "
          f"spark {spark.version}; sf_dir {SF}",
          "\n## Parquet physical schema at verify time\n"]
for t in TABLES:
    s = pq.read_schema(f"{SF}/{t}.parquet")
    cols = ", ".join(f"{f.name}:{f.type}" for f in s)
    parity.append(f"- **{t}**: {cols}")
parity.append("\n## Per-query (type-strict canon)\n")

qs, os_ = e.queries(), e.oracle_sql()
fails = 0
timings = []
for name in sorted(qs):
    t0 = time.time()
    sdf = qs[name](spark, SF)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    dt = time.time() - t0
    timings.append((name, dt))
    if name in os_:
        rel = con.sql(os_[name]); ocols, orows = list(rel.columns), rel.fetchall()
        ok = (sorted(scols)==sorted(ocols) and len(srows)==len(orows)
              and hash_rows(scols,srows)==hash_rows(ocols,orows))
        print(f"{'OK  ' if ok else 'FAIL'} {name} rows={len(srows)} ({dt:.1f}s)")
        parity.append(f"- {'OK' if ok else 'FAIL'} {name} rows={len(srows)}")
        fails += 0 if ok else 1
    else:
        print(f"ROWS {name} rows={len(srows)} ({dt:.1f}s)")
        parity.append(f"- ROWS {name} rows={len(srows)}")
print("FAILS:", fails)

# Sweep profile: the round-over-round regression signal BASELINE.md's
# "Full-sweep series" table tracks (a staging cache that stops hitting
# shows up here long before it hurts the sf0.1 headline bench).
total = sum(t for _, t in timings)
heavy = sorted(timings, key=lambda x: -x[1])[:10]
heavy_s = ", ".join(f"{n} {t:.1f}s" for n, t in heavy)
print(f"SWEEP total={total:.1f}s queries={len(timings)} heaviest: {heavy_s}")
parity.append(f"Sweep profile: {len(timings)} queries, {total:.1f} s total; "
              f"heaviest: {heavy_s}\n")

# §2A per-round evidence (round-8 verdict, Next item 4): the catalog
# extraction migration fixpoint against a real Derby metastore, so the
# reference's own capability gets a dated parity row every round, not
# just a pytest green that never rotates.
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
# after both gates have run -- writing it mid-stream understated a §2A
# failure (the exit code flipped but the recorded count stayed 0).
parity.append(f"FAILS: {fails}\n")

with open(os.path.join(REPO, "PARITY.md"), "w") as f:
    f.write("\n".join(parity))
sys.exit(1 if fails else 0)
