#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q01_...": sec, ...}, "sf": 0.1}

Each query is timed action-to-action (trigger the full plan with a count on
the result), session warm. Set BENCH_QUERIES=q01_...,q02_... to subset;
BENCH_ALL=1 to run every registered query instead of the headline set.

r16 addition (telemetry only -- no existing key changed, no timing
methodology changed): the host is multi-tenant and bursty (the identical
binary has measured 24 s and 62 s back to back), so the JSON line now also
carries a "probes" map -- the wall seconds of a fixed 8-process spin
workload run BEFORE the sweep and AFTER each query, outside the timed
region. On an idle box every probe sits near the same floor (~0.02-0.05 s);
a probe several times the run's own minimum marks the adjacent query
timings as contention-contaminated. Consumers that predate r16 can ignore
the new keys.
"""

from __future__ import annotations

import json
import os
import sys
import time

PROBE_WORKERS = 8
PROBE_LOOPS = 300_000


def _spin(n: int) -> int:
    x = 1
    for _ in range(n):
        x = (x * 1664525 + 1013904223) & 0xFFFFFFFF
    return x


def _make_prober():
    """Persistent process pool -> probe() measuring one 8-way spin. Returns
    a no-op prober on any failure: telemetry must never break the bench."""
    try:
        import atexit
        import multiprocessing as mp

        pool = mp.get_context("fork").Pool(PROBE_WORKERS)

        def close_pool() -> None:
            pool.terminate()
            pool.join()

        atexit.register(close_pool)

        def probe() -> float:
            t0 = time.perf_counter()
            pool.map(_spin, [PROBE_LOOPS] * PROBE_WORKERS)
            return round(time.perf_counter() - t0, 4)

        probe()  # warm the pool (fork + import cost stays out of sample 1)
        return probe
    except Exception:
        return lambda: None

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hive_ddl_extract_tool_spark.operators import all_queries
from hive_ddl_extract_tool_spark.session import get_spark

# Headline set: one per operator family, weighted toward what dominates a
# training-data pipeline at scale (join-agg, windows, dedup, similarity).
HEADLINE = [
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q03_order_priority_semi",
    "q05_distinct_users",
    "q08_cube_lineitem",
    "q10_top_orders_per_customer",
    "q11_running_revenue",
    "q13_nation_set_ops",
    "q20_scalar_gauntlet",
    "q21_json_extract",
    "q23_explode_tokens",
    "q31_token_count",
    "q33_fingerprint",
    "q34_quality_score",
    "q40_exact_dedup",
    "q41_minhash_signatures",
    "q42_minhash_lsh_dedup",
    "q44_simhash",
    "q46_cosine_topk",
    "q47_ann_lsh",
    "q60_tumbling_window",
    "q61_sliding_window",
    "q62_session_window",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(app_name="bench")

    queries = all_queries()
    if os.environ.get("BENCH_ALL"):
        names = sorted(queries)
    elif os.environ.get("BENCH_QUERIES"):
        names = os.environ["BENCH_QUERIES"].split(",")
    else:
        names = HEADLINE

    # warm the session + file listing so q01 doesn't pay JVM startup
    queries["q01_pricing_summary"](spark, sf_dir).count()

    probe = _make_prober()
    probes: dict[str, float | None] = {"pre_sweep": probe()}
    timings: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).count()
        timings[name] = round(time.perf_counter() - t0, 3)
        # contention probe AFTER the timing capture -- never inside it
        probes[name] = probe()

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # r16 telemetry (see module docstring); additions only
        "probes": probes,
        "probe_workers": PROBE_WORKERS,
        "probe_loops": PROBE_LOOPS,
    }))


if __name__ == "__main__":
    main()
