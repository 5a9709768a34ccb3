"""Registry-freshness gate: driver evidence must not silently go stale.

The external driver sweeps ``__spark_entry__.queries()`` in dict order under
a ~50-query wall-clock budget, so a query's correctness evidence refreshes
only when it lands in the prefix. That order is generated from the
CORRECTNESS history by ``operators.sweep_order``; this tool checks the
generated order:

- ``--report``: per-query latest-green driver round and age, grouped.
- gate (default): simulate the NEXT sweep over the current registry order
  with the driver's budget, and FAIL if any oracle-backed query would end
  the coming round with its latest green row more than MAX_AGE rounds old
  (never-checked oracle-backed queries outside the prefix fail outright).

"Green" is the driver's hard signal (``operators.latest_green``). Rows-only
queries (err == 'no_oracle', the declared q51/q52 pair) are exempt -- the
driver records only that they ran; their evidence lives in the
hash-verified twins.

The budget is a query COUNT stand-in for the driver's wall-clock budget.
The historical sweeps landed ~50 queries/round (DRIVER_SWEEP), so the gate
assumes 45 -- BELOW the worst observed sweep length, because the gate
credits every prefix query with a fresh row next sweep: an optimistic
budget would let a stale query parked at position 46-50 silently age past
the limit when the wall clock truncates early. Run in the round checklist
via tests/test_freshness.py, or directly:

    python tools/freshness.py [--report]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hive_ddl_extract_tool_spark.operators import all_oracles, latest_green

BUDGET = 45
MAX_AGE = 5
DRIVER_SWEEP = 50  # queries per round the driver's wall clock has measured


def registry() -> tuple[list[str], set[str]]:
    """(registry order, oracle-backed names) from the driver contract."""
    import __spark_entry__ as entry

    return list(entry.queries()), set(entry.oracle_sql())


def evaluate(history: tuple[dict[str, int], int] | None = None, order: list[str] | None = None) -> dict:
    """Simulate the next driver sweep over ``order`` (default: the driver
    contract's) given ``history`` = (latest green round per query, latest
    round seen) (default: the committed CORRECTNESS files); list
    oracle-backed queries whose evidence would exceed MAX_AGE rounds after
    it."""
    green, last_round = history or latest_green(REPO)
    order, backed = registry() if order is None else (order, set(all_oracles()))
    next_round = last_round + 1
    prefix = set(order[:BUDGET])
    stale, never = [], []
    for q in order:
        if q not in backed or q in prefix:
            continue  # rows-only exempt; prefix gets a fresh row next sweep
        if q not in green:
            never.append(q)
        elif next_round - green[q] > MAX_AGE:
            stale.append((q, green[q], next_round - green[q]))
    return {
        "next_round": next_round,
        "budget": BUDGET,
        "max_age": MAX_AGE,
        "n_registry": len(order),
        "n_oracle_backed": len(backed & set(order)),
        "never_checked_outside_prefix": never,
        "stale_outside_prefix": stale,
        "ok": not stale and not never,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--report", action="store_true")
    args = ap.parse_args()

    if args.report:
        green, last_round = latest_green(REPO)
        order, backed = registry()
        by_age: dict[int, list[str]] = {}
        for q in order:
            if q not in backed:
                continue
            age = last_round - green[q] if q in green else -1
            by_age.setdefault(age, []).append(q)
        for age in sorted(by_age, reverse=True):
            label = "NEVER" if age < 0 else f"age {age} (r{last_round - age})"
            print(f"{label}: {len(by_age[age])}")
            print("   " + " ".join(by_age[age]))
        return 0

    res = evaluate()
    print(json.dumps(res, indent=1))
    return 0 if res["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
