"""Registry-freshness invariant: the sweep order generated by
operators.sweep_order must actually keep driver evidence fresh. The gate
simulates the next driver sweep (45-query conservative budget, below the
~50 historical sweep length, over the registry order) and fails if any
oracle-backed query would end the coming round with its latest green
CORRECTNESS row more than 5 rounds old -- i.e. if the order left a stale
query outside a prefix the budget could have covered."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_staged_prefix_keeps_oracle_evidence_fresh():
    from tools.freshness import evaluate

    res = evaluate()
    assert res["ok"], (
        "generated sweep order leaves oracle-backed queries stale past "
        f"age {res['max_age']}:\n{json.dumps(res, indent=1)}"
    )


def test_generated_order_stays_fresh_over_future_rounds():
    """The gate must hold round after round, not just for the next sweep:
    starting from the committed history, each simulated round regenerates
    the order from the updated history, the driver greens its first
    DRIVER_SWEEP queries, and the gate must stay ok. A fixed prefix fails
    this within two rounds (the cohort it leaves out ages past MAX_AGE)."""
    from hive_ddl_extract_tool_spark.operators import all_oracles, latest_green, sweep_order
    from tools.freshness import DRIVER_SWEEP, REPO, evaluate

    green, last_round = latest_green(REPO)
    backed = set(all_oracles())
    for _ in range(8):
        order = list(sweep_order(green))
        res = evaluate((green, last_round), order)
        assert res["ok"], json.dumps(res, indent=1)
        last_round += 1
        green.update((q, last_round) for q in order[:DRIVER_SWEEP] if q in backed)


def test_priority_prefix_fits_the_measured_driver_budget():
    """Every query the rule stages ahead of the age order (never green, then
    REWRITTEN) must lead the order and fit inside the first DRIVER_SWEEP
    entries -- the MEASURED driver sweep budget; anything past it is staged
    theater that silently misses its refresh."""
    from hive_ddl_extract_tool_spark.operators import REWRITTEN, all_oracles, all_queries, latest_green, sweep_order
    from tools.freshness import DRIVER_SWEEP, REPO

    green, _ = latest_green(REPO)
    oracles = all_oracles()
    never = [q for q in all_queries() if q in oracles and q not in green]
    staged = never + [q for q in REWRITTEN if q not in never]
    assert len(staged) <= DRIVER_SWEEP, (
        f"rule staged {len(staged)} must-refresh queries; the driver sweeps "
        f"~{DRIVER_SWEEP} queries per round, so entries past that never refresh"
    )
    assert list(sweep_order(green))[: len(staged)] == staged


def test_every_registered_query_has_some_driver_history_or_prefix_slot():
    """No oracle-backed query may be invisible to the driver forever: it
    either already has a green row, or sits inside the next sweep's budget
    prefix (the evaluate() gate enforces the union; this pins the stronger
    per-query fact so a registry addition without a prefix slot fails with
    the query's name)."""
    from hive_ddl_extract_tool_spark.operators import latest_green
    from tools.freshness import BUDGET, REPO, registry

    green, _ = latest_green(REPO)
    order, backed = registry()
    prefix = set(order[:BUDGET])
    missing = [q for q in order if q in backed and q not in green and q not in prefix]
    assert not missing, f"oracle-backed, never driver-checked, not staged: {missing}"
