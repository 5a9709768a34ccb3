"""Query-operator surface (SURVEY.md §2B).

Each module exposes two dicts keyed by query name:

- ``QUERIES``: name -> Callable[(SparkSession, sf_dir str), DataFrame]
- ``ORACLES``: name -> equivalent DuckDB ANSI-SQL string (omitted for
  rows-only operators: approx aggregates, streaming-mode, UDF internals)

``all_queries()`` / ``all_oracles()`` merge every module. ``sweep_order()``
orders that registry for ``__spark_entry__.py``: the external driver sweeps
``queries()`` in dict order under a wall-clock budget (~50 queries per
round), and entries past the cutoff get no correctness row at all
(COVERAGE.md, registry-freshness gate).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Queries whose plans were rewritten since their latest green driver row: that
# row adjudicates the old plan, so they are swept first. Drop a name once a
# CORRECTNESS round shows it green on the new plan.
REWRITTEN = ("q40_exact_dedup", "q02_revenue_by_nation")


def _modules():
    from . import advanced, behavior, curation, custom_source, dedup, functions_suite, functions_suite2, layout, multimodal, physical, profiling, relational, relational2, retrieval, selection, similarity, text, tokenizer, vectors
    from ..streaming import windows

    return (relational, relational2, functions_suite, functions_suite2, dedup, similarity, vectors, text, tokenizer, retrieval, curation, selection, multimodal, advanced, behavior, physical, layout, profiling, custom_source, windows)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _modules():
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(mod.QUERIES)

    # A typo in REWRITTEN must fail fast, not silently demote a
    # must-refresh query to its age slot.
    unknown = set(REWRITTEN) - merged.keys()
    if unknown:
        raise ValueError(f"REWRITTEN names not in registry: {sorted(unknown)}")

    oracles = all_oracles()
    return dict(sorted(merged.items(), key=lambda item: item[0] not in oracles))


def latest_green(root: str) -> tuple[dict[str, int], int]:
    """(query -> latest round with a green driver row, latest round seen),
    read from the CORRECTNESS_r{N}.json files in ``root``; ({}, 0) when
    there are none. Green is the driver's hard signal: rows_match &
    schema_match & hash_match and no err."""
    latest: dict[str, int] = {}
    last_round = 0
    for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        last_round = max(last_round, rnd)
        with open(f) as fh:
            rows = json.load(fh)
        for q, v in rows.items():
            if v.get("rows_match") and v.get("schema_match") and v.get("hash_match") and not v.get("err"):
                latest[q] = max(latest.get(q, 0), rnd)
    return latest, last_round


def sweep_order(green: dict[str, int]) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The registry in the order the driver should sweep it, given ``green``
    (see latest_green): oracle-backed queries with no green row, then
    REWRITTEN, then every other oracle-backed query by oldest latest-green
    round (registry order within a round), then the rows-only queries."""
    queries, oracles = all_queries(), all_oracles()

    def rank(name: str) -> tuple[int, int]:
        if name not in oracles:
            return (3, 0)
        if name not in green:
            return (0, 0)
        if name in REWRITTEN:
            return (1, REWRITTEN.index(name))
        return (2, green[name])

    return {name: queries[name] for name in sorted(queries, key=rank)}


def all_oracles() -> dict[str, str]:
    merged: dict[str, str] = {}
    for mod in _modules():
        merged.update(mod.ORACLES)
    return merged
