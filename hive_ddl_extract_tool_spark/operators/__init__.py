"""Query-operator surface (SURVEY.md §2B).

Each module exposes two dicts keyed by query name:

- ``QUERIES``: name -> Callable[(SparkSession, sf_dir str), DataFrame]
- ``ORACLES``: name -> equivalent DuckDB ANSI-SQL string (omitted for
  rows-only operators: approx aggregates, streaming-mode, UDF internals)

``all_queries()`` / ``all_oracles()`` merge every module for
``__spark_entry__.py``.

Ordering matters: the external driver sweeps ``queries()`` in dict order
under a wall-clock budget, and entries past the cutoff get NO correctness
row at all (round 1: the sweep stopped exactly at q60, leaving q61-q63
unverified despite passing locally). So the merged dict is emitted as:

1. an explicit priority prefix -- queries that most need a fresh driver
   verdict this round (previously-truncated streaming windows, newly added
   operators);
2. every remaining oracle-backed query in module order (these carry the
   hard correctness signal);
3. rows-only queries last (the driver only records that they ran, so they
   lose the least if the budget truncates the tail).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# ROTATION RULE (mechanical, apply every round): the driver sweeps ~50
# queries per round in this dict's order, so the priority prefix is rebuilt
# each round from CORRECTNESS_r{N}.json history as:
#
#   1. queries with NO driver row ever (brand-new this round, or past the
#      cutoff every prior round) -- they need their FIRST row;
#   2. queries whose behavior changed this round (oracle upgraded, plan
#      rewritten) -- the old green row no longer adjudicates them;
#   3. every remaining green query ordered by STALEST latest-green round
#      first (r2-era before r3-era before r4-era ...);
#   4. queries green in the immediately-previous round rotate to the back
#      (freshest evidence, fall through to module order below);
#   5. rows-only queries last (the driver only records that they ran).
#
# Next round's prefix is therefore predictable from this round's
# CORRECTNESS file: drop everything it turned green to the back, promote
# whatever it still never reached.
#
# Round 16 instance: (1) empty -- every query has a driver row; (2) the
# five queries whose PLANS were rewritten by this optimization round and
# whose cohort slot does not already stage them -- q40 (16-byte exact-dedup
# key), q42 (candidate-sized verify artifacts), q02 (pre-joined dim chain),
# q202/q218 (shared verify helper) -- their old green rows adjudicate the
# old plans, so they go first (q193, the sixth rewrite, is already in the
# stale cohort below); (3) stalest green: the full r11-era block (45
# queries, age 4 -- they would exceed MAX_AGE at r17 close), ordered by
# MEASURED sf0.01 sweep cost ascending (tools/drive_driver.py per-query
# timings from this round's opening 247/247 FAILS: 0 drive) with the
# streaming-harness / sink tier last -- its finite-replay micro-batches are
# the cohort's cost outliers, so a wall-clock truncation drops replay
# shapes before any cheap relational refresh. Staged prefix measured
# before commit (`tools/drive_driver.py --prefix 50`): see BASELINE.md
# §Round-16. Total staged: exactly 50 -- the MEASURED driver budget,
# pinned by tests/test_freshness.py since r10. Everything green in r15
# (the r10-era rotation) and the r12/r13/r14 blocks falls through to
# module order.
_PRIORITY = [
    # (2) plans rewritten this round -- need fresh adjudication first
    "q40_exact_dedup",
    "q02_revenue_by_nation",
    "q42_minhash_lsh_dedup",
    "q218_sorted_neighborhood",
    "q202_prefix_filter_join",
    # (3) stalest green: latest green row is round 11 (age 4) -- refresh
    # all 45 now. Measured-cheap shapes first.
    "q181_arrow_python_udf",
    "q184_listagg",
    "q200_time_weighted_avg",
    "q174_equidepth_histogram",
    "q155_nation_profit",
    "q177_join_cardinality_audit",
    "q168_incremental_stats_merge",
    "q153_promo_share",
    "q187_weighted_sample",
    "q196_cdc_apply",
    "q154_returned_items",
    "q183_bitmap_distinct",
    "q166_deletion_manifest",
    "q193_containment_dedup",
    "q192_entropy_rate",
    "q161_char_coverage",
    "q162_negative_sampling_table",
    "q164_source_ablation",
    "q199_conversion_paths",
    "q167_cluster_split",
    "q189_rolling_active_users",
    "q195_position_attribution",
    "q198_ewma",
    "q201_hll_shard_merge",
    "q176_grouped_agg_udf",
    "q160_truncation_recall",
    "q172_zorder_layout",
    "q179_schema_evolution_merge",
    "q173_bloom_prune_audit",
    "q15b_approx_percentiles",
    "q188_crossdoc_spans",
    "q186_concurrent_sessions",
    "q203_mad_outliers",
    "q157_dataset_profile",
    "q06_approx_distinct_users",
    "q191_dupgraph_triangles",
    "q156_bpe_merge_rounds",
    "q159_hard_negatives",
    "q171_polymorphic_udtf",
    "q163_ann_rank_quality",
    # (3 cont.) the physical-roundtrip + streaming-harness/sink tier: the
    # cohort's cost outliers, staged last so truncation drops replay
    # shapes, not cheap refreshes.
    "q165_format_roundtrip",
    "q178_state_store_reader",
    "q194_python_datasink",
    "q175_stream_upsert_sink",
    "q170_stream_file_sink",
]


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

    # A typo in the rotation must fail fast, not silently demote a
    # must-refresh query to module order (the freshness gate would only
    # catch that indirectly, a round later, when the age math trips).
    unknown = set(_PRIORITY) - merged.keys()
    if unknown:
        raise ValueError(f"_PRIORITY names not in registry: {sorted(unknown)}")

    oracles = all_oracles()
    ordered: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _PRIORITY:
        if name in merged:
            ordered[name] = merged[name]
    for name, fn in merged.items():
        if name not in ordered and name in oracles:
            ordered[name] = fn
    for name, fn in merged.items():
        if name not in ordered:
            ordered[name] = fn
    return ordered


def all_oracles() -> dict[str, str]:
    merged: dict[str, str] = {}
    for mod in _modules():
        merged.update(mod.ORACLES)
    return merged
