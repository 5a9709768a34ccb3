"""In-suite drive of `tools/scale.py invariants` at fixture cost (sf0.001,
K=2): the laws themselves, the mod-stride histogram checker, and the
row-level scaling checker all execute — a regression in an inflation
invariant, a family pipeline, or a law transcription fails the suite, not
just the out-of-band K=100 run.

Also pins that the checkers can actually FAIL: a deliberately corrupted
"K" frame must be flagged (a comparator that silently passes everything
is worse than no gate)."""

from __future__ import annotations

import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def gate_k2(spark, tmp_path_factory):
    from tools.scale import invariants

    work_dir = str(tmp_path_factory.mktemp("inv"))
    return work_dir, invariants(spark, SF_DIR, 2, work_dir, keep_failed=False).rows


def test_gate_end_to_end_at_k2(gate_k2):
    work_dir, results = gate_k2
    # every inflated corpus is retired by the gate itself: at K=300 the
    # copies are multi-GB, so a leak here is real disk residue
    leftovers = os.listdir(work_dir)
    assert not leftovers, f"gate leaked inflated corpora: {leftovers}"
    assert [r["query"] for r in results] == [
        "q40_exact_dedup", "q202_prefix_filter_join",
        "q114_arrow_batch_stats", "q105_length_buckets",
        "q228_lr_apportionment", "q85_inverted_index",
        "q161_char_coverage",
        "q88_sessionize", "q186_concurrent_sessions",
        "q220_incremental_equivalence", "q74_funnel", "q59_asof_join",
        "q174_equidepth_histogram", "q02_revenue_by_nation",
        "q07_rollup_orders",
    ]
    bad = [r for r in results if not r["ok"]]
    assert not bad, f"K-scaling law violated at K=2: {bad}"
    # the doc-corpus multiset laws really did see K-fold row counts
    by = {r["query"]: r for r in results}
    for q in ("q40_exact_dedup", "q202_prefix_filter_join"):
        assert by[q]["rows_k"] == 2 * by[q]["rows_1"], by[q]


def test_retired_corpora_leave_no_staged_artifacts(gate_k2):
    """Retiring a corpus also drops what was staged from it: a stage left
    behind outlives the corpus on disk and would be served to a later
    corpus inflated at the same path."""
    from hive_ddl_extract_tool_spark.operators._cache import _CACHE

    work_dir, _ = gate_k2
    stale = [key for _app, key in _CACHE if work_dir in key]
    assert not stale, f"cache entries of retired corpora: {stale}"
    tag = "".join(c if c.isalnum() else "_" for c in work_dir)
    left = [d for d in os.listdir(tempfile.gettempdir()) if tag in d]
    assert not left, f"staged dirs of retired corpora: {left}"


def test_hist_law_flags_a_corrupted_frame(spark):
    from tools.scale import hist_law

    base = spark.createDataFrame([(1, 3), (2, 5)], "keep_id long, n_dups long")
    good = spark.createDataFrame(
        [(1, 3), (2, 5), (1 + 10, 3), (2 + 10, 5)], "keep_id long, n_dups long"
    )
    assert hist_law(good, base, ["keep_id"], 2, stride=10)["violations"] == 0
    bad = spark.createDataFrame(
        [(1, 3), (2, 5), (1 + 10, 3), (2 + 10, 4)], "keep_id long, n_dups long"
    )
    assert hist_law(bad, base, ["keep_id"], 2, stride=10)["violations"] > 0


def test_row_law_flags_a_wrong_scale(spark):
    from tools.scale import row_law

    base = spark.createDataFrame([("a", 3), ("b", 5)], "g string, n long")
    good = spark.createDataFrame([("a", 6), ("b", 10)], "g string, n long")
    assert row_law(good, base, ["n"], 2)["violations"] == 0
    bad = spark.createDataFrame([("a", 6), ("b", 11)], "g string, n long")
    assert row_law(bad, base, ["n"], 2)["violations"] > 0
