"""In-suite drive of `tools/scale.py stress` at K=1, so a signature change
in the dedup/similarity helpers it calls fails here instead of only when
the tool is next run by hand."""

from __future__ import annotations

import os


def test_measure_runs_every_family(spark, sf_dir, tmp_path):
    from hive_ddl_extract_tool_spark.operators import dedup
    from tools.scale import stress

    gate = stress(spark, sf_dir, [1], str(tmp_path), keep_failed=False)
    rows = gate.rows
    assert gate.failures == 0, rows
    assert [r["family"] for r in rows] == [
        "q40_exact", "q42_lsh", "q202_prefix", "q218_snm", "q245_tfidf",
        "q49b_lsh_fixed_bits", "q49b_lsh_scaled_bits",
        "q103_semdedup", "q103_semdedup_scaled_cells",
    ]
    assert all(r["k"] == 1 and r["out_rows"] >= 0 for r in rows)
    by_family = {r["family"]: r for r in rows}
    assert by_family["q40_exact"]["out_rows"] == dedup.q40_exact_dedup(spark, sf_dir).count()
    assert by_family["q42_lsh"]["candidates"] >= 0
    assert not os.listdir(tmp_path), "stress leaked its inflated corpus"
