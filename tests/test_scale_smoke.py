"""In-suite drives of `tools/scale.py smoke` and `tools/scale.py tables`,
the two subcommands no other test reaches."""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_smoke_runs_selected_queries_at_k2(spark, tmp_path):
    """One doc, one vector, one streaming and one TPC-H query execute on
    the all-tables K=2 corpus; the quadratic audit is recorded as skipped
    whatever --only selects, and the corpus is retired."""
    from hive_ddl_extract_tool_spark.operators.dedup import q40_exact_dedup
    from tools.scale import smoke

    only = "q40_exact_dedup,q87_embed_dim_stats,q220_incremental_equivalence,q01_pricing_summary"
    gate = smoke(spark, SF_DIR, 2, str(tmp_path), only=only, keep_failed=False)
    by = {r["q"]: r for r in gate.rows}
    assert set(by) == set(only.split(",")) | {"q49_cosine_neardup"}
    assert by["q49_cosine_neardup"] == {"q": "q49_cosine_neardup",
                                        "status": "skipped_quadratic_audit"}
    for q in only.split(","):
        assert by[q]["status"] == "ok" and by[q]["rows"] > 0, by[q]
    assert gate.failures == 0
    # the documents really were inflated: exact-dedup groups double
    assert by["q40_exact_dedup"]["rows"] == 2 * q40_exact_dedup(spark, SF_DIR).count()
    assert not os.listdir(tmp_path), "smoke leaked its inflated corpus"


def _results(k: int) -> dict:
    from tools.scale import ORACLE_FAMILIES

    return {"results": [
        {"query": q, "match": True, "rows_spark": 1000 * k + i,
         "sec_spark": float(k), "sec_duck": 0.5}
        for i, q in enumerate(ORACLE_FAMILIES)]}


def test_tables_rewrites_both_scale_tables(tmp_path):
    """`tables` rewrites the numeric cells of SCALE.md's two oracle tables
    from `oracle --out` JSONs, and refuses results in another order."""
    from tools.scale import SEP, tables

    md = str(tmp_path / "SCALE.md")
    shutil.copy(os.path.join(REPO, "SCALE.md"), md)
    paths = {}
    for k in (1, 3, 10, 30):
        paths[k] = str(tmp_path / f"k{k}.json")
        with open(paths[k], "w") as fh:
            json.dump(_results(k), fh)
    tables(paths, scale_md=md)
    text = open(md).read().replace(SEP, " ")
    assert "| exact dedup | q40 | 10 000 | ✓ | 10.0 / 0.5 |" in text
    assert "| MinHash+LSH | q42 | 10 001 | ✓ | 10.0¹ / 0.5 |" in text
    assert "| exact dedup (q40) | 1.0³ | 3.0 | 10.0 | 30.0 | 30 000 |" in text

    swapped = _results(10)
    swapped["results"][:2] = swapped["results"][1::-1]
    with open(paths[10], "w") as fh:
        json.dump(swapped, fh)
    with pytest.raises(AssertionError):
        tables(paths, scale_md=md)
