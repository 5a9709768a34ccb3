"""Hostile-document regression tests for the round-5 divergence hardening.

The driver's data drop rotates per round; these tests freeze the document
shapes that USED to crash or diverge -- empty text, whitespace-only text
(zero words under ANSI division), single-token and all-counts-equal corpora
(degenerate Zipf moments) -- and assert Spark and DuckDB produce the
identical canonicalized result on each affected query.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hive_ddl_extract_tool_spark.operators import all_oracles, all_queries

from .parity import assert_parity

QUERIES = all_queries()
ORACLES = all_oracles()


def _write_docs(path, texts):
    n = len(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array([f"s{i % 2}" for i in range(n)], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(path / "documents.parquet"),
    )


def _assert_parity(spark, sf_dir, name):
    assert_parity(QUERIES[name](spark, str(sf_dir)), ORACLES[name], sf_dir)


HOSTILE_TEXTS = [
    "",                       # empty: n_chars = 0, n_words = 0
    "  \t\n \x0b ",           # whitespace-only: n_words = 0, n_chars > 0
    "the the the and of",     # marker-heavy
    "a b",                    # below every length gate
    "zz " * 30,               # repetitive, clears the length gate
]

AFFECTED = [
    "q30_text_stats",
    "q31_token_count",
    "q32_langid",
    "q33_fingerprint",
    "q34_quality_score",
    "q71_repetition_metrics",
    "q95_curation_report",
    "q100_gopher_rules",
    "q113_zipf_fit",
    # round-6 gram/dedup family: zero-shingle docs must yield EMPTY (not
    # erroring, not NULL-row) results identically on both engines
    "q188_crossdoc_spans",
    "q190_good_turing",
    "q192_entropy_rate",
    "q202_prefix_filter_join",
    "q213_phrase_search",
    "q218_sorted_neighborhood",
    # round-8: zero-word docs in two shards used to read as phantom
    # cross-shard leakage on Spark (h60('') fingerprint) while the oracle
    # NULL-dropped them; empty payloads NULLed the oracle's list_sum /
    # array_to_string where the Python stub returns zeros
    "q94_source_overlap",
    "q51b_decode_features_checked",
    "q65_frame_sample",
]


@pytest.mark.parametrize("name", AFFECTED)
def test_hostile_documents_cross_engine(spark, tmp_path, name):
    _write_docs(tmp_path, HOSTILE_TEXTS)
    _assert_parity(spark, tmp_path, name)


def test_null_text_cross_engine(spark, tmp_path):
    """NULL text (a nullable column's honest worst case): q51b's Python
    decode used to crash the task on bytes(None); both engines must now
    treat a NULL payload like the empty one (round 8)."""
    _write_docs(tmp_path, ["real words here"])
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([0, 1], pa.int64()),
                "text": pa.array(["real words here", None], pa.string()),
                "lang": pa.array(["en", "en"], pa.string()),
                "source": pa.array(["s0", "s1"], pa.string()),
                "n_chars": pa.array([15, 0], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    for name in ("q51b_decode_features_checked", "q65_frame_sample",
                 "q94_source_overlap"):
        _assert_parity(spark, tmp_path, name)


def test_zipf_degenerate_moments_cross_engine(spark, tmp_path):
    """All token counts equal -> cyy = 0 -> r2 is NULL on both engines
    (was: ANSI abort on Spark vs NULL/inf on DuckDB)."""
    _write_docs(tmp_path, ["alpha beta gamma"])
    _assert_parity(spark, tmp_path, "q113_zipf_fit")


def test_zipf_single_token_cross_engine(spark, tmp_path):
    """One distinct token -> k = 1 -> cxx = 0 -> slope/intercept/r2 NULL."""
    _write_docs(tmp_path, ["solo"])
    _assert_parity(spark, tmp_path, "q113_zipf_fit")
