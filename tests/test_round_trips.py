"""Driver round-trip budget for planning the MinHash-LSH chain.

Building a plan sends py4j commands and runs no Spark work: each PySpark
`F.*` call costs three round trips (two reflection lookups plus the call),
while one SQL-text expression (`F.expr`, `selectExpr`, a string filter)
costs the same three for a whole expression tree. The LSH builders are
written in SQL text, so planning a pass stays a few hundred commands; a
return to per-function Column building multiplies that and fails here.
"""

from __future__ import annotations

from contextlib import contextmanager

from hive_ddl_extract_tool_spark.operators import dedup

LSH_PLAN_BUDGET = 1_000


@contextmanager
def py4j_commands(spark):
    """Count the py4j commands sent while the block runs, yielding the
    list of commands. Object releases (`m` commands) are left out: py4j
    sends one when Python frees a JVM object, so their timing follows
    Python's garbage collector, not the code under the block."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent: list[str] = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        client.send_command = send


def _build_lsh_plans(spark, sf_dir, cand):
    """The seven plans of one lsh_staged pass, built without an action."""
    return [
        dedup._band_rows(dedup._minhash_wide(dedup._doc_shingles_raw(spark, sf_dir))),
        dedup._cand_shingle_sizes_build(spark, sf_dir, cand),
        dedup._doc_shingles(spark, sf_dir),
        dedup._q42_build(spark, sf_dir),
        dedup.q193_containment_dedup(spark, sf_dir),
        dedup.q43_ngram_jaccard(spark, sf_dir),
        dedup.q106_minhash_estimator_error(spark, sf_dir),
    ]


def test_lsh_plans_fit_the_round_trip_budget(spark, sf_dir):
    cand = dedup._lsh_candidates(spark, sf_dir)
    _build_lsh_plans(spark, sf_dir, cand)  # stage every cached_df artifact first
    with py4j_commands(spark) as sent:
        plans = _build_lsh_plans(spark, sf_dir, cand)
    assert len(plans) == 7
    assert 0 < len(sent) <= LSH_PLAN_BUDGET, len(sent)
