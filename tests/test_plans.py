"""Physical-plan audits (the 100 TB checklist): filters reach the parquet
scan, dims broadcast, top-k avoids global sorts, and no query silently drops
into row-at-a-time Python. A failure here is a scalability regression even if
results stay correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_ddl_extract_tool_spark.operators import all_queries
from hive_ddl_extract_tool_spark.plans.explain import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_no_python_udf,
    assert_pushed_filter,
    assert_read_schema_only,
    assert_top_k_plan,
    count_shuffles,
    formatted_plan,
)

QUERIES = all_queries()

# Queries that intentionally run Python stages (Arrow-batched, documented).
PYTHON_OK = {
    "q48_cosine_topk_pandas",
    "q51_decode_features",
    "q51b_decode_features_checked",
    "q52_zscore_groups",
    "q52b_zscore_groups_checked",
    "q114_arrow_batch_stats",
    "q54_skyline",
    "q67_pandas_udf_scalar",
    "q78_udtf_chunk",
    "q138_cogroup_reconcile",
    "q169_python_datasource",  # the custom source IS a Python scan
    "q171_polymorphic_udtf",   # the polymorphic UDTF IS a Python stage
    "q176_grouped_agg_udf",    # grouped-agg pandas UDF + WindowInPandas
    "q181_arrow_python_udf",   # ArrowEvalPython IS the surface under test
    "q241_iter_pandas_udf",    # the SCALAR_ITER transport IS the surface
}
# Streaming / driver-side queries whose plan isn't a single batch pipeline.
SKIP_PLAN_AUDIT = {"q63_stream_tumbling", "q64_stream_dedup", "q70_stream_static_join", "q98_stream_sessionize", "q107_stream_interval_join", "q131_stream_dedup_gate", "q140_stream_outer_join", "q170_stream_file_sink", "q175_stream_upsert_sink", "q178_state_store_reader", "q180_stream_update_mode", "q182_stream_session_window", "q212_stream_pit_enrich", "q220_incremental_equivalence", "q238_stream_cms"}


def test_priority_names_exist(monkeypatch):
    """Every REWRITTEN entry must name a registered query and appear once,
    and all_queries() must refuse an unknown name at once: a silent miss
    would drop a query from its sweep-priority slot with no failure -- the
    same drift class the SKIP_PLAN_AUDIT guard below exists for."""
    from hive_ddl_extract_tool_spark import operators

    unknown = set(operators.REWRITTEN) - QUERIES.keys()
    assert not unknown, f"REWRITTEN names unregistered queries: {unknown}"
    assert len(set(operators.REWRITTEN)) == len(operators.REWRITTEN), operators.REWRITTEN
    monkeypatch.setattr(operators, "REWRITTEN", ("q_not_registered",))
    with pytest.raises(ValueError, match="q_not_registered"):
        operators.all_queries()


def test_skip_plan_audit_names_exist():
    """Every SKIP_PLAN_AUDIT entry must name a registered query, so the set
    cannot silently drift when queries are renamed or removed."""
    unknown = SKIP_PLAN_AUDIT - QUERIES.keys()
    assert not unknown, f"SKIP_PLAN_AUDIT names unregistered queries: {unknown}"


def test_filter_pushdown_q01(spark, sf_dir):
    df = QUERIES["q01_pricing_summary"](spark, sf_dir)
    assert_pushed_filter(df, "l_shipdate")


def test_filter_pushdown_semi_join_build_side(spark, sf_dir):
    df = QUERIES["q03_order_priority_semi"](spark, sf_dir)
    assert_pushed_filter(df, "l_quantity")


def test_broadcast_dims_q02(spark, sf_dir):
    assert_broadcast_join(QUERIES["q02_revenue_by_nation"](spark, sf_dir))


def test_broadcast_queries_q46(spark, sf_dir):
    assert_broadcast_join(QUERIES["q46_cosine_topk"](spark, sf_dir))


def test_topk_uses_heap_not_global_sort(spark, sf_dir):
    assert_top_k_plan(QUERIES["q12_part_topk"](spark, sf_dir))
    assert_top_k_plan(QUERIES["q23_explode_tokens"](spark, sf_dir))


def test_column_pruning_q12(spark, sf_dir):
    df = QUERIES["q12_part_topk"](spark, sf_dir)
    assert_read_schema_only(
        df, "part", {"p_partkey", "p_name", "p_brand", "p_retailprice"}
    )


def test_pricing_summary_single_shuffle(spark, sf_dir):
    """q01 is partial-agg + one exchange on the 2 group keys (+ AQE reads);
    a second data shuffle would mean the partial aggregation was lost."""
    df = QUERIES["q01_pricing_summary"](spark, sf_dir)
    assert count_shuffles(df) <= 2  # exchange + possible AQE shuffle-read


def test_bucketed_neardup_has_no_cartesian(spark, sf_dir):
    """q49b is the scale path that replaces q49's all-pairs cross join; its
    plan must contain only equi-joins (probe buckets, then id lookups)."""
    assert_no_cartesian(QUERIES["q49b_cosine_neardup_lsh"](spark, sf_dir))


def test_bucketed_neardup_candidates_prune_vectors(spark, sf_dir):
    """r15: the staged ANN artifact carries (vec_id, embedding, bucket) so
    q47 stops re-joining the corpus for the vector -- but q49b's 37x
    multi-probe fan-out must keep shuffling INTEGERS only: every scan of
    the staged artifact in its plan must prune the embedding column."""
    from hive_ddl_extract_tool_spark.operators.similarity import _ann_buckets

    _ann_buckets(spark, sf_dir)  # ensure the artifact is staged
    df = QUERIES["q49b_cosine_neardup_lsh"](spark, sf_dir)
    assert_read_schema_only(df, "ann_buckets", {"vec_id", "bucket"})


def test_salted_join_plan_shows_salt_expansion(spark, sf_dir):
    """q56's plan must carry the salt plumbing: the small side explodes the
    0..n_salts-1 sequence, and the join keys include the salt column."""
    plan = formatted_plan(QUERIES["q56_salted_join"](spark, sf_dir))
    assert "explode" in plan.lower(), f"no salt explode in plan:\n{plan}"
    assert "__salt" in plan, f"salt column not in join keys:\n{plan}"


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """q58 joins two tables bucketed on the join key: with broadcast off
    (at test SF the dims fit in a broadcast, which hides the property), the
    join must run bucket-to-bucket -- both scans Bucketed, NO exchange on
    the join keys; the only shuffle is the final tiny groupBy."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted_plan(QUERIES["q58_bucketed_join"](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("Bucketed: true") == 2, plan
    assert "hashpartitioning(o_orderkey" not in plan, plan
    assert "hashpartitioning(l_orderkey" not in plan, plan


def test_q42_scans_documents_once(spark, sf_dir):
    """The MinHash-LSH verify must run entirely on the two staged
    near-dup-sized artifacts (band candidates + candidate shingles with
    sizes): the final build plan reads NO corpus-sized input -- not the
    raw documents file and not a full staged shingle set (r16: the
    corpus-sized distinct shingle stage is gone from the q42 chain; each
    staging job performs its own single documents scan)."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache
    from hive_ddl_extract_tool_spark.operators.dedup import _q42_build

    clear_cache()
    # assert on the BUILD pipeline: the registered q42 stages its result,
    # so its own plan is just the staged read
    plan = formatted_plan(_q42_build(spark, sf_dir))
    assert plan.count("documents.parquet") == 0, (
        f"corpus scanned in the verify:\n{plan}"
    )
    assert "q42_dsc" in plan and "q42_cand" in plan, plan
    assert "stage_doc_shingles" not in plan, (
        f"corpus-sized shingle stage in the verify:\n{plan[:2000]}"
    )
    # exactly one shuffle: the (doc_a, doc_b) pair aggregation (formatted
    # plans print each node twice -- tree + details)
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_q42_dsc_stage_is_one_exchange(spark, sf_dir):
    """The candidate-shingle staging job (q42_dsc) must plan its
    semi-filter -> distinct -> per-doc size chain behind ONE doc_id
    exchange: HashPartitioning(doc_id) satisfies both the (doc_id, sh)
    dedup clustering and the window partitioning, so no further shuffle
    may appear (r16)."""
    from hive_ddl_extract_tool_spark.operators import dedup as d
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache

    clear_cache()
    cand = d._lsh_candidates(spark, sf_dir)
    plan = formatted_plan(d._cand_shingle_sizes_build(spark, sf_dir, cand))
    assert plan.count("Exchange hashpartitioning") <= 2, (
        f"dedup/size chain shuffles beyond the doc_id repartition:\n{plan}"
    )
    assert "Window" in plan, plan


def test_asof_join_is_one_shuffle_no_join(spark, sf_dir):
    """q59's as-of join must compile to a window pass, not a join: exactly
    one data exchange (on user_id) and zero join operators of any kind."""
    plan = formatted_plan(QUERIES["q59_asof_join"](spark, sf_dir))
    assert "Join" not in plan, f"as-of should be join-free:\n{plan}"
    assert plan.count("Exchange") <= 2  # one hash-partition + possible AQE read
    assert "Window" in plan


def test_tfidf_corpus_total_is_broadcast(spark, sf_dir):
    """q35's corpus-size scalar joins via broadcast, never a shuffle or a
    driver collect baked into the plan."""
    plan = formatted_plan(QUERIES["q35_tfidf_topterms"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_funnel_is_window_scan_not_self_join(spark, sf_dir):
    """q74 must express the sequence match as a RANGE-frame window over one
    user_id exchange -- a click x purchase self-join would pair-explode."""
    plan = formatted_plan(QUERIES["q74_funnel"](spark, sf_dir))
    assert "Join" not in plan, f"funnel should be join-free:\n{plan}"
    assert "Window" in plan
    assert plan.count("Exchange") <= 3  # user_id window + final groupBy + AQE read


def test_heavy_hitters_uses_topk_heap(spark, sf_dir):
    assert_top_k_plan(QUERIES["q76_heavy_hitters"](spark, sf_dir))


@pytest.mark.parametrize("name", ["q66_ivf_ann", "q66b_ivf_trained"])
def test_ivf_cell_assignment_is_projection_not_window(name, spark, sf_dir):
    """The per-vector cell argmin/top-2 is pure array math over ONE staged
    ranked intermediate: no explode+row_number (which exchanged the full
    corpus by vec_id in round 2), and the raw embeddings file appears at
    most once in the final plan (the staging job performs the single real
    scan)."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache

    clear_cache()
    plan = formatted_plan(QUERIES[name](spark, sf_dir))
    assert "hashpartitioning(vec_id" not in plan, f"corpus exchanged by vec_id:\n{plan}"
    assert plan.count("embeddings.parquet") <= 1, plan


def test_dup_clusters_no_cartesian(spark, sf_dir):
    assert_no_cartesian(QUERIES["q68_dup_clusters"](spark, sf_dir))


def test_dup_clusters_size_is_window_not_broadcast(spark, sf_dir):
    """cluster_size must come from a window count over canonical_id, never
    from joining a per-cluster size table: that table has ~one row per
    document (mostly singletons), so broadcasting it -- or joining it at
    all -- re-shuffles the corpus against an O(N) aggregate. Round-2
    verdict item #1."""
    df = QUERIES["q68_dup_clusters"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" in plan, plan
    for line in plan.splitlines():
        if "Join" in line:
            assert "canonical_id" not in line, f"sizes join is back:\n{line}"


@pytest.mark.parametrize(
    "name", sorted(set(QUERIES) - PYTHON_OK - SKIP_PLAN_AUDIT)
)
def test_no_accidental_python_stages(name, spark, sf_dir):
    assert_no_python_udf(QUERIES[name](spark, sf_dir))


def test_sequence_packing_window_is_per_shard(spark, sf_dir):
    """q90's running token offset must be partitioned by source: a global
    (unpartitioned) window would pull the whole corpus into ONE task at
    100 TB. SinglePartition may appear only for trivially small plans --
    here we require the window exchange to hash on source."""
    plan = formatted_plan(QUERIES["q90_sequence_packing"](spark, sf_dir))
    assert "hashpartitioning(source" in plan, plan
    assert "SinglePartition" not in plan, f"global window crept in:\n{plan}"


def test_vocab_join_is_broadcast(spark, sf_dir):
    """q91's vocab side is K rows by construction; the token->vocab join
    must be a broadcast, never a shuffle of the exploded token stream
    against a 16-row table."""
    assert_broadcast_join(QUERIES["q91_vocab_coverage"](spark, sf_dir))


def test_bigram_lm_no_cartesian(spark, sf_dir):
    """q92's only nested-loop is the 1-row vocab-size broadcast; the model
    joins are equi-joins on the bigram/unigram keys."""
    plan = formatted_plan(QUERIES["q92_bigram_lm_score"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_dim_correlations_reads_staged_codes(spark, sf_dir):
    """q93 must screen the STAGED int8 codes: the raw embeddings file is
    scanned only by the one-time staging job (projection collapse would
    otherwise inline the whole quantization -- scale and all -- into every
    pair element_at: the HOF-recompute trap, observed as a hang), and the
    2016-row pair table joins the 64-row dim table by broadcast."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache

    clear_cache()
    df = QUERIES["q93_dim_correlations"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "embeddings.parquet" not in plan, f"raw scan leaked past staging:\n{plan}"
    assert_broadcast_join(df)


def test_curation_report_is_join_free(spark, sf_dir):
    """q95 derives all four gates and the dedup canonical in ONE linear
    pass (fingerprint window), so the plan must contain no Join at all."""
    plan = formatted_plan(QUERIES["q95_curation_report"](spark, sf_dir))
    assert "Join" not in plan, f"funnel should be join-free:\n{plan}"
    assert "Window" in plan


def test_bigram_lm_scores_from_staged_model(spark, sf_dir):
    """q92's final plan must read the staged bigram/unigram parquet, not
    re-tokenize documents per consumer (4 scans observed unstaged)."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache

    clear_cache()
    plan = formatted_plan(QUERIES["q92_bigram_lm_score"](spark, sf_dir))
    assert plan.count("documents.parquet") == 0, f"unstaged corpus scan:\n{plan}"


def test_source_overlap_joins_staged_fingerprints(spark, sf_dir):
    """q94's self-join must read the staged distinct (source, fp) set on
    both sides -- zero raw documents scans in the final plan."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache

    clear_cache()
    plan = formatted_plan(QUERIES["q94_source_overlap"](spark, sf_dir))
    assert plan.count("documents.parquet") == 0, f"unstaged corpus scan:\n{plan}"


@pytest.mark.parametrize("name", ["q100_gopher_rules", "q101_source_mixing", "q105_length_buckets"])
def test_selection_linear_passes_are_join_free(name, spark, sf_dir):
    """q100/q101/q105 are one linear pass + a low-cardinality rollup: any
    Join in the plan means a signal got recomputed through a self-join."""
    plan = formatted_plan(QUERIES[name](spark, sf_dir))
    assert "Join" not in plan, f"{name} should be join-free:\n{plan}"


def test_budget_select_reads_staged_buckets_and_broadcasts_histogram(spark, sf_dir):
    """q102's selection join must (a) read the staged compact per-doc bucket
    table, never re-score the raw corpus per consumer, and (b) broadcast the
    <= QB_SCALE+1-row histogram side; the tie-break window must be keyed by
    the bucket, not a global sort."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache

    clear_cache()
    df = QUERIES["q102_token_budget_select"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 0, f"unstaged corpus scan:\n{plan}"
    assert_broadcast_join(df)
    assert "hashpartitioning(qb" in plan, f"tie-break window not bucket-keyed:\n{plan}"


def test_semdedup_pairs_stay_inside_cells(spark, sf_dir):
    """q103's pairwise step must be a cell-keyed equi-join (quadratic in
    cell size, linear in corpus size) over the staged assignment -- no
    cartesian anywhere, and the raw embeddings file appears at most once
    (the staging job performs the single real scan). The join must be
    keyed by (cell, salt), the hot-cell guard that spreads one dense
    cell's quadratic work over ceil(n/CAP) tasks."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache

    clear_cache()
    df = QUERIES["q103_semdedup"](spark, sf_dir)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert plan.count("embeddings.parquet") <= 1, plan
    # unit vectors are a projection of the staged row -- no corpus shuffle
    # by vec_id just to fetch them
    assert "hashpartitioning(vec_id" not in plan, f"vec_id shuffle crept in:\n{plan}"
    # the pair join carries the hot-cell salt in its key
    assert "salt" in plan, f"hot-cell salt missing from the pair join:\n{plan}"


def test_semdedup_salting_preserves_pair_set(spark, sf_dir):
    """Forcing every cell over the hot-cell cap (CAP=2 -> k>1 everywhere)
    must leave the emitted report identical to the oracle's unsalted
    pairwise SQL -- salting changes the exchange key, never the pairs."""
    import hive_ddl_extract_tool_spark.operators.similarity as sim
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache
    from .parity import assert_parity

    old = sim.SEMDEDUP_CELL_CAP
    sim.SEMDEDUP_CELL_CAP = 2
    try:
        clear_cache()
        df = QUERIES["q103_semdedup"](spark, sf_dir)
        assert_parity(df, sim.ORACLE_Q103, sf_dir)
    finally:
        sim.SEMDEDUP_CELL_CAP = old
        clear_cache()


def test_big_orders_topk_uses_heap(spark, sf_dir):
    """q111's top-10 must be TakeOrderedAndProject over the joined survivor
    set -- never a global sort of the join output."""
    assert_top_k_plan(QUERIES["q111_big_orders"](spark, sf_dir))


def test_scd2_merge_broadcasts_update_batch(spark, sf_dir):
    """q108's merge join must broadcast the update-batch side (a daily CDC
    batch is orders of magnitude smaller than the dimension) and contain no
    sort or window -- MERGE semantics as one equi-join + union."""
    df = QUERIES["q108_scd2_merge"](spark, sf_dir)
    assert_broadcast_join(df)
    plan = formatted_plan(df)
    assert "Window" not in plan, f"no window expected in a merge:\n{plan}"


def test_audio_chunks_is_bounded_projection(spark, sf_dir):
    """q109 is a linear pass with a bounded explode: no join, no exchange
    before the explode."""
    plan = formatted_plan(QUERIES["q109_audio_chunks"](spark, sf_dir))
    assert "Join" not in plan, f"q109 should be join-free:\n{plan}"
    assert "Exchange" not in plan, f"q109 should be shuffle-free:\n{plan}"


def test_decontam_joins_staged_grams(spark, sf_dir):
    """q104's test-vs-train membership join must read the staged distinct
    gram set on both sides (zero raw documents scans) and stay equi-join."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache

    clear_cache()
    df = QUERIES["q104_ngram_decontam"](spark, sf_dir)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 0, f"unstaged corpus scan:\n{plan}"


def test_window_dedup_joins_staged_windows(spark, sf_dir):
    """q120's dup-flag join must read the staged window-hash table on both
    sides (zero raw documents scans), stay equi-join, and key every
    exchange on the gram hash so the work shards uniformly."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache

    clear_cache()
    df = QUERIES["q120_window_dedup"](spark, sf_dir)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 0, f"unstaged corpus scan:\n{plan}"
    assert "hashpartitioning(gh" in plan, f"dup-flag join not gh-keyed:\n{plan}"


def test_rrf_fusion_candidate_lists_are_topk(spark, sf_dir):
    """q121's retriever lists must be TakeOrderedAndProject (never a global
    sort of all scored docs), and the only nested loop is the broadcast of
    the 1-row dense query vector."""
    df = QUERIES["q121_rrf_fusion"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dsir_weight_table_is_broadcast(spark, sf_dir):
    """q122's bucket-weight table is <= 1024 rows by construction; the
    token->weight scoring join must broadcast it, never shuffle the
    exploded token stream against it. The tokenize pass is staged, so the
    raw corpus is scanned only by the staging job."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache

    clear_cache()
    df = QUERIES["q122_dsir_weights"](spark, sf_dir)
    assert_broadcast_join(df)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 0, f"unstaged corpus scan:\n{plan}"


def test_quality_classifier_weights_broadcast_no_scan(spark, sf_dir):
    """The classifier inference BUILD pipeline (staged once, shared by
    q123/q142) must show EXACTLY one parquet scan (the corpus) and a
    broadcast join for the generated 512-row weight side; the registered
    q123 then reads only the staged score table."""
    from hive_ddl_extract_tool_spark.operators.selection import (
        _build_classifier_scores,
    )

    df = _build_classifier_scores(spark, sf_dir)
    assert_broadcast_join(df)
    plan = formatted_plan(df)
    import re

    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scans) == 1, f"expected exactly one parquet scan:\n{plan}"
    assert "documents.parquet" in plan, plan
    final = formatted_plan(QUERIES["q123_quality_classifier"](spark, sf_dir))
    assert "qc_scores" in final, f"q123 should read the staged scores:\n{final}"


def test_pagerank_rounds_are_equi_joins(spark, sf_dir):
    """q124's three unrolled rounds must all be equi-joins over the staged
    pair set (zero raw documents scans, no cartesian); per-round work is
    src-keyed joins + one dst-keyed aggregate."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache

    clear_cache()
    df = QUERIES["q124_dupgraph_pagerank"](spark, sf_dir)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 0, f"unstaged corpus scan:\n{plan}"


def test_source_divergence_pair_join_is_bucket_keyed(spark, sf_dir):
    """q125's pair join runs between two S*B-bounded grid tables keyed on
    the bucket (never a corpus-sized side), over the staged tokenize pass
    (zero raw documents scans)."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache

    clear_cache()
    df = QUERIES["q125_source_divergence"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 0, f"unstaged corpus scan:\n{plan}"
    assert "CartesianProduct" not in plan or "BroadcastNestedLoop" in plan, plan


def test_incremental_dedup_rides_staged_pairs(spark, sf_dir):
    """q128 must read the staged q42 pair set (zero re-banding, zero raw
    documents re-shingling in its own plan) and broadcast the tiny per-doc
    flag table into the batch join."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache

    clear_cache()
    df = QUERIES["q128_incremental_dedup"](spark, sf_dir)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_point_in_time_join_is_join_free(spark, sf_dir):
    """q129's as-of fill must be the union-tag + window shape: ONE exchange
    on the dimension key and NO join operator anywhere in the plan (an
    inequality join here would be a per-key cross product)."""
    plan = formatted_plan(QUERIES["q129_point_in_time_join"](spark, sf_dir))
    assert "Join" not in plan, f"q129 should be join-free:\n{plan}"
    assert "Window" in plan, plan


def test_canonical_election_rides_staged_artifacts(spark, sf_dir):
    """q130 must compose the STAGED label and pair artifacts: no raw
    documents scan, no re-banding, no cartesian in its own plan."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache

    clear_cache()
    df = QUERIES["q130_canonical_election"](spark, sf_dir)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 0, f"unstaged corpus scan:\n{plan}"


def test_doremi_scans_token_stage_once(spark, sf_dir):
    """q132's corpus-sized staged token table must appear ONCE in the plan:
    the ref -> n -> nlp chain reads the tiny staged histogram instead of
    re-aggregating the token stage per consumer (observed three token-stage
    scans unstaged)."""
    plan = formatted_plan(QUERIES["q132_doremi_mixture"](spark, sf_dir))
    toks_scans = plan.count("stage_dsir_toks")
    assert toks_scans <= 1, f"token stage scanned {toks_scans}x:\n{plan[:2000]}"


def test_hybrid_audit_semi_filters_embeddings(spark, sf_dir):
    """q137 must reduce the corpus-sized embeddings table through a semi
    join on candidate ids BEFORE the vector joins -- the property that
    keeps its exchanges near-dup-sized at any corpus size."""
    plan = formatted_plan(QUERIES["q137_hybrid_dedup_audit"](spark, sf_dir))
    assert "LeftSemi" in plan, f"no semi filter in plan:\n{plan[:2000]}"
    assert_no_cartesian(QUERIES["q137_hybrid_dedup_audit"](spark, sf_dir))


def test_shipping_priority_topk_uses_heap(spark, sf_dir):
    """q150's top-10 must run as TakeOrderedAndProject over the per-order
    aggregate (a heap), never a global sort of all orders; both date
    filters must reach their parquet scans."""
    df = QUERIES["q150_shipping_priority"](spark, sf_dir)
    assert_top_k_plan(df)
    assert_pushed_filter(df, "l_shipdate")
    assert_pushed_filter(df, "o_orderdate")


def test_small_qty_revenue_single_shuffle_no_self_join(spark, sf_dir):
    """q151 decorrelates TPC-H Q17 as ONE window over l_partkey: the plan
    must broadcast the filtered part set and contain exactly one data
    shuffle (the window partitioning) -- a self-join formulation would
    show a second lineitem scan."""
    df = QUERIES["q151_small_qty_revenue"](spark, sf_dir)
    assert_broadcast_join(df)
    plan = formatted_plan(df)
    assert plan.count("lineitem.parquet") == 1, f"lineitem scanned twice:\n{plan[:2000]}"


def test_predicate_bands_push_part_disjunction(spark, sf_dir):
    """q152's OR-of-ANDs must split by side: the brand disjunction reaches
    the part parquet scan as a pushed filter (Catalyst factors the
    per-side disjuncts out of the join predicate)."""
    df = QUERIES["q152_predicate_bands"](spark, sf_dir)
    assert_pushed_filter(df, "p_brand")
    assert_no_cartesian(df)


def test_returned_items_topk_uses_heap(spark, sf_dir):
    """q154's top-20 customers must run as a heap over the aggregate, and
    the quarter filter must prune the orders scan before its join."""
    df = QUERIES["q154_returned_items"](spark, sf_dir)
    assert_top_k_plan(df)
    assert_pushed_filter(df, "o_orderdate")


def test_nation_profit_pushes_name_filter(spark, sf_dir):
    """q155's p_name substring filter must reach the part parquet scan:
    the join should only ever see qualifying parts."""
    df = QUERIES["q155_nation_profit"](spark, sf_dir)
    assert_pushed_filter(df, "p_name")
    assert_no_cartesian(df)


def test_bpe_merge_works_off_staged_vocabulary(spark, sf_dir):
    """q156 must do all its work on the STAGED (word, freq, pos, char)
    table: the corpus is scanned once at stage time, and the final plan's
    three consumers (round-1 count, merge, round-2 count) all read the
    vocabulary-sized stage -- zero documents scans in the query plan."""
    plan = formatted_plan(QUERIES["q156_bpe_merge_rounds"](spark, sf_dir))
    n = plan.count("documents.parquet")
    assert n == 0, f"unstaged corpus scan x{n}:\n{plan[:2000]}"
    assert "stage_bpe_chars" in plan, f"staged char table not in plan:\n{plan[:2000]}"


def test_dataset_profile_one_pass_per_table(spark, sf_dir):
    """q157 computes every column's metrics in ONE aggregation pass per
    table: each profiled parquet file appears exactly once in the plan
    (the multi-distinct aggregate plans as a single scan + Expand, never
    one scan per column)."""
    plan = formatted_plan(QUERIES["q157_dataset_profile"](spark, sf_dir))
    for tbl in ("orders", "documents", "events"):
        n = plan.count(f"{tbl}.parquet")
        assert n == 1, f"{tbl} scanned {n}x:\n{plan[:3000]}"
    assert "Expand" in plan, f"multi-distinct agg lost its one-pass Expand plan:\n{plan[:2000]}"


def test_pq_assignment_is_pure_projection(spark, sf_dir):
    """q158's PQ assignment must be projection arithmetic: no join anywhere
    in the plan (the codebook is a literal), one embeddings scan, and the
    only exchange is the final 128-group aggregate."""
    plan = formatted_plan(QUERIES["q158_pq_distortion"](spark, sf_dir))
    assert "Join" not in plan, f"unexpected join in PQ plan:\n{plan[:2000]}"
    assert plan.count("embeddings.parquet") == 1


def test_hard_negatives_join_is_cell_local(spark, sf_dir):
    """q159 must join anchors to candidates ON THE CELL KEY from the staged
    assignment table (cell-local candidate generation, q103's scale shape):
    the final plan reads the stage, not raw embeddings, and the join is a
    broadcast of the bounded anchor set."""
    df = QUERIES["q159_hard_negatives"](spark, sf_dir)
    assert_broadcast_join(df)
    plan = formatted_plan(df)
    assert "stage_hardneg_cells" in plan, f"staged cells not in plan:\n{plan[:2000]}"
    assert plan.count("embeddings.parquet") == 0, f"unstaged embeddings scan:\n{plan[:2000]}"


def test_truncation_recall_single_corpus_scan(spark, sf_dir):
    """q160 computes both cosines on the same candidate row: the corpus
    side appears once (plus the bounded broadcast query side), and both
    rankings share the query-keyed window exchange."""
    plan = formatted_plan(QUERIES["q160_truncation_recall"](spark, sf_dir))
    n = plan.count("embeddings.parquet")
    assert n == 2, f"embeddings scanned {n}x (want query side + ONE corpus side):\n{plan[:2000]}"


def test_char_coverage_scans_corpus_once(spark, sf_dir):
    """q161's census feeds both the cumulative ranking and the total: the
    corpus must be scanned once (totals ride a full-frame window over the
    alphabet-sized census, never an aggregate crossJoin that re-derives
    the census subtree)."""
    plan = formatted_plan(QUERIES["q161_char_coverage"](spark, sf_dir))
    n = plan.count("documents.parquet")
    assert n == 1, f"documents scanned {n}x:\n{plan[:2000]}"


def test_negative_sampling_scans_corpus_once_and_heaps(spark, sf_dir):
    """q162: one corpus scan (the weight total rides a window over the
    top-k result, not a recomputing crossJoin) and the vocabulary cut is
    a TakeOrderedAndProject heap, not a global sort."""
    df = QUERIES["q162_negative_sampling_table"](spark, sf_dir)
    plan = formatted_plan(df)
    n = plan.count("documents.parquet")
    assert n == 1, f"documents scanned {n}x:\n{plan[:2000]}"
    # heap semantics: either TakeOrderedAndProject, or (when a window
    # consumes the limit) per-partition sort + LocalLimit BEFORE the
    # single-partition exchange -- each partition ships at most NEG_V rows.
    assert "TakeOrderedAndProject" in plan or "LocalLimit" in plan, (
        f"vocabulary cut is a global sort:\n{plan[:2000]}"
    )


def test_ann_rank_quality_composes_staged_buckets(spark, sf_dir):
    """q163 composes the registered exact and LSH pipelines: the LSH side
    must read the STAGED bucket table (one signature build per session),
    and the report must cover the full query set even when a query has no
    ANN candidates."""
    plan = formatted_plan(QUERIES["q163_ann_rank_quality"](spark, sf_dir))
    assert "stage_ann_buckets" in plan, f"LSH side not riding staged buckets:\n{plan[:2000]}"


def test_source_ablation_rides_staged_tokens(spark, sf_dir):
    """q164 derives every ablation from the staged DSIR tokenize pass: no
    raw documents scan, no per-source job — one S*B grid feeds all S
    ablations."""
    plan = formatted_plan(QUERIES["q164_source_ablation"](spark, sf_dir))
    assert "stage_dsir_toks" in plan, f"staged tokens not in plan:\n{plan[:2000]}"
    assert plan.count("documents.parquet") == 0, f"unstaged corpus scan:\n{plan[:2000]}"


def test_deletion_manifest_rides_staged_labels(spark, sf_dir):
    """q166 composes the staged CC labels with one canonical-keyed cluster
    rollup: no re-banding (single documents scan for the doc attributes),
    no cartesian."""
    df = QUERIES["q166_deletion_manifest"](spark, sf_dir)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") <= 1, f"re-derived corpus scans:\n{plan[:2000]}"


def test_cluster_split_single_pass_with_window_total(spark, sf_dir):
    """q167: per-cluster aggregate -> per-split rollup in one pass; the
    global straddle count rides a full-frame window over the 3-row rollup
    (an aggregate crossJoin would re-derive the cluster subtree)."""
    df = QUERIES["q167_cluster_split"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") <= 1, f"re-derived corpus scans:\n{plan[:2000]}"
    assert "Window" in plan


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Spark's runtime Bloom-filter join pruning (the 100 TB selective
    fact-fact join story): with a selective build side, the probe scan
    gains a might_contain() filter fed by a bloom_filter_agg subquery --
    rows that cannot join are dropped AT THE SCAN, before the exchange.
    Silent at test SF only because applicationSideScanSizeThreshold
    defaults to 10GB; production defaults fire on a 100 TB fact. Results
    must equal the plain join (the filter is purely reductive)."""
    from hive_ddl_extract_tool_spark.plans.explain import formatted_plan as fp
    from hive_ddl_extract_tool_spark.tables import load
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}

    def q():
        orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 90000)
        li = load(spark, sf_dir, "lineitem")
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = fp(q())
        assert "might_contain" in plan, f"no runtime bloom filter injected:\n{plan[:2000]}"
        assert "bloom_filter_agg" in plan
        with_bloom = {tuple(r) for r in q().collect()}
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    plain = {tuple(r) for r in q().collect()}
    assert with_bloom == plain


def test_zorder_audit_single_pass_no_cartesian_blowup(spark, sf_dir):
    """q172 must compare both layouts from ONE pass over the quantized
    rows: the fact appears at most twice in the plan (the stats pass that
    derives the key-domain max, plus the single audit scan -- never a
    third scan for the second layout), and the only nested-loop is the
    1-row domain-max broadcast."""
    plan = formatted_plan(QUERIES["q172_zorder_layout"](spark, sf_dir))
    assert plan.count("lineitem.parquet") <= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_bloom_audit_bit_joins_are_broadcast(spark, sf_dir):
    """q173's bit set (<= m rows) and build keys must broadcast against
    the probe positions; the audit never shuffles the probe stream by
    position."""
    df = QUERIES["q173_bloom_prune_audit"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_equidepth_histogram_window_rides_cell_table(spark, sf_dir):
    """q174 computes rank boundaries on the bounded CELL table, not the
    fact: one orders scan feeds a hash aggregate, and the cumulative
    window runs after that aggregate (SinglePartition over ~500 rows is
    the design, not a leak of the corpus into one task)."""
    plan = formatted_plan(QUERIES["q174_equidepth_histogram"](spark, sf_dir))
    assert plan.count("orders.parquet") == 1, plan
    assert "Window" in plan, plan


def test_pii_scan_is_one_jvm_pass(spark, sf_dir):
    """q185: plant + scan + redact + rollup is a single linear documents
    scan with map-side-combined per-source aggregation -- no joins, no
    second scan, and the regex work stays in JVM codegen (covered by the
    global no-Python audit)."""
    plan = formatted_plan(QUERIES["q185_pii_scan"](spark, sf_dir))
    assert plan.count("documents.parquet") == 1, plan
    assert "Join" not in plan, f"PII scan should be join-free:\n{plan[:2000]}"


def test_concurrent_sessions_two_level_prefix(spark, sf_dir):
    """q186's sweep line must be the two-level prefix sum, not one global
    ordering: the in-bucket running sum partitions by hour bucket, and the
    only single-partition window runs over the hour-level aggregate (a
    calendar-bounded row count), never over raw boundaries. Events are
    scanned once per boundary side (start/end both derive from the same
    sessionize pass)."""
    plan = formatted_plan(QUERIES["q186_concurrent_sessions"](spark, sf_dir))
    assert_no_cartesian(QUERIES["q186_concurrent_sessions"](spark, sf_dir))
    # the hour-level prefix window must sit ABOVE the per-bucket aggregate:
    # after the hb groupBy the plan carries a SinglePartition exchange over
    # aggregated rows; the raw-boundary window must be hash-partitioned.
    assert "hashpartitioning(hb" in plan or "hashpartitioning(_groupingexpression" in plan, (
        f"in-bucket running sum is not partitioned by hour bucket:\n{plan[:3000]}"
    )


def test_weighted_sample_single_scan_shared_exchange(spark, sf_dir):
    """q187: rank and tau ride the SAME source-partitioned exchange (one
    corpus scan, consecutive Window passes), and the estimator join-back
    was folded into one conditional aggregation -- no second documents
    scan, no cartesian."""
    df = QUERIES["q187_weighted_sample"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 1, plan
    assert_no_cartesian(df)


def test_crossdoc_spans_window_not_selfjoin(spark, sf_dir):
    """q188's span document-count must ride a COUNT window partitioned by
    the span hash -- one shuffle on the hash -- never a gram-table
    self-join (which fans out quadratically inside hot spans)."""
    df = QUERIES["q188_crossdoc_spans"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan, f"span count should be a window, not a join:\n{plan[:2000]}"
    assert plan.count("documents.parquet") == 1, plan


def test_rolling_active_users_bounded_fanout(spark, sf_dir):
    """q189: the sliding distinct must come from the deduped (user, day)
    pairs exploded x7 -- one events scan, no self-join over days, no raw
    per-event window scan."""
    df = QUERIES["q189_rolling_active_users"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("events.parquet") == 1, plan
    assert "Join" not in plan, f"WAU should be explode+groupBy, not a join:\n{plan[:2000]}"
    assert_no_cartesian(df)


def test_good_turing_single_scan(spark, sf_dir):
    """q190: spectrum = two map-side-combined aggregations off ONE corpus
    scan (gram counts keyed by the 60-bit hash, then the
    frequency-of-frequencies rollup)."""
    df = QUERIES["q190_good_turing"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 1, plan
    assert_no_cartesian(df)


def test_triangle_count_degree_oriented_joins(spark, sf_dir):
    """q191: the wedge enumeration must be an equi-join of ORIENTED edges
    on their source and the closure check a hash semi-join -- the
    degree-ordered plan. (The three 1-row stat scalars crossJoin by
    design, so no assert_no_cartesian here -- the house rule.)"""
    plan = formatted_plan(QUERIES["q191_dupgraph_triangles"](spark, sf_dir))
    assert "LeftSemi" in plan, f"closure check is not a semi-join:\n{plan[:2000]}"


def test_entropy_rate_single_scan_window_total(spark, sf_dir):
    """q192: bigram counts off one corpus scan; the per-source total rides
    a full-frame window over the TYPE table (bounded by vocabulary), never
    an aggregate crossJoin that re-derives the counts."""
    df = QUERIES["q192_entropy_rate"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 1, plan
    assert_no_cartesian(df)


def test_containment_rides_staged_candidates(spark, sf_dir):
    """q193 must verify containment on the SAME staged artifacts q42 uses:
    the LSH candidate set (one band join per session) and the
    candidate-only shingle+size table (r16) -- the semi-filter to
    candidate docs happens once, in the q42_dsc staging job, so the final
    plan must read those two artifacts and never a corpus-sized input
    (raw documents or the full staged shingle set)."""
    plan = formatted_plan(QUERIES["q193_containment_dedup"](spark, sf_dir))
    assert "q42_cand" in plan, f"containment not riding staged candidates:\n{plan[:2000]}"
    assert "q42_dsc" in plan, f"verify not riding the candidate shingle stage:\n{plan[:2000]}"
    assert "documents.parquet" not in plan, f"corpus re-scanned in the verify:\n{plan[:2000]}"
    assert "stage_doc_shingles" not in plan, f"corpus-sized shingle stage in the verify:\n{plan[:2000]}"


def test_estimator_audit_reads_no_corpus_sized_input(spark, sf_dir):
    """q106 folds its signatures over the candidate-only shingle stage
    (q42_dsc): every doc of a q42 pair is a candidate doc and q42_dsc holds
    all of its distinct shingles, so with its stages present the plan
    reads neither the documents file nor the corpus-sized shingle stage."""
    plan = formatted_plan(QUERIES["q106_minhash_estimator_error"](spark, sf_dir))
    assert "q42_dsc" in plan, f"signatures not riding the candidate shingle stage:\n{plan[:2000]}"
    assert "documents.parquet" not in plan, f"corpus scanned for signatures:\n{plan[:2000]}"
    assert "stage_doc_shingles" not in plan, f"corpus-sized shingle stage read:\n{plan[:2000]}"


def test_python_datasink_readback_plan(spark, sf_dir):
    """q194's RETURNED plan is the read-back aggregation: a JSON scan of
    the manifest-listed files feeding a partially-aggregated hash agg on
    source (map-side combine before one exchange). The sink write itself
    runs eagerly inside the call; the read-back must stay JVM-side -- a
    Python stage here would mean the round-trip re-entered Python."""
    df = QUERIES["q194_python_datasink"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "hashpartitioning(source" in plan, plan
    assert "partial_" in plan.lower() or "Partial" in plan, plan
    assert_no_python_udf(df)


def test_attribution_no_join_single_user_key(spark, sf_dir):
    """q195 carries the conversion value via a window over the SAME
    (user, episode) partitioning -- a join back against the O(conversions)
    purchase table would re-shuffle the touch stream. All windows must
    hash on user_id."""
    plan = formatted_plan(QUERIES["q195_position_attribution"](spark, sf_dir))
    assert "Join" not in plan, f"attribution grew a join:\n{plan[:2000]}"
    assert "hashpartitioning(user_id" in plan, plan


def test_cdc_apply_aggregate_first_no_window(spark, sf_dir):
    """q196 compacts the change log with max_by aggregates (map-side
    combinable), never a row_number window: a window would force a full
    sort of the log per key where the argmax needs only one pass."""
    plan = formatted_plan(QUERIES["q196_cdc_apply"](spark, sf_dir))
    assert "Window" not in plan, f"CDC compaction regressed to a window:\n{plan[:2000]}"
    assert "max_by" in plan or "partial_max_by" in plan.lower(), plan


def test_conversion_paths_topk_heap(spark, sf_dir):
    """q199's top-20 ranking must be a TakeOrderedAndProject heap, not a
    global sort of the path table."""
    plan = formatted_plan(QUERIES["q199_conversion_paths"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_ewma_single_window_sort(spark, sf_dir):
    """q198's 16 lag terms must share ONE ascending window sort (plus the
    one descending last-row argmax) -- 16 separate Window nodes would mean
    the lag expressions stopped collapsing into a shared frame."""
    plan = formatted_plan(QUERIES["q198_ewma"](spark, sf_dir))
    n_window_nodes = len(
        [ln for ln in plan.splitlines() if ln.strip().startswith("(") and ln.rstrip().endswith("Window")]
    )
    assert n_window_nodes <= 2, f"lag terms split into many windows:\n{plan[:3000]}"
    assert "hashpartitioning(user_id" in plan, plan


def test_twa_single_exchange(spark, sf_dir):
    """q200: the lead() window and the per-user rollup share the user_id
    hash partitioning -- one exchange, no join."""
    plan = formatted_plan(QUERIES["q200_time_weighted_avg"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_hll_shard_merge_stages_day_user(spark, sf_dir):
    """q201's two branches (shard sketches, direct sketch + exact) must
    both read the STAGED (day, user) dedup artifact -- without it the
    events scan and dedup shuffle run twice."""
    plan = formatted_plan(QUERIES["q201_hll_shard_merge"](spark, sf_dir))
    assert "q201_day_user" in plan, f"(day,user) dedup not staged:\n{plan[:2000]}"


def test_prefix_filter_join_shapes(spark, sf_dir):
    """q202: equi-joins only (the prefix lemma removes any need for a
    theta/cartesian candidate step), and the verify joins must run on
    candidate-doc SEMI-filtered shingles."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache
    from hive_ddl_extract_tool_spark.operators.dedup import (
        _doc_shingles,
        _q202_build,
        _q202_candidates,
    )

    clear_cache()
    # assert on the BUILD pipeline: the registered q202 stages its result
    # (three consumers), so its own plan is just the staged read
    plan = formatted_plan(_q202_build(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # the semi-filter to candidate docs runs once, inside the q202_dsc
    # staging job (r16); the verify must read that staged artifact
    assert "q202_dsc" in plan, f"verify not riding candidate shingle stage:\n{plan[:2000]}"
    # the dfreq aggregate scales with the corpus: its join must stay a
    # shuffle join (MERGE hint) -- at a 10x-inflated sf0.1 the static
    # under-estimate crossed the broadcast threshold and the driver-side
    # build OOM'd (tools/scale.py stress finding, round 7). Probe: raise
    # the broadcast threshold so every size-decided join in the candidate
    # subtree broadcasts at test scale; the only SortMergeJoin that can
    # remain is the hint-pinned dfreq join, so the assertion cannot be
    # masked by the a x b self-join planning as SMJ for size reasons.
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(512 * 1024 * 1024))
    try:
        cand_plan = formatted_plan(
            _q202_candidates(_doc_shingles(spark, sf_dir, cache=True))
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert "SortMergeJoin" in cand_plan, f"dfreq join not pinned to shuffle:\n{cand_plan[:2000]}"


def test_tfidf_simjoin_never_broadcasts_dfreq(spark, sf_dir):
    """q245's document-frequency aggregate is corpus-sized; the postings
    build must join it with a shuffle, never a driver-side broadcast
    (same `scale.py stress` finding as q202's dfreq)."""
    from hive_ddl_extract_tool_spark.operators.dedup import _q245_postings

    plan = formatted_plan(_q245_postings(spark, sf_dir))
    assert "SortMergeJoin" in plan, f"dfreq join not pinned to shuffle:\n{plan[:2000]}"


def test_mad_outliers_broadcast_medians(spark, sf_dir):
    """q203's per-type statistic tables are 5 rows -- they must broadcast
    back over the event stream, never shuffle it; the deviation stream is
    parquet-staged for its two consumers."""
    plan = formatted_plan(QUERIES["q203_mad_outliers"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "q203_dev" in plan, f"deviation stream not staged:\n{plan[:2000]}"


def test_partition_pruned_scan_has_partition_filters(spark, sf_dir):
    """q205's probe must prune at the DIRECTORY level: the scan carries
    PartitionFilters on day, so only the 7 probed partitions are read."""
    plan = formatted_plan(QUERIES["q205_partition_pruned_scan"](spark, sf_dir))
    seg = plan.split("PartitionFilters", 1)
    assert len(seg) == 2 and "day" in seg[1][:200], f"no day partition filter:\n{plan[:2000]}"


def test_compaction_readback_plain_scan(spark, sf_dir):
    """q204's returned plan aggregates the compacted files directly -- one
    parquet scan, no Python stage (the compaction itself ran eagerly)."""
    df = QUERIES["q204_compaction_roundtrip"](spark, sf_dir)
    assert_no_python_udf(df)


def test_rolling_p95_single_user_window(spark, sf_dir):
    """q206's frame collect must ride one user-keyed window -- no join,
    no global sort; per-row state is the bounded 15-element frame."""
    plan = formatted_plan(QUERIES["q206_rolling_p95"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_streaks_islands_share_user_exchange(spark, sf_dir):
    """q207: dedup, island window, and both rollups all hash on user_id;
    the only joins would be regressions."""
    plan = formatted_plan(QUERIES["q207_activity_streaks"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_association_rules_broadcast_stats(spark, sf_dir):
    """q208's singles/totals tables are vocabulary-sized -- they must
    broadcast; the only non-equi piece is the 1-row totals nested loop."""
    plan = formatted_plan(QUERIES["q208_association_rules"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_weighted_median_level_preagg_one_brand_exchange(spark, sf_dir):
    """q209 must pre-aggregate to (brand, price-level) rows BEFORE the
    windows -- running the cumulative sum over raw lineitem would sort the
    whole fact per brand; part is a broadcast dim."""
    plan = formatted_plan(QUERIES["q209_weighted_median"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "hashpartitioning(p_brand" in plan, plan


def test_golden_record_aggregate_first(spark, sf_dir):
    """q210's survivorship is max_by per column in ONE hash aggregate --
    a window or self-join per column would multiply the key shuffle."""
    plan = formatted_plan(QUERIES["q210_golden_record"](spark, sf_dir))
    assert "Window" not in plan, plan
    assert "max_by" in plan, plan


def test_try_arithmetic_stays_in_codegen(spark, sf_dir):
    """q211's hazard expressions are scalar try_* calls -- the whole query
    is one scan + map-side-combined aggregate, no Python, no join."""
    df = QUERIES["q211_try_arithmetic"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert_no_python_udf(df)


def test_phrase_search_no_position_self_join(spark, sf_dir):
    """q213's adjacency comes from a per-doc lead() window over the staged
    bigram stream -- the only join is the 1-row broadcast of the argmax
    phrase; a positional self-join of the corpus would be the regression."""
    plan = formatted_plan(QUERIES["q213_phrase_search"](spark, sf_dir))
    assert "q213_bigrams" in plan, f"bigram stream not staged:\n{plan[:2000]}"
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_classifier_gains_reads_staged_scores(spark, sf_dir):
    """q214 must evaluate the STAGED inference pass (one scan shared with
    q123/q142), and its label join is a keyed equi-join of two slim
    tables -- never a re-run of the token explode."""
    plan = formatted_plan(QUERIES["q214_classifier_gains"](spark, sf_dir))
    assert "qc_scores" in plan, f"inference re-ran instead of reading the stage:\n{plan[:2000]}"
    assert "CartesianProduct" not in plan, plan


def test_fifo_matching_shapes(spark, sf_dir):
    """q215: FIFO allocation is interval algebra -- two part-keyed cumsum
    windows and a part-keyed equi-join with the interval predicate as a
    post-filter, never a CartesianProduct or an iterative loop; part
    broadcasts for the brand rollup."""
    df = QUERIES["q215_fifo_matching"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(l_partkey" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_parameterized_sql_pushes_bound_literal(spark, sf_dir):
    """q216's :min_price binds at parse time, so the predicate must reach
    the parquet scan exactly like an inlined literal."""
    df = QUERIES["q216_parameterized_sql"](spark, sf_dir)
    assert_pushed_filter(df, "o_totalprice")


def test_sorted_neighborhood_banded_window(spark, sf_dir):
    """q218's lead() windows must partition by the minhash band -- a
    SinglePartition window over the whole sorted key table would be the
    scale regression SNM's banding exists to avoid."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache
    from hive_ddl_extract_tool_spark.operators.dedup import _q218_build

    clear_cache()
    plan = formatted_plan(_q218_build(spark, sf_dir))
    assert "SinglePartition" not in plan, f"unbanded global sort window:\n{plan[:2000]}"
    # the semi-filter to candidate docs runs once, inside the q218_dsc
    # staging job (r16); the verify must read that staged artifact
    assert "q218_dsc" in plan, plan


def test_cusum_window_over_days_not_events(spark, sf_dir):
    """q219's running deviation must window over the DAILY pre-aggregate
    (calendar-bounded), never the raw event stream; the 5-row totals
    table broadcasts back."""
    plan = formatted_plan(QUERIES["q219_cusum_drift"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "hashpartitioning(event_type" in plan, plan


def test_benford_single_scan_bounded_broadcasts(spark, sf_dir):
    """q221: one orders scan feeding a 9-row aggregate; the total and the
    chi-square scalar re-enter as bounded broadcasts."""
    df = QUERIES["q221_benford_audit"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "q221_digits" in plan, f"digit table not staged:\n{plan[:2000]}"
    assert plan.count("orders.parquet") == 0, plan
    assert_no_python_udf(df)


def test_blocking_audit_rides_staged_artifacts(spark, sf_dir):
    """q222 must read the three methods' STAGED pair sets (q42_pairs + the
    shingle stage), not re-run their pipelines per comparison."""
    plan = formatted_plan(QUERIES["q222_blocking_audit"](spark, sf_dir))
    assert "q42_pairs" in plan, f"LSH pairs not staged:\n{plan[:2000]}"


def test_cms_sketch_rides_staged_counts(spark, sf_dir):
    """q225: the exact per-key counts stage once; the d sketch rows and the
    estimate join all read the stage (events never re-scanned), cells come
    back as bounded broadcasts, and top-k avoids a global sort."""
    df = QUERIES["q225_cms_estimator_audit"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "q225_counts" in plan, f"counts not staged:\n{plan[:2000]}"
    assert plan.count("events.parquet") == 0, plan
    assert "BroadcastHashJoin" in plan, plan
    assert_top_k_plan(df)
    assert_no_python_udf(df)


def test_merkle_digests_ride_staged_buckets(spark, sf_dir):
    """q226: ONE orders scan builds both replicas' bucket digests; the five
    per-level rollups read the staged 256-row table."""
    plan = formatted_plan(QUERIES["q226_merkle_reconcile"](spark, sf_dir))
    assert "q226_buckets" in plan, f"bucket digests not staged:\n{plan[:2000]}"
    assert plan.count("orders.parquet") == 0, plan


def test_fd_audit_two_stage_aggregation(spark, sf_dir):
    """q227: each FD is a (X, Y) count then an X-sized combine -- partial
    aggregation applies, no joins between candidates, no Python."""
    df = QUERIES["q227_fd_audit"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "HashAggregate" in plan, plan
    assert_no_cartesian(df)
    assert_no_python_udf(df)


def test_apportionment_full_frame_window_is_post_agg(spark, sf_dir):
    """q228: the full-frame window runs over the SOURCE-level aggregate
    (bounded ~20 rows), never the raw corpus -- the single corpus exchange
    is the source groupBy."""
    df = QUERIES["q228_lr_apportionment"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "hashpartitioning(source" in plan, plan
    assert_no_python_udf(df)


def test_fellegi_sunter_broadcasts_pairs_not_attrs(spark, sf_dir):
    """q229: the pair sides (truth, candidates) broadcast; the corpus-sized
    attribute projection is always the streamed side; the 1-row parameter
    table enters as a broadcast scalar."""
    df = QUERIES["q229_fellegi_sunter"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "q229_attrs" in plan, f"attrs not staged:\n{plan[:2000]}"
    assert "BroadcastHashJoin" in plan, plan
    assert_no_python_udf(df)


def test_q5_filters_push_to_scans(spark, sf_dir):
    """q230: the order-date and region filters reach their scans; nation and
    region broadcast; no cartesian anywhere in the 6-table tree."""
    df = QUERIES["q230_local_supplier_volume"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert_no_cartesian(df)
    assert_no_python_udf(df)


def test_kcore_rounds_ride_staged_edges(spark, sf_dir):
    """q231: every peel round reads a STAGED edge set (the q42 pipeline runs
    once, not once per round) and the keep-lists broadcast."""
    plan = formatted_plan(QUERIES["q231_kcore_peel"](spark, sf_dir))
    assert "q231_edges_r0" in plan, f"round-0 edges not staged:\n{plan[:2000]}"
    assert "q231_edges_r3" in plan, plan
    assert plan.count("documents.parquet") == 0, plan


def test_cramers_v_stages_contingency(spark, sf_dir):
    """q232: each pair's contingency table stages once; margins and the
    statistic read the stage, never re-scanning the base table."""
    df = QUERIES["q232_cramers_v"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "q232_ct_" in plan, f"contingency not staged:\n{plan[:2000]}"
    for t in ("documents.parquet", "customer.parquet", "events.parquet",
              "lineitem.parquet"):
        assert plan.count(t) == 0, (t, plan[:2000])
    assert_no_python_udf(df)


def test_k_anonymity_single_qi_shuffle(spark, sf_dir):
    """q233: the three k rows read the STAGED class-size table; customer is
    scanned once (inside the stage), never per k."""
    plan = formatted_plan(QUERIES["q233_k_anonymity"](spark, sf_dir))
    assert "q233_classes" in plan, f"class table not staged:\n{plan[:2000]}"
    assert plan.count("customer.parquet") == 0, plan


def test_vocab_growth_bounded_windows(spark, sf_dir):
    """q234: the cumulative windows run over the 10-row checkpoint tables;
    the max-id scalar broadcasts; no Python stages."""
    df = QUERIES["q234_vocab_growth"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert_no_python_udf(df)


def test_decile_calibration_rides_staged_scores(spark, sf_dir):
    """q235: the per-doc score pass is the STAGED quality-buckets artifact
    (shared with q102/q142); the bucket->decile map joins back broadcast."""
    df = QUERIES["q235_decile_calibration"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "quality_buckets" in plan, f"score pass not staged:\n{plan[:2000]}"
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("documents.parquet") == 0, plan
    assert_no_python_udf(df)


def test_sequence_match_single_window_sort(spark, sf_dir):
    """q236: both lead() pairs share ONE user-keyed window sort; the top-k
    is a heap, not a global sort."""
    df = QUERIES["q236_sequence_match"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("- Window") == 1, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert_top_k_plan(df)
    assert_no_python_udf(df)


def test_keyspace_gaps_banded_never_global(spark, sf_dir):
    """q237: the per-key lead() windows partition by band (never a
    SinglePartition sort over the corpus); only the bounded band summary
    uses a full-frame window."""
    df = QUERIES["q237_keyspace_gaps"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "hashpartitioning(band" in plan, plan
    assert_no_python_udf(df)


def test_sampling_audit_single_scan_no_join(spark, sf_dir):
    """q239: one lineitem scan computes both tiers via conditional
    aggregation -- no join, no second scan, no Python."""
    df = QUERIES["q239_sampling_audit"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("lineitem.parquet") == 1, plan
    assert "Join" not in plan, plan
    assert_no_python_udf(df)


def test_winsorize_rides_staged_count_map(spark, sf_dir):
    """q240: bounds and clip stats both read the STAGED (type, cents) count
    map; events is never re-scanned; the bounds broadcast back."""
    df = QUERIES["q240_winsorize_audit"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "q240_vmap" in plan, f"count map not staged:\n{plan[:2000]}"
    assert plan.count("events.parquet") == 0, plan
    assert "BroadcastHashJoin" in plan, plan
    assert_no_python_udf(df)


def test_weekly_quantiles_bounded_map_no_join(spark, sf_dir):
    """q242: one events scan into the (type, week, cents) map; rank
    selection is window + aggregate, no join anywhere."""
    df = QUERIES["q242_weekly_quantiles"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("events.parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "hashpartitioning(event_type" in plan, plan
    assert_no_python_udf(df)


def test_mmr_rounds_ride_staged_candidates(spark, sf_dir):
    """q243: every greedy round reads the STAGED candidate/pairwise tables
    (embeddings scanned only inside the stages, never per round)."""
    plan = formatted_plan(QUERIES["q243_mmr_rerank"](spark, sf_dir))
    assert "q243_cand" in plan, f"candidates not staged:\n{plan[:2000]}"
    assert "q243_pairs" in plan, plan
    assert plan.count("embeddings.parquet") == 0, plan


def test_activity_trend_regresses_over_daily_aggregate(spark, sf_dir):
    """q244: the OLS sums run over the calendar-bounded daily table (ONE
    map-side-combined events pass); the per-type min-day rides a window
    over that tiny table, never a join that would re-derive the scan."""
    df = QUERIES["q244_activity_trend"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("events.parquet") == 1, plan
    assert "Join" not in plan, plan
    assert_no_python_udf(df)


def test_tfidf_simjoin_rides_staged_postings(spark, sf_dir):
    """q245: norms and the term self-join both read the STAGED df-pruned
    postings; documents is never re-scanned; no cartesian anywhere."""
    df = QUERIES["q245_tfidf_simjoin"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "q245_postings" in plan, f"postings not staged:\n{plan[:2000]}"
    assert plan.count("documents.parquet") == 0, plan
    assert_no_cartesian(df)
    assert_no_python_udf(df)


def test_prf_rides_staged_tokens(spark, sf_dir):
    """q246: the token stream stages ONCE for its five consumers; documents
    is never re-scanned; the expanded term set enters as a broadcast. The
    staged stream is the SHARED bm25_toks artifact (round 8: q81/q121 and
    q246 consume one staging instead of per-query rebuilds)."""
    df = QUERIES["q246_prf_expansion"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "bm25_toks" in plan, f"token stream not staged:\n{plan[:2000]}"
    assert plan.count("documents.parquet") == 0, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert_no_python_udf(df)


def test_coverage_greedy_bounded_rounds(spark, sf_dir):
    """q247: rounds ride the staged shingle set, staged covered sets, AND
    (round 8) staged argmax picks -- three consumers read each pick, so an
    unstaged pick re-ran the full gains aggregate per consumer; documents
    never re-scans; the argmax expression itself is a heap, not a window."""
    plan = formatted_plan(QUERIES["q247_coverage_select"](spark, sf_dir))
    assert "q247_covered_r4" in plan, f"covered sets not staged:\n{plan[:2000]}"
    assert "q247_pick_r5" in plan, f"argmax picks not staged:\n{plan[:2000]}"
    assert plan.count("documents.parquet") == 0, plan
    # the heap shape of the staged pick expression (TakeOrderedAndProject,
    # never a full-frame window sort) -- asserted on the expression q247
    # stages, since the final plan only reads the staged result back
    from pyspark.sql import functions as F

    from hive_ddl_extract_tool_spark.operators.dedup import _doc_shingles

    ds = _doc_shingles(spark, sf_dir, cache=True)
    pick_plan = formatted_plan(
        ds.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("gain"))
        .orderBy(F.desc("gain"), "doc_id")
        .limit(1)
    )
    assert "TakeOrderedAndProject" in pick_plan, pick_plan
    # SinglePartition appears only for the bounded tail (limit-1 head merge,
    # 1-row coverage scalars); a Window node would mean the argmax regressed
    # to a full-frame sort
    assert "- Window" not in plan, f"windowed argmax crept in:\n{plan[:2000]}"


def test_anova_single_pass_no_join(spark, sf_dir):
    """q248: one documents scan to group moments, one k-row aggregate; no
    join, no Python, no window."""
    df = QUERIES["q248_anova_sources"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 1, plan
    assert "Join" not in plan, plan
    assert_no_python_udf(df)
