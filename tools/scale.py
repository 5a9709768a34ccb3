"""The scale harness: inflate the test corpus K-fold and check the engine on it.

Subcommands (each builds its own corpus from --sf-dir; see "Lifecycle"):

- ``stress``      candidate-set sizes, output pairs and wall-clock of the
                  dedup/similarity families for each K in --mults
                  (SCALE.md §Measured). The claim under test: the staged
                  pipelines grow with the TRUE near-dup structure (~K),
                  never with the N^2 candidate space (~K^2).
- ``smoke``       every registered query EXECUTES (count()) on a corpus
                  with every inflatable table K-fold: a corpus-sized
                  broadcast, driver-side collect or unbounded explode shows
                  up here as an error, not in production. No oracle; the
                  declared quadratic audit baselines (SKIP) are skipped.
- ``oracle``      one representative per family (ORACLE_FAMILIES) on both
                  engines, on the same K-fold parquet, under the driver's
                  pass rule (column names + type-strict canonical rows,
                  hive_ddl_extract_tool_spark/verify.py): correct at
                  scale, not only executes at scale.
- ``invariants``  Spark-only exact K-scaling laws, for K past where the
                  single-node DuckDB twin can follow (K=100/300).
- ``tables``      rebuild SCALE.md's two oracle tables from the --out
                  JSONs of ``oracle`` at K = 1, 3, 10 and 30.

Inflation. Copy j of an inflated table shifts its id columns by j*STRIDE
(ids are asserted to lie in [0, STRIDE)), so copies never share a key, and
applies one transform per table:

- documents: every [a-z0-9]+ run gets the suffix ``x{j}`` (the text is
  asserted pure [a-z0-9 ]), so no shingle of copy j equals one of another
  copy: there are NO cross-copy near-dups and each copy replicates the
  original's internal near-dup pairs exactly. True pairs grow K-fold while
  the pair space grows K^2-fold.
- embeddings: copy j rotates each vector left by j positions, which keeps
  norms and within-copy dot products and decorrelates cross-copy cosines.
  Rotation repeats at the embedding dim, so K <= dim is asserted.
- events: event_id and user_id shift, the timeline is untouched: per-user
  state replicates K-fold, the staged day shards and watermarks are the
  source's, so a replay sees K-fold batch SIZES, not more batches.
- orders/lineitem: the order key shifts, the dimensions stay shared, so
  every FK join resolves in every copy and per-group sums/counts scale
  exactly K-fold while ratios stay K-invariant.

Every other table is symlinked. All inflated tables of one subcommand land
in one directory per (K, table set); each family reads only its own
tables, so the rest being inflated too does not change its input.

Lifecycle. A corpus starts from a fresh directory. When its block ends
cleanly it is retired together with every artifact staged from it (the
``cached_df`` stages and the per-corpus scratch dirs); after a failed row,
or when the block aborts, it is kept as evidence and a ``KEPT`` line names
it. ``invariants`` inflates its three table sets one after another, so at
most one corpus is on disk at a time.

Invariant laws (every compared column integer or string; no float crosses
a law). The K-fold result is a pure function of the 1x result:

- q40 exact dedup            (keep_id mod S, n_dups) multiset: K-fold
- q202 prefix-filter join    full row (both ids mod S) multiset: K-fold.
                             q202, not q42: the prefix filter is lossless;
                             LSH band recall is probabilistic per copy (the
                             fixture's J=0.8 pair misses ~2.8e-4/copy)
- q114 arrow batch stats     (doc_id mod S, ws_tokens) multiset: K-fold
                             (the suffix attaches inside runs, so token
                             counts survive; bytes/fingerprints do not)
- q105 length buckets        n_docs, n_tokens, padded_tokens Kx; n_batches
                             recomputed (a ceiling division is not linear
                             in K); waste_ppm invariant
- q228 LR apportionment      full row: alloc/got_extra/total_alloc
                             identical at every K, n_tokens Kx (Hamilton's
                             method is K-invariant on Kx-scaled masses)
- q85 inverted index         (df, total_tf) value multiset: K-fold under
                             the injective renaming t -> t + "x{j}"; sound
                             only for a suffix-free 1x vocabulary, asserted
- q161 char coverage         full rows against a closed-form census: copy
                             j adds one "x" plus the digits of j per run
- q88 sessionize             (event_id, user_id mod S, session_seq): K-fold
- q186 interval concurrency  per hour: n_boundaries, max/end concurrency Kx
- q220 incremental replay    n_events, sum_cents Kx; n_batches invariant
- q74 funnel                 (user_id mod S, n_clicks, n_converted): K-fold
- q59 as-of join             (user_id, click_id, view_id) mod S: K-fold
- q174 equi-depth histogram  n_rows Kx; cell counts and bounds invariant
- q02 revenue-by-nation      n_lineitems Kx (revenue is a double, out)
- q07 rollup orders          n_orders Kx on every rollup row, ALL/ALL too

Rejected law candidates: q100/q95/q31 (stopword, byte-length and
fingerprint inputs are not inflation-invariant); the q42-derived graph
family q68/q124/q141/q191/q231 (LSH recall is per-copy probabilistic and
the fixture's sub-1.0 pairs are their own clusters, so a band miss can move
a cluster boundary); q104/q86 and every consumer of q36's id-hash split
(shifted ids land in other buckets); q109/q65/q50 (they hash text bytes,
which the suffix changes). Their at-scale evidence is the oracle rows.

Usage:
    python tools/scale.py stress --sf-dir D [--mults 1,3,10] [--out F] [--work-dir W]
    python tools/scale.py smoke --sf-dir D [--k 10] [--only a,b] [--out F] [--work-dir W]
    python tools/scale.py oracle --sf-dir D [--k 10] [--out F] [--work-dir W]
    python tools/scale.py invariants --sf-dir D [--k 100] [--out F] [--work-dir W]
    python tools/scale.py tables --k1 F1 --k3 F3 --k10 F10 --k30 F30

Each run prints one JSON row per check and a summary line, writes the
summary with every row to --out, and exits nonzero on any failed row.
SPARK_GRAFT_CPUS sets local[N] (default 32).
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import re
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_ddl_extract_tool_spark.tables import TABLES
from hive_ddl_extract_tool_spark.verify import compare, hash_rows, register_views

STRIDE = 1_000_000_000
CHARSET = r"^[a-z0-9 ]*$"   # documents must match, or a token escapes the suffix
WORD_RUN = r"([a-z0-9]+)"   # copy j appends SUFFIX.format(j) to every run
SUFFIX = "x{}"


def rotation_slices(j: int, dim: int) -> tuple[tuple[int, int], tuple[int, int]]:
    """Copy j's embedding as two 1-based (start, length) slices, concatenated:
    the vector rotated left by j positions."""
    return (j + 1, dim - j), (1, j)


def _suffix_words(docs: DataFrame, k: int):
    n_bad = docs.filter(~F.col("text").rlike(CHARSET)).count()
    assert n_bad == 0, (
        f"{n_bad} documents contain characters outside [a-z0-9 ]; the "
        "per-copy word-suffix inflation would not keep copies disjoint"
    )
    return lambda c, j: c.withColumn(
        "text", F.regexp_replace("text", WORD_RUN, "$1" + SUFFIX.format(j)))


def _rotate(emb: DataFrame, k: int):
    dim = len(emb.select("embedding").first()[0])
    # copy j = dim would rotate by 0: bit-identical cross-copy vectors
    assert k <= dim, (
        f"k={k} exceeds embedding dim {dim}: rotation j % dim repeats and "
        "copies stop being distinct; use a higher-period transform first"
    )
    return lambda c, j: c.withColumn("embedding", F.concat(
        *(F.slice("embedding", s, n) for s, n in rotation_slices(j, dim))))


# table -> (id columns shifted by j*STRIDE, guard returning copy j's transform)
INFLATIONS = {
    "documents": (("doc_id",), _suffix_words),
    "embeddings": (("vec_id",), _rotate),
    "events": (("event_id", "user_id"), None),
    "orders": (("o_orderkey",), None),
    "lineitem": (("l_orderkey",), None),
}
ALL_INFLATED = tuple(INFLATIONS)


def inflate(spark: SparkSession, src: str, dst: str, k: int,
            tables=ALL_INFLATED) -> None:
    """Write a fresh dst holding `tables` K-fold (INFLATIONS) and every
    other table of src as a symlink."""
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for t in TABLES:
        if t not in tables:
            os.symlink(os.path.realpath(f"{src}/{t}.parquet"), f"{dst}/{t}.parquet")
    for t in tables:
        ids, guard = INFLATIONS[t]
        base = spark.read.parquet(f"{src}/{t}.parquet")
        n_bad = base.filter(
            " OR ".join(f"{c} < 0 OR {c} >= {STRIDE}" for c in ids)).count()
        assert n_bad == 0, f"{n_bad} {t} rows have {'/'.join(ids)} outside [0, STRIDE)"
        transform = guard(base, k) if guard else None
        out = None
        for j in range(k):
            c = base
            for col in ids:
                c = c.withColumn(col, F.col(col) + F.lit(j * STRIDE))
            if j and transform:
                c = transform(c, j)
            out = c if out is None else out.unionByName(c)
        out.write.parquet(f"{dst}/{t}.parquet")


def retire(dst: str) -> None:
    """Delete an inflated corpus and everything staged from it: the
    session's cached_df stages and the per-corpus scratch dirs."""
    from hive_ddl_extract_tool_spark.operators._cache import clear_cache, scratch_dir

    shutil.rmtree(dst, ignore_errors=True)
    clear_cache()
    for d in glob.glob(scratch_dir("*", dst)):
        shutil.rmtree(d, ignore_errors=True)


class Gate:
    """One subcommand run: the check recorder and the corpus lifecycle.

    passed(row) is the subcommand's verdict on a finished row; a check that
    raises becomes a failed row carrying on_error plus the error and the
    tail of its traceback. timed=False leaves the timing to the check."""

    def __init__(self, spark: SparkSession, work_dir: str, keep_failed: bool = True,
                 passed=lambda row: True, on_error=None, timed: bool = True):
        self.spark, self.work_dir, self.keep_failed = spark, work_dir, keep_failed
        self.passed, self.on_error, self.timed = passed, on_error or {}, timed
        self.rows: list[dict] = []
        self.failures = 0
        self.n_docs = 0  # documents in the current corpus

    def check(self, row: dict, fn) -> None:
        t0 = time.monotonic()
        try:
            row.update(fn())
            ok = self.passed(row)
        except Exception as exc:  # noqa: BLE001 - recorded as a failed row
            frames = traceback.format_exc().strip().splitlines()
            row.update(self.on_error, error=f"{type(exc).__name__}: {exc}"[:500],
                       trace="\n".join(frames[-8:])[:1500])
            ok = False
        if self.timed:
            row["sec"] = round(time.monotonic() - t0, 2)
        self.failures += not ok
        print(json.dumps(row), flush=True)
        self.rows.append(row)

    @contextlib.contextmanager
    def corpus(self, src: str, k: int, tables=ALL_INFLATED):
        """Yield a fresh K-fold corpus of `tables`; retire it when the
        block ends with no failed row, else keep it (with keep_failed)."""
        dst = f"{self.work_dir}/x{k}_{'_'.join(tables)}"
        failures, completed = self.failures, False
        try:
            inflate(self.spark, src, dst, k, tables)
            self.n_docs = self.spark.read.parquet(f"{dst}/documents.parquet").count()
            yield dst
            completed = True
        finally:
            if self.keep_failed and not (completed and self.failures == failures):
                why = "a row failed" if completed else "aborted mid-run"
                print(f"KEPT {dst}: {why}, corpus preserved for debugging", flush=True)
            else:
                retire(dst)


def scaled_planes(k: int) -> int:
    """q49b's production recipe: planes grow with log2(K), so 2^bits ~ N
    keeps bucket occupancy constant."""
    from hive_ddl_extract_tool_spark.operators.similarity import N_PLANES

    return N_PLANES + max(0, (k - 1).bit_length())


def _q49b_candidates(spark: SparkSession, dst: str, n_planes: int) -> DataFrame:
    """q49b's candidate tier at n_planes, through the shipped operator body."""
    from hive_ddl_extract_tool_spark.operators import similarity
    from hive_ddl_extract_tool_spark.operators._cache import cached_df

    bk = cached_df(spark, f"scale_buckets{n_planes}:{dst}",
                   lambda: similarity._buckets(spark, dst, n_planes))
    return similarity._q49b_candidates(bk, n_planes)


def _scaled_cells_report(spark: SparkSession, dst: str, k: int) -> DataFrame:
    """q103 with SemDeDup's production recipe: 8*K trained cells (constant
    occupancy), initialised from the 8 seed vectors of every copy (vec_id
    j*STRIDE + 0..7), 2 Lloyd rounds as always."""
    from hive_ddl_extract_tool_spark.operators import similarity

    init_ids = [j * STRIDE + i for j in range(k) for i in range(8)]
    emb = spark.read.parquet(f"{dst}/embeddings.parquet")
    init_rows = {r["vec_id"]: list(r["embedding"])
                 for r in emb.filter(F.col("vec_id").isin(init_ids))
                 .select("vec_id", "embedding").collect()}
    cent = similarity.train_centroids(
        spark, dst, n_cells=8 * k, init=[init_rows[i] for i in init_ids])
    ranked = similarity._ivf_ranked(spark, dst, cent, f"ivf_ranked_scaled{8 * k}:{dst}")
    return similarity._semdedup_from_ranked(ranked)


def scaled_cent0_sql(k: int) -> str:
    """The scaled-cells init as a DuckDB relation: 8 seed vectors per
    inflated copy (vec_id j*STRIDE + 0..7), with ci = the seed's POSITION
    in the Spark init list (j*8 + i) so both engines number the cells
    identically."""
    return f"""(SELECT (vec_id // {STRIDE}) * 8 + vec_id % {STRIDE} AS ci,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
   FROM embeddings WHERE vec_id % {STRIDE} < 8)"""


# ---------------------------------------------------------------- stress

def _tiered(candidates: DataFrame, output) -> dict:
    """Count a staged candidate tier (timed on its own), then the output."""
    t0 = time.monotonic()
    n_cand = candidates.count()
    return {"candidates": n_cand, "cand_sec": round(time.monotonic() - t0, 2),
            "out_rows": output().count()}


def _cell_stats(report: DataFrame) -> dict:
    """q103's per-cell report folded to its scale signals: the within-cell
    pair space the cell-confined join evaluates, the dup pairs found, and
    the largest cell (straggler pressure)."""
    rep = report.agg(
        F.sum(F.col("n_vecs") * (F.col("n_vecs") - 1) / 2).alias("pair_space"),
        F.sum("n_dup_pairs").alias("dup_pairs"),
        F.sum("n_dropped").alias("dropped"),
        F.max("n_vecs").alias("max_cell"),
    ).first()
    return {"candidates": int(rep["pair_space"]), "out_rows": int(rep["dup_pairs"]),
            "dropped": int(rep["dropped"]), "max_cell": int(rep["max_cell"])}


def stress(spark: SparkSession, sf_dir: str, mults: list[int], work_dir: str,
           keep_failed: bool = True) -> Gate:
    """One row per (family, K): candidates where the pipeline has a staged
    candidate tier, output pairs, and wall-clock including staging (the
    honest cost of a cold run)."""
    from hive_ddl_extract_tool_spark.operators import dedup, similarity

    gate = Gate(spark, work_dir, keep_failed)
    for k in mults:
        with gate.corpus(sf_dir, k, ("documents", "embeddings")) as dst:
            def row(family: str, fn, **extra) -> None:
                gate.check({"family": family, "k": k, **extra, "n_docs": gate.n_docs}, fn)

            def q42() -> dict:
                dedup._doc_shingles(spark, dst, cache=True)
                return _tiered(dedup._lsh_candidates(spark, dst),
                               lambda: dedup.q42_minhash_lsh_dedup(spark, dst))

            row("q40_exact", lambda: {"out_rows": dedup.q40_exact_dedup(spark, dst).count()})
            row("q42_lsh", q42)
            # the candidate tier is the definition the shipped pipeline verifies
            row("q202_prefix", lambda: _tiered(
                dedup._q202_candidates(dedup._doc_shingles(spark, dst, cache=True)),
                lambda: dedup.q202_prefix_filter_join(spark, dst)))
            # W-bounded comparisons by construction: linear in N
            row("q218_snm", lambda: {
                "out_rows": dedup.q218_sorted_neighborhood(spark, dst).count()})
            row("q245_tfidf", lambda: {"out_rows": dedup.q245_tfidf_simjoin(spark, dst).count()})
            # q49b with the fixture's fixed planes (256 buckets: pairs grow
            # ~N^2/256) and with the production recipe (scaled_planes). At
            # k=1 the two coincide: the scaled row reuses the fixed row's
            # staged buckets, so its sec excludes staging, and says so.
            for label, n_planes in (("q49b_lsh_fixed_bits", similarity.N_PLANES),
                                    ("q49b_lsh_scaled_bits", scaled_planes(k))):
                def q49b(n=n_planes, shared=label.endswith("scaled_bits") and k == 1) -> dict:
                    cand = _q49b_candidates(spark, dst, n)
                    out = _tiered(cand, lambda: similarity._q49b_verify(spark, dst, cand))
                    return {**out, "bucket_cache_shared": True} if shared else out

                row(label, q49b, n_planes=n_planes)
            # q103 with fixed cells (pair space ~K^2) and with cells grown
            # with the corpus (pair space back to ~linear)
            row("q103_semdedup", lambda: _cell_stats(similarity.q103_semdedup(spark, dst)))
            row("q103_semdedup_scaled_cells",
                lambda: {"n_cells": 8 * k, **_cell_stats(_scaled_cells_report(spark, dst, k))})
    return gate


# ---------------------------------------------------------------- smoke

# SCALE.md's declared quadratic audit tier: all-pairs exact baselines whose
# N^2 cost is the documented property the bucketed twins are audited against.
SKIP = {"q49_cosine_neardup"}  # all-pairs cosine (q49b's exact twin)


def smoke(spark: SparkSession, sf_dir: str, k: int, work_dir: str,
          only: str | None = None, keep_failed: bool = True) -> Gate:
    """count() every registered query (or those whose name contains one of
    the comma-separated `only` substrings) on the all-tables corpus."""
    from hive_ddl_extract_tool_spark.operators import all_queries

    gate = Gate(spark, work_dir, keep_failed, passed=lambda r: r["status"] == "ok",
                on_error={"status": "error"})
    qs = all_queries()
    assert SKIP <= qs.keys(), f"SKIP names unregistered queries: {SKIP - qs.keys()}"
    with gate.corpus(sf_dir, k) as dst:
        for name, fn in qs.items():
            if name in SKIP:
                gate.rows.append({"q": name, "status": "skipped_quadratic_audit"})
            elif not only or any(s in name for s in only.split(",")):
                gate.check({"q": name}, lambda: {"status": "ok", "rows": fn(spark, dst).count()})
    return gate


# ---------------------------------------------------------------- oracle

# The oracle's families in run order: dedup/similarity (with q49b's and
# q103's production recipes), selection, graph, text, retrieval, vectors,
# tokenizer, multimodal, curation, the Python-interchange (q114 mapInArrow)
# and batch-planning families on K-fold docs; streaming replay, behavior
# (q186's two-level prefix sum) and as-of join on K-fold events; relational
# aggregate/join, layout, point-in-time join, profiling, statistics (q174's
# bucket bounds must not move with K) and q138's cogrouped applyInPandas on
# K-fold facts.
ORACLE_FAMILIES = (
    "q40_exact_dedup", "q42_minhash_lsh_dedup", "q202_prefix_filter_join",
    "q218_sorted_neighborhood", "q245_tfidf_simjoin",
    "q49b_lsh_scaled_bits", "q103_semdedup_scaled_cells",
    "q102_token_budget_select", "q68_dup_clusters",
    "q35_tfidf_topterms", "q81_bm25_topk", "q87_embed_dim_stats",
    "q156_bpe_merge_rounds", "q109_audio_chunks",
    "q95_curation_report", "q112_training_manifest",
    "q114_arrow_batch_stats", "q105_length_buckets", "q228_lr_apportionment",
    "q220_incremental_equivalence", "q186_concurrent_sessions", "q59_asof_join",
    "q01_pricing_summary", "q02_revenue_by_nation",
    "q172_zorder_layout", "q129_point_in_time_join",
    "q157_dataset_profile", "q174_equidepth_histogram",
    "q138_cogroup_reconcile",
)


def _compare(sdf: DataFrame, con, sql: str) -> dict:
    """The oracle check's verdict, plus each side's row count and hash."""
    t0 = time.monotonic()
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    t_spark = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    rel = con.sql(sql)
    ocols, orows = list(rel.columns), rel.fetchall()
    t_duck = round(time.monotonic() - t0, 2)
    return {
        "match": compare(scols, srows, ocols, orows),
        "rows_spark": len(srows), "rows_oracle": len(orows),
        "hash_spark": hash_rows(scols, srows), "hash_oracle": hash_rows(ocols, orows),
        "sec_spark": t_spark, "sec_duck": t_duck,
    }


def oracle(spark: SparkSession, sf_dir: str, k: int, work_dir: str,
           keep_failed: bool = True) -> Gate:
    import duckdb

    from hive_ddl_extract_tool_spark.operators import all_oracles, all_queries, similarity

    qs, oracles = all_queries(), all_oracles()
    gate = Gate(spark, work_dir, keep_failed, passed=lambda r: r["match"],
                on_error={"match": False}, timed=False)

    def family(name: str, dst: str, con) -> dict:
        # the two production recipes run the registered operator bodies and
        # oracle builders at the scaled parameter
        if name == "q49b_lsh_scaled_bits":
            n = scaled_planes(k)
            sdf = similarity._q49b_verify(spark, dst, _q49b_candidates(spark, dst, n))
            return {**_compare(sdf, con, similarity._oracle_q49b(n)), "n_planes": n}
        if name == "q103_semdedup_scaled_cells":
            return {**_compare(_scaled_cells_report(spark, dst, k), con,
                               similarity._oracle_q103(scaled_cent0_sql(k))),
                    "n_cells": 8 * k}
        return _compare(qs[name](spark, dst), con, oracles[name])

    with gate.corpus(sf_dir, k) as dst:
        con = duckdb.connect()
        try:
            register_views(con, dst)
            for name in ORACLE_FAMILIES:
                gate.check({"query": name, "k": k}, lambda: family(name, dst, con))
        finally:
            con.close()
    return gate


# ---------------------------------------------------------------- invariants

def hist_law(df_k: DataFrame, df_1: DataFrame, id_cols: list[str],
             k: int, stride: int = STRIDE) -> dict:
    """Multiset law for id-keyed outputs: rows at K, with id columns taken
    mod stride, must be exactly K copies of the 1x multiset. Compared as
    group-count histograms over ALL columns (ids modded), joined full
    outer. Precondition (asserted): 1x ids live below the stride, so mod is
    the identity on the 1x side. With no id columns the law is a pure
    value-multiset comparison (q85's renamed terms)."""
    cols = df_1.columns
    if id_cols:
        n_high = df_1.filter(
            " OR ".join(f"({c} < 0 OR {c} >= {stride})" for c in id_cols)
        ).count()
        assert n_high == 0, f"{n_high} base rows have ids outside [0, stride)"
    for c in id_cols:
        df_k = df_k.withColumn(c, F.col(c) % stride)
    hk = df_k.groupBy(*cols).agg(F.count(F.lit(1)).alias("n_k"))
    h1 = df_1.groupBy(*cols).agg((F.count(F.lit(1)) * k).alias("n_exp"))
    # Null-safe keys: a null law column (q59's view_id for a click with no
    # prior view) is a real group on both sides.
    cond = None
    for c in cols:
        eq = hk[c].eqNullSafe(h1[c])
        cond = eq if cond is None else (cond & eq)
    bad = (
        hk.join(h1, cond, "full_outer")
        .filter((F.col("n_k").isNull()) | (F.col("n_exp").isNull())
                | (F.col("n_k") != F.col("n_exp")))
        .count()
    )
    return {"rows_k": df_k.count(), "rows_1": df_1.count(), "violations": bad}


def row_law(df_k: DataFrame, df_1: DataFrame, scale_cols: list[str], k: int) -> dict:
    """Row-level law for key-invariant outputs: df_k must equal df_1 with
    the scale columns multiplied by K and every other column unchanged
    (a symmetric multiset difference)."""
    expected = df_1.select(
        *[(F.col(c) * k).cast("bigint").alias(c) if c in scale_cols else F.col(c)
          for c in df_1.columns]
    )
    got = df_k.select(
        *[F.col(c).cast("bigint").alias(c) if c in scale_cols else F.col(c)
          for c in df_k.columns]
    )
    bad = got.exceptAll(expected).count() + expected.exceptAll(got).count()
    return {"rows_k": df_k.count(), "rows_1": df_1.count(), "violations": bad}


def _query(spark, name: str, sf_dir: str) -> DataFrame:
    from hive_ddl_extract_tool_spark.operators import all_queries

    return all_queries()[name](spark, sf_dir)


def _pair(spark, name: str, dst: str, src: str, cols=None) -> tuple[DataFrame, DataFrame]:
    """Query `name` on the K-fold corpus and on the 1x corpus, optionally
    projected to the law's columns."""
    df_k, df_1 = _query(spark, name, dst), _query(spark, name, src)
    return (df_k.select(*cols), df_1.select(*cols)) if cols else (df_k, df_1)


def _hist(name: str, id_cols: list[str], cols=None):
    return name, lambda spark, dst, src, k: hist_law(
        *_pair(spark, name, dst, src, cols), id_cols, k)


def _row(name: str, scale_cols: list[str], cols=None):
    return name, lambda spark, dst, src, k: row_law(
        *_pair(spark, name, dst, src, cols), scale_cols, k)


def _q105_law(spark, dst, src, k) -> dict:
    from hive_ddl_extract_tool_spark.operators.selection import BATCH_TOKENS

    df_k, df_1 = _pair(spark, "q105_length_buckets", dst, src)
    expected = df_1.select(
        "source", "bucket",
        (F.col("n_docs") * k).cast("bigint").alias("n_docs"),
        (F.col("n_tokens") * k).cast("bigint").alias("n_tokens"),
        (F.col("padded_tokens") * k).cast("bigint").alias("padded_tokens"),
        F.expr(f"(n_docs * {k} * bucket + {BATCH_TOKENS - 1}) "
               f"DIV {BATCH_TOKENS}").cast("bigint").alias("n_batches"),
        F.col("waste_ppm").cast("bigint").alias("waste_ppm"),
    )
    got = df_k.select(*expected.columns)
    bad = got.exceptAll(expected).count() + expected.exceptAll(got).count()
    return {"rows_k": df_k.count(), "rows_1": df_1.count(), "violations": bad}


def _q85_law(spark, dst, src, k) -> dict:
    df_k, df_1 = _pair(spark, "q85_inverted_index", dst, src)
    terms = {r[0] for r in df_1.select("term").collect()}
    colliding = [
        t for t in terms
        for i in range(1, len(t))
        if t[i] == "x" and t[i + 1:].isdigit() and t[:i] in terms
    ]
    assert not colliding, f"vocabulary not suffix-free, law unsound: {colliding[:5]}"
    return hist_law(df_k.select("df", "total_tf"), df_1.select("df", "total_tf"), [], k)


def _q161_law(spark, dst, src, k) -> dict:
    """With W = the 1x run count, the K-fold census is exactly
        mass_K(c) = K*mass_1(c)                            c not in x,0-9
        mass_K(x) = K*mass_1(x) + W*(K-1)                  one x per run
        mass_K(d) = K*mass_1(d) + W*sum_j count_d(str(j)), j = 1..K-1
    and the ranking (count desc, ch) and the integer thresholds are re-run
    here on that alphabet-sized table."""
    from hive_ddl_extract_tool_spark.operators.tokenizer import COVERAGE_BP
    from hive_ddl_extract_tool_spark.tables import load as load_table

    docs_1 = load_table(spark, src, "documents")
    census_rows = (
        docs_1.select(F.explode(F.regexp_extract_all(
            F.lower("text"), F.lit(r"[^ \t\n\x0B\f\r]"), 0)).alias("ch"))
        .groupBy("ch").agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    w_runs = (
        docs_1.select(F.size(F.regexp_extract_all("text", F.lit(WORD_RUN), 0)).alias("n"))
        .agg(F.sum("n")).collect()[0][0]
    )
    mass = {r["ch"]: r["c"] * k for r in census_rows}
    mass["x"] = mass.get("x", 0) + w_runs * (k - 1)
    for j in range(1, k):
        for d in str(j):
            mass[d] = mass.get(d, 0) + w_runs
    ranked = sorted(mass.items(), key=lambda t: (-t[1], t[0]))
    total = sum(mass.values())
    cum, expected = 0, []
    thresholds = {bp: None for bp in COVERAGE_BP}
    for rk, (_ch, c) in enumerate(ranked, start=1):
        cum += c
        for bp in COVERAGE_BP:
            if thresholds[bp] is None and cum * 10000 >= bp * total:
                thresholds[bp] = (rk, cum)
    for bp in COVERAGE_BP:
        rk, cov = thresholds[bp]
        expected.append((bp, rk, cov, total))
    got = sorted(tuple(r) for r in _query(spark, "q161_char_coverage", dst).collect())
    bad = sum(1 for g, e in zip(got, sorted(expected)) if g != e)
    bad += abs(len(got) - len(expected))
    return {"rows_k": len(got), "rows_1": len(expected), "violations": bad}


# (corpus tag, inflated tables, laws in run order); a law maps
# (spark, K-fold dir, 1x dir, K) to {rows_k, rows_1, violations}
INVARIANT_CORPORA = (
    ("docs", ("documents",), (
        _hist("q40_exact_dedup", ["keep_id"]),
        _hist("q202_prefix_filter_join", ["doc_a", "doc_b"]),
        _hist("q114_arrow_batch_stats", ["doc_id"], ["doc_id", "ws_tokens"]),
        ("q105_length_buckets", _q105_law),
        _row("q228_lr_apportionment", ["n_tokens"]),
        ("q85_inverted_index", _q85_law),
        ("q161_char_coverage", _q161_law),
    )),
    ("events", ("events",), (
        _hist("q88_sessionize", ["event_id", "user_id"]),
        _row("q186_concurrent_sessions", ["n_boundaries", "max_concurrency", "end_concurrency"]),
        _row("q220_incremental_equivalence", ["n_events", "sum_cents"]),
        _hist("q74_funnel", ["user_id"]),
        _hist("q59_asof_join", ["user_id", "click_id", "view_id"],
              ["user_id", "click_id", "view_id"]),
    )),
    ("tpch", ("orders", "lineitem"), (
        _row("q174_equidepth_histogram", ["n_rows"]),
        _row("q02_revenue_by_nation", ["n_lineitems"], ["r_name", "n_name", "n_lineitems"]),
        _row("q07_rollup_orders", ["n_orders"], ["status", "priority", "n_orders"]),
    )),
)


def invariants(spark: SparkSession, sf_dir: str, k: int, work_dir: str,
               keep_failed: bool = True) -> Gate:
    """Check every law of INVARIANT_CORPORA at K against fresh 1x runs on
    sf_dir, one corpus at a time."""
    gate = Gate(spark, work_dir, keep_failed, passed=lambda r: r["ok"],
                on_error={"violations": -1, "ok": False})

    def verdict(res: dict) -> dict:
        return {**res, "ok": res["violations"] == 0}

    for tag, tables, laws in INVARIANT_CORPORA:
        with gate.corpus(sf_dir, k, tables) as dst:
            for name, law in laws:
                gate.check({"query": name, "k": k, "corpus": tag},
                           lambda: verdict(law(spark, dst, sf_dir, k)))
    return gate


# ---------------------------------------------------------------- tables

SEP = " "  # SCALE.md's thousands separator
STAGED1 = {"q42_minhash_lsh_dedup", "q202_prefix_filter_join",
           "q218_sorted_neighborhood"}  # ¹ staged-artifact read
STAGED2 = {"q220_incremental_equivalence"}  # ² memory-sink read
_QCODE = re.compile(r"q\d+[a-z]?")


def _fmt(n: int) -> str:
    return f"{n:,}".replace(",", SEP)


def label_code(*cells: str) -> str:
    """Short query code (``q42``, ``q49b``) from a table row's label cells,
    so a misplaced row cannot receive another family's numbers. The q103
    scaled-cells row names the internal helper, so it is special-cased."""
    for c in cells:
        if "_semdedup_from_ranked" in c:
            return "q103"
        m = _QCODE.search(c)
        if m:
            return m.group(0)
    raise AssertionError(f"no query code found in label cells {cells!r}")


def _table_body(src: str, header: str) -> tuple[int, int, list[str]]:
    start = src.index("\n", src.index("\n", src.index(header)) + 1) + 1
    end = src.index("\n\n", start)
    rows = [r for r in src[start:end].split("\n") if r.startswith("|")]
    assert len(rows) == len(ORACLE_FAMILIES), len(rows)
    return start, end, rows


def tables(paths: dict[int, str], scale_md: str = "SCALE.md") -> None:
    """Rewrite the numeric cells of SCALE.md's two oracle tables from the
    `oracle --out` JSONs at K = 1, 3, 10, 30; label cells stay verbatim.
    Rows map to results by POSITION (both tables list the families in run
    order), so after adding a family insert a placeholder row at its
    position in both tables first; every row's query code is asserted
    against its result before the rewrite."""
    res = {}
    for k, path in paths.items():
        with open(path) as fh:
            res[k] = json.load(fh)["results"]
        assert [r["query"] for r in res[k]] == list(ORACLE_FAMILIES), path
    with open(scale_md) as fh:
        src = fh.read()

    # table 1: rows, hash match and seconds per family at K=10
    start, end, old = _table_body(src, "| family | query @ 10× | rows (both engines) "
                                       "| hash match | Spark / DuckDB sec |")
    new = []
    for o, r in zip(old, res[10]):
        cells = o.split("|")
        assert r["match"], r
        code = label_code(cells[2], cells[1])
        assert r["query"].startswith(code + "_") or r["query"] == code, (code, r["query"])
        mark = "¹" if r["query"] in STAGED1 else "²" if r["query"] in STAGED2 else ""
        txt = _fmt(r["rows_spark"])
        if r["query"] == "q103_semdedup_scaled_cells":
            txt += " report rows"
        cells[3] = f" {txt} "
        cells[5] = f" {r['sec_spark']}{mark} / {r['sec_duck']} "
        new.append("|".join(cells))
    src = src[:start] + "\n".join(new) + src[end:]

    # table 2: the K-series wall-clock
    start, end, old = _table_body(src, "| family (query) | K=1 | K=3 | K=10 | K=30 | rows @30× |")
    new = []
    for i, o in enumerate(old):
        cells = o.split("|")
        r1, r30 = res[1][i], res[30][i]
        assert r30["match"], r30
        code = label_code(cells[1])
        assert r1["query"].startswith(code + "_") or r1["query"] == code, (code, r1["query"])
        for col, k in zip((2, 3, 4, 5), (1, 3, 10, 30)):
            cells[col] = f" {res[k][i]['sec_spark']} "
        if r1["query"] == "q40_exact_dedup":  # ³ fresh-process warm-up
            cells[2] = f" {r1['sec_spark']}³ "
        cells[6] = f" {_fmt(r30['rows_spark'])} "
        new.append("|".join(cells))
    src = src[:start] + "\n".join(new) + src[end:]

    with open(scale_md, "w") as fh:
        fh.write(src)
    print(f"rebuilt both tables for {len(ORACLE_FAMILIES)} families")


# ---------------------------------------------------------------- CLI

def _parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description="K-fold scale harness (see the module docstring)")
    sub = ap.add_subparsers(dest="cmd", required=True)
    run = argparse.ArgumentParser(add_help=False)
    run.add_argument("--sf-dir", required=True, help="base corpus to inflate")
    run.add_argument("--work-dir", default="/tmp/scale", help="where corpora are inflated")
    run.add_argument("--out", default=None, help="summary JSON with every row")
    sub.add_parser("stress", parents=[run]).add_argument("--mults", default="1,3,10")
    p = sub.add_parser("smoke", parents=[run])
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--only", default=None, help="comma-separated query-name substrings to run")
    sub.add_parser("oracle", parents=[run]).add_argument("--k", type=int, default=10)
    sub.add_parser("invariants", parents=[run]).add_argument("--k", type=int, default=100)
    p = sub.add_parser("tables")
    for k in (1, 3, 10, 30):
        p.add_argument(f"--k{k}", required=True, help=f"--out JSON of `oracle --k {k}`")
    return ap


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    if args.cmd == "tables":
        tables({k: getattr(args, f"k{k}") for k in (1, 3, 10, 30)})
        return 0

    from hive_ddl_extract_tool_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # local mode runs every executor thread inside the driver JVM, so the
    # driver heap is the executor memory here
    spark = get_spark(app_name=f"scale-{args.cmd}", cpus=cpus, shuffle_partitions=cpus,
                      extra_conf={"spark.driver.memory": "24g"})
    t0 = time.monotonic()
    if args.cmd == "stress":
        gate = stress(spark, args.sf_dir, [int(x) for x in args.mults.split(",")], args.work_dir)
        summary = {"sf_dir": args.sf_dir, "cpus": cpus, "rows": gate.rows}
    elif args.cmd == "smoke":
        gate = smoke(spark, args.sf_dir, args.k, args.work_dir, args.only)
        ran = [r for r in gate.rows if r["status"] == "ok"]
        heavy = sorted(ran, key=lambda r: -r["sec"])[:10]
        summary = {"sf_dir": args.sf_dir, "cpus": cpus, "n_ok": len(ran),
                   "n_fail": gate.failures, "total_sec": round(sum(r["sec"] for r in ran), 1),
                   "heaviest": [{"q": r["q"], "sec": r["sec"]} for r in heavy],
                   "results": gate.rows}
    elif args.cmd == "oracle":
        gate = oracle(spark, args.sf_dir, args.k, args.work_dir)
        summary = {"sf_dir": args.sf_dir, "k": args.k, "n_docs": gate.n_docs,
                   "cpus": cpus, "fails": gate.failures, "results": gate.rows}
    else:
        gate = invariants(spark, args.sf_dir, args.k, args.work_dir)
        summary = {"sf_dir": args.sf_dir, "k": args.k, "cpus": cpus, "fails": gate.failures,
                   "total_sec": round(time.monotonic() - t0, 1), "results": gate.rows}

    print(json.dumps({"summary": {kk: v for kk, v in summary.items()
                                  if kk not in ("rows", "results")}}))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    return 1 if gate.failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
