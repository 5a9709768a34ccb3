"""Empirical scale-stress for the dedup/similarity scale paths.

SCALE.md's cost models claim the staged pipelines grow with the TRUE
near-dup structure, never with N^2 corpus pairs. This tool measures that
claim instead of arguing it: it inflates the sf0.1 corpus by K in
{1, 3, 10} with deterministically DISTINCT copies and records, per
family, candidate-set sizes, output pair counts, and wall-clock.

Inflation keeps the truth linear on purpose:

- documents: copy j suffixes every word with ``x{j}`` -- every shingle of
  copy j is disjoint from every other copy's, so NO cross-copy near-dups
  exist; each copy replicates the original's internal near-dup pairs
  exactly. True pairs therefore grow K-fold while candidate-pair SPACE
  (N^2) grows K^2-fold: a pipeline whose candidates scale ~K is
  structure-bound (the claim); ~K^2 would be a scan-the-space scale
  killer.
- embeddings: copy j rotates each vector left by j positions -- rotation
  preserves norms and within-copy dot products (the original near-dup
  cell structure replicates), while cross-copy cosines decorrelate.

Usage: python tools/scale_stress.py [--sf-dir /root/testdata/sf0.1]
                                    [--mults 1,3,10] [--out SCALE_STRESS.json]
Prints one JSON line per (family, K) and a final summary JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOC_STRIDE = 1_000_000_000
VEC_STRIDE = 1_000_000_000


def _symlink_table(src: str, dst: str, t: str) -> None:
    """Symlink dst/t.parquet at the REAL path of src/t.parquet. lexists
    (not exists) so a dangling link is replaced instead of crashing with
    FileExistsError; an existing link from a previous inflation into the
    same dst is re-pointed instead of silently kept (a stale link mixed
    two corpora); realpath collapses layered inflations (inflate_all) so
    the final corpus does not dangle if an intermediate scratch layer's
    own symlinks are removed."""
    link = f"{dst}/{t}.parquet"
    if os.path.lexists(link):
        os.remove(link)
    os.symlink(os.path.realpath(f"{src}/{t}.parquet"), link)


def inflate(spark: SparkSession, src: str, dst: str, k: int,
            with_embeddings: bool = True) -> None:
    """Write a K-fold corpus under dst; non-inflated tables are symlinked.

    with_embeddings=False symlinks embeddings instead of inflating them:
    the rotation transform's period is the embedding dim (64), so a
    consumer that never reads embeddings (tools/kfold_invariants.py at
    K=100) can still inflate documents past that ceiling without
    planting bit-identical cross-copy vectors."""
    os.makedirs(dst, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events") + (() if with_embeddings else ("embeddings",)):
        _symlink_table(src, dst, t)

    docs = spark.read.parquet(f"{src}/documents.parquet")
    # The disjoint-copy invariant (every shingle of copy j differs from every
    # other copy's) relies on EVERY token containing a [a-z0-9] run for the
    # suffix to attach to; an uppercase-only or punctuation-only token would
    # survive unchanged across copies and plant cross-copy near-dups that
    # silently corrupt the K-vs-K^2 curves. Assert it instead of assuming it.
    n_bad = docs.filter(~F.col("text").rlike(r"^[a-z0-9 ]*$")).count()
    assert n_bad == 0, (
        f"{n_bad} documents contain characters outside [a-z0-9 ]; the "
        "per-copy word-suffix inflation would not keep copies disjoint"
    )
    doc_parts = []
    for j in range(k):
        c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(j * DOC_STRIDE))
        if j:
            c = c.withColumn(
                "text", F.regexp_replace("text", r"([a-z0-9]+)", rf"$1x{j}")
            )
        doc_parts.append(c)
    out = doc_parts[0]
    for p in doc_parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{dst}/documents.parquet")

    if not with_embeddings:
        return

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    # rot = j % dim is injective only while j < dim: copy j = dim would
    # rotate by 0 and be bit-identical to the original, planting cross-copy
    # EXACT dups that corrupt the K-vs-K^2 curves. The CLI accepts any
    # --mults, so guard the invariant instead of assuming nobody types 65.
    assert k <= dim, (
        f"k={k} exceeds embedding dim {dim}: rotation j % dim repeats and "
        "copies stop being distinct; use a higher-period transform first"
    )
    emb_parts = []
    for j in range(k):
        c = emb.withColumn("vec_id", F.col("vec_id") + F.lit(j * VEC_STRIDE))
        if j:
            rot = j % dim
            c = c.withColumn(
                "embedding",
                F.concat(
                    F.slice("embedding", rot + 1, dim - rot),
                    F.slice("embedding", 1, rot),
                ),
            )
        emb_parts.append(c)
    out = emb_parts[0]
    for p in emb_parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{dst}/embeddings.parquet")


EVT_STRIDE = 1_000_000_000


def inflate_events(spark: SparkSession, src: str, dst: str, k: int) -> None:
    """Write a K-fold EVENTS corpus under dst; every other table is
    symlinked from src (which may itself be an inflate()d docs corpus, so
    the two inflations compose). Copy j shifts event_id and user_id by
    j*EVT_STRIDE: users are DISJOINT across copies, so per-key state
    (sessionization, upserts, funnels) replicates the original's structure
    K-fold -- the streaming analog of the document inflation's
    disjoint-copy invariant. ts/event_type/value/props are untouched: the
    day-shard staging and watermark timeline are IDENTICAL to the source,
    so an incremental replay sees K-fold batch SIZES, not more batches,
    and time-keyed aggregates scale exactly K-fold per group."""
    os.makedirs(dst, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        _symlink_table(src, dst, t)
    ev = spark.read.parquet(f"{src}/events.parquet")
    # The disjoint-copy invariant needs every id inside [0, EVT_STRIDE):
    # a negative or stride-exceeding id in some future data drop would
    # land copies in each other's ranges and silently merge per-key state
    # across copies. Assert it instead of assuming it (the inflate() rule).
    n_bad = ev.filter(
        (F.col("event_id") < 0) | (F.col("event_id") >= EVT_STRIDE)
        | (F.col("user_id") < 0) | (F.col("user_id") >= EVT_STRIDE)
    ).count()
    assert n_bad == 0, f"{n_bad} events have ids outside [0, EVT_STRIDE)"
    parts = [
        ev.withColumn("event_id", F.col("event_id") + F.lit(j * EVT_STRIDE))
        .withColumn("user_id", F.col("user_id") + F.lit(j * EVT_STRIDE))
        for j in range(k)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{dst}/events.parquet")


def inflate_tpch(spark: SparkSession, src: str, dst: str, k: int) -> None:
    """Write a K-fold TPC-H FACT corpus under dst: orders and lineitem get
    K disjoint copies (o_orderkey/l_orderkey shifted by j*EVT_STRIDE, all
    other columns -- including the dimension foreign keys -- untouched);
    every other table is symlinked from src. Dimensions staying shared is
    the point: FK joins resolve for every copy, so each (join, aggregate)
    group's sums/counts scale exactly K-fold and its ratios (avg, share)
    are K-invariant -- any overflow, broadcast-threshold flip, or plan
    defect that only appears at volume surfaces as a cross-engine value
    divergence instead of hiding behind fixture size."""
    os.makedirs(dst, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part",
              "events", "documents", "embeddings"):
        _symlink_table(src, dst, t)
    for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        base = spark.read.parquet(f"{src}/{t}.parquet")
        n_bad = base.filter(
            (F.col(key) < 0) | (F.col(key) >= EVT_STRIDE)
        ).count()
        assert n_bad == 0, f"{n_bad} {t} rows have {key} outside [0, EVT_STRIDE)"
        parts = [
            base.withColumn(key, F.col(key) + F.lit(j * EVT_STRIDE))
            for j in range(k)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")


def inflate_all(spark: SparkSession, src: str, dst: str, k: int) -> None:
    """Compose the three inflations so EVERY table is K-fold: documents/
    embeddings (inflate), events (inflate_events), and the TPC-H facts
    (inflate_tpch). Layered through two sibling dirs ({dst}_docs,
    {dst}_ev) whose un-inflated tables are symlinked onward, so each
    layer stays independently usable and nothing is written twice.
    LIFETIME: the sibling dirs are NOT disposable scratch -- dst's
    documents/embeddings/events resolve into them (symlinks collapse to
    real paths, but the real parquet lives where its layer wrote it);
    delete them and dst dangles. Remove all three together."""
    inflate(spark, src, f"{dst}_docs", k)
    inflate_events(spark, f"{dst}_docs", f"{dst}_ev", k)
    inflate_tpch(spark, f"{dst}_ev", dst, k)


def timed_count(df: DataFrame) -> tuple[int, float]:
    t0 = time.monotonic()
    n = df.count()
    return n, round(time.monotonic() - t0, 2)


def measure(spark: SparkSession, sf_dir: str, k: int) -> list[dict]:
    """One row per family: candidates (where the pipeline has a staged
    candidate tier), output pairs, wall-clock. Wall-clock includes the
    staging pass (the honest end-to-end cost of a cold run)."""
    from hive_ddl_extract_tool_spark.operators import dedup, similarity

    rows = []

    # q40 exact dedup: one hash shuffle, the floor.
    n, t = timed_count(dedup.q40_exact_dedup(spark, sf_dir))
    rows.append({"family": "q40_exact", "k": k, "out_rows": n, "sec": t})

    # q42 MinHash+LSH: candidate tier measured separately, then the full
    # verify (reuses the staged candidates, so sec_total ~ cand + verify).
    ds = dedup._doc_shingles(spark, sf_dir, cache=True)
    n_cand, t_cand = timed_count(dedup._lsh_candidates(spark, sf_dir))
    n, t = timed_count(dedup.q42_minhash_lsh_dedup(spark, sf_dir))
    rows.append({"family": "q42_lsh", "k": k, "candidates": n_cand,
                 "cand_sec": t_cand, "out_rows": n, "sec": round(t_cand + t, 2)})

    # q202 prefix-filter exact join: the candidate tier is the SAME
    # definition the shipped pipeline verifies (dedup._q202_candidates),
    # so the measured curve cannot drift from the production expressions.
    n_cand, t_cand = timed_count(dedup._q202_candidates(ds))
    n, t = timed_count(dedup.q202_prefix_filter_join(spark, sf_dir))
    rows.append({"family": "q202_prefix", "k": k, "candidates": n_cand,
                 "cand_sec": t_cand, "out_rows": n, "sec": t})

    # q218 sorted-neighborhood: W-bounded comparisons by construction
    # (candidates = N * SNM_WINDOW at most -- linear in N, measured via
    # the output).
    n, t = timed_count(dedup.q218_sorted_neighborhood(spark, sf_dir))
    rows.append({"family": "q218_snm", "k": k, "out_rows": n, "sec": t})

    # q245 tf-idf sparse cosine join (df-pruned postings).
    n, t = timed_count(dedup.q245_tfidf_simjoin(spark, sf_dir))
    rows.append({"family": "q245_tfidf", "k": k, "out_rows": n, "sec": t})

    # q49b embedding near-dup LSH, in BOTH configurations: the fixture's
    # fixed 8 hyperplanes (bucket space fixed at 256 => occupancy grows
    # with N and within-bucket pairs grow ~N^2/256 -- the fixed-cell q103
    # cost law), and the production recipe (planes grow with log2(K) so
    # 2^bits ~ N keeps occupancy constant). Same operator body; the
    # candidate tier is the single shipped definition (_q49b_candidates).
    from hive_ddl_extract_tool_spark.operators._cache import cached_df

    for label, n_planes in (
        ("q49b_lsh_fixed_bits", similarity.N_PLANES),
        ("q49b_lsh_scaled_bits", similarity.N_PLANES + max(0, (k - 1).bit_length())),
    ):
        t0 = time.monotonic()
        bk = cached_df(
            spark, f"stress_buckets{n_planes}:{sf_dir}",
            lambda n=n_planes: similarity._buckets(spark, sf_dir, n),
        )
        n_cand, t_cand = timed_count(similarity._q49b_candidates(bk, n_planes))
        n_out = similarity._q49b_verify(
            spark, sf_dir, similarity._q49b_candidates(bk, n_planes)
        ).count()
        t = round(time.monotonic() - t0, 2)
        row = {"family": label, "k": k, "n_planes": n_planes,
               "candidates": n_cand, "cand_sec": t_cand,
               "out_rows": n_out, "sec": t}
        # At k=1 the scaled recipe degenerates to the fixed config, so the
        # second iteration reuses the fixed row's staged buckets (same
        # cached_df key): its sec excludes the staging cost the fixed row
        # paid and the two k=1 anchors are NOT comparable cold-run times.
        # Counts are unaffected. Flag it rather than letting a reader
        # conclude the scaled recipe is staging-free.
        if label == "q49b_lsh_scaled_bits" and n_planes == similarity.N_PLANES:
            row["bucket_cache_shared"] = True
        rows.append(row)

    # q103 SemDeDup: the report is per-cell (fixed N_CELLS rows), so the
    # scale signals are the aggregates: within-cell pair SPACE (what the
    # cell-confined join actually evaluates -- sum of n_vecs-choose-2),
    # found dup pairs, and the largest cell (straggler/salting pressure).
    t0 = time.monotonic()
    rep = similarity.q103_semdedup(spark, sf_dir).agg(
        F.sum(F.col("n_vecs") * (F.col("n_vecs") - 1) / 2).alias("pair_space"),
        F.sum("n_dup_pairs").alias("dup_pairs"),
        F.sum("n_dropped").alias("dropped"),
        F.max("n_vecs").alias("max_cell"),
    ).first()
    t = round(time.monotonic() - t0, 2)
    rows.append({"family": "q103_semdedup", "k": k,
                 "candidates": int(rep["pair_space"]),
                 "out_rows": int(rep["dup_pairs"]),
                 "dropped": int(rep["dropped"]),
                 "max_cell": int(rep["max_cell"]), "sec": t})

    # q103 with SemDeDup's actual production recipe: cell count grows with
    # the corpus (constant target occupancy), so Σcell² -- and with it the
    # pair space the fixed-cell row above shows going K² -- must return to
    # ~linear. Init takes the same 8 seed vectors PER COPY that the 1x run
    # takes overall (vec_id j*STRIDE+0..7), so the trained cells can
    # rediscover each copy's replicated structure; 2 Lloyd rounds as always.
    n_cells = 8 * k
    init_ids = [j * VEC_STRIDE + i for j in range(k) for i in range(8)]
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    init_rows = {r["vec_id"]: list(r["embedding"])
                 for r in emb.filter(F.col("vec_id").isin(init_ids))
                 .select("vec_id", "embedding").collect()}
    init = [init_rows[i] for i in init_ids]
    t0 = time.monotonic()
    cent = similarity.train_centroids(spark, sf_dir, n_cells=n_cells, init=init)
    ranked = similarity._ivf_ranked(
        spark, sf_dir, cent, f"ivf_ranked_scaled{n_cells}:{sf_dir}")
    rep = similarity._semdedup_from_ranked(ranked).agg(
        F.sum(F.col("n_vecs") * (F.col("n_vecs") - 1) / 2).alias("pair_space"),
        F.sum("n_dup_pairs").alias("dup_pairs"),
        F.sum("n_dropped").alias("dropped"),
        F.max("n_vecs").alias("max_cell"),
    ).first()
    t = round(time.monotonic() - t0, 2)
    rows.append({"family": "q103_semdedup_scaled_cells", "k": k,
                 "n_cells": n_cells,
                 "candidates": int(rep["pair_space"]),
                 "out_rows": int(rep["dup_pairs"]),
                 "dropped": int(rep["dropped"]),
                 "max_cell": int(rep["max_cell"]), "sec": t})

    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--mults", default="1,3,10")
    ap.add_argument("--out", default=None)
    ap.add_argument("--work-dir", default="/tmp/scale_stress")
    args = ap.parse_args()

    from hive_ddl_extract_tool_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # local mode runs all 32 executor threads inside the driver JVM; the
    # 1g default heap is the bottleneck long before any plan is (the box
    # has 128 GiB). On a real cluster this is executor memory sizing.
    spark = get_spark(app_name="scale-stress", cpus=cpus,
                      shuffle_partitions=cpus,
                      extra_conf={"spark.driver.memory": "24g"})

    all_rows: list[dict] = []
    for k in [int(x) for x in args.mults.split(",")]:
        dst = f"{args.work_dir}/x{k}"
        shutil.rmtree(dst, ignore_errors=True)
        inflate(spark, args.sf_dir, dst, k)
        n_docs = spark.read.parquet(f"{dst}/documents.parquet").count()
        for row in measure(spark, dst, k):
            row["n_docs"] = n_docs
            print(json.dumps(row), flush=True)
            all_rows.append(row)

    summary = {"sf_dir": args.sf_dir, "cpus": cpus, "rows": all_rows}
    print(json.dumps(summary))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
