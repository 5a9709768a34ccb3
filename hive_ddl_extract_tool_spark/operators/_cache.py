"""Tiny per-session materialization cache for intermediate DataFrames shared
by several registered queries (e.g. the distinct (doc_id, shingle-hash) set
used by q43/q202/q218/q247, the LSH candidate pairs and candidate shingles
used by q42/q193/q106, the SimHash signatures used by q45, the LSH buckets
used by q47/q49b, the unit-normalized vectors used by q49/q49b).

Why it exists: a self-join of an unmaterialized plan computes its source
twice, and pipelines like MinHash-LSH reuse the shingle set in two subtrees
Catalyst does not CSE across. Materializing the shared subtree means ONE
scan of the corpus feeds every consumer -- at 100 TB that is the difference
between reading the data once and reading it three times.

Mechanism: the subtree is STAGED TO PARQUET in a scratch directory and read
back, not `.persist()`-ed. Measured at sf0.1 (q42, local[32]): parquet stage
3.2 s vs persist 4.5 s vs recompute 5.6 s -- the read-back is a vectorized
parquet scan that keeps whole-stage codegen and AQE, while InMemoryRelation
scans decode the columnar cache outside codegen. This is also exactly the
pattern a 1000-executor pipeline uses (stage to HDFS/S3 scratch); swap
`tempfile.mkdtemp` for a cluster scratch path and nothing else changes.

Entries are keyed by (Spark application id, logical key); entries from dead
sessions are evicted on insert, and the key set is a small fixed vocabulary,
so long-lived sessions do not accumulate state.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# key -> (DataFrame, staged parquet dir). The dir is rmtree'd on eviction --
# /tmp on a long-lived host is NOT self-cleaning, so "the OS reclaims it"
# would really mean unbounded staged-corpus accumulation.
_CACHE: dict[tuple[str, str], tuple[DataFrame, str]] = {}


def _evict(full_key: tuple[str, str]) -> None:
    entry = _CACHE.pop(full_key, None)
    if entry is not None:
        shutil.rmtree(entry[1], ignore_errors=True)


def scratch_dir(prefix: str, sf_dir: str, reset: bool = False) -> str:
    """Deterministic per-(query, sf) scratch path under the temp dir --
    the single definition of the naming contract (prefix + sanitized
    sf_dir), so a sanitization change cannot desynchronize the operator
    sites and the tests that look a path up. Deterministic
    (not mkdtemp) on purpose: repeated sweeps overwrite in place instead
    of leaking a corpus copy per run. reset=True also clears it (the
    q170 rule: a crashed prior run's leftovers never leak into the next
    result)."""
    import os
    import tempfile

    sf_tag = "".join(c if c.isalnum() else "_" for c in sf_dir)
    base = os.path.join(tempfile.gettempdir(), f"{prefix}_{sf_tag}")
    if reset:
        shutil.rmtree(base, ignore_errors=True)
    return base


def cached_df(spark: SparkSession, key: str, builder: Callable[[], DataFrame]) -> DataFrame:
    """Return a parquet-staged DataFrame for `key`, building + writing it on
    first use and reading the staged copy thereafter."""
    app_id = spark.sparkContext.applicationId
    full_key = (app_id, key)
    hit = _CACHE.get(full_key)
    if hit is not None:
        return hit[0]
    for k in [k for k in _CACHE if k[0] != app_id]:
        _evict(k)
    stage_dir = tempfile.mkdtemp(prefix="stage_" + "".join(c if c.isalnum() else "_" for c in key) + "_")
    built = builder()
    built.write.mode("overwrite").parquet(stage_dir)
    # Read back with the builder's schema stated explicitly: a schema-less
    # read runs a footer-inference JOB first (same fix as
    # tables._read_parquet_cached_schema), and the staged files were just
    # written from exactly this schema.
    df = spark.read.schema(built.schema).parquet(stage_dir)
    _CACHE[full_key] = (df, stage_dir)
    return df


def clear_cache() -> None:
    """Drop every staged entry AND its on-disk parquet (test isolation hook
    + atexit janitor)."""
    for k in list(_CACHE):
        _evict(k)


atexit.register(clear_cache)
