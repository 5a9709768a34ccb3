"""Custom connector surface (SURVEY.md §2B X69): Spark 4's Python
DataSource API — a connector written in pure Python (no JVM code), with
real partition planning, registered and driven through the normal reader
path.

The source generates a deterministic synthetic corpus: row i carries
md5-derived pseudo-features (the shared h60 convention, computed with
hashlib in the generator and re-derived by DuckDB's md5 in the oracle),
so the query over the custom source is exactly checkable even though no
input file exists. This is the load-generator / external-system-connector
shape: `partitions()` splits the id range into independent splits that
Spark schedules as parallel tasks, and `read()` streams tuples per split.

Scale: a generator source is embarrassingly parallel (raise N_PARTS);
a real external connector plugs its shard enumeration into partitions()
and its scan into read() — nothing else changes.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._cache import scratch_dir
from ._hashing import canon_empty_sql, h60, h60_sql

SYNTH_N = 20_000   # generated rows
SYNTH_PARTS = 8    # independent input splits
SYNTH_SEED = "synth_v1"


def _register_source() -> type:
    """Build the DataSource class lazily (the pyspark.sql.datasource import
    lives here so module import stays cheap)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class SynthDocsReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", SYNTH_N))
            self.parts = int(options.get("parts", SYNTH_PARTS))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            # striped split: row ids are a pure function of (i, stride), so
            # results are invariant to the partition count
            for i in range(partition.value, self.n, self.parts):
                h = int(hashlib.md5(f"{SYNTH_SEED}:{i}".encode()).hexdigest()[:15], 16)
                yield (i, h % 500, h % 1_000_000)

    class SynthDocs(DataSource):
        @classmethod
        def name(cls):
            return "synthdocs"

        def schema(self):
            return "doc_id BIGINT, n_tokens BIGINT, quality_ppm BIGINT"

        def reader(self, schema):
            return SynthDocsReader(self.options)

    return SynthDocs


def q169_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the custom Python data source: per n_tokens-centile
    band, row count, token sum, and mean quality in integer ppm. The
    oracle regenerates the identical rows from DuckDB's range() + md5 —
    the connector's output is hash-verified end to end."""
    spark.dataSource.register(_register_source())
    src = (
        spark.read.format("synthdocs")
        .option("n", str(SYNTH_N))
        .option("parts", str(SYNTH_PARTS))
        .load()
    )
    # integer division for the band: a double cast would diverge (DuckDB
    # ROUNDS double->int casts, Spark truncates)
    return src.groupBy(F.expr("n_tokens DIV 50").alias("band")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        F.expr("CAST(sum(quality_ppm) DIV count(1) AS BIGINT)").alias("mean_quality_ppm"),
    )


ORACLE_Q169 = f"""
WITH g AS (
  SELECT CAST(range AS BIGINT) AS doc_id,
         {h60_sql(f"'{SYNTH_SEED}:' || CAST(range AS VARCHAR)")} % 500 AS n_tokens,
         {h60_sql(f"'{SYNTH_SEED}:' || CAST(range AS VARCHAR)")} % 1000000 AS quality_ppm
  FROM range({SYNTH_N})
)
SELECT CAST(n_tokens // 50 AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(quality_ppm) // count(*) AS BIGINT) AS mean_quality_ppm
FROM g GROUP BY 1
"""


# --------------------------------------------------------------------------
# q194: Python DataSource WRITER -- the sink half of the connector API
# --------------------------------------------------------------------------

def _register_sink() -> type:
    """Custom JSONL sink via Spark 4's Python DataSourceWriter: each task
    streams its partition to a temp file and returns a commit message
    (path, row count); the driver-side commit() renames temp files into
    place and writes a _manifest.json naming exactly the committed files
    -- the two-phase rename-on-commit discipline that makes the sink
    exactly-once for any reader that lists THROUGH the manifest (a failed
    or speculative task's temp file is never renamed, so it is invisible).
    abort() removes the temp files."""
    import json as _json
    import os as _os
    import uuid as _uuid
    from dataclasses import dataclass

    from pyspark.sql.datasource import DataSource, DataSourceWriter, WriterCommitMessage

    @dataclass
    class _Committed(WriterCommitMessage):
        tmp_path: str
        rows: int

    class JsonlWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            fn = f"{self.path}/_tmp-{_uuid.uuid4().hex}.jsonl"
            n = 0
            with open(fn, "w") as f:
                for row in iterator:
                    f.write(_json.dumps(row.asDict(), sort_keys=True) + "\n")
                    n += 1
            return _Committed(tmp_path=fn, rows=n)

        def commit(self, messages):
            final = []
            for i, m in enumerate(messages):
                dst = f"{self.path}/part-{i:05d}.jsonl"
                _os.replace(m.tmp_path, dst)
                final.append({"file": _os.path.basename(dst), "rows": m.rows})
            # Manifest publishes atomically (write-then-rename): a crash
            # mid-commit leaves either no manifest (renamed part files are
            # invisible to manifest readers -- all-or-nothing holds) or the
            # complete one, never a torn listing.
            tmp_manifest = f"{self.path}/_manifest.json.tmp"
            with open(tmp_manifest, "w") as f:
                _json.dump({"files": final}, f)
            _os.replace(tmp_manifest, f"{self.path}/_manifest.json")

        def abort(self, messages):
            # Failed/unlaunched tasks surface as None entries.
            for m in messages:
                if m is not None and _os.path.exists(m.tmp_path):
                    _os.remove(m.tmp_path)

    class JsonlSink(DataSource):
        @classmethod
        def name(cls):
            return "jsonlsink"

        def writer(self, schema, overwrite):
            return JsonlWriter(self.options)

    return JsonlSink


def q194_python_datasink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the documents table through the custom Python SINK
    (q169's writer half): write via the registered ``jsonlsink`` format,
    then read back ONLY the files the committed manifest names and
    aggregate per source -- row count, n_chars sum, and the h60 text
    fingerprint (NULL/'' collapsed per q165's contract). The oracle
    computes the same aggregates from the ORIGINAL parquet, so a sink
    that drops, duplicates, or mangles ANY row across the task/commit
    boundary is a hash mismatch. Scratch path deterministic per sf and
    reset per invocation (q58's no-leak rule)."""
    import json as _json
    import os
    import shutil
    import tempfile

    spark.dataSource.register(_register_sink())
    out_dir = scratch_dir("q194_sink", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source", "n_chars")
    docs.write.format("jsonlsink").option("path", out_dir).mode("append").save()

    with open(f"{out_dir}/_manifest.json") as f:
        manifest = _json.load(f)
    files = [f"{out_dir}/{e['file']}" for e in manifest["files"]]
    rb = spark.read.schema(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).json(files)
    h60_text = h60(canon_empty_sql("text"))  # the shared hash/canon pair -- a
    # divergent inline copy here would silently fork the fingerprint convention
    return rb.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("sum_chars"),
        ((F.sum((h60_text % 1_000_000_007).cast("decimal(38,0)")) % 1_000_000_007)
         .cast("bigint").alias("text_fp")),
    )


_CANON_TEXT_SQL = canon_empty_sql("text")

ORACLE_Q194 = f"""
SELECT source,
       count(*) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(CAST(sum(CAST({h60_sql(_CANON_TEXT_SQL)} % 1000000007 AS HUGEINT)) AS HUGEINT)
            % 1000000007 AS BIGINT) AS text_fp
FROM documents
GROUP BY source
"""


QUERIES = {
    "q169_python_datasource": q169_python_datasource,
    "q194_python_datasink": q194_python_datasink,
}
ORACLES = {
    "q169_python_datasource": ORACLE_Q169,
    "q194_python_datasink": ORACLE_Q194,
}
