"""Event-time windowing (SURVEY.md §2B X14): tumbling, sliding, session
windows over the events table, plus a true Structured Streaming path with
watermarking.

q60-q62 run the window assignment in batch mode (same `F.window` /
`F.session_window` expressions Structured Streaming uses). q63 is a real
`readStream` -> watermark -> windowed agg -> memory sink, driven to
completion; in complete output mode its result equals the batch aggregation,
so even the streaming path gets an exact DuckDB oracle.

Every streaming query runs through one drain contract, `_drain`: stop any
leftover query of the same name, start the writer with
Trigger.AvailableNow (the source snapshot at start is consumed, one
micro-batch per file where maxFilesPerTrigger=1, then the query ends by
itself), wait at most DRAIN_TIMEOUT_S and raise TimeoutError rather than
hand back a partly drained table, and stop the query in `finally`. The
stateful queries q107/q140/q170/q175/q178/q180/q182 pin their
state-store partition count to STREAM_STATE_PARTITIONS; the other eight
start under the session's shuffle-partition count. The events replays
with heartbeat sentinels (q140/q170/q178/q182) share one source builder,
`_replay_stream`.

Spark aligns windows to the epoch; DuckDB's `time_bucket` origin
(2000-01-01) is 5-minute aligned to the epoch, so bucket starts agree for
the divisors used here. Window bounds are emitted as formatted strings to
keep the cross-engine hash deterministic.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..operators._rounding import mround
from ..operators.advanced import ORACLE_Q88, SESSION_GAP_US
from ..tables import load

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"
TS_US_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_US_DUCK = "%Y-%m-%d %H:%M:%S.%f"
SESSION_GAP = "30 minutes"

# the staged normalized events layout (post tables.normalize_events_ts):
# shared by every full-width staged-file stream source and the heartbeat
# sentinel writer, so a schema change cannot drift between them
EVENTS_STAGED_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                        "event_type string, value double, props string")

# Upper bound on one streaming drain. A stuck stream must fail loudly, not
# return a partly drained table that then reads as an oracle mismatch (or
# passes a weak check on partial data).
DRAIN_TIMEOUT_S = 300

# State-store partition count for the stateful queries that pin it. A
# stateful query fixes its shuffle-partition count at the FIRST
# checkpoint, so this is a per-query sizing decision, not a session
# default: each partition costs a state store instance + a task per
# stateful operator per micro-batch, and at replay volumes (~1M events) 32
# partitions spend more on per-batch task/state overhead than on data
# (measured 20 s -> 11.5 s at sf0.1 going 32 -> 8). On a cluster, size it
# like any state store: ~stream-rate x state horizon / healthy-partition-size.
STREAM_STATE_PARTITIONS = 8


def _drain(
    spark: SparkSession, writer: DataStreamWriter, name: str, partitions: int | None = None
) -> StreamingQuery:
    """Run `writer` as query `name` to the end of its source and return the
    stopped query (its progress log stays readable). A still-registered
    query with this name -- a prior invocation that died mid-drain -- is
    stopped first, since a second one under the same name fails to start.
    `partitions` pins spark.sql.shuffle.partitions only while the query
    STARTS (the checkpoint snapshots it); the session value is restored
    before the wait. The drive/bench run queries sequentially, so the pin
    cannot leak into a concurrent batch plan."""
    for active in spark.streams.active:
        if active.name == name:
            active.stop()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        q = writer.queryName(name).trigger(availableNow=True).start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        # awaitTermination(timeout) returns False on timeout instead of raising
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            raise TimeoutError(
                f"{name} did not drain within {DRAIN_TIMEOUT_S} s; "
                "refusing to return a partially-drained result"
            )
    finally:
        q.stop()
    return q


def _run_base(prefix: str, sf_dir: str) -> str:
    """Deterministic per-(query, sf) scratch base under the temp dir, RESET
    on entry (q170's rule): the same inputs reuse the same path, and a
    crashed prior run's leftovers never leak into the next result. Naming
    contract lives in operators._cache.scratch_dir (one definition)."""
    from ..operators._cache import scratch_dir

    return scratch_dir(prefix, sf_dir, reset=True)


# --------------------------------------------------------------------------
# q60: tumbling window (5 minutes)
# --------------------------------------------------------------------------

def q60_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), mround(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("win_start"),
            F.date_format("w.end", TS_FMT_SPARK).alias("win_end"),
            "n_events",
            "sum_value",
        )
    )


ORACLE_Q60 = f"""
SELECT strftime(tb, '{TS_FMT_DUCK}')                         AS win_start,
       strftime(tb + INTERVAL '5 minutes', '{TS_FMT_DUCK}')  AS win_end,
       count(*)                                              AS n_events,
       round(1.37e-6 + sum(value), 2)                        AS sum_value
FROM (SELECT time_bucket(INTERVAL '5 minutes', ts) AS tb, value FROM events)
GROUP BY tb
"""


# --------------------------------------------------------------------------
# q61: sliding window (10 minutes, slide 2) -- each event lands in 5 windows
# --------------------------------------------------------------------------

def q61_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "10 minutes", "2 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), mround(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ORACLE_Q61 = f"""
SELECT strftime(win_start, '{TS_FMT_DUCK}') AS win_start,
       event_type,
       count(*)                             AS n_events,
       round(1.37e-6 + sum(value), 2)       AS sum_value
FROM (
  SELECT time_bucket(INTERVAL '2 minutes', ts) - k * INTERVAL '2 minutes' AS win_start,
         event_type, value
  FROM events, (SELECT unnest(range(5)) AS k)
)
GROUP BY win_start, event_type
"""


# --------------------------------------------------------------------------
# q62: session window (30-minute gap) per user
# --------------------------------------------------------------------------

def q62_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`F.session_window` merges events whose windows overlap (next.ts -
    prev.ts strictly < gap). The oracle reproduces that with lag + a running
    session counter -- the classic batch sessionization."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), mround(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", TS_US_SPARK).alias("win_start"),
            F.date_format("w.end", TS_US_SPARK).alias("win_end"),
            "n_events",
            "sum_value",
        )
    )


ORACLE_Q62 = f"""
WITH m AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) < INTERVAL '{SESSION_GAP}'
              THEN 0 ELSE 1 END AS brk
  FROM events
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM m
)
SELECT user_id,
       strftime(min(ts), '{TS_US_DUCK}')                                  AS win_start,
       strftime(max(ts) + INTERVAL '{SESSION_GAP}', '{TS_US_DUCK}')       AS win_end,
       count(*)                                                           AS n_events,
       round(1.37e-6 + sum(value), 2)                                     AS sum_value
FROM s
GROUP BY user_id, sess
"""


# --------------------------------------------------------------------------
# q63: true Structured Streaming -- readStream + watermark + tumbling agg
# --------------------------------------------------------------------------

def _table_stream(spark: SparkSession, sf_dir: str, table: str,
                  schema: T.StructType) -> DataFrame:
    """File-source stream over `{sf_dir}/{table}.parquet`, robust to BOTH
    physical layouts a parquet table ships in: a single FILE (the driver's
    fixtures) and a DIRECTORY of part files (what any Spark write
    produces). The old pathGlobFilter-on-sf_dir pattern silently streamed
    ZERO rows on the directory layout -- the filter matches leaf file
    names, and a directory's leaves are part-*.parquet, not
    {table}.parquet (caught by tools/scale.py smoke on the inflated corpus:
    q131 returned 0 rows with no error). Dir-ness is resolved through the
    Hadoop FS API, so cluster stores (hdfs://, s3a://, ...) take the same
    decision path as local disk -- os.path.isdir returns False for every
    remote URI, which would silently re-select the zero-row glob branch."""
    path = f"{sf_dir}/{table}.parquet"
    if _is_directory(spark, path):
        return spark.readStream.schema(schema).parquet(path)
    # file source needs a directory; select the single file by leaf name
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def _is_directory(spark: SparkSession, path: str) -> bool:
    """True iff `path` is a directory on WHATEVER filesystem owns it,
    resolved via Hadoop's FileSystem -- the same authority the file source
    consults. Local paths keep the os.path fast path (no JVM round-trip);
    any path with a non-local scheme goes through Hadoop, so hdfs:// and
    s3a:// directory-layout tables are classified correctly instead of
    silently falling into the glob branch. A path the store cannot resolve
    raises FileNotFoundException: a missing table must fail loudly, never
    stream zero rows."""
    from urllib.parse import urlparse

    parsed = urlparse(path)
    if parsed.scheme in ("", "file"):
        # urlparse().path, not removeprefix: file://localhost/x parses to
        # (scheme='file', netloc='localhost', path='/x'), and a naive
        # prefix strip leaves '//localhost/x', which isdir rejects for a
        # real directory -- re-selecting the zero-row glob branch for a
        # perfectly valid file: URI.
        local = parsed.path if parsed.scheme else path
        if not os.path.exists(local):
            raise FileNotFoundError(
                f"table path does not exist: {path!r} -- refusing to fall "
                "into the pathGlobFilter branch, which would silently "
                "stream zero rows"
            )
        return os.path.isdir(local)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getFileStatus(hpath).isDirectory()


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of events.parquet robust to both ts encodings the data
    generator has shipped: TIMESTAMP(NANOS) (surfaces as long under the
    legacy nanosAsLong conf; convert in-plan) and TIMESTAMP(MICROS)
    (surfaces as timestamp_ntz; cast to session-tz timestamp). The file
    source requires an explicit schema, so probe the batch reader's resolved
    schema once -- a driver-side footer read, no data scan -- and declare
    the matching stream schema. Declaring the wrong type would NOT error:
    the vectorized reader hands back the raw INT64 micros, silently
    compressing every timestamp 1000x downstream. Probe and normalization
    are the SAME helpers the batch loader uses (tables.events_ts_type /
    normalize_events_ts), so the two paths cannot drift."""
    from ..tables import _ensure_session_defaults, events_ts_type, normalize_events_ts

    _ensure_session_defaults(spark)
    ts_type = events_ts_type(spark, sf_dir)
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", ts_type),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])
    stream = _table_stream(spark, sf_dir, "events", schema)
    return normalize_events_ts(stream, ts_type)


def q63_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming over the same events parquet: watermark + 5-min
    tumbling window per event_type, memory sink. Complete output mode emits
    every window once the source drains, so the result equals the batch
    aggregation and the DuckDB oracle stays exact."""
    name = "q63_stream_result"
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), mround(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    _drain(spark, agg.writeStream.outputMode("complete").format("memory"), name)
    return spark.table(name)


ORACLE_Q63 = f"""
SELECT strftime(tb, '{TS_FMT_DUCK}')   AS win_start,
       event_type,
       count(*)                        AS n_events,
       round(1.37e-6 + sum(value), 2)  AS sum_value
FROM (SELECT time_bucket(INTERVAL '5 minutes', ts) AS tb, event_type, value FROM events)
GROUP BY tb, event_type
"""


# --------------------------------------------------------------------------
# q64: streaming dedup (dropDuplicatesWithinWatermark) with an exact oracle
# --------------------------------------------------------------------------

def q64_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type, minute): readStream ->
    watermark -> dropDuplicatesWithinWatermark -> append memory sink, then a
    tiny batch rollup of the sink. The file source delivers the single
    events parquet in ONE micro-batch, so every duplicate key is still in
    state when its later rows arrive and the streamed result equals a batch
    DISTINCT -- which is what the DuckDB oracle computes. At scale the
    watermark bounds the dedup state to the late-data horizon instead of
    the whole corpus (the reason this operator exists)."""
    name = "q64_dedup_result"
    stream = _events_stream(spark, sf_dir)
    deduped = (
        stream.withColumn("minute", F.date_trunc("minute", "ts"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute"])
        .select("user_id", "event_type", "minute")
    )
    _drain(spark, deduped.writeStream.outputMode("append").format("memory"), name)
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_user_minutes"))
    )


ORACLE_Q64 = """
SELECT event_type, count(*) AS n_unique_user_minutes
FROM (SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS minute FROM events)
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q70: stream-static enrichment join (stream events x customer dim)
# --------------------------------------------------------------------------

def q70_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join -- the enrichment shape every event pipeline runs:
    a readStream over events joined to the static customer dimension
    (broadcast: the dim is re-read per micro-batch and never holds join
    state, unlike stream-stream), then a 15-minute tumbling rollup per
    market segment. Complete output mode over the drained source equals the
    batch join+agg, so the DuckDB oracle is exact."""
    from ..tables import load as load_table

    name = "q70_enrich_result"
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.join(F.broadcast(cust), "user_id")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"), mround(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("win_start"),
            F.col("c_mktsegment").alias("segment"),
            "n_events",
            "sum_value",
        )
    )
    _drain(spark, agg.writeStream.outputMode("complete").format("memory"), name)
    return spark.table(name)


ORACLE_Q70 = f"""
SELECT strftime(time_bucket(INTERVAL '15 minutes', e.ts), '{TS_FMT_DUCK}') AS win_start,
       c.c_mktsegment                  AS segment,
       count(*)                        AS n_events,
       round(1.37e-6 + sum(e.value), 2) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def q98_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EVENT session ids via the custom stateful operator
    (applyInPandasWithState, streaming/stateful.py) -- the capability
    session_window lacks: it emits per-session AGGREGATES, while feature
    pipelines need each event's session id to join against. The state store
    carries (last event time, session ordinal) per user; draining the
    replayed log with availableNow semantics makes the result equal the
    batch window scan, so q88's SQL is an EXACT oracle for a stateful
    streaming query."""
    from .stateful import sessionize_stream

    name = "q98_stream_result"
    stream = _events_stream(spark, sf_dir).select(
        "event_id", "user_id", F.unix_micros("ts").alias("tus")
    )
    sess = sessionize_stream(stream, SESSION_GAP_US)
    _drain(spark, sess.writeStream.outputMode("update").format("memory"), name)
    return spark.table(name)


def q107_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join -- the hardest streaming operator in the
    survey surface: 'view' events matched to same-user 'click' events in the
    following 10 minutes, BOTH sides unbounded streams. Each side carries a
    watermark so the engine evicts join state older than the interval plus
    the late horizon -- the property that lets this run forever at 100 TB/day
    (an unwatermarked stream-stream join retains every row forever). Inner
    matches are emitted in the processing micro-batch, so draining the
    replayed log equals the batch inequality join and the DuckDB oracle is
    exact. Batch twin of the same shape: q55's bucketized range join."""
    name = "q107_ssj_result"

    # ONE file source shared by both sides (the q140 shape): two
    # independent _events_stream calls would each create their own
    # FileStreamSource and scan the events file twice per micro-batch
    stream = _events_stream(spark, sf_dir)

    def side(kind: str, prefix: str) -> DataFrame:
        return (
            stream
            .filter(F.col("event_type") == kind)
            .withWatermark("ts", "10 minutes")
            .select(
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("value").alias(f"{prefix}_val"),
            )
        )

    joined = (
        side("view", "v")
        .join(
            side("click", "c"),
            F.expr("v_user = c_user AND c_ts >= v_ts AND c_ts <= v_ts + interval 10 minutes"),
        )
        .select(
            F.col("v_user").alias("user_id"),
            F.date_format("v_ts", TS_US_SPARK).alias("view_ts"),
            F.date_format("c_ts", TS_US_SPARK).alias("click_ts"),
            F.col("c_val").alias("click_value"),
        )
    )
    _drain(spark, joined.writeStream.outputMode("append").format("memory"), name,
           STREAM_STATE_PARTITIONS)
    return spark.table(name)


ORACLE_Q107 = f"""
SELECT v.user_id,
       strftime(v.ts, '{TS_US_DUCK}') AS view_ts,
       strftime(c.ts, '{TS_US_DUCK}') AS click_ts,
       c.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
"""


# --------------------------------------------------------------------------
# q131: streaming dedup gate -- ingest stream banded against the static index
# --------------------------------------------------------------------------

def q131_stream_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming half of incremental dedup (q128's production split):
    today's ingest documents arrive as a STREAM, each row's MinHash band
    keys are computed as a PURE PROJECTION (per-row higher-order functions
    -- no streaming aggregation, no watermark state), and a stream-static
    equi-join against the standing index's band table flags candidate
    duplicates in-flight. Exact Jaccard verification stays in the batch
    layer (q128); this is the gate that keeps obvious dups out of the
    ingest path at stream speed.

    The per-row HOF signature (array_min over transform) computes exactly
    the same integers as the batch groupBy-min (same multiset, same hash
    family), so the drained stream equals the batch band join and the
    oracle is exact. State: only the final per-doc dropDuplicates --
    bounded by the batch, not the corpus."""
    from ..operators._hashing import MINHASH_SEEDS, P31, h60_expr
    from ..operators.dedup import (
        _band_rows,
        _doc_shingles_raw,
        _is_new,
        _minhash_wide,
        _shingles_from_words_expr,
        _words_expr,
    )

    name = "q131_gate_result"
    is_new = _is_new  # the single membership hash q128 and the oracle share

    # Static side: the standing index's band table (batch path, staged
    # shingle machinery). At scale this is the STORED signature table.
    idx_wide = _minhash_wide(
        _doc_shingles_raw(spark, sf_dir).filter(~is_new("doc_id"))
    )
    idx_bands = _band_rows(idx_wide).select("band", "ka", "kb")

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    stream = _table_stream(spark, sf_dir, "documents", schema).filter(is_new("doc_id"))
    sh = f"transform({_shingles_from_words_expr(_words_expr())}, s -> {h60_expr('s')} % {P31})"
    mins = [
        f"array_min(transform(sh, h -> ({a} * h + {b}) % {P31})) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    ]
    sig = stream.selectExpr("doc_id", "source", f"{sh} AS sh").selectExpr(
        "doc_id", "source", *mins
    )
    new_bands = _band_rows(sig, "source")
    flagged = (
        new_bands.join(idx_bands, ["band", "ka", "kb"])
        .select("doc_id", "source")
        .dropDuplicates(["doc_id"])
    )
    _drain(spark, flagged.writeStream.outputMode("append").format("memory"), name)
    return spark.table(name)


def _oracle_q131() -> str:
    from ..operators.dedup import ING_BUCKET, ING_MOD, ING_SEED, _minhash_long_sql
    from ..operators._hashing import h60_sql

    key = h60_sql(f"'{ING_SEED}:' || CAST(doc_id AS VARCHAR)")
    is_new = f"({key} % {ING_MOD}) = {ING_BUCKET}"
    return f"""
WITH sig AS ({_minhash_long_sql()}),
bands AS (
  SELECT doc_id, seed_id // 2 AS band,
         max(CASE WHEN seed_id % 2 = 0 THEN minh END) AS ka,
         max(CASE WHEN seed_id % 2 = 1 THEN minh END) AS kb
  FROM sig GROUP BY 1, 2
),
new_b AS (SELECT * FROM bands WHERE {is_new}),
idx_b AS (SELECT * FROM bands WHERE NOT ({is_new}))
SELECT DISTINCT n.doc_id, d.source
FROM new_b n
JOIN idx_b i ON n.band = i.band AND n.ka = i.ka AND n.kb = i.kb
JOIN documents d ON n.doc_id = d.doc_id
"""


# --------------------------------------------------------------------------
# q140: stream-stream LEFT OUTER interval join (watermark-expired NULL rows)
# --------------------------------------------------------------------------

def _staged_events_file(spark: SparkSession, sf_dir: str):
    """(path-of-single-parquet-file, max event ts): events with ts
    normalized to TIMESTAMP micros, coalesced to ONE file and
    session-cached. One file matters: each file becomes its own
    micro-batch under maxFilesPerTrigger=1, and the staged write's
    partitioning is not time-ordered -- with several real files, batch 1's
    watermark would late-drop earlier rows arriving in batch 2 (observed:
    exactly one unmatched view vanished)."""
    from ..operators._cache import cached_df

    base = load(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id",
        "event_type", "value", "props",
    )
    staged = cached_df(spark, f"q140_flush_events:{sf_dir}", lambda: base.coalesce(1))
    path = staged.inputFiles()[0].removeprefix("file:")
    # aggregate off the staged single file, not the source table: four
    # queries (q140/q170/q178/q182) call this per sweep, and a max over
    # `base` re-scans the original events per call where the staged scan
    # is one tiny file with a ts column statistics footer
    max_ts = staged.agg(F.max("ts").alias("m")).collect()[0]["m"]
    return path, max_ts


def _pin_mtime(path: str, mtime: float) -> None:
    """FileStreamSource orders files by MODIFICATION time, and the
    heartbeat protocol depends on the real events file draining before any
    sentinel: on a coarse-mtime filesystem a copy and a sentinel written
    in the same tick can tie (or invert), the sentinel lands in batch 0,
    the watermark jumps a day ahead, and every real event is late-dropped.
    So every staged source file gets an EXPLICIT, strictly increasing
    mtime instead of whatever the filesystem assigned."""
    os.utime(path, (mtime, mtime))


def _write_sentinel(spark: SparkSession, run_dir: str, name: str, ts, mtime: float) -> None:
    """One heartbeat file: a 'view' and a 'click' at `ts` with user_id -1,
    atomically moved into the live source directory so the running stream
    picks it up as a new file. ``mtime`` pins the file's modification time
    (see _pin_mtime: source ordering must not depend on filesystem tick
    granularity)."""
    rows = [(-1, ts, -1, k, 0.0, "{}") for k in ("view", "click")]
    sdf = spark.createDataFrame(rows, EVENTS_STAGED_SCHEMA).coalesce(1)
    tmp = f"{run_dir}/_tmp_{name}"
    sdf.write.mode("overwrite").parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    os.replace(f"{tmp}/{part}", f"{run_dir}/{name}.parquet")
    _pin_mtime(f"{run_dir}/{name}.parquet", mtime)
    shutil.rmtree(tmp, ignore_errors=True)


def _replay_stream(spark: SparkSession, sf_dir: str, base: str, heartbeats: int) -> DataFrame:
    """Replay source for the heartbeat queries: `{base}/src` holds the
    staged events file, then `heartbeats` sentinel files at max event ts +
    1, 2, ... days, with strictly increasing pinned mtimes so the events
    drain before any sentinel. Read one file per micro-batch with
    EVENTS_STAGED_SCHEMA."""
    import datetime
    import time

    src = f"{base}/src"
    os.makedirs(src)
    events_file, max_ts = _staged_events_file(spark, sf_dir)
    now = time.time()
    shutil.copy(events_file, f"{src}/events.parquet")
    _pin_mtime(f"{src}/events.parquet", now - 300)
    for k in range(1, heartbeats + 1):
        _write_sentinel(spark, src, f"heartbeat{k}", max_ts + datetime.timedelta(days=k),
                        mtime=now - 300 + 100 * k)
    return (
        spark.readStream.schema(EVENTS_STAGED_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )


def q140_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q107's interval join with LEFT OUTER semantics -- the streaming
    operator whose correctness depends on WATERMARK EXPIRY, not just
    matching: a 'view' with no same-user 'click' in the next 10 minutes
    must still emit (with NULL click columns), and may only do so once the
    watermark proves no matching click can ever arrive. A drained finite
    source never proves that for the tail, so two sentinel heartbeat
    files (~1/~2 days late, one 'view' + one 'click' each so BOTH sides'
    watermarks advance) follow the replayed log in the source directory
    (_replay_stream, later pinned mtimes): heartbeat 1 lifts the
    watermark past every real row's eviction bound, heartbeat 2 provides
    the following batch in which the engine actually evicts and emits the
    NULL rows. The Trigger.AvailableNow drain (maxFilesPerTrigger=1 -> one
    micro-batch per file, terminating when the snapshot is consumed) makes
    the batch sequence deterministic. The drained table then equals the
    batch LEFT JOIN and the oracle is exact; state stays bounded by
    interval + late horizon (the forever-runnable property), and the
    heartbeat is exactly how a production replay forces final results out
    of a finite topic."""
    name = "q140_soj_result"
    stream = _replay_stream(spark, sf_dir, _run_base("q140_outer", sf_dir), heartbeats=2)

    def side(kind: str, prefix: str) -> DataFrame:
        return (
            stream.filter(F.col("event_type") == kind)
            .withWatermark("ts", "10 minutes")
            .select(
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("value").alias(f"{prefix}_val"),
            )
        )

    joined = (
        side("view", "v")
        .join(
            side("click", "c"),
            F.expr("v_user = c_user AND c_ts >= v_ts AND c_ts <= v_ts + interval 10 minutes"),
            "leftOuter",
        )
        .select(
            F.col("v_user").alias("user_id"),
            F.date_format("v_ts", TS_US_SPARK).alias("view_ts"),
            F.date_format("c_ts", TS_US_SPARK).alias("click_ts"),
            F.col("c_val").alias("click_value"),
        )
    )
    # NO sentinel filter inside the streaming plan: a `v_user >= 0`
    # predicate pushes through the outer join down to the parquet SCAN,
    # whose row-group stats (every sentinel row is user_id = -1) prune the
    # heartbeat files entirely -- numInputRows 0, watermark frozen, tail
    # rows never flushed (observed; the nastiest kind of pushdown bug:
    # the optimization is correct for the DATA and wrong for the CLOCK).
    # Sentinels are filtered from the drained BATCH table instead.
    _drain(spark, joined.writeStream.outputMode("append").format("memory"), name,
           STREAM_STATE_PARTITIONS)
    return spark.table(name).filter(F.col("user_id") >= 0)


ORACLE_Q140 = f"""
SELECT v.user_id,
       strftime(v.ts, '{TS_US_DUCK}') AS view_ts,
       strftime(c.ts, '{TS_US_DUCK}') AS click_ts,
       c.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'view') v
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
"""


# --------------------------------------------------------------------------
# q170: exactly-once streaming FILE SINK (parquet + checkpoint + replay)
# --------------------------------------------------------------------------

def q170_stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production streaming SINK path, end-to-end: watermarked tumbling
    aggregation in APPEND mode written to a parquet file sink with a
    checkpoint — Spark's transactional _spark_metadata log is what makes
    the sink exactly-once (the batch reader lists files through the log,
    so a torn write is invisible). Every other streaming query here drains
    to a memory sink; this one verifies durable output.

    Append mode only emits a window once the watermark CLOSES it, and a
    drained finite source never closes the tail — so after the replayed
    log, one heartbeat file (a day late, q140's machinery) ticks the
    watermark past every real window; the heartbeat's own window stays
    open and is never emitted, keeping sentinel rows out of the sink by
    construction. Sink + checkpoint live at deterministic per-sf paths and
    are RESET per invocation: a reused checkpoint would replay zero new
    batches and the query would return the previous run's output — the
    reproducible-test inverse of production, where the checkpoint is
    exactly what you must keep."""
    base = _run_base("q170_sink", sf_dir)
    sink_dir = f"{base}/out"
    stream = _replay_stream(spark, sf_dir, base, heartbeats=1)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), mround(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    writer = (
        agg.writeStream.outputMode("append").format("parquet")
        .option("path", sink_dir).option("checkpointLocation", f"{base}/ckpt")
    )
    _drain(spark, writer, "q170_sink_query", STREAM_STATE_PARTITIONS)
    # batch read THROUGH the sink's _spark_metadata transaction log — the
    # exactly-once read path (no sentinel filter needed: the heartbeat's
    # window never closed, so it was never emitted)
    return spark.read.parquet(sink_dir)


# the sink holds exactly the closed real windows = the full batch
# aggregation (heartbeat lifts the watermark past every real window; its
# own window never closes), so q63's oracle is q170's oracle verbatim
ORACLE_Q170 = ORACLE_Q63


# --------------------------------------------------------------------------
# q178: state-store reader -- introspect a checkpoint's live state
# --------------------------------------------------------------------------

def q178_state_store_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ``statestore`` data source: read a streaming checkpoint's
    STATE as a DataFrame -- the observability path for debugging a
    production job's memory (what is this query still holding, and why)
    without stopping it. The pipeline under inspection is a watermarked
    5-minute window aggregate drained from a single-file replay; what its
    checkpoint retains afterwards is precisely the windows the final
    watermark (max event time - 10 min) has NOT closed, each carrying the
    FULL count/sum for its group (the drain was one batch, so no row was
    late-dropped before eviction ran). That retention rule is the oracle:
    DuckDB selects the same tail windows by epoch-microsecond arithmetic
    (raw-nanos drops floor to micros identically on both sides -- the q88
    rule) and aggregates them from the raw events. The state sum is a
    partition-order double accumulation, so it crosses the oracle boundary
    through the shared mround/epsilon money contract like every other
    2dp sum."""
    base = _run_base("q178_state", sf_dir)
    ckpt_dir = f"{base}/ckpt"
    stream = _replay_stream(spark, sf_dir, base, heartbeats=0)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
    )
    writer = agg.writeStream.outputMode("append").format("noop").option("checkpointLocation", ckpt_dir)
    _drain(spark, writer, "q178_state_query", STREAM_STATE_PARTITIONS)
    state = spark.read.format("statestore").load(ckpt_dir)
    return state.select(
        F.date_format("key.window.start", TS_FMT_SPARK).alias("win_start"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
        mround(F.col("value.sum"), 2).alias("sum_value"),
    )


ORACLE_Q178 = f"""
WITH mx AS (SELECT max(epoch_us(ts)) AS mus FROM events),
w AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS tb, event_type, value
  FROM events
)
SELECT strftime(tb, '{TS_FMT_DUCK}')   AS win_start,
       event_type,
       count(*)                        AS n_events,
       round(1.37e-6 + sum(value), 2)  AS sum_value
FROM w, mx
WHERE epoch_us(tb) + 300000000 > mus - 600000000
GROUP BY tb, event_type
"""


# --------------------------------------------------------------------------
# q182: STREAMING session windows -- the merging-sessions state operator
# --------------------------------------------------------------------------

def q182_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q62's session_window run as a REAL stream: unlike fixed windows,
    session state must MERGE when a new event bridges two open sessions
    (MergingSessionsExec) -- a state operator none of the other streaming
    queries touch. Append mode emits a session only once the watermark
    passes its end+gap, and a drained finite source never proves that for
    any session -- so after the replayed log, one heartbeat file (a day
    late, q140's machinery) lifts the watermark past every real session's
    horizon; the heartbeat's own session never closes, so the sentinel
    stays out of the sink by construction and the drained result is
    exactly the batch sessionization -- ORACLE_Q62 verbatim."""
    name = "q182_session_result"
    stream = _replay_stream(spark, sf_dir, _run_base("q182_session", sf_dir), heartbeats=1)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), mround(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", TS_US_SPARK).alias("win_start"),
            F.date_format("w.end", TS_US_SPARK).alias("win_end"),
            "n_events",
            "sum_value",
        )
    )
    _drain(spark, agg.writeStream.outputMode("append").format("memory"), name,
           STREAM_STATE_PARTITIONS)
    return spark.table(name)


# the heartbeat closed every real session and its own never closed, so the
# drained sink equals batch sessionization exactly
ORACLE_Q182 = ORACLE_Q62


# --------------------------------------------------------------------------
# q180: UPDATE output mode -- the changelog the other modes don't emit
# --------------------------------------------------------------------------

UPDATE_SRC_BUCKETS = 4


def q180_stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the output-mode matrix (complete: q63; append: q170/q178):
    UPDATE mode re-emits a group every micro-batch in which it changed,
    carrying the current running aggregate -- the changelog a downstream
    upsert consumer reads. The events log is split into 4 files by
    user_id % 4 (an EXPLICIT split: repartition's murmur hash would be
    unreproducible in the oracle) and replayed one file per micro-batch,
    so for each (window, event_type) group the number of emitted updates
    equals the number of user-buckets that touch it -- count(DISTINCT
    user_id % 4) in SQL -- independent of batch ORDER, and the final
    running count is the max over its updates because counts only grow.
    Both facts are hash-checked, which pins the two things UPDATE mode
    promises: no missed change, no spurious re-emission of unchanged
    groups."""
    name = "q180_update_result"
    base = _run_base("q180_update", sf_dir)
    src_dir = f"{base}/src"
    os.makedirs(src_dir)
    events = load(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type",
    )
    staged = 0
    for b in range(UPDATE_SRC_BUCKETS):
        part = events.filter(F.pmod("user_id", F.lit(UPDATE_SRC_BUCKETS)) == b).coalesce(1)
        tmp = f"{base}/_tmp_{b}"
        part.write.mode("overwrite").parquet(tmp)
        # a bucket empty on a tiny/hostile fixture stages no file (and a
        # 0-row parquet part would just be a no-op micro-batch): the
        # oracle's count(DISTINCT user_id % 4) only counts buckets that
        # actually contain rows, so skipping keeps both sides aligned
        pfs = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        if pfs:
            os.replace(f"{tmp}/{pfs[0]}", f"{src_dir}/b{b}.parquet")
            staged += 1
        shutil.rmtree(tmp, ignore_errors=True)
    if staged == 0:
        raise ValueError(f"q180: no events staged from {sf_dir}; source is empty")

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src_dir)
    )
    agg = stream.groupBy(
        F.window("ts", "15 minutes").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    _drain(spark, agg.writeStream.outputMode("update").format("memory"), name,
           STREAM_STATE_PARTITIONS)
    updates = spark.table(name)
    return updates.groupBy(
        F.date_format("w.start", TS_FMT_SPARK).alias("win_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_updates"),
        F.max("n").alias("n_events"),
    )


ORACLE_Q180 = f"""
SELECT strftime(tb, '{TS_FMT_DUCK}') AS win_start,
       event_type,
       -- pmod, not DuckDB's sign-preserving %: the Spark staging buckets
       -- with F.pmod(user_id, {UPDATE_SRC_BUCKETS}), and a negative
       -- user_id (the q140/q170 sentinel convention) would land in a
       -- phantom negative bucket here while Spark folds it to [0, {UPDATE_SRC_BUCKETS})
       CAST(count(DISTINCT ((user_id % {UPDATE_SRC_BUCKETS}) + {UPDATE_SRC_BUCKETS}) % {UPDATE_SRC_BUCKETS}) AS BIGINT) AS n_updates,
       count(*) AS n_events
FROM (SELECT time_bucket(INTERVAL '15 minutes', ts) AS tb, event_type, user_id
      FROM events)
GROUP BY tb, event_type
"""


# --------------------------------------------------------------------------
# q175: foreachBatch upsert sink -- the manual exactly-once merge pattern
# --------------------------------------------------------------------------

UPSERT_SRC_FILES = 4  # one micro-batch per file under maxFilesPerTrigger=1


def _upsert_reduce_latest(df: DataFrame) -> DataFrame:
    """Per-user latest-wins reduce: max(struct(ts, event_id, payload...))
    picks the newest row ((ts, event_id) is a total order, so the payload
    fields never decide the max) while sum(n) accumulates event counts."""
    return df.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("s"),
        F.sum("n").alias("n"),
    ).select("user_id", "s.ts", "s.event_id", "s.event_type", "s.value", "n")


def _upsert_merge_batch(
    spark: SparkSession, base: str, state_dir: str, bdf: DataFrame, batch_id: int
) -> None:
    """One foreachBatch merge into the parquet state table, exactly-once.

    Replay guard: the latest-wins payload merge is idempotent under
    crash-replay, but the count accumulation (sum of n) is ADDITIVE --
    re-running a batch whose merge already landed (crash between the state
    publish and the checkpoint commit) would double-count n_events.
    foreachBatch replays reuse the same batch_id, so a ledger file written
    WITH each state version (inside the dir _publish_state atomically
    points state_dir at; the leading underscore hides it from the parquet
    reader) makes the whole merge exactly-once: skip any batch at or below
    the last applied id. The publish itself is a crash-atomic symlink swap
    (_publish_state) -- state_dir always resolves to a COMPLETE version.
    Module-level (not a closure) so tests can drive a replay directly."""
    _recover_state_pointer(base, state_dir)
    ledger = f"{state_dir}/_applied_batch_id"
    if os.path.exists(ledger):
        with open(ledger) as fh:
            if batch_id <= int(fh.read().strip()):
                return
    latest = _upsert_reduce_latest(bdf.withColumn("n", F.lit(1).cast("bigint")))
    if os.path.exists(state_dir):
        latest = _upsert_reduce_latest(spark.read.parquet(state_dir).unionByName(latest))
    tmp = f"{base}/state_v{batch_id}"
    latest.coalesce(1).write.mode("overwrite").parquet(tmp)
    with open(f"{tmp}/_applied_batch_id", "w") as fh:
        fh.write(str(batch_id))
    _publish_state(base, state_dir, tmp)


def _recover_state_pointer(base: str, state_dir: str) -> None:
    """Crash recovery for the ONE non-atomic instant the publish path has:
    migrating a legacy plain state dir parks it with os.rename before the
    symlink install (_publish_state), and POSIX cannot atomically replace
    a real directory with a symlink -- a crash exactly between the two
    leaves state_dir missing while base holds complete version dirs (the
    ledger is written last, so a ledger file marks completeness). Called
    at the top of every merge: when state_dir is gone, re-point it at the
    version with the highest applied batch id. The parked ``.legacy`` dir
    competes with its own (older) ledger, so the newest complete state
    always wins and the replayed batch is correctly skipped; torn version
    writes (no ledger) are ignored. No-op when state_dir exists (the
    normal case) or base has no ledgered dirs (fresh start). Once the
    recovered pointer is installed, losing parked ``.legacy`` dirs (ledger
    below the winner's) are retired here. This is best-effort, not the
    only defense: a crash after the pointer install but before this
    retirement loop leaves the loser on disk with state_dir present, so
    every later call no-ops past it -- _publish_state therefore sweeps
    stale ``.legacy`` dirs on every publish as well, and any survivor here
    is gone by the next merged batch."""
    if os.path.lexists(state_dir) or not os.path.isdir(base):
        return
    best, best_id = None, -1
    ledgered: list[tuple[str, int]] = []
    for d in os.listdir(base):
        led = os.path.join(base, d, "_applied_batch_id")
        if os.path.isfile(led):
            try:
                with open(led) as fh:
                    bid = int(fh.read().strip())
            except ValueError:
                continue
            ledgered.append((d, bid))
            if bid > best_id:
                best, best_id = d, bid
    if best is None:
        return
    link_tmp = os.path.join(base, best + ".rlnk")
    if os.path.lexists(link_tmp):
        os.remove(link_tmp)
    os.symlink(best, link_tmp)
    os.replace(link_tmp, state_dir)
    for d, bid in ledgered:
        if d != best and d.endswith(".legacy") and bid < best_id:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)


def _publish_state(base: str, state_dir: str, new_dir: str) -> None:
    """Atomically publish `new_dir` (a complete state version WITH its
    ledger) as `state_dir`. state_dir is a SYMLINK replaced via
    os.replace -- atomic on POSIX -- so a crash at any instant leaves it
    on either the old complete version or the new one: never missing,
    never partial. The previous swap (rmtree(state_dir) then rename) had
    a window where ALL accumulated state and the batch-id ledger were
    gone; a crash there made the checkpoint replay rebuild state from the
    single replayed batch, silently undercounting every additive column.
    The superseded version directory is retired only AFTER the pointer
    moves. Retirement is finished off by a stale-``.legacy`` sweep at the
    end of every publish: a crash between the pointer install and the
    retire step would otherwise leak the parked dir permanently (the
    recovery path only runs while state_dir is missing), so each publish
    also removes any ``.legacy`` version whose ledger is below the one
    just published -- the leak window now closes at the next batch instead
    of never."""
    prev = os.readlink(state_dir) if os.path.islink(state_dir) else None
    if prev is None and os.path.isdir(state_dir):
        # Migrate a pre-symlink plain state directory (the old
        # rmtree+rename layout, or a caller that skipped _run_base's
        # reset): os.replace over a real directory raises EISDIR, so
        # park it as a version dir first -- ledger and all -- and let the
        # normal retire path below remove it once the pointer has moved.
        # POSIX cannot make dir->symlink atomic, so a crash between this
        # rename and the os.replace below leaves state_dir missing; the
        # merge paths heal that on their next entry via
        # _recover_state_pointer (newest ledgered version dir wins --
        # new_dir is already complete, so no state or count is lost).
        legacy = new_dir + ".legacy"
        if os.path.lexists(legacy):
            shutil.rmtree(legacy, ignore_errors=True)
        os.rename(state_dir, legacy)
        prev = os.path.basename(legacy)
    link_tmp = new_dir + ".lnk"
    if os.path.lexists(link_tmp):
        os.remove(link_tmp)
    os.symlink(os.path.basename(new_dir), link_tmp)
    os.replace(link_tmp, state_dir)
    if prev and prev != os.path.basename(new_dir):
        shutil.rmtree(os.path.join(base, prev), ignore_errors=True)
    cur = os.path.basename(new_dir)
    try:
        with open(os.path.join(base, cur, "_applied_batch_id")) as fh:
            cur_id = int(fh.read().strip())
    except (OSError, ValueError):
        return
    for d in os.listdir(base):
        if not d.endswith(".legacy"):
            continue
        try:
            with open(os.path.join(base, d, "_applied_batch_id")) as fh:
                bid = int(fh.read().strip())
        except (OSError, ValueError):
            bid = -1  # torn park with no ledger: strictly older than any published version
        if bid < cur_id:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)


def q175_stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` -- the sink API production jobs use to merge a
    stream into a table no native sink supports (JDBC upsert, Delta MERGE,
    key-value stores). The events log replays as 4 micro-batches
    (maxFilesPerTrigger=1 over a 4-file staging of the source); each batch
    runs a latest-wins SCD-1 merge into a parquet state table: per user,
    keep the row with max (ts, event_id) and accumulate the event count.
    The merge is max/sum algebra -- commutative and associative -- so the
    final state is independent of batch ORDER; replay safety is separate:
    the max payload is naturally idempotent but the count accumulation is
    additive, so a batch-id ledger committed atomically with each state
    version skips any replayed batch whose merge already landed -- the
    idempotent-write discipline foreachBatch demands for exactly-once
    (the sink itself offers none). The per-user reduce is max(struct(ts,
    event_id, ...)) -- no window, no sort, one hash aggregate per batch;
    (ts, event_id) is a total order so struct-max never compares the
    payload fields. n_events proves EVERY batch merged (a lost batch
    undercounts; a replayed one, by idempotence, cannot overcount).
    State/checkpoint live at deterministic per-sf paths, reset per
    invocation (q170's rule)."""
    base = _run_base("q175_upsert", sf_dir)
    src_dir, state_dir, ckpt_dir = f"{base}/src", f"{base}/state", f"{base}/ckpt"

    events = load(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id",
        "event_type", "value",
    )
    events.repartition(UPSERT_SRC_FILES, "user_id").write.parquet(src_dir)

    def merge_batch(bdf: DataFrame, batch_id: int) -> None:
        _upsert_merge_batch(spark, base, state_dir, bdf, batch_id)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src_dir)
    )
    writer = stream.writeStream.foreachBatch(merge_batch).option("checkpointLocation", ckpt_dir)
    _drain(spark, writer, "q175_upsert_query", STREAM_STATE_PARTITIONS)
    state = spark.read.parquet(state_dir)
    return state.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.date_format("ts", TS_FMT_SPARK).alias("last_ts"),
    )


# rank by epoch_us, not raw ts: on a NANOS-encoded drop the loader
# truncates to micros, so sub-microsecond order must not decide the argmax
# (the q88 rule)
ORACLE_Q175 = f"""
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_events
  FROM events
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       event_type AS last_event_type,
       value AS last_value,
       strftime(ts, '{TS_FMT_DUCK}') AS last_ts
FROM ranked WHERE rn = 1
"""



# --------------------------------------------------------------------------
# q212: streaming point-in-time enrichment against an SCD-2 dimension
# --------------------------------------------------------------------------

PIT_EPOCH_DAY0 = 19_720      # before the fixture's first event day
PIT_SPAN_DAYS = 10           # width of each dimension version
PIT_VERSIONS = 3             # last version is open-ended
_US_PER_DAY = 86_400_000_000


def q212_stream_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time enrichment: the event stream joins a
    slowly-changing (SCD-2) dimension on key AND validity interval --
    user_id equality plus valid_from <= ts < valid_to -- so each event
    picks the dimension version that was CURRENT when it happened, not
    the latest row (q70 is the static-attribute special case; q129 is
    the batch form). Stream-static joins permit the non-equi interval
    predicate because the static side re-reads per micro-batch and
    holds no join state; the 450-row dimension broadcasts.

    The dimension derives deterministically from customer: version v of
    key k is valid for the 10-day window starting at epoch day
    19720 + 10v (final version open-ended), carrying tier
    'T{(k+v) % 3}'. The intervals PARTITION the timeline, so every
    event matches exactly once and total row parity doubles as a
    completeness proof. Complete-mode drain over the replayed log makes
    the DuckDB oracle exact."""
    from ..tables import load as load_table

    name = "q212_pit_result"
    versions = F.explode(
        F.sequence(F.lit(0), F.lit(PIT_VERSIONS - 1))
    ).alias("v")
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), versions)
        .select(
            "user_id",
            F.concat(F.lit("T"), ((F.col("user_id") + F.col("v")) % 3).cast("string"))
            .alias("tier"),
            (F.lit(PIT_EPOCH_DAY0) * _US_PER_DAY
             + F.col("v") * (PIT_SPAN_DAYS * _US_PER_DAY)).alias("valid_from_us"),
            F.when(
                F.col("v") < PIT_VERSIONS - 1,
                F.lit(PIT_EPOCH_DAY0) * _US_PER_DAY
                + (F.col("v") + 1) * (PIT_SPAN_DAYS * _US_PER_DAY),
            ).otherwise(F.lit(2**62)).alias("valid_to_us"),
        )
    )
    stream = _events_stream(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    joined = stream.join(
        F.broadcast(dim),
        (stream.user_id == dim.user_id)
        & (F.col("tus") >= F.col("valid_from_us"))
        & (F.col("tus") < F.col("valid_to_us")),
    )
    agg = joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("cents").cast("decimal(30,0)")).cast("bigint").alias("sum_cents"),
    )
    _drain(spark, agg.writeStream.outputMode("complete").format("memory"), name)
    return spark.table(name)


ORACLE_Q212 = f"""
WITH dim AS (
  SELECT c_custkey AS user_id,
         'T' || CAST((c_custkey + u.v) % 3 AS VARCHAR) AS tier,
         CAST({PIT_EPOCH_DAY0} AS BIGINT) * {_US_PER_DAY}
           + u.v * CAST({PIT_SPAN_DAYS} AS BIGINT) * {_US_PER_DAY} AS valid_from_us,
         CASE WHEN u.v < {PIT_VERSIONS - 1}
              THEN CAST({PIT_EPOCH_DAY0} AS BIGINT) * {_US_PER_DAY}
                   + (u.v + 1) * CAST({PIT_SPAN_DAYS} AS BIGINT) * {_US_PER_DAY}
              ELSE {2**62} END AS valid_to_us
  FROM customer, UNNEST(generate_series(0, {PIT_VERSIONS - 1})) AS u(v)
)
SELECT tier,
       count(*) AS n_events,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events e
JOIN dim d ON e.user_id = d.user_id
          AND epoch_us(e.ts) >= d.valid_from_us
          AND epoch_us(e.ts) <  d.valid_to_us
GROUP BY tier
"""



# --------------------------------------------------------------------------
# q220: incremental-equals-batch equivalence audit (maxFilesPerTrigger)
# --------------------------------------------------------------------------

INCR_SHARDS = 4  # day-quartile files, replayed one micro-batch each

# Non-empty day-quartile count, derivable by BOTH engines: quartile k spans
# [lo + span*k//4, lo + span*(k+1)//4). A degenerate fixture (all events in
# one day, tiny drop) can leave a quartile empty -- the staging below skips
# those files (q180's guard), so the oracle must count non-empty quartiles
# from the data instead of hardcoding INCR_SHARDS.
_SHARD_CASE = (
    "CASE "
    + " ".join(
        f"WHEN day - lo < (span * {k}) // {INCR_SHARDS} THEN {k - 1}"
        for k in range(1, INCR_SHARDS)
    )
    + f" ELSE {INCR_SHARDS - 1} END"
)
_NB_SQL = f"""
WITH dd AS (SELECT epoch_us(ts) // 86400000000 AS day FROM events),
bb AS (SELECT min(day) AS lo, max(day) - min(day) + 1 AS span FROM dd)
SELECT count(DISTINCT {_SHARD_CASE}) FROM dd, bb
"""


def _stage_day_shards(spark: SparkSession, ev_with_day: DataFrame, dst_dir: str) -> list[str]:
    """Stage events as up to INCR_SHARDS day-range parquet files with
    strictly increasing pinned mtimes, SKIPPING empty quartiles: staging a
    0-row shard either breaks the part-file lookup or produces an empty
    micro-batch that silently shifts the n_batches evidence. Returns the
    staged paths (mtime order = replay order)."""
    lo, hi = ev_with_day.agg(F.min("day"), F.max("day")).first()
    span = hi - lo + 1
    staged: list[str] = []
    for k in range(INCR_SHARDS):
        d0 = lo + (span * k) // INCR_SHARDS
        d1 = lo + (span * (k + 1)) // INCR_SHARDS
        shard = (
            ev_with_day.filter((F.col("day") >= d0) & (F.col("day") < d1)).drop("day")
        )
        shard_tmp = f"{dst_dir}/_build{k}"
        shard.coalesce(1).write.parquet(shard_tmp)
        parts = [f for f in os.listdir(shard_tmp) if f.endswith(".parquet")]
        if parts and spark.read.parquet(f"{shard_tmp}/{parts[0]}").limit(1).count() > 0:
            dst = f"{dst_dir}/shard-{k}.parquet"
            shutil.move(f"{shard_tmp}/{parts[0]}", dst)
            _pin_mtime(dst, 1_000_000_000.0 + 10 * len(staged))
            staged.append(dst)
        shutil.rmtree(shard_tmp)
    if not staged:
        raise ValueError(f"no events to stage into {dst_dir}")
    return staged


def q220_incremental_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-processing contract, audited: events staged as
    day-quartile files (strictly increasing pinned mtimes, empty
    quartiles skipped), replayed with maxFilesPerTrigger=1 so the
    aggregation state builds across one micro-batch per staged file,
    must end in exactly the state one batch pass computes. n_batches
    (micro-batches that carried rows, from the query's progress log) is
    emitted AS DATA, and the oracle independently derives the non-empty
    quartile count from events (_NB_SQL), so it pins that the run truly
    was incremental -- a single-drain regression fails the compare even
    though its aggregates would match.

    Scale: this is the nightly-incremental pattern (state carries,
    arrivals stream in); complete-mode memory sink at test SF, a keyed
    state store + changelog sink in production."""
    base = _run_base("q220_incr", sf_dir)
    os.makedirs(base)

    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.expr("unix_micros(ts) DIV 86400000000")
    )
    staged = _stage_day_shards(spark, ev, base)

    schema = spark.read.parquet(staged[0]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(base)
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_cents"),
    )
    name = "q220_incr_result"
    q = _drain(spark, agg.writeStream.outputMode("complete").format("memory"), name)
    n_batches = sum(1 for p in q.recentProgress if p.numInputRows > 0)
    return spark.table(name).select(
        "event_type",
        "n_events",
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
        F.lit(n_batches).cast("bigint").alias("n_batches"),
    )


ORACLE_Q220 = f"""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(({_NB_SQL}) AS BIGINT) AS n_batches
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q238: streaming count-min sketch accumulation (mergeability, executed)
# --------------------------------------------------------------------------

def _cms_batch_cells(bdf: DataFrame) -> DataFrame:
    """One micro-batch's counter increments as a long-form (row, bucket,
    cell) table -- d*w rows at most, whatever the batch size."""
    from ..operators._hashing import MINHASH_SEEDS, minhash
    from ..operators.profiling import CMS_D, CMS_W

    key = "CAST(user_id AS STRING)"
    arr = F.array(*[minhash(key, *MINHASH_SEEDS[i]) % CMS_W for i in range(CMS_D)])
    return (
        bdf.select(F.posexplode(arr).alias("i", "b"))
        .groupBy("i", "b")
        .agg(F.count(F.lit(1)).alias("cell"))
    )


def _cms_merge_batch(
    spark: SparkSession, base: str, state_dir: str, bdf: DataFrame, batch_id: int
) -> None:
    """foreachBatch merge of counter increments into the parquet state --
    counters are ADDITIVE, so the q175 batch-id ledger (written inside the
    version dir the crash-atomic _publish_state swap points state_dir at)
    makes replays exactly-once."""
    _recover_state_pointer(base, state_dir)
    ledger = f"{state_dir}/_applied_batch_id"
    if os.path.exists(ledger):
        with open(ledger) as fh:
            if batch_id <= int(fh.read().strip()):
                return
    inc = _cms_batch_cells(bdf)
    if os.path.exists(state_dir):
        inc = (
            spark.read.parquet(state_dir)
            .unionByName(inc)
            .groupBy("i", "b")
            .agg(F.sum("cell").alias("cell"))
        )
    tmp = f"{base}/state_v{batch_id}"
    inc.coalesce(1).write.mode("overwrite").parquet(tmp)
    with open(f"{tmp}/_applied_batch_id", "w") as fh:
        fh.write(str(batch_id))
    _publish_state(base, state_dir, tmp)  # crash-atomic symlink swap


def q238_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q225's mergeability claim EXECUTED: the count-min sketch is built
    incrementally -- events replay as day-quartile micro-batches
    (pinned mtimes, maxFilesPerTrigger=1, empty quartiles skipped; the
    oracle derives the non-empty count via _NB_SQL) and each batch's
    d*w counter increments merge additively into a parquet state table
    under a batch-id ledger (exactly-once under foreachBatch replay).
    Because counter addition commutes, the streamed sketch must equal the
    batch-built sketch CELL FOR CELL, so the final estimates match
    q225's construction exactly and the oracle is the full batch
    construction plus the _NB_SQL non-empty-quartile count pinning that
    the run was truly incremental (one micro-batch per staged shard).

    Scale: this is the production shape for stream-scale heavy
    hitters -- per-batch increments are at most d*w rows regardless of
    batch size, state is d*w counters forever, and the exact
    per-key pass exists only for the audit."""
    from ..operators._hashing import MINHASH_SEEDS, minhash
    from ..operators.profiling import CMS_D, CMS_TOPK, CMS_W

    base = _run_base("q238_cms", sf_dir)
    src = f"{base}/src"
    os.makedirs(src)

    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.expr("unix_micros(ts) DIV 86400000000")
    )
    staged = _stage_day_shards(spark, ev, src)

    state_dir = f"{base}/state"
    schema = spark.read.parquet(staged[0]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    writer = stream.writeStream.foreachBatch(
        lambda bdf, bid: _cms_merge_batch(spark, base, state_dir, bdf, bid)
    ).option("checkpointLocation", f"{base}/ckpt")
    q = _drain(spark, writer, "q238_stream_cms")
    n_batches = sum(1 for p in q.recentProgress if p.numInputRows > 0)

    cells = spark.read.parquet(state_dir)
    counts = (
        spark.read.parquet(src)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    key = "CAST(user_id AS STRING)"
    out = counts.select(
        "user_id", "n_exact",
        *[(minhash(key, *MINHASH_SEEDS[i]) % CMS_W).alias(f"b{i}")
          for i in range(CMS_D)],
    )
    for i in range(CMS_D):
        ci = cells.filter(F.col("i") == i).select(
            F.col("b").alias(f"b{i}"), F.col("cell").alias(f"cell{i}")
        )
        out = out.join(F.broadcast(ci), f"b{i}")
    est = F.least(*[F.col(f"cell{i}") for i in range(CMS_D)])
    return (
        out.withColumn("n_est", est)
        .select(
            "user_id", "n_exact", "n_est",
            F.expr("CAST((n_est - n_exact) * 1000000 DIV n_exact AS BIGINT)")
            .alias("over_ppm"),
            F.lit(n_batches).cast("bigint").alias("n_batches"),
        )
        .orderBy(F.desc("n_exact"), "user_id")
        .limit(CMS_TOPK)
    )


def _oracle_q238() -> str:
    from ..operators.profiling import ORACLE_Q225

    return (
        f"SELECT *, CAST(({_NB_SQL}) AS BIGINT) AS n_batches"
        f" FROM ({ORACLE_Q225})"
    )


QUERIES = {
    "q60_tumbling_window": q60_tumbling_window,
    "q61_sliding_window": q61_sliding_window,
    "q62_session_window": q62_session_window,
    "q63_stream_tumbling": q63_stream_tumbling,
    "q64_stream_dedup": q64_stream_dedup,
    "q70_stream_static_join": q70_stream_static_join,
    "q212_stream_pit_enrich": q212_stream_pit_enrich,
    "q220_incremental_equivalence": q220_incremental_equivalence,
    "q238_stream_cms": q238_stream_cms,
    "q98_stream_sessionize": q98_stream_sessionize,
    "q107_stream_interval_join": q107_stream_interval_join,
    "q131_stream_dedup_gate": q131_stream_dedup_gate,
    "q140_stream_outer_join": q140_stream_outer_join,
    "q170_stream_file_sink": q170_stream_file_sink,
    "q175_stream_upsert_sink": q175_stream_upsert_sink,
    "q178_state_store_reader": q178_state_store_reader,
    "q180_stream_update_mode": q180_stream_update_mode,
    "q182_stream_session_window": q182_stream_session_window,
}

ORACLES = {
    "q60_tumbling_window": ORACLE_Q60,
    "q61_sliding_window": ORACLE_Q61,
    "q62_session_window": ORACLE_Q62,
    "q63_stream_tumbling": ORACLE_Q63,
    "q64_stream_dedup": ORACLE_Q64,
    "q70_stream_static_join": ORACLE_Q70,
    "q212_stream_pit_enrich": ORACLE_Q212,
    "q220_incremental_equivalence": ORACLE_Q220,
    "q238_stream_cms": _oracle_q238(),
    "q98_stream_sessionize": ORACLE_Q88,
    "q107_stream_interval_join": ORACLE_Q107,
    "q131_stream_dedup_gate": _oracle_q131(),
    "q140_stream_outer_join": ORACLE_Q140,
    "q170_stream_file_sink": ORACLE_Q170,
    "q175_stream_upsert_sink": ORACLE_Q175,
    "q178_state_store_reader": ORACLE_Q178,
    "q180_stream_update_mode": ORACLE_Q180,
    "q182_stream_session_window": ORACLE_Q182,
}
