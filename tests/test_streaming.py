"""True Structured Streaming semantics tests (SURVEY.md §7 step 7):
deterministic late-data handling driven by explicit micro-batches (one
parquet file per batch into a watched directory), and the custom stateful
operator.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("value", T.DoubleType()),
])


def _write_batch(spark, directory, batch_no, rows):
    pdf = pd.DataFrame(rows, columns=["ts", "user_id", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    df = spark.createDataFrame(pdf, schema=EVENT_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(f"{directory}/batch{batch_no}")


def _start_watch(spark, directory, name, agg_builder, output_mode):
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(directory)
    )
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    return (
        agg_builder(stream)
        .writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )


@pytest.mark.filterwarnings("ignore")
def test_watermark_drops_late_data(spark, tmp_path):
    """Append mode + 5-min watermark on 5-min tumbling windows: a row older
    than the watermark must NOT update its (already finalized) window."""
    d = str(tmp_path / "stream_src")

    def agg(stream):
        return (
            stream.withWatermark("ts", "5 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.date_format("w.start", "HH:mm").alias("win"), "n")
        )

    _write_batch(spark, d, 1, [
        ("2024-01-01 10:00:10", 1, 1.0),
        ("2024-01-01 10:07:00", 1, 1.0),
        ("2024-01-01 10:21:00", 1, 1.0),
    ])
    q = _start_watch(spark, d, "late_test", agg, "append")
    try:
        q.processAllAvailable()  # wm -> 10:16 after this batch
        _write_batch(spark, d, 2, [
            ("2024-01-01 10:01:00", 2, 1.0),   # LATE: window 10:00 < wm
            ("2024-01-01 10:40:00", 1, 1.0),
        ])
        q.processAllAvailable()  # emits windows ending <= 10:16; wm -> 10:35
        _write_batch(spark, d, 3, [("2024-01-01 11:00:00", 1, 1.0)])
        q.processAllAvailable()  # flushes the 10:20 window
        out = {r["win"]: r["n"] for r in spark.table("late_test").collect()}
        # 10:00 window emitted with ONLY the on-time row; late row dropped
        assert out["10:00"] == 1
        assert out["10:05"] == 1
        assert out["10:20"] == 1
        # the late row must not have produced a second 10:00 emission
        wins = [r["win"] for r in spark.table("late_test").collect()]
        assert wins.count("10:00") == 1
    finally:
        q.stop()


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState accumulates across micro-batches."""
    from hive_ddl_extract_tool_spark.streaming.stateful import running_user_totals

    d = str(tmp_path / "state_src")
    _write_batch(spark, d, 1, [
        ("2024-01-01 10:00:00", 1, 2.0),
        ("2024-01-01 10:01:00", 1, 3.0),
        ("2024-01-01 10:02:00", 2, 5.0),
    ])
    q = _start_watch(spark, d, "state_test", running_user_totals, "update")
    try:
        q.processAllAvailable()
        _write_batch(spark, d, 2, [
            ("2024-01-01 10:10:00", 1, 10.0),
        ])
        q.processAllAvailable()
        rows = spark.table("state_test").collect()
        # last emission per user carries the running totals
        latest = {}
        for r in rows:
            latest[r["user_id"]] = (r["n_events"], r["total_value"])
        assert latest[1] == (3, 15.0)   # 2 events b1 + 1 event b2
        assert latest[2] == (1, 5.0)
    finally:
        q.stop()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the streaming exact-dedup operator --
    duplicates arriving within the watermark horizon are dropped."""
    d = str(tmp_path / "dedup_src")
    _write_batch(spark, d, 1, [
        ("2024-01-01 10:00:00", 1, 1.0),
        ("2024-01-01 10:00:00", 1, 1.0),   # in-batch duplicate
        ("2024-01-01 10:02:00", 2, 5.0),
    ])

    def dedup(stream):
        return stream.withWatermark("ts", "10 minutes") \
            .dropDuplicatesWithinWatermark(["user_id", "value"])

    q = _start_watch(spark, d, "dedup_test", dedup, "append")
    try:
        q.processAllAvailable()
        _write_batch(spark, d, 2, [
            ("2024-01-01 10:03:00", 1, 1.0),   # cross-batch duplicate (within watermark)
            ("2024-01-01 10:04:00", 3, 7.0),
        ])
        q.processAllAvailable()
        rows = spark.table("dedup_test").collect()
        keys = sorted((r["user_id"], r["value"]) for r in rows)
        assert keys == [(1, 1.0), (2, 5.0), (3, 7.0)]
    finally:
        q.stop()


@pytest.mark.filterwarnings("ignore")
def test_foreachbatch_late_data_emission_schedule(spark, tmp_path):
    """foreachBatch sink + deterministic out-of-order feed: each micro-batch
    hands its finalized windows to driver code, so the test pins not just
    WHAT is emitted but WHEN -- window 10:00 must be finalized by the batch
    that advances the watermark past it, with only its on-time rows, and a
    later-arriving row for it must never cause a second emission."""
    d = str(tmp_path / "fb_src")
    emitted: list[tuple[int, list]] = []

    def sink(batch_df, epoch_id):
        rows = sorted((r["win"], r["n"]) for r in batch_df.collect())
        if rows:
            emitted.append(rows)

    _write_batch(spark, d, 1, [
        ("2024-01-01 10:00:10", 1, 1.0),
        ("2024-01-01 10:02:00", 2, 1.0),
        ("2024-01-01 10:21:00", 1, 1.0),   # max ts -> watermark 10:16
    ])
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    agg = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "HH:mm").alias("win"), "n")
    )
    q = agg.writeStream.foreachBatch(sink).outputMode("append").start()
    try:
        q.processAllAvailable()   # batch 1 ingested; nothing final yet
        _write_batch(spark, d, 2, [
            ("2024-01-01 10:01:30", 3, 1.0),   # LATE: 10:00 window < watermark
            ("2024-01-01 10:40:00", 1, 1.0),   # advances watermark to 10:35
        ])
        q.processAllAvailable()   # finalizes windows ending <= 10:16
        _write_batch(spark, d, 3, [("2024-01-01 11:00:00", 1, 1.0)])
        q.processAllAvailable()   # finalizes the 10:20 window
    finally:
        q.stop()

    # emission schedule: 10:00 finalized after batch 2 (on-time rows only --
    # the late user-3 row dropped), 10:20 after batch 3
    assert emitted[0] == [("10:00", 2)]
    assert emitted[1] == [("10:20", 1)]
    all_wins = [w for batch in emitted for w, _ in batch]
    assert all_wins.count("10:00") == 1


@pytest.mark.filterwarnings("ignore")
def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream interval join: each view matches clicks of the same
    user within the following 10 minutes. Both sides are watermarked so the
    engine can bound the join state (the property that makes this runnable
    forever); the interval condition rides on the event-time columns."""
    vd = str(tmp_path / "views_src")
    cd = str(tmp_path / "clicks_src")
    _write_batch(spark, vd, 1, [
        ("2024-01-01 10:00:00", 1, 1.0),
        ("2024-01-01 10:30:00", 2, 1.0),
    ])
    _write_batch(spark, cd, 1, [
        ("2024-01-01 10:05:00", 1, 2.0),   # within 10 min of user-1 view
        ("2024-01-01 10:20:00", 1, 3.0),   # too late for the 10:00 view
        ("2024-01-01 10:31:00", 2, 4.0),   # within 10 min of user-2 view
    ])

    def src(d, prefix):
        s = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(d)
        )
        return s.withWatermark("ts", "10 minutes").select(
            F.col("ts").alias(f"{prefix}_ts"),
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("value").alias(f"{prefix}_val"),
        )

    joined = src(vd, "v").join(
        src(cd, "c"),
        F.expr("v_user = c_user AND c_ts >= v_ts AND c_ts <= v_ts + interval 10 minutes"),
    ).select("v_user", "v_ts", "c_ts", "c_val")

    name = "ssj_test"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        rows = sorted(
            (r["v_user"], r["c_ts"].strftime("%H:%M"), r["c_val"])
            for r in spark.table(name).collect()
        )
        assert rows == [(1, "10:05", 2.0), (2, "10:31", 4.0)]
    finally:
        q.stop()


def test_checkpoint_restart_no_reprocessing(spark, tmp_path):
    """With a checkpointLocation, a restarted query resumes from the last
    committed offsets: already-processed files are not recounted (the
    foundation of exactly-once file pipelines)."""
    src = str(tmp_path / "ckpt_src")
    ckpt = str(tmp_path / "ckpt_dir")
    out = str(tmp_path / "ckpt_out")
    _write_batch(spark, src, 1, [
        ("2024-01-01 10:00:00", 1, 1.0),
        ("2024-01-01 10:01:00", 2, 2.0),
    ])

    def start():
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.parquet(out).count() == 2

    # restart with the same checkpoint; add one new file
    _write_batch(spark, src, 2, [("2024-01-01 10:05:00", 3, 3.0)])
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    # 2 original rows + 1 new; NOT 4+ (no reprocessing of batch 1)
    assert spark.read.parquet(out).count() == 3


def test_drain_wait_is_bounded(spark, tmp_path, monkeypatch):
    """windows._drain never waits past DRAIN_TIMEOUT_S: a drain that
    outlives it raises TimeoutError instead of handing back a partly
    drained table, the query is stopped, and the shuffle-partition pin is
    restored."""
    from hive_ddl_extract_tool_spark.streaming import windows

    d = str(tmp_path / "drain_src")
    _write_batch(spark, d, 1, [("2024-01-01 10:00:00", 1, 1.0)])
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(windows, "DRAIN_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError):
        windows._drain(spark, stream.writeStream.format("memory"), "drain_bound_test", partitions=3)
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_rocksdb_state_store_provider(spark, tmp_path):
    """The state backend a 100 TB deployment actually runs: RocksDB spills
    streaming-aggregation state to local disk instead of holding every key
    on the JVM heap (the default HDFSBackedStateStore keeps the full map in
    executor memory -- the thing that OOMs first at scale). Same windowed
    aggregation, same results; only the provider changes, and the progress
    metrics must show RocksDB actually engaged."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    name = "rocksdb_agg"
    try:
        q = _start_watch(
            spark,
            str(tmp_path),
            name,
            lambda s: s.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes"), "user_id")
            .agg(F.sum("value").alias("total")),
            "complete",
        )
        _write_batch(
            spark,
            tmp_path,
            0,
            [
                ("2024-01-01 10:01:00", 1, 5.0),
                ("2024-01-01 10:02:00", 1, 7.0),
                ("2024-01-01 10:06:00", 2, 1.0),
            ],
        )
        q.processAllAvailable()
        rows = {
            (r["user_id"], r["window"].start.minute): r["total"]
            for r in spark.table(name).collect()
        }
        assert rows == {(1, 0): 12.0, (2, 5): 1.0}
        progress = q.lastProgress
        metrics = [op.get("customMetrics", {}) for op in progress["stateOperators"]]
        # RocksDB-specific metrics prove the provider was engaged
        assert any(
            any(k.startswith("rocksdb") for k in m) for m in metrics
        ), progress["stateOperators"]
    finally:
        for qq in spark.streams.active:
            if qq.name == name:
                qq.stop()
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_transform_with_state_running_totals(spark, sf_dir):
    """Spark 4's transformWithStateInPandas (typed ValueState handles;
    successor to applyInPandasWithState): per-user running totals over the
    replayed events log must equal the batch groupBy. The operator's Python
    worker speaks protobuf to the JVM state server; skip when the
    environment cannot import google.protobuf (this container ships no
    protobuf distribution at all -- ModuleNotFoundError on ``import
    google``, no wheel/conda pkg on disk, installs out of scope; verified
    2026-08-14, Python 3.11.7 / PySpark 4.1.2 -- the wiring itself is
    complete)."""
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        pytest.skip(f"transformWithState worker cannot start: {e!r}")

    from pyspark.sql import functions as F

    from hive_ddl_extract_tool_spark.streaming.stateful import running_user_totals_tws
    from hive_ddl_extract_tool_spark.streaming.windows import _events_stream
    from hive_ddl_extract_tool_spark.tables import load

    stream = _events_stream(spark, sf_dir).select(
        "user_id", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    name = "tws_totals_test"
    try:
        q = (
            running_user_totals_tws(stream)
            .writeStream.outputMode("update").format("memory").queryName(name).start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r["user_id"]: (r["n_events"], r["sum_cents"]) for r in spark.table(name).collect()}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    want = {
        r["user_id"]: (r["n"], r["c"])
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("c"))
        .collect()
    }
    assert got == want


def test_upsert_sink_ran_multiple_batches_and_counts_every_event(spark, sf_dir):
    """q175's exactly-once claim is only meaningful if the merge really ran
    across SEVERAL micro-batches: the checkpoint must show one committed
    batch per staged source file, and the accumulated per-user counts must
    sum to the full event count (a lost batch undercounts; a double-applied
    one would overcount -- idempotence is what keeps it exact)."""
    import os

    from pyspark.sql import functions as F

    from hive_ddl_extract_tool_spark.operators._cache import scratch_dir
    from hive_ddl_extract_tool_spark.streaming.windows import (
        UPSERT_SRC_FILES,
        q175_stream_upsert_sink,
    )
    from hive_ddl_extract_tool_spark.tables import load

    out = q175_stream_upsert_sink(spark, sf_dir)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == load(spark, sf_dir, "events").count()

    ckpt = os.path.join(scratch_dir("q175_upsert", sf_dir), "ckpt", "commits")
    commits = [f for f in os.listdir(ckpt) if f.isdigit()]
    assert len(commits) >= UPSERT_SRC_FILES, commits


def test_upsert_merge_replays_are_noops(spark, tmp_path):
    """q175's crash-replay discipline, driven directly: foreachBatch can
    re-deliver a batch with the SAME batch_id after a crash between the
    state publish and the checkpoint commit. The payload max is naturally
    idempotent but the count accumulation is additive, so the batch-id
    ledger must turn the replay into a no-op -- and still apply a genuinely
    NEW batch afterwards."""
    import datetime

    from pyspark.sql import functions as F

    from hive_ddl_extract_tool_spark.streaming.windows import _upsert_merge_batch

    base = str(tmp_path / "merge")
    state_dir = f"{base}/state"
    (tmp_path / "merge").mkdir()
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    b0 = spark.createDataFrame(
        [(1, t0, 7, "view", 1.0), (2, t0 + datetime.timedelta(minutes=1), 7, "click", 2.0)],
        schema,
    )
    _upsert_merge_batch(spark, base, state_dir, b0, 0)
    first = spark.read.parquet(state_dir).collect()
    assert len(first) == 1 and first[0]["n"] == 2 and first[0]["event_id"] == 2

    # crash-replay of batch 0: same batch_id, must not double-count
    _upsert_merge_batch(spark, base, state_dir, b0, 0)
    replayed = spark.read.parquet(state_dir).collect()
    assert len(replayed) == 1 and replayed[0]["n"] == 2

    # a genuinely new batch still applies
    b1 = spark.createDataFrame(
        [(3, t0 + datetime.timedelta(minutes=2), 7, "view", 3.0)], schema
    )
    _upsert_merge_batch(spark, base, state_dir, b1, 1)
    after = spark.read.parquet(state_dir).collect()
    assert len(after) == 1 and after[0]["n"] == 3 and after[0]["event_id"] == 3

    # the publish is a crash-atomic symlink swap: state_dir must always
    # resolve to a COMPLETE version (the old rmtree+rename swap had a
    # window where ALL state + ledger were gone), and superseded version
    # dirs must be retired
    import os

    assert os.path.islink(state_dir)
    assert os.readlink(state_dir) == "state_v1"
    assert not os.path.exists(f"{base}/state_v0"), "superseded version leaked"

    # crash window simulation: a complete-but-unpublished version dir
    # (crash after the state write, before the pointer move) must not
    # break the replay -- the ledger still reads batch 1 through the
    # pointer, batch 1 replays as a no-op, and batch 2 overwrites the
    # orphan and publishes on top of the LAST COMMITTED state
    b2 = spark.createDataFrame(
        [(4, t0 + datetime.timedelta(minutes=3), 7, "click", 4.0)], schema
    )
    orphan = f"{base}/state_v2"
    os.makedirs(orphan, exist_ok=True)  # torn write stand-in
    _upsert_merge_batch(spark, base, state_dir, b1, 1)  # replay: no-op
    assert spark.read.parquet(state_dir).collect()[0]["n"] == 3
    _upsert_merge_batch(spark, base, state_dir, b2, 2)
    final = spark.read.parquet(state_dir).collect()
    assert len(final) == 1 and final[0]["n"] == 4 and final[0]["event_id"] == 4
    assert os.readlink(state_dir) == "state_v2"


def test_upsert_merge_migrates_legacy_plain_state_dir(spark, tmp_path):
    """_publish_state must migrate a PLAIN state directory (the
    pre-symlink rmtree+rename layout, or any caller that skipped
    _run_base's reset) instead of raising EISDIR on os.replace: the old
    dir -- ledger included -- is parked as a version dir, the symlink is
    installed, and the legacy dir is retired after the pointer moves.
    The ledger inside the plain dir must still gate replays BEFORE the
    migration (batch ids at or below it are no-ops)."""
    import datetime
    import os
    import shutil

    from hive_ddl_extract_tool_spark.streaming.windows import _upsert_merge_batch

    base = str(tmp_path / "legacy")
    state_dir = f"{base}/state"
    (tmp_path / "legacy").mkdir()
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    b0 = spark.createDataFrame([(1, t0, 7, "view", 1.0)], schema)
    _upsert_merge_batch(spark, base, state_dir, b0, 0)

    # devolve to the legacy layout: a real directory at state_dir
    target = os.path.join(base, os.readlink(state_dir))
    os.remove(state_dir)
    shutil.copytree(target, state_dir)
    shutil.rmtree(target)
    assert os.path.isdir(state_dir) and not os.path.islink(state_dir)

    # the plain dir's ledger still gates a replay of batch 0
    _upsert_merge_batch(spark, base, state_dir, b0, 0)
    assert spark.read.parquet(state_dir).collect()[0]["n"] == 1

    # a new batch migrates the plain dir: symlink installed, legacy
    # retired, state correct (n accumulated across the migration)
    b1 = spark.createDataFrame(
        [(2, t0 + datetime.timedelta(minutes=1), 7, "click", 2.0)], schema
    )
    _upsert_merge_batch(spark, base, state_dir, b1, 1)
    assert os.path.islink(state_dir)
    assert os.readlink(state_dir) == "state_v1"
    row = spark.read.parquet(state_dir).collect()[0]
    assert row["n"] == 2 and row["event_id"] == 2
    assert not os.path.exists(f"{base}/state_v1.legacy"), "legacy dir leaked"

    # migration crash window: POSIX cannot swap dir->symlink atomically,
    # so simulate a crash BETWEEN the legacy rename and the symlink
    # install -- state_dir missing, the parked legacy (old state, ledger 1)
    # and the complete new version (ledger 2) both on disk. The next merge
    # entry must recover the pointer onto the NEWEST ledgered version and
    # then skip the replayed batch -- no undercount, no double count.
    b2 = spark.createDataFrame(
        [(3, t0 + datetime.timedelta(minutes=2), 7, "view", 3.0)], schema
    )
    _upsert_merge_batch(spark, base, state_dir, b2, 2)
    assert os.readlink(state_dir) == "state_v2"
    os.remove(state_dir)                                  # pointer lost
    shutil.copytree(f"{base}/state_v2", f"{base}/state_v1.legacy")
    with open(f"{base}/state_v1.legacy/_applied_batch_id", "w") as fh:
        fh.write("1")                                     # parked OLD state
    _upsert_merge_batch(spark, base, state_dir, b2, 2)    # crash replay
    assert os.path.islink(state_dir)
    assert os.readlink(state_dir) == "state_v2", "recovery must pick the newest ledger"
    row = spark.read.parquet(state_dir).collect()[0]
    assert row["n"] == 3 and row["event_id"] == 3
    # the losing parked legacy (ledger 1 < winner's 2) must be retired by
    # the recovery itself: the normal publish path only retires the dir
    # the symlink names, so without this the stale full state copy -- live
    # ledger included -- would persist on disk indefinitely
    assert not os.path.exists(f"{base}/state_v1.legacy"), "losing legacy dir leaked"


def test_publish_sweeps_legacy_leaked_past_recovery_window(spark, tmp_path):
    """Recovery retires losing ``.legacy`` dirs only while state_dir is
    MISSING; a crash after the recovered pointer lands but before that
    retirement loop leaves the loser on disk with state_dir present, where
    every later call used to no-op past it forever. _publish_state now
    sweeps stale ``.legacy`` versions (ledger below the one just
    published) on every publish, so the leak closes at the next merged
    batch instead of never."""
    import datetime
    import os
    import shutil

    from hive_ddl_extract_tool_spark.streaming.windows import _upsert_merge_batch

    base = str(tmp_path / "swept")
    state_dir = f"{base}/state"
    (tmp_path / "swept").mkdir()
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    b0 = spark.createDataFrame([(1, t0, 7, "view", 1.0)], schema)
    _upsert_merge_batch(spark, base, state_dir, b0, 0)

    # crash-after-pointer-install residue: a losing parked legacy (old
    # ledger) AND a torn park (no ledger at all), both with state_dir
    # present and healthy -- the recovery path will never run again
    shutil.copytree(f"{base}/state_v0", f"{base}/state_vX.legacy")
    with open(f"{base}/state_vX.legacy/_applied_batch_id", "w") as fh:
        fh.write("-1")
    shutil.copytree(f"{base}/state_v0", f"{base}/state_vY.legacy")
    os.remove(f"{base}/state_vY.legacy/_applied_batch_id")

    b1 = spark.createDataFrame(
        [(2, t0 + datetime.timedelta(minutes=1), 7, "click", 2.0)], schema
    )
    _upsert_merge_batch(spark, base, state_dir, b1, 1)
    assert not os.path.exists(f"{base}/state_vX.legacy"), "stale ledgered legacy leaked"
    assert not os.path.exists(f"{base}/state_vY.legacy"), "torn unledgered legacy leaked"
    row = spark.read.parquet(state_dir).collect()[0]
    assert row["n"] == 2 and row["event_id"] == 2


def test_pit_enrich_intervals_partition_timeline(spark, sf_dir):
    """q212's dimension intervals partition time, so EVERY event must be
    enriched exactly once: the per-tier counts sum to the full event
    count -- a dropped (gap) or doubled (overlap) interval breaks this."""
    from hive_ddl_extract_tool_spark.operators import all_queries
    from hive_ddl_extract_tool_spark.tables import load

    out = all_queries()["q212_stream_pit_enrich"](spark, sf_dir).collect()
    assert sum(r["n_events"] for r in out) == load(spark, sf_dir, "events").count()
    assert len(out) == 3, out


def test_cms_merge_replays_are_noops(spark, tmp_path):
    """q238's crash-replay discipline: CMS counter merges are ADDITIVE, so
    a foreachBatch re-delivery with the same batch_id must be a no-op (the
    batch-id ledger), while a genuinely new batch still accumulates."""
    from pyspark.sql import functions as F

    from hive_ddl_extract_tool_spark.streaming.windows import _cms_merge_batch

    base = str(tmp_path / "cms")
    state_dir = f"{base}/state"
    (tmp_path / "cms").mkdir()
    b0 = spark.createDataFrame([(7,), (7,), (9,)], "user_id long")
    _cms_merge_batch(spark, base, state_dir, b0, 0)
    total0 = spark.read.parquet(state_dir).agg(F.sum("cell")).first()[0]

    # crash-replay of batch 0: same batch_id, counters must not double
    _cms_merge_batch(spark, base, state_dir, b0, 0)
    assert spark.read.parquet(state_dir).agg(F.sum("cell")).first()[0] == total0

    # a new batch accumulates: 1 more row -> d more cell increments
    b1 = spark.createDataFrame([(9,)], "user_id long")
    _cms_merge_batch(spark, base, state_dir, b1, 1)
    total1 = spark.read.parquet(state_dir).agg(F.sum("cell")).first()[0]
    from hive_ddl_extract_tool_spark.operators.profiling import CMS_D
    assert total1 == total0 + CMS_D


def test_day_shard_staging_skips_empty_quartiles(spark, tmp_path):
    """q220/q238's degenerate-fixture guard: a corpus whose events all land
    on ONE day leaves three of the four day-quartiles empty. Staging must
    skip them (no 0-row files, no empty micro-batches), and the oracle-side
    non-empty-quartile expression (_NB_SQL's CASE) must agree with the
    number of files actually staged."""
    import duckdb

    from hive_ddl_extract_tool_spark.streaming.windows import (
        _NB_SQL,
        _stage_day_shards,
    )

    base = str(tmp_path / "oneday")
    (tmp_path / "oneday").mkdir()
    ev = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100)], "event_id long, day long"
    )
    staged = _stage_day_shards(spark, ev, base)
    assert len(staged) == 1
    # every staged file is non-empty
    for p in staged:
        assert spark.read.parquet(p).count() > 0

    # the oracle-side count matches: single-day span -> 1 non-empty quartile
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT make_timestamp(100 * 86400000000) AS ts"
        " FROM range(3)"
    )
    assert con.execute(_NB_SQL).fetchone()[0] == 1

    # a 4-day span fills all four quartiles
    con2 = duckdb.connect()
    con2.execute(
        "CREATE VIEW events AS SELECT make_timestamp((100 + r.range) * 86400000000)"
        " AS ts FROM range(4) r"
    )
    assert con2.execute(_NB_SQL).fetchone()[0] == 4


def test_stream_sources_read_directory_layout_tables(spark, sf_dir, tmp_path):
    """The driver fixture ships each table as a single parquet FILE, but
    any Spark-written dataset is a DIRECTORY of part files. The file-source
    streams must read both layouts identically -- the old
    pathGlobFilter-on-sf_dir pattern matched only the file layout and
    silently streamed ZERO rows from a directory (caught by
    tools/scale.py smoke: q131 returned 0 on the inflated corpus with no
    error)."""
    import os

    from hive_ddl_extract_tool_spark.streaming.windows import (
        q60_tumbling_window,
        q131_stream_dedup_gate,
    )

    dir_sf = str(tmp_path / "dir_layout")
    os.makedirs(dir_sf)
    for t in ("documents", "events"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.parquet(
            f"{dir_sf}/{t}.parquet"
        )
    assert os.path.isdir(f"{dir_sf}/documents.parquet")

    got = sorted(map(tuple, q131_stream_dedup_gate(spark, dir_sf).collect()))
    want = sorted(map(tuple, q131_stream_dedup_gate(spark, sf_dir).collect()))
    assert got == want

    got = sorted(map(tuple, q60_tumbling_window(spark, dir_sf).collect()))
    want = sorted(map(tuple, q60_tumbling_window(spark, sf_dir).collect()))
    assert len(got) > 0 and got == want


def test_is_directory_resolves_schemes(spark, tmp_path):
    """_table_stream's layout probe must classify correctly on every store,
    not just local disk: os.path.isdir returns False for any remote URI,
    which would silently re-select the zero-row glob branch (ADVICE r7).
    Local paths, file:-scheme URIs, and Hadoop-resolved URIs must all agree;
    an unresolvable path must raise, never default to a silent branch."""
    from hive_ddl_extract_tool_spark.streaming.windows import _is_directory

    d = tmp_path / "tbl.parquet"
    d.mkdir()
    f = tmp_path / "flat.parquet"
    f.write_bytes(b"")

    assert _is_directory(spark, str(d)) is True
    assert _is_directory(spark, str(f)) is False
    assert _is_directory(spark, f"file:{d}") is True
    assert _is_directory(spark, f"file:{f}") is False
    # file: URIs WITH an authority component (file://localhost/x parses to
    # netloc='localhost', path='/x'): a naive 'file:' prefix strip leaves
    # '//localhost/x', which isdir rejects for a real directory -- the
    # silent zero-row branch again, this time for a valid URI form
    assert _is_directory(spark, f"file://localhost{d}") is True
    assert _is_directory(spark, f"file://{d}") is True  # empty authority
    assert _is_directory(spark, f"file://localhost{f}") is False
    # a MISSING local table must raise, never classify as "not a directory"
    # (which would fall into the glob branch and stream zero rows)
    import pytest as _pt2

    with _pt2.raises(FileNotFoundError):
        _is_directory(spark, str(tmp_path / "missing.parquet"))
    with _pt2.raises(FileNotFoundError):
        _is_directory(spark, f"file://localhost{tmp_path}/missing.parquet")
    # a scheme os.path cannot see goes through Hadoop's FileSystem; the
    # local FS is Hadoop-addressable as file://, so this exercises the
    # JVM branch end to end without needing a cluster store
    jvm_probe = lambda p: bool(
        spark._jvm.org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark._jsc.hadoopConfiguration())
        .getFileStatus(spark._jvm.org.apache.hadoop.fs.Path(p))
        .isDirectory()
    )
    assert jvm_probe(f"file://{d}") is True
    assert jvm_probe(f"file://{f}") is False
    import pytest as _pt

    with _pt.raises(Exception):
        jvm_probe(f"file://{tmp_path}/missing.parquet")
