"""Structured Streaming tests: file-source micro-batches through the
windowed/stateful operators, drained by ``stream_ops.drain`` so every
stream terminates within a bound or fails loudly."""

from __future__ import annotations

import os
import tempfile
import time

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)

from ingestao_dados_poli_spark.streaming import stream_ops as S

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events_src"))
    rows = [
        (1, "2024-01-01 00:00:10", 1, "click", 1.0),
        (2, "2024-01-01 00:00:40", 1, "click", 2.0),
        (3, "2024-01-01 00:02:10", 1, "view", 3.0),
        (4, "2024-01-01 00:00:20", 2, "click", 4.0),
        # session gap > 30 min for user 1:
        (5, "2024-01-01 01:00:00", 1, "click", 5.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts_s", "user_id", "event_type", "value"])
    df.select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type", "value"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    return path


def _drain_to_memory(sdf, name, mode="append"):
    S.drain(sdf.writeStream.format("memory").queryName(name).outputMode(mode))
    return sdf.sparkSession.sql(f"SELECT * FROM {name}").collect()


def test_tumbling_counts(spark, event_dir):
    src = S.read_file_stream(spark, event_dir, EVENT_SCHEMA)
    assert src.isStreaming
    agg = S.tumbling_counts(src, window_len="1 minute", watermark="2 hours")
    out = {
        (str(r.window_start), r.event_type): r.n_events
        for r in _drain_to_memory(agg, "tumbling", "complete")
    }
    assert out[("2024-01-01 00:00:00", "click")] == 3
    assert out[("2024-01-01 00:02:00", "view")] == 1
    assert out[("2024-01-01 01:00:00", "click")] == 1


def test_session_window_counts_closed_sessions(spark, event_dir):
    src = S.read_file_stream(spark, event_dir, EVENT_SCHEMA)
    sess = S.session_window_counts(src, gap="30 minutes")
    rows = _drain_to_memory(sess, "sessions")
    # append mode emits only sessions the watermark (max ts 01:00 minus
    # 10 min) has closed; user 1's 01:00 session is still open
    assert sorted((r.user_id, r.n_events, r.sum_value) for r in rows) == [
        (1, 3, 6.0),
        (2, 1, 4.0),
    ]
    first = min((r for r in rows if r.user_id == 1), key=lambda r: r.session_start)
    assert str(first.session_start) == "2024-01-01 00:00:10"
    assert str(first.session_end) == "2024-01-01 00:32:10"


def test_session_window_counts_custom_column_names(spark, event_dir):
    # non-default ts/key column names must flow through to the window
    # and the grouping (regression guard: they were once hardcoded).
    src = S.read_file_stream(spark, event_dir, EVENT_SCHEMA).select(
        F.col("ts").alias("event_time"),
        F.col("user_id").alias("uid"),
        "value",
    )
    sess = S.session_window_counts(
        src, gap="30 minutes", ts_col="event_time", key_col="uid"
    )
    rows = _drain_to_memory(sess, "sessions_renamed")
    closed = [r for r in rows if r.uid == 1]
    assert len(closed) == 1
    assert closed[0].n_events == 3
    assert closed[0].sum_value == 6.0


def test_sliding_avg(spark, event_dir):
    src = S.read_file_stream(spark, event_dir, EVENT_SCHEMA)
    agg = S.sliding_avg(
        src, window_len="2 minutes", slide="1 minute", watermark="2 hours"
    )
    out = {
        (str(r.window_start), r.event_type): r.avg_value
        for r in _drain_to_memory(agg, "sliding", "complete")
    }
    # events at 00:00:10 (1.0), 00:00:40 (2.0), 00:00:20 (4.0) fall in the
    # 00:00-00:02 window AND the 23:59-00:01 window (2-min windows, 1-min slide)
    assert out[("2024-01-01 00:00:00", "click")] == pytest.approx(7.0 / 3)
    assert out[("2023-12-31 23:59:00", "click")] == pytest.approx(7.0 / 3)


def test_dedup_stream_drops_duplicate_ids(spark, event_dir):
    # duplicated delivery: the same source unioned with itself
    src = S.read_file_stream(spark, event_dir, EVENT_SCHEMA).unionByName(
        S.read_file_stream(spark, event_dir, EVENT_SCHEMA)
    )
    deduped = S.dedup_stream(src, ["event_id"])
    rows = _drain_to_memory(deduped, "dedup_plain")
    assert sorted(r.event_id for r in rows) == [1, 2, 3, 4, 5]


def test_dedup_stream_within_watermark(spark, event_dir):
    # watermarked variant: same dedup result on this bounded input, but
    # the operator is dropDuplicatesWithinWatermark — state is evictable,
    # so it runs forever on unbounded streams.
    src = S.read_file_stream(spark, event_dir, EVENT_SCHEMA).unionByName(
        S.read_file_stream(spark, event_dir, EVENT_SCHEMA)
    )
    deduped = S.dedup_stream(src, ["event_id"], ts_col="ts", watermark="2 hours")
    rows = _drain_to_memory(deduped, "dedup_wm")
    assert sorted(r.event_id for r in rows) == [1, 2, 3, 4, 5]


def test_interval_join_streams(spark, event_dir):
    # clicks within 2 minutes BEFORE each view, same user. From the
    # fixture: view id=3 (user 1, 00:02:10) should match click id=2
    # (00:00:40, 90s before) but not id=1 (00:00:10, 120s+ before the
    # lookback edge is inclusive at exactly 2min: 00:02:10-2min=00:00:10,
    # so id=1 IS on the boundary and matches too).
    views = S.read_file_stream(spark, event_dir, EVENT_SCHEMA).filter(
        F.col("event_type") == "view"
    ).select("user_id", "ts", F.col("event_id").alias("view_id"))
    clicks = S.read_file_stream(spark, event_dir, EVENT_SCHEMA).filter(
        F.col("event_type") == "click"
    ).select("user_id", "ts", F.col("event_id").alias("click_id"))
    joined = S.interval_join_streams(
        views, clicks, keys=["user_id"], lookback="2 minutes",
        watermark="10 minutes",
    )
    rows = _drain_to_memory(joined, "ivj")
    assert sorted((r.view_id, r.click_id) for r in rows) == [(3, 1), (3, 2)]


def test_interval_join_batch_parity(spark, event_dir):
    # same operator on batch frames produces the identical pair set —
    # DataFrame code is execution-mode agnostic.
    ev = spark.read.parquet(event_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    joined = S.interval_join_streams(views, clicks, keys=["user_id"], lookback="2 minutes")
    rows = joined.select("view_id", "click_id").collect()
    assert sorted((r.view_id, r.click_id) for r in rows) == [(3, 1), (3, 2)]


def test_rocksdb_state_store(spark, event_dir):
    """The RocksDB provider (the state-bigger-than-heap path) must
    actually engage: same watermarked aggregate as the HDFS-backed
    default, identical results, and the query progress must report
    rocksdb custom metrics — proof the native store held the state."""
    with S.rocksdb_state(spark, bounded_memory_mb=256):
        src = S.read_file_stream(spark, event_dir, EVENT_SCHEMA)
        agg = S.tumbling_counts(src, window_len="1 minute", watermark="2 hours")
        q = S.drain(
            agg.writeStream.format("memory").queryName("rocks")
            .outputMode("complete")
        )
        progress = q.lastProgress
    out = {
        (str(r.window_start), r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM rocks").collect()
    }
    assert out[("2024-01-01 00:00:00", "click")] == 3
    assert out[("2024-01-01 00:02:00", "view")] == 1
    assert out[("2024-01-01 01:00:00", "click")] == 1
    ops = progress["stateOperators"]
    assert ops, progress
    custom = ops[0].get("customMetrics", {})
    assert any(k.startswith("rocksdb") for k in custom), custom


def test_quality_gated_foreach_batch_quarantines_degraded(spark, tmp_path):
    """The streaming publish gate: a micro-batch that fails the suite
    (NULL event_type against a not_null rule) must land in quarantine
    with its report — NOT in the published state — while certified
    batches publish normally. Mirrors the batch versioned.publish
    gate's `certified` contract."""
    import json

    from ingestao_dados_poli_spark.quality import Rule, Suite
    from ingestao_dados_poli_spark.streaming.stream_ops import (
        quality_gated_foreach_batch,
    )

    shard_dir = str(tmp_path / "shards")
    # 3 single-file shards = 3 micro-batches; shard 1 is degraded
    good1 = spark.createDataFrame([(1, "click", 1.0), (2, "view", 2.0)],
                                  "event_id: bigint, event_type: string, value: double")
    bad = spark.createDataFrame([(3, None, 4.0)],
                                "event_id: bigint, event_type: string, value: double")
    good2 = spark.createDataFrame([(4, "click", 8.0)],
                                  "event_id: bigint, event_type: string, value: double")
    for i, df in enumerate([good1, bad, good2]):
        df.coalesce(1).write.mode("overwrite").parquet(f"{shard_dir}/s={i}")

    published: list = []
    reports: list = []
    body = quality_gated_foreach_batch(
        Suite("gate", [Rule("not_null", "event_type")]),
        lambda df, bid: published.append(
            sorted((r.event_id, r.event_type) for r in df.collect())
        ),
        quarantine_dir=str(tmp_path / "quarantine"),
        staging_dir=str(tmp_path / "staging"),
        reports=reports,
    )
    src = (
        spark.readStream.schema(good1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{shard_dir}/s=*")
    )
    S.drain(src.writeStream.foreachBatch(body))

    flat = sorted(x for batch in published for x in batch)
    assert flat == [(1, "click"), (2, "view"), (4, "click")]  # bad row never published
    assert len(reports) == 3
    assert sum(1 for _, r in reports if not r["certified"]) == 1
    qdirs = os.listdir(str(tmp_path / "quarantine"))
    assert len(qdirs) == 1
    qpath = os.path.join(str(tmp_path / "quarantine"), qdirs[0])
    rows = spark.read.parquet(qpath).collect()
    assert [r.event_id for r in rows] == [3]
    with open(os.path.join(qpath, "_report.json")) as fh:
        rep = json.load(fh)
    assert rep["certified"] is False
    # staging fully drained: promoted batches cleaned up
    left = [
        d for d in os.listdir(str(tmp_path / "staging"))
        if not d.startswith(("_", "."))
    ] if os.path.isdir(str(tmp_path / "staging")) else []
    assert left == []


def test_interval_join_left_outer_batch_semantics(spark):
    """how='left_outer' on batch frames: matched left rows repeat per
    match, unmatched emit exactly once null-padded — the same
    multiplicity contract the streaming run (q290) relies on."""
    import datetime as dt

    from ingestao_dados_poli_spark.streaming import stream_ops as SO

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(mins):
        return t0 + dt.timedelta(minutes=mins)

    left = spark.createDataFrame(
        [(1, ts(60)), (1, ts(200)), (2, ts(60))],
        "user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, ts(50)), (1, ts(55)), (2, ts(300))],
        "user_id long, ts timestamp",
    )
    out = SO.interval_join_streams(
        left,
        right,
        ["user_id"],
        lookback="30 minutes",
        watermark="10 minutes",
        how="left_outer",
    ).collect()
    got = sorted(
        (r.l_user_id, r.l_ts.minute + 60 * r.l_ts.hour,
         None if r.r_ts is None else r.r_ts.minute + 60 * r.r_ts.hour)
        for r in out
    )
    # user 1 @13:00 matches clicks @12:50 and @12:55; user 1 @15:20
    # has none in [14:50, 15:20]; user 2 @13:00 precedes its click
    assert got == [
        (1, 13 * 60, 12 * 60 + 50),
        (1, 13 * 60, 12 * 60 + 55),
        (1, 15 * 60 + 20, None),
        (2, 13 * 60, None),
    ]


def test_drain_times_out_and_stops(spark, event_dir, monkeypatch):
    # a stream still running past the bound must raise, not hand back a
    # partial sink, and must not be left running
    monkeypatch.setattr(S, "DRAIN_TIMEOUT_S", 1)
    src = S.read_file_stream(spark, event_dir, EVENT_SCHEMA)
    with pytest.raises(TimeoutError):
        S.drain(src.writeStream.foreachBatch(lambda df, bid: time.sleep(3)))
    assert spark.streams.active == []


def test_drain_propagates_batch_failure(spark, event_dir):
    def fail(df, bid):
        raise ValueError("batch body failed")

    src = S.read_file_stream(spark, event_dir, EVENT_SCHEMA)
    with pytest.raises(StreamingQueryException):
        S.drain(src.writeStream.foreachBatch(fail))
    assert spark.streams.active == []


def test_drain_leaves_no_query_or_checkpoint(spark, event_dir, tmp_path, monkeypatch):
    ck_root = tmp_path / "ck_root"
    ck_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(ck_root))
    seen: list = []

    def record(df, bid):
        seen.append((df.count(), os.listdir(ck_root)))

    src = S.read_file_stream(spark, event_dir, EVENT_SCHEMA)
    q = S.drain(src.writeStream.foreachBatch(record))
    # the checkpoint lived under the temp root while the batch ran
    assert [(n, len(dirs)) for n, dirs in seen] == [(5, 1)]
    assert not q.isActive
    assert spark.streams.active == []
    assert os.listdir(ck_root) == []
