"""Structured Streaming surface.

The reference is batch-only; its one nod to incremental ingest is an
append-mode comment (gerenciando-dados-externos/0a:28). The engine
upgrades the landing zone to an OPTIONAL streaming source: the same
transforms run on `readStream` because DataFrame code is
execution-mode agnostic. Everything here is stock Structured Streaming —
file source, watermarks, tumbling/sliding/session windows, dedup and
interval joins — and every finite stream is drained through one
bounded runner, ``drain``.
"""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

DRAIN_TIMEOUT_S = 300


def drain(writer: DataStreamWriter) -> StreamingQuery:
    """Run a configured stream over everything its source holds now and
    return the terminated query (its ``lastProgress`` stays readable).

    The query starts with the ``availableNow`` trigger on a fresh
    checkpoint dir, so it never resumes offsets from an earlier run. A
    query still running after ``DRAIN_TIMEOUT_S`` is stopped and raises
    ``TimeoutError`` — its sink would be partial. A failing query
    raises its ``StreamingQueryException``. Either way the query is
    stopped and the checkpoint removed before this returns."""
    ck = tempfile.mkdtemp(prefix="drain_ck_")
    query = None
    try:
        query = (
            writer.option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        if not query.awaitTermination(DRAIN_TIMEOUT_S):
            raise TimeoutError(
                f"stream {query.name or query.id} did not drain within "
                f"{DRAIN_TIMEOUT_S} s"
            )
        return query
    finally:
        if query is not None:
            query.stop()
        shutil.rmtree(ck, ignore_errors=True)


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """Streaming landing-zone reader: picks up new files per micro-batch.
    ``maxFilesPerTrigger`` bounds batch size so one giant backfill drop
    doesn't produce an unbounded first batch."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_len: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window count+sum per key. Late rows beyond
    the watermark are dropped and their state evicted — bounded state is
    what makes this run forever at scale."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_len).alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def sliding_avg(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_len: str = "2 minutes",
    slide: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window_len, slide).alias("win"),
            F.col(key_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.avg("value").alias("avg_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    id_cols: list[str],
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact deduplication on ``id_cols``.

    With ``ts_col``+``watermark``, uses dropDuplicatesWithinWatermark:
    state for a key is EVICTED once the watermark passes it, so the
    operator runs forever on an unbounded stream (duplicates are only
    suppressed within the watermark horizon — the at-least-once-source
    contract). Without a watermark, state grows with distinct keys —
    only for bounded backfills."""
    if ts_col is not None and watermark is not None:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            id_cols
        )
    return events.dropDuplicates(id_cols)


@contextmanager
def state_partitions(spark: SparkSession, n: int):
    """Scope ``spark.sql.shuffle.partitions`` around a streaming query
    start — for a stateful stream this sets the number of STATE STORE
    shards, which is then frozen into the checkpoint for the query's
    lifetime.

    Stateful operators pay per-shard overhead every micro-batch (store
    open/commit/snapshot; a stream-stream join keeps FOUR stores per
    shard), so the shard count must track the stream's volume, not the
    session's batch-shuffle default: a low-volume stream at the 32-way
    batch default spends more time committing empty stores than
    joining (measured 7.4 s → 2.3 s on the q92 interval join at 8
    shards), while a 100 TB/day stream sizes shards so per-shard state
    fits executor memory. Restores the session default afterward so
    batch queries are unaffected.
    """
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextmanager
def rocksdb_state(spark: SparkSession, bounded_memory_mb: int | None = None):
    """Scope the RocksDB state-store provider around a streaming query
    start — the LARGE-STATE path. The default HDFS-backed provider
    keeps every state key on the JVM heap, so state is capped by
    executor memory; RocksDB keeps the working set in native memory +
    local SSD with incremental checkpointing, which is how a 100 TB/day
    streaming dedup or sessionization holds billions of keys per
    executor without OOM. ``bounded_memory_mb`` additionally caps the
    TOTAL native block-cache+memtable footprint across all shards on an
    executor (off-heap memory is invisible to Spark's own memory
    manager, so unbounded RocksDB on a packed host gets the executor
    killed by the OS, not by Spark).

    Like ``state_partitions``, the provider is frozen into the
    checkpoint at first start; restores session conf afterward.
    """
    keys = {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
    }
    if bounded_memory_mb is not None:
        keys["spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage"] = "true"
        keys["spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB"] = str(
            bounded_memory_mb
        )
    # save/restore EVERY conf we touch — unsetting a key the session had
    # configured (e.g. its own RocksDB memory cap) would leave later
    # queries running unbounded, the exact failure this scope prevents
    old = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, prior in old.items():
            if prior is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prior)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback: str = "60 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join bounded by an event-time interval: right
    rows within ``[left_ts - lookback, left_ts]`` for equal ``keys``
    — the funnel/attribution primitive (e.g. clicks preceding an
    error).

    Both inputs get watermarks and the join carries an explicit
    event-time range condition; together they let the engine EVICT
    buffered rows once they can no longer match (state is bounded by
    watermark + lookback, so the join runs forever on unbounded
    streams — an unconstrained stream-stream join would buffer both
    sides entirely). Output mode must be append (stream-stream join
    contract). Also works on batch frames (same plan, minus state).

    ``how='left_outer'`` additionally emits each unmatched left row
    once with nulls on the right side — but only after the watermark
    passes the point where a match could still arrive, so on a finite
    availableNow run the LAST window's outer rows stay buffered
    unless a later event advances the watermark past them (feed a
    sentinel row beyond max event time to flush; q290 demonstrates).
    Spark supports outer stream-stream joins ONLY with a watermark +
    event-time bound exactly like this one.
    """
    l = left.select(
        *[F.col(k).alias(f"l_{k}") for k in keys],
        F.col(left_ts).alias("l_ts"),
        *[F.col(c) for c in left.columns if c not in keys and c != left_ts],
    )
    r = right.select(
        *[F.col(k).alias(f"r_{k}") for k in keys],
        F.col(right_ts).alias("r_ts"),
        *[F.col(c) for c in right.columns if c not in keys and c != right_ts],
    )
    if left.isStreaming:
        l = l.withWatermark("l_ts", watermark)
    if right.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"l_{k}") == F.col(f"r_{k}"))
    cond = (
        cond
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("r_ts") <= F.col("l_ts"))
    )
    return l.join(r, cond, how)


def quality_gated_foreach_batch(
    suite,
    publish_fn,
    quarantine_dir: str,
    staging_dir: str,
    reports: list | None = None,
):
    """foreachBatch body with the batch publish gate's quality
    discipline (``quality.py`` / ``versioned.publish`` composition) —
    closes the hole where a streaming MV maintenance sink published
    every micro-batch unconditionally while the batch path refused
    uncertified data.

    Stage → observe → promote, so the gate costs ZERO extra passes
    over the batch (the suite's aggregates ride the staging write via
    ``observe_suite``; a ``validate`` call would re-scan every batch):

    1. the micro-batch writes ONCE to ``staging_dir/batch_id=N`` with
       the observation attached;
    2. the report's suite-level ``certified`` verdict decides:
       certified → ``publish_fn(staged_df, batch_id)`` runs on the
       RE-READ staged parquet (publish consumes materialized data, no
       recompute of the batch plan); degraded → the staged files MOVE
       to ``quarantine_dir/batch_id=N`` (a metadata rename, the rows
       are preserved for triage) with ``_report.json`` beside them,
       and publish_fn never runs for that batch.

    ``reports`` (optional list) collects ``(batch_id, report)`` per
    batch. Gate keys on ``certified`` — same contract as the batch
    gate. Exactly-once note: promotion state lives in publish_fn's own
    idempotence (e.g. versioned publish / state overwrite keyed by
    batch_id), matching foreachBatch's at-least-once replay contract —
    a replayed batch re-stages and re-verdicts deterministically.
    """
    import json as _json
    import os

    from ingestao_dados_poli_spark.quality import observe_suite

    def body(batch_df: DataFrame, batch_id: int) -> None:
        observed, finish = observe_suite(batch_df, suite)
        staged = os.path.join(staging_dir, f"batch_id={batch_id}")
        observed.write.mode("overwrite").parquet(staged)
        report = finish()
        if reports is not None:
            reports.append((batch_id, report))
        if report.get("certified"):
            publish_fn(
                batch_df.sparkSession.read.parquet(staged), batch_id
            )
            shutil.rmtree(staged, ignore_errors=True)
        else:
            dst = os.path.join(quarantine_dir, f"batch_id={batch_id}")
            os.makedirs(quarantine_dir, exist_ok=True)
            shutil.rmtree(dst, ignore_errors=True)  # replayed batch
            shutil.move(staged, dst)
            with open(
                os.path.join(dst, "_report.json"), "w", encoding="utf-8"
            ) as fh:
                _json.dump(report, fh, ensure_ascii=False, indent=2)

    return body


def session_window_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming sessionization via the BUILT-IN merging session_window:
    dynamic-gap windows merge as events arrive, the watermark closes a
    session once event time passes its end + gap, and closed sessions'
    state is evicted — bounded state on an unbounded stream. In append
    mode only closed sessions are emitted. ``ts_col``/``key_col`` pick
    the event time and grouping key; ``value`` is summed. Works
    identically on batch DataFrames (q104) and streams (q152): the
    batch/stream parity Structured Streaming promises."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sw"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            key_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
