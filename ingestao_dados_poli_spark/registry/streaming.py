"""Streaming registry: Structured Streaming twins of the batch
operators — windows, dedup, upsert, interval/as-of joins, MV
maintenance (all oracled against batch equivalents).

Split out of the former monolithic queries.py (round 5); registration
happens via the shared `q` decorator from `._base`, so importing this
module populates QUERIES/ORACLES. Every stream here runs through
`stream_ops.drain`; the helpers below hold the events source, the
memory sink, the 2-file shard stream and the MV fold the queries share.
"""

import uuid

from pyspark.sql.streaming import StreamingQuery

from ingestao_dados_poli_spark.operators import incremental as IC
from ingestao_dados_poli_spark.registry._base import *  # noqa: F401,F403
from ingestao_dados_poli_spark.registry._base import _scratch  # round-7: hoisted to _base
from ingestao_dados_poli_spark.streaming import stream_ops as SO


def _events_streams(
    spark: SparkSession, sf_dir: str, n: int = 1
) -> list[DataFrame]:
    """``n`` independent file streams over the events table, sharing one
    schema read. FileStreamSource wants a DIRECTORY, so each
    glob-filters ``sf_dir`` to the one table. Call inside
    ``events_compat``: a no-op on micro-precision data, it keeps the
    legacy reader flag for the whole stream run (micro-batches re-read
    the files) when the footer carries TIMESTAMP(NANOS)."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return [
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .transform(_events_ts)
        for _ in range(n)
    ]


def _drain_to_memory(df: DataFrame, mode: str) -> StreamingQuery:
    """Drain ``df`` over 2 state shards into a uniquely named memory
    sink; read it back with ``spark.table(query.name)``."""
    name = f"sink_{uuid.uuid4().hex[:8]}"
    with SO.state_partitions(df.sparkSession, 2):
        return SO.drain(
            df.writeStream.format("memory").queryName(name).outputMode(mode)
        )


def _shard_stream(df: DataFrame, work: str) -> DataFrame:
    """Write ``df`` as 2 files under ``work`` and stream them one file
    per trigger: 2 REAL micro-batches over a finite changelog."""
    path = f"{work}/shards"
    df.repartition(2).write.mode("overwrite").parquet(path)
    return SO.read_file_stream(
        df.sparkSession, path, df.schema, max_files_per_trigger=1
    )


def _mv_fold(work: str):
    """foreachBatch body of the streaming MV (q154, q190, q191): fold
    each batch's partial count/sum/min/max of ``value`` per
    ``event_type`` into versioned state parquet under ``work``
    (`operators/incremental.py`). Returns ``(fold, state)``;
    ``state[-1]`` is the latest state."""
    keys, measures = ["event_type"], ["value"]
    state: list[DataFrame] = []

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        delta = IC.partial_aggregate(batch_df, keys, measures)
        merged = (
            IC.merge_aggregates(state[-1], delta, keys, measures)
            if state
            else delta
        )
        out = f"{work}/state_v{batch_id}"
        merged.write.mode("overwrite").parquet(out)
        state.append(batch_df.sparkSession.read.parquet(out))

    return fold, state


# --------------------------------------------- 19. streaming end-to-end

@q(
    "q46_streaming_tumbling",
    """
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q46_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked tumbling-window plan run through the ACTUAL
    Structured Streaming engine (readStream → drain → memory sink),
    oracle-checked against plain batch SQL.

    Sound because the bounded single-file source forms one micro-batch,
    so the watermark never drops rows — the streaming result must equal
    the batch group-by. Demonstrates the engine's batch/stream parity:
    tumbling_counts() is the same code streaming/stream_ops.py ships for
    unbounded sources.
    """
    with events_compat(spark, sf_dir):
        [src] = _events_streams(spark, sf_dir)
        agg = SO.tumbling_counts(src, window_len="1 hour", watermark="10 minutes")
        sink = _drain_to_memory(agg, "complete")
        return spark.table(sink.name).select(
            F.col("window_start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            F.round("sum_value", 2).alias("sum_value"),
        )



@q(
    "q75_streaming_sliding",
    """
    WITH buck AS (
        SELECT TIMESTAMP '1970-01-01 00:00:00'
                   + to_seconds(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT))
                   AS b,
               event_type, value
        FROM events),
    ex AS (
        SELECT unnest([b, b - INTERVAL 30 MINUTE]) AS window_start,
               event_type, value
        FROM buck)
    SELECT CAST(window_start AS VARCHAR) AS window_start, event_type,
           count(*) AS n_events,
           CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
    FROM ex GROUP BY 1, 2
    """,
)
def q75_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1 h window / 30 min slide) aggregate through the
    REAL Structured Streaming engine (readStream → drain → memory
    sink), like q46 but overlapping windows: each event lands in
    exactly 2 windows. The oracle expands each row into its two window
    starts and re-aggregates — semantically identical to Spark's
    sliding window expansion. Compares count+sum, not avg: the data's
    values have 2-decimal resolution, so sums never sit on the 2-dp
    round boundary while averages (sum/count) routinely do — engine
    summation-order ulps flipped ~2.5% of rounded avgs."""
    with events_compat(spark, sf_dir):
        [src] = _events_streams(spark, sf_dir)
        agg = SO.sliding_avg(
            src, window_len="1 hour", slide="30 minutes", watermark="10 minutes"
        )
        sink = _drain_to_memory(agg, "complete")
        return spark.table(sink.name).select(
            F.col("window_start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            F.round("sum_value", 2).alias("sum_value"),
        )



# -------------- 32. streaming dedup / contamination / drift / semantic dedup

@q(
    "q78_streaming_dedup",
    """
    SELECT event_type, count(*) AS n_events,
           CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def q78_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup through the REAL engine: the event stream
    is unioned with itself (every event arrives twice — the
    at-least-once-delivery worst case), dropDuplicates(event_id) runs
    in the micro-batch engine, and the deduped append-mode sink must
    aggregate back to exactly the single-copy batch numbers. State
    eviction for unbounded streams (dropDuplicatesWithinWatermark) is
    exercised in test_streaming."""
    with events_compat(spark, sf_dir):
        first, second = _events_streams(spark, sf_dir, 2)
        deduped = SO.dedup_stream(first.unionByName(second), ["event_id"])
        sink = _drain_to_memory(deduped, "append")
        return (
            spark.table(sink.name)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
        )



# ------------------------------- 42. streaming: stream-static enrich

@q(
    "q89_streaming_enrich",
    """
    SELECT CAST(TIMESTAMP '1970-01-01 00:00:00'
                + to_seconds(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT))
                AS VARCHAR) AS window_start,
           c_mktsegment,
           count(*) AS n_events,
           CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)
def q89_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: readStream(events) ⋈ broadcast static
    customer dim → watermarked 6 h tumbling aggregate, through the
    REAL Structured Streaming engine (drained into a memory sink).
    The static side re-broadcasts per micro-batch (Spark's documented
    stream-static join model); at 100 TB/day the dim stays a
    broadcast, the stream never shuffles before the windowed agg.
    Oracle is the batch equivalent over the same tables."""
    with events_compat(spark, sf_dir):
        [src] = _events_streams(spark, sf_dir)
        dim = F.broadcast(
            _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        )
        agg = (
            src.withWatermark("ts", "10 minutes")
            .join(dim, F.col("user_id") == F.col("c_custkey"))
            .groupBy(F.window("ts", "6 hours"), "c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("sum_value"),
            )
        )
        sink = _drain_to_memory(agg, "complete")
        return spark.table(sink.name).select(
            F.col("window.start").cast("string").alias("window_start"),
            "c_mktsegment",
            "n_events",
            F.round("sum_value", 2).alias("sum_value"),
        )



# --------------------------- 44. streaming: foreachBatch incremental upsert

@q(
    "q91_streaming_upsert",
    """
    SELECT user_id, event_id,
           CAST(ts AS VARCHAR) AS last_ts,
           CAST(round(value, 2) AS DOUBLE) AS last_value
    FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def q91_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE: the changelog is re-sharded into 2 files and
    streamed with maxFilesPerTrigger=1, so foreachBatch runs 2 REAL
    micro-batches, each compacting its batch to latest-per-key and
    merging it into a versioned parquet snapshot (merge_upsert =
    union + latest-wins window; the table-format-free MERGE INTO).
    The final snapshot equals batch keep-latest over the whole
    changelog REGARDLESS of how rows were batched — the merge order
    key struct(ts, event_id) is a total order per user, so the fold is
    associative; that batching-invariance is exactly what the oracle
    hash-checks. At 100 TB the snapshot is a bucketed table on the
    merge key and each micro-batch pays one co-located window, not a
    rescan of history."""
    work = _scratch("q91_")
    src = _shard_stream(_t(spark, sf_dir, "events"), work)
    snap_versions: list[str] = []

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        compact = R.dedup_keep_first(
            batch_df,
            ["user_id"],
            [F.col("ts").desc(), F.col("event_id").desc()],
        ).withColumn("_ord", F.struct("ts", "event_id"))
        if snap_versions:
            base = batch_df.sparkSession.read.parquet(snap_versions[-1])
            merged = R.merge_upsert(base, compact, ["user_id"], "_ord")
        else:
            merged = compact
        out = f"{work}/snap_v{batch_id}"
        merged.write.mode("overwrite").parquet(out)
        snap_versions.append(out)

    with SO.state_partitions(spark, 2):
        SO.drain(src.writeStream.foreachBatch(upsert))
    assert len(snap_versions) >= 2, "expected multiple micro-batches"
    final = spark.read.parquet(snap_versions[-1])
    return final.select(
        "user_id",
        "event_id",
        F.col("ts").cast("string").alias("last_ts"),
        F.round("value", 2).alias("last_value"),
    )



# --------------------------- 45. streaming: stream-stream interval join

@q(
    "q92_streaming_interval_join",
    """
    SELECT a.event_id AS err_id,
           b.event_id AS click_id,
           a.user_id AS user_id,
           CAST(a.ts AS VARCHAR) AS err_ts,
           CAST(b.ts AS VARCHAR) AS click_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'error' AND b.event_type = 'click'
     AND b.ts BETWEEN a.ts - INTERVAL 60 MINUTE AND a.ts
    """,
)
def q92_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (funnel/attribution): clicks within
    the hour preceding an error by the same user, joined through the
    REAL streaming engine — two file streams, watermarks on both
    sides, event-time range condition, append sink. The watermark +
    60 min lookback bound the join state, so buffered rows are evicted
    as event time advances — the property that lets this run forever
    at 100 TB/day while an unconstrained stream-stream join would
    buffer both streams whole. Oracle is the identical batch join."""
    with events_compat(spark, sf_dir):
        err_src, click_src = _events_streams(spark, sf_dir, 2)
        errors = err_src.filter(F.col("event_type") == "error").select(
            "user_id", "ts", F.col("event_id").alias("err_id")
        )
        clicks = click_src.filter(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("event_id").alias("click_id")
        )
        joined = SO.interval_join_streams(
            errors, clicks, keys=["user_id"], lookback="60 minutes",
            watermark="30 minutes",
        )
        sink = _drain_to_memory(joined, "append")
        return spark.table(sink.name).select(
            "err_id",
            "click_id",
            F.col("l_user_id").alias("user_id"),
            F.col("l_ts").cast("string").alias("err_ts"),
            F.col("r_ts").cast("string").alias("click_ts"),
        )



# -------- 82. streaming under RocksDB state store (large-state path)

@q(
    "q129_streaming_rocksdb",
    """
    SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR)
               AS window_start,
           event_type,
           count(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def q129_streaming_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q46's streaming plan with the state held in ROCKSDB instead of
    the heap-backed default — the provider a 100 TB/day stream needs
    once state outgrows executor memory. Oracle-checked against plain
    batch SQL like every streaming twin, AND self-asserting: if the
    provider silently fell back to HDFS-backed (no rocksdb custom
    metrics in the query progress), the query raises — the gate goes
    red rather than green-by-accident on the wrong store."""
    # Scoped, unlike _t()'s session-wide set: a batch DataFrame from _t
    # executes after _t returns so its conf must outlive the call, but
    # this stream runs to completion inside the block — the flag can be
    # restored the moment the last micro-batch commits.
    with events_compat(spark, sf_dir):
        [src] = _events_streams(spark, sf_dir)
        agg = SO.tumbling_counts(src, window_len="1 day", watermark="10 minutes")
        with SO.rocksdb_state(spark, bounded_memory_mb=512):
            sink = _drain_to_memory(agg, "complete")
    ops = (sink.lastProgress or {}).get("stateOperators") or []
    custom = ops[0].get("customMetrics", {}) if ops else {}
    if not any(k.startswith("rocksdb") for k in custom):
        raise RuntimeError(
            f"RocksDB state store did not engage: {sorted(custom)[:5]}"
        )
    return spark.table(sink.name).select(
        F.col("window_start").cast("string").alias("window_start"),
        "event_type",
        "n_events",
    )



# ------------- 94. streaming native session windows (q104's stream twin)

@q(
    "q152_streaming_session_window",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT *, sum(new_session) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
    SELECT user_id,
           CAST(min(ts) AS VARCHAR) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS session_end,
           count(*) AS n_events,
           CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
    FROM numbered GROUP BY user_id, sid
    """,
)
def q152_streaming_session_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Built-in session_window run through the ACTUAL streaming engine
    (readStream → drain → memory sink) — the streaming twin of batch
    q104, completing the engine's sessionize matrix: lag+cumsum SQL
    (q20), batch session_window (q104), and MERGING session windows
    with watermark state eviction on a real stream. Bounded single-batch
    source + complete mode means the watermark drops nothing, so the
    streaming result must hash-equal the batch oracle — the
    batch/stream parity contract, again."""
    with events_compat(spark, sf_dir):
        [src] = _events_streams(spark, sf_dir)
        agg = SO.session_window_counts(
            src, gap="30 minutes", watermark="10 minutes"
        )
        sink = _drain_to_memory(agg, "complete")
        return spark.table(sink.name).select(
            "user_id",
            F.col("session_start").cast("string").alias("session_start"),
            F.col("session_end").cast("string").alias("session_end"),
            "n_events",
            F.round("sum_value", 2).alias("sum_value"),
        )



# ------------- 96. streaming materialized-view maintenance

@q(
    "q154_streaming_mv",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(value), 2) AS DOUBLE) AS total,
           CAST(round(min(value), 2) AS DOUBLE) AS value_min,
           CAST(round(max(value), 2) AS DOUBLE) AS value_max
    FROM events GROUP BY event_type
    """,
)
def q154_streaming_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregate-state maintenance: the changelog streams in
    2 real micro-batches (maxFilesPerTrigger=1) and foreachBatch folds
    each batch's PARTIAL aggregate into a running state table via
    `operators/incremental.py:merge_aggregates` — the aggregate twin
    of q91's row-level streaming MERGE. Per batch the work is
    O(|batch| + |state|); event history is NEVER re-aggregated, which
    is the only viable shape for a 100 TB running dashboard. The final
    state must equal the one-shot batch aggregate REGARDLESS of how
    rows were batched (count/sum/min/max are associative+commutative)
    — exactly what the oracle hash-checks."""
    work = _scratch("q154_")
    src = _shard_stream(_t(spark, sf_dir, "events"), work)
    fold, state = _mv_fold(work)
    with SO.state_partitions(spark, 2):
        SO.drain(src.writeStream.foreachBatch(fold))
    final = IC.finalize(state[-1], ["value"])
    return final.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("value_sum", 2).alias("total"),
        F.round("value_min", 2).alias("value_min"),
        F.round("value_max", 2).alias("value_max"),
    )



# ------------- 124. streaming as-of enrichment (event-time reference data)

@q(
    "q182_streaming_asof_enrich",
    """
    WITH ref AS (
        SELECT o_custkey AS user_id, o_orderdate AS eff_date, o_totalprice
        FROM orders
        WHERE o_custkey < 500 AND o_orderkey % 3 = 0),
    dedup_ref AS (
        SELECT user_id, eff_date, max(o_totalprice) AS ref_price
        FROM ref GROUP BY user_id, eff_date),
    enriched AS (
        SELECT e.user_id, e.value,
               (SELECT r.ref_price FROM dedup_ref r
                WHERE r.user_id = e.user_id
                  AND r.eff_date <= CAST(e.ts AS DATE)
                ORDER BY r.eff_date DESC LIMIT 1) AS asof_price
        FROM events e WHERE e.user_id < 500)
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(asof_price) AS BIGINT) AS n_enriched,
           CAST(round(sum(coalesce(asof_price, 0)), 2) AS DOUBLE)
               AS enriched_total
    FROM enriched
    """,
)
def q182_streaming_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time reference enrichment on a REAL stream: each
    micro-batch as-of joins its events against a slowly-changing
    reference table (latest version effective AT the event's time —
    not the current version, which back-dated events must not see).
    Correct under any batching because the as-of lookup is a pure
    per-row function of (key, ts, static reference) — foreachBatch
    applies `relational.asof_join` per batch and the union over 2 real
    micro-batches must equal the one-shot batch as-of, which is what
    the oracle (a correlated LIMIT 1 subquery — DuckDB's decorrelated
    formulation of the same lookup) certifies. The streaming shape a
    price/fx/config enrichment job runs forever."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 500)
    orders = _t(spark, sf_dir, "orders")
    ref = (
        orders.filter((F.col("o_custkey") < 500) & (F.col("o_orderkey") % 3 == 0))
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("eff_date"),
        )
        .agg(F.max("o_totalprice").alias("ref_price"))
    )
    work = _scratch("q182_")
    src = _shard_stream(ev, work)
    outs: list[str] = []

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.withColumn("ev_date", F.col("ts").cast("date"))
        joined = R.asof_join(
            b,
            ref,
            key="user_id",
            left_ts="ev_date",
            right_ts="eff_date",
            right_cols=["ref_price"],
            slim=True,
        )
        out = f"{work}/out_b{batch_id}"
        joined.select("user_id", "value", "asof_ref_price").write.mode(
            "overwrite"
        ).parquet(out)
        outs.append(out)

    with SO.state_partitions(spark, 2):
        SO.drain(src.writeStream.foreachBatch(enrich))
    res = spark.read.parquet(*outs)
    return res.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count("asof_ref_price").cast("long").alias("n_enriched"),
        F.round(F.sum(F.coalesce(F.col("asof_ref_price"), F.lit(0.0))), 2).alias(
            "enriched_total"
        ),
    )



def _write_degraded_shards(ev: DataFrame, shard_dir: str) -> None:
    """events sharded on event_id % 4 with shard 2's event_type nulled
    (the planted degraded batch), written in ONE scan as a partitioned
    parquet dir: repartition("s") puts each shard value in one task so
    every s=i dir holds exactly one file and maxFilesPerTrigger=1
    yields the 4-micro-batch topology q190 and q191 both stream —
    shared so the twins' shard topology can't silently diverge."""
    shard = F.pmod(F.col("event_id"), F.lit(4))
    (
        ev.withColumn("s", shard)
        .withColumn(
            "event_type",
            F.when(F.col("s") == 2, F.lit(None).cast("string")).otherwise(
                F.col("event_type")
            ),
        )
        # Explicit partition count (r07, same fix as q221): keyless-N
        # repartition(col) is AQE-optimizable and was coalesced to ONE
        # writer task emitting all 4 shard files serially. Pinned, the
        # shards write in parallel; each shard value still lives WHOLLY
        # in one task, so every s=i dir keeps exactly one file and the
        # 4-micro-batch topology is unchanged.
        .repartition(
            shuffle_partitions(ev.sparkSession),
            "s",
        )
        .write.mode("overwrite")
        .partitionBy("s")
        .parquet(shard_dir)
    )


def _drain_gated_mv(ev: DataFrame, work: str, suite):
    """Stream ``ev``'s degraded shards (4 micro-batches) through the
    quality-gated MV fold: each batch stages once under ``work`` and
    only a certified batch folds; a degraded one moves to
    ``work/quarantine``. Returns ``_mv_fold``'s ``(fold, state)``."""
    spark = ev.sparkSession
    _write_degraded_shards(ev, f"{work}/shards")
    fold, state = _mv_fold(work)
    body = SO.quality_gated_foreach_batch(
        suite,
        fold,
        quarantine_dir=f"{work}/quarantine",
        staging_dir=f"{work}/staging",
    )
    src = SO.read_file_stream(
        spark, f"{work}/shards/s=*", ev.schema, max_files_per_trigger=1
    )
    with SO.state_partitions(spark, 2):
        SO.drain(src.writeStream.foreachBatch(body))
    return fold, state


# ------------- 132. streaming MV maintenance behind the quality publish gate

@q(
    "q190_streaming_gated_mv",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(value), 2) AS DOUBLE) AS total
    FROM events
    WHERE event_id % 4 <> 2
    GROUP BY event_type
    """,
)
def q190_streaming_gated_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q154's aggregate-state maintenance with the batch publish gate's
    quality discipline wired into the stream
    (`streaming.quality_gated_foreach_batch`): each micro-batch stages
    once with the suite's aggregates riding the write (observe_suite —
    zero extra passes), and only a `certified` batch folds into the MV
    state; a degraded batch moves to quarantine with its report. The
    changelog is sharded on event_id % 4 and shard 2 is corrupted
    (event_type nulled), so exactly one micro-batch must quarantine and
    the final MV must equal the batch aggregate over the OTHER three
    shards — which is what the oracle computes. Self-asserting (q129
    pattern): the query itself fails if the quarantine row count
    doesn't equal shard 2's, so a silently-published degraded batch
    can't return plausible rows."""
    from ingestao_dados_poli_spark.quality import Rule, Suite

    work = _scratch("q190_")
    _fold, state = _drain_gated_mv(
        _t(spark, sf_dir, "events"),
        work,
        Suite("gated_mv", [Rule("not_null", "event_type")]),
    )
    # footer-metadata count of the written shard — no events re-scan
    n_bad = spark.read.parquet(f"{work}/shards/s=2").count()
    quarantined = spark.read.parquet(f"{work}/quarantine").count()
    if quarantined != n_bad:
        raise AssertionError(
            f"publish gate leaked: quarantined {quarantined} rows, "
            f"expected the whole degraded shard ({n_bad})"
        )
    final = IC.finalize(state[-1], ["value"])
    return final.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("value_sum", 2).alias("total"),
    )


# --------- 133. quarantine repair loop (gated MV → repair → re-admit)

@q(
    "q191_quarantine_repair",
    """
    SELECT CASE WHEN event_id % 4 = 2 THEN 'unknown' ELSE event_type END
             AS event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(value), 2) AS DOUBLE) AS total
    FROM events
    GROUP BY 1
    """,
)
def q191_quarantine_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other half of q190's publish gate: quarantine is a WORK
    QUEUE, not a graveyard. After the gated stream quarantines the
    degraded shard, the repair loop reads the quarantined rows back,
    applies a declared fix (null event_type → 'unknown'), RE-VALIDATES
    the repaired batch through the same suite, and only then folds it
    into the MV state — so the final MV covers the full changelog with
    the repair visible in the keys, which is exactly what the oracle
    computes (CASE WHEN on the corrupted shard). A repaired batch that
    still fails the suite raises instead of folding — repair can't
    become a bypass of the gate."""
    import os

    from ingestao_dados_poli_spark.quality import Rule, Suite, validate

    suite = Suite("gated_mv", [Rule("not_null", "event_type")])
    work = _scratch("q191_")
    fold, state = _drain_gated_mv(_t(spark, sf_dir, "events"), work, suite)

    # repair loop: quarantined rows -> declared fix -> RE-VALIDATE
    # through the same suite -> fold as one more (batch_id-disjoint)
    # delta. Validation failure raises: repair is not a gate bypass.
    quarantined = spark.read.parquet(f"{work}/quarantine").drop("batch_id")
    repaired = quarantined.withColumn(
        "event_type", F.coalesce(F.col("event_type"), F.lit("unknown"))
    )
    report = validate(repaired, suite)
    if not report["certified"]:
        raise AssertionError(f"repair did not certify: {report}")
    fold(repaired, 1000 + len(state))
    final = IC.finalize(state[-1], ["value"])
    if os.path.isdir(f"{work}/staging") and any(
        not d.startswith(("_", ".")) for d in os.listdir(f"{work}/staging")
    ):
        raise AssertionError("staging not drained after promotion")
    return final.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("value_sum", 2).alias("total"),
    )


# ---------- 142. streaming incremental JOIN-view maintenance (IVM)

@q(
    "q205_streaming_join_mv",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey <= 60000
    GROUP BY 1
    """,
)
def q205_streaming_join_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A JOIN view maintained INCREMENTALLY under real micro-batching:
    orders and lineitem rows are multiplexed into ONE tagged changelog
    (the CDC-bus reality: one topic, many tables), re-sharded into 2
    files and streamed with maxFilesPerTrigger=1. Each foreachBatch
    splits its slice into dA/dB, computes the IVM delta rows against
    the snapshots accumulated SO FAR (``relational.
    incremental_join_delta`` — q202's rule, now under arbitrary
    interleaving), folds their aggregate into an MV-delta log, then
    appends dA/dB to the snapshots. The final MV = one rollup of the
    delta log, and the oracle is the PLAIN FULL JOIN: the hash passes
    only if the rule is exact under EVERY batching the file source
    happens to produce (same-mtime files arrive in arbitrary order —
    the delta rule's order-invariance is precisely what's being
    proven). Per-batch cost is |delta| x fanout; the snapshots grow
    but are only ever probed by delta-sized joins."""
    # key-RANGE slice (not modulo): the harness — micro-batching,
    # snapshot growth, delta joins — is what's under test, not raw
    # volume, and a range predicate prunes parquet row groups at the
    # scan where a modulo filter forces a full read (unsliced this was
    # the bench's #1 offender at 17s for no extra proof)
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 60000)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 60000)
    chg = (
        orders.select(
            F.lit("A").alias("side"),
            F.col("o_orderkey"),
            F.col("o_orderpriority"),
            F.lit(None).cast("long").alias("cents"),
        )
        .unionByName(
            li.select(
                F.lit("B").alias("side"),
                F.col("l_orderkey").alias("o_orderkey"),
                F.lit(None).cast("string").alias("o_orderpriority"),
                F.round(F.col("l_extendedprice") * 100)
                .cast("long")
                .alias("cents"),
            )
        )
    )
    src = _shard_stream(chg, _scratch("q205_"))

    # cross-batch state: snapshots as localCheckpoint-ed unions (block
    # storage, no parquet round-trip per batch) and the MV-delta log as
    # a driver-side list of <=5-row aggregate slices (tiny artifact —
    # the durable-parquet-snapshot variant of this loop is q91's job)
    state: dict = {"a": None, "b": None, "mv": []}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        d_a = batch_df.filter(F.col("side") == "A").select(
            "o_orderkey", "o_orderpriority"
        ).localCheckpoint(eager=True)
        d_b = batch_df.filter(F.col("side") == "B").select(
            "o_orderkey", "cents"
        ).localCheckpoint(eager=True)
        # Pure-JVM zero-row seeds (r08): createDataFrame([], schema) is
        # a Python-parallelize RDD whose 32 empty slices each fork a
        # Python worker — and the union chain re-scans them in EVERY
        # later batch (drill: 65-task/53 core-s batch job, ~0.8 core-s
        # per empty slice). range(0) plans as a JVM Range leaf: zero
        # Python boundary, zero tasks of note, same zero rows.
        def _empty(schema):
            return s.range(0).select(
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ]
            )

        a_old = state["a"] if state["a"] is not None else _empty(d_a.schema)
        b_old = state["b"] if state["b"] is not None else _empty(d_b.schema)
        delta = R.incremental_join_delta(a_old, d_a, b_old, d_b, "o_orderkey")
        state["mv"].extend(
            delta.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("revenue_cents"),
            )
            .collect()
        )
        # fold deltas into the snapshots AFTER the delta rows are
        # computed — the rule joins each delta against the PRE-batch
        # state; folding in first would double-count dA x dB
        state["a"] = a_old.unionByName(d_a)
        state["b"] = b_old.unionByName(d_b)

    with SO.state_partitions(spark, 2):
        SO.drain(src.writeStream.foreachBatch(fold))
    assert len(state["mv"]) > 5, "expected MV deltas from multiple batches"
    mv = _lit_df(
        spark,
        "o_orderpriority string, n_rows long, revenue_cents long",
        [tuple(r) for r in state["mv"]],
    )
    return mv.groupBy("o_orderpriority").agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("revenue_cents").cast("long").alias("revenue_cents"),
    )



# ------------------------- 31. streaming sketch maintenance (CMS)

@q(
    "q267_streaming_cms",
    """
    WITH f AS (SELECT user_id AS key, count(*) AS n
               FROM events GROUP BY 1),
    d AS (SELECT unnest([0, 1, 2, 3]) AS depth),
    cells AS (
        SELECT depth,
               ('0x' || substr(md5(depth || ':' || CAST(key AS VARCHAR)),
                               1, 12))::BIGINT % 256 AS bucket,
               sum(n) AS cnt
        FROM f CROSS JOIN d GROUP BY 1, 2)
    SELECT CAST(depth AS INTEGER) AS depth, CAST(bucket AS BIGINT) AS bucket,
           CAST(cnt AS BIGINT) AS cnt
    FROM cells ORDER BY 1, 2
    """,
)
def q267_streaming_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sketch maintenance: the count-min grid (q239) built
    INCREMENTALLY over real micro-batches — events split into 4 files,
    streamed with maxFilesPerTrigger=1, each foreachBatch contributing
    a partial grid (<= depth*width cells, the only thing that ever
    reaches the driver), partials cell-wise summed at the end
    (sketches.cms_merge). Because CMS cells are sums, the merged
    streaming sketch must equal the batch-built sketch EXACTLY — the
    mergeability that makes sketches the right streaming state: O(d*w)
    per stream regardless of history, no watermark needed, restarts
    resume from the last persisted partial. The query asserts >= 2
    real micro-batches ran, and the oracle rebuilds the identical grid
    from the raw table."""
    from ingestao_dados_poli_spark.operators import sketches as SK

    with events_compat(spark, sf_dir):
        ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
        src = _shard_stream(ev, _scratch("q267_"))
        # keyed by batch_id and OVERWRITTEN, not appended:
        # foreachBatch is at-least-once, so a retried micro-batch
        # must replace its prior partial or the fold double-counts.
        partials: dict = {}

        def build_partial(batch_df, batch_id):
            cells = SK.cms_build(batch_df, "user_id").collect()
            partials[int(batch_id)] = [
                (int(r.depth), int(r.bucket), int(r.cnt)) for r in cells
            ]

        SO.drain(src.writeStream.foreachBatch(build_partial))
        if len(partials) < 2:
            raise AssertionError(
                f"expected >= 2 micro-batches, got {len(partials)}"
            )
        merged = SK.cms_merge(
            _lit_df(
                spark,
                "depth int, bucket long, cnt long",
                [c for cells in partials.values() for c in cells],
            )
        )
        return merged.select(
            "depth", "bucket", F.col("cnt").cast("long").alias("cnt")
        ).orderBy("depth", "bucket")


# ------------------ 13. streaming cell-table maintenance (moments twin)

@q("q283_streaming_seasonal_anomaly", None)
def q283_streaming_seasonal_anomaly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming maintenance of the (day, hour) cell table behind the
    q273 seasonality screen: events arrive as 2 real micro-batches
    (maxFilesPerTrigger=1), each foreachBatch contributes ONLY its
    batch's per-cell partial counts (<= 720 cells for this corpus's
    30-day window — the only thing crossing to the driver), partials
    fold by cell-wise SUM, and the 2σ screen runs over the merged
    table via the SAME `_hour_seasonal_screen` the batch query uses.
    Counts are sums, so merged-streaming == batch EXACTLY — the q267
    mergeable-state pattern applied to grouped statistics rather than
    a sketch: O(active cells) state per trigger, no watermark needed.
    Partials are keyed by batch_id and OVERWRITTEN on a retried
    micro-batch, so the fold is idempotent under foreachBatch's
    at-least-once delivery; a production restart-resumable monitor
    would persist the keyed partials to a store (the fold itself is
    restart-safe because it is keyed), which this finite harness run
    does not need. Asserts >= 2 real
    micro-batches; the oracle recomputes the identical screen from
    the raw table, so a dropped batch, a double-counted cell, or any
    drift between the streaming and batch tails fails on values."""
    from ingestao_dados_poli_spark.registry.mlstats import (
        _hour_seasonal_screen,
    )

    with events_compat(spark, sf_dir):
        src = _shard_stream(
            _t(spark, sf_dir, "events").select("ts"), _scratch("q283_")
        )
        # keyed by batch_id and OVERWRITTEN (foreachBatch is
        # at-least-once; append would double-count a retried batch)
        partials: dict = {}

        def build_partial(batch_df, batch_id):
            cells = (
                batch_df.groupBy(
                    F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
                    F.hour("ts").cast("int").alias("hod"),
                )
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            )
            partials[int(batch_id)] = [
                (r.day, int(r.hod), int(r.c)) for r in cells
            ]

        SO.drain(src.writeStream.foreachBatch(build_partial))
        if len(partials) < 2:
            raise AssertionError(
                f"expected >= 2 micro-batches, got {len(partials)}"
            )
        merged = (
            _lit_df(
                spark,
                "day date, hod int, c long",
                [c for cells in partials.values() for c in cells],
            )
            .groupBy("day", "hod")
            .agg(F.sum("c").alias("c"))
        )
        return _hour_seasonal_screen(merged)


from ingestao_dados_poli_spark.registry import mlstats as _ML  # noqa: E402

ORACLES["q283_streaming_seasonal_anomaly"] = _ML._SEASONAL_SQL


# ------------------ 14. stream-stream LEFT OUTER interval join

@q(
    "q290_streaming_left_outer_join",
    """
    WITH p AS (SELECT user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    m AS (SELECT p.user_id, p.ts, count(c.ts) AS k
          FROM p LEFT JOIN c
            ON p.user_id = c.user_id
           AND c.ts >= p.ts - INTERVAL 30 MINUTE
           AND c.ts <= p.ts
          GROUP BY 1, 2)
    SELECT CAST(k AS INTEGER) AS n_clicks_before,
           CAST(count(*) AS BIGINT) AS n_purchases
    FROM m GROUP BY 1 ORDER BY 1
    """,
)
def q290_streaming_left_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the attribution shape
    q92's inner join can't express: every purchase appears exactly
    once, null-padded when NO click preceded it within 30 minutes, so
    the zero-touch cohort is first-class instead of silently absent.
    Spark only allows outer stream-stream joins with watermarks AND an
    event-time bound (state must be provably evictable); unmatched
    left rows emit only once the watermark passes their match window,
    so the finite drained run appends a SENTINEL event pair
    beyond max event time (written last, processed last) to flush the
    tail — the production pattern for draining a finite backfill
    through a streaming topology. The joined rows land in a parquet
    sink; the per-purchase click counts and their histogram are
    computed from the SINK's bytes, and the DuckDB twin recomputes the
    identical histogram with a batch LEFT JOIN — a purchase dropped,
    duplicated, or null-padded despite a match all shift a histogram
    cell. Scale shape: join state is bounded by watermark + lookback
    per user key; the histogram aggregates (user, ts) grain first."""
    with events_compat(spark, sf_dir):
        ev = _t(spark, sf_dir, "events").select(
            "user_id", "ts", "event_type"
        ).filter(F.col("event_type").isin("purchase", "click"))
        [mx] = ev.agg(F.max("ts").alias("mx")).collect()
        # _scratch, not a function-local temp dir: the returned
        # DataFrame reads the SINK lazily at driver collect time.
        work = _scratch("q290_")
        src_dir, sink = f"{work}/src", f"{work}/sink"
        # Files must arrive in EVENT-TIME order ACROSS triggers:
        # the file source advances the watermark batch by batch, so
        # a randomly split source would deliver early timestamps in
        # late batches — behind the watermark, silently dropped
        # (first cut lost 1/3 of the purchases exactly this way).
        # Within ONE trigger order is irrelevant (the watermark
        # only advances after the batch), so the minimal correct
        # topology is 2 micro-batches: all real events in the
        # first, the flush sentinel in the second — each extra
        # trigger on this 4-state-store outer join costs a full
        # micro-batch commit for no additional proof (the 3-batch
        # variant was the round-5 bench's #1 cost at 10.4 s).
        ev.coalesce(1).write.mode("append").parquet(src_dir)
        # sentinel pair 2h past max event time, appended AFTER the
        # main file so the file source processes it last and the
        # watermark sweeps every real match window. Built via
        # _lit_df (JVM literal), never createDataFrame: the
        # Python-RDD-backed 2-row write measured an erratic 5-6 s
        # — the single biggest line item in this query's cost.
        import datetime as _dt

        sent_ts = mx.mx + _dt.timedelta(hours=2)
        _lit_df(
            spark,
            ev.schema,
            [(-1, sent_ts, "purchase"), (-1, sent_ts, "click")],
        ).coalesce(1).write.mode("append").parquet(src_dir)
        src = SO.read_file_stream(
            spark, src_dir, ev.schema, max_files_per_trigger=1
        )
        purchases = src.filter(
            F.col("event_type") == "purchase"
        ).select("user_id", "ts")
        clicks = src.filter(F.col("event_type") == "click").select(
            "user_id", "ts"
        )
        joined = SO.interval_join_streams(
            purchases,
            clicks,
            ["user_id"],
            lookback="30 minutes",
            watermark="10 minutes",
            how="left_outer",
        )
        # outer stream-stream joins keep FOUR state stores per
        # shard; at this stream's volume the 32-way batch default
        # spends the micro-batch committing empty stores (q92's
        # measured 7.4 -> 2.3 s lesson — 29.6 s here before
        # scoping). The store COMMIT (files per store per shard
        # per batch) dominates at test volumes, so the whole
        # streaming family runs 2 shards (round-7 sweep: q290
        # 7.4/4.7 s at 4/2, q92 4.4/3.7/2.7 at 8/4/2); rows/shard
        # stays ~20k, far from any memory bound, and production
        # sizing scales shards with stream volume.
        with SO.state_partitions(spark, 2):
            SO.drain(
                joined.writeStream.format("parquet")
                .option("path", sink)
                .outputMode("append")
            )
        rows = spark.read.parquet(sink).filter(F.col("l_user_id") != -1)
        per_purchase = rows.groupBy("l_user_id", "l_ts").agg(
            F.count("r_ts").alias("k")
        )
        return (
            per_purchase.groupBy(
                F.col("k").cast("int").alias("n_clicks_before")
            )
            .agg(F.count(F.lit(1)).alias("n_purchases"))
            .orderBy("n_clicks_before")
        )


# ------------------ 15. streaming drift monitor (mergeable histograms)

@q(
    "q297_streaming_drift_monitor",
    """
    WITH src AS (
        SELECT CASE WHEN event_type IN ('view', 'click') THEN 'engage'
                    ELSE 'act' END AS grp,
               least(CAST(floor(value / 10.0) AS INTEGER), 9) AS bin
        FROM events),
    counts AS (
        SELECT bin,
               sum(CASE WHEN grp = 'engage' THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN grp = 'act' THEN 1 ELSE 0 END) AS cb
        FROM src GROUP BY 1),
    grid AS (SELECT unnest(range(0, 10)) AS bin),
    filled AS (
        SELECT g.bin, coalesce(c.ca, 0) AS ca, coalesce(c.cb, 0) AS cb
        FROM grid g LEFT JOIN counts c ON g.bin = c.bin),
    cum AS (
        SELECT bin,
               sum(ca) OVER (ORDER BY bin) AS cuma,
               sum(cb) OVER (ORDER BY bin) AS cumb,
               (SELECT sum(ca) FROM filled) AS na,
               (SELECT sum(cb) FROM filled) AS nb
        FROM filled)
    SELECT CAST(bin AS INTEGER) AS bin,
           CAST((1000000 * cuma) // na AS BIGINT) AS cdf_a_micro,
           CAST((1000000 * cumb) // nb AS BIGINT) AS cdf_b_micro,
           CAST((1000000 * abs(cuma * nb - cumb * na)) // (na * nb)
                AS BIGINT) AS gap_micro
    FROM cum ORDER BY bin
    """,
)
def q297_streaming_drift_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming drift monitoring: the Wasserstein-grid histograms
    (q287's shape) maintained INCREMENTALLY over real micro-batches —
    each foreachBatch contributes only its partial per-bin counts
    (≤ 10 bins × 2 groups crossing to the driver per trigger),
    partials fold by cell-wise sum, and the CDF-gap profile computed
    from the merged table must equal the batch recomputation EXACTLY
    (counts are sums — the q267/q283 mergeable-state discipline
    applied to drift detection). This is how a production monitor
    watches distribution shift on an unbounded stream with O(bins)
    state and no event retention; the oracle rebuilds the profile
    from the raw table, so a dropped batch or a double-fold shifts a
    CDF cell and fails on values. Asserts >= 2 real micro-batches."""
    with events_compat(spark, sf_dir):
        ev = _t(spark, sf_dir, "events").select("event_type", "value")
        src = _shard_stream(ev, _scratch("q297_"))
        # keyed by batch_id and OVERWRITTEN (foreachBatch is
        # at-least-once; append would double-count a retried batch)
        partials: dict = {}

        def build_partial(batch_df, batch_id):
            cells = (
                batch_df.select(
                    F.when(F.col("event_type").isin("view", "click"), "engage")
                    .otherwise("act")
                    .alias("grp"),
                    F.least(
                        F.floor(F.col("value") / 10.0).cast("int"),
                        F.lit(9),
                    ).alias("bin"),
                )
                .groupBy("grp", "bin")
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            )
            partials[int(batch_id)] = [
                (r.grp, int(r.bin), int(r.c)) for r in cells
            ]

        SO.drain(src.writeStream.foreachBatch(build_partial))
        if len(partials) < 2:
            raise AssertionError(
                f"expected >= 2 micro-batches, got {len(partials)}"
            )
        merged = (
            _lit_df(
                spark,
                "grp string, bin int, c long",
                [c for cells in partials.values() for c in cells],
            )
            .groupBy("bin")
            .agg(
                F.sum(F.when(F.col("grp") == "engage", F.col("c"))
                      .otherwise(0)).alias("ca"),
                F.sum(F.when(F.col("grp") == "act", F.col("c"))
                      .otherwise(0)).alias("cb"),
            )
        )
        grid = spark.range(0, 10).select(
            F.col("id").cast("int").alias("bin")
        )
        filled = grid.join(merged, "bin", "left").select(
            "bin",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
        w = Window.orderBy("bin").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wtot = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        dec = "decimal(38,0)"
        cum = filled.select(
            "bin",
            F.sum("ca").over(w).cast(dec).alias("cuma"),
            F.sum("cb").over(w).cast(dec).alias("cumb"),
            F.sum("ca").over(wtot).cast(dec).alias("na"),
            F.sum("cb").over(wtot).cast(dec).alias("nb"),
        )

        def tdv(num, den):
            return ((num - num % den) / den).cast("long")

        M = F.lit(1000000).cast(dec)
        return cum.select(
            "bin",
            tdv(M * F.col("cuma"), F.col("na")).alias("cdf_a_micro"),
            tdv(M * F.col("cumb"), F.col("nb")).alias("cdf_b_micro"),
            tdv(
                M
                * F.abs(
                    F.col("cuma") * F.col("nb")
                    - F.col("cumb") * F.col("na")
                ),
                F.col("na") * F.col("nb"),
            ).alias("gap_micro"),
        ).orderBy("bin")


# ------ 167. streaming dedup -> publish -> drift pipeline (q300's twin)

@q("q301_streaming_pipeline_e2e", _ML._PIPELINE_E2E_SQL)
def q301_streaming_pipeline_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q300's end-to-end training-data pipeline with the INGEST ARM
    STREAMED: the same two planted batches (batch 2 carries cross-batch
    duplicates of batch 1) arrive as real micro-batches through a file
    source, each foreachBatch runs the fingerprint-store ingest
    (q133's lifecycle — batch 2's dedup plan reads only 16-byte
    fingerprints, never batch 1's text) and persists its survivors
    keyed by batch_id (at-least-once safe: overwrite, never append);
    after the drain, the survivor corpus is PUBLISHED through the
    atomic-commit versioned table, read BACK from its bytes, and the
    mix/drift stage (shared code with q300, `_ML._mix_drift_profile`)
    computes mixture weights + drift cells. The oracle is q300's
    DuckDB recomputation VERBATIM, so the streaming run must be
    batching-invariant down to the value hash — a fingerprint lost
    across the micro-batch boundary, a survivor double-folded on
    retry, or a publish that dropped a row all hash-fail. Lifecycle
    assertions pin the store at versions [1, 2] (one delta per
    micro-batch) and the publish at version 1. Batch ORDER rides the
    file source's modification-time ordering (batch 1's file is
    written first), matching the oracle's seen-set direction; raw
    ingest cells fold as per-batch partials keyed by batch_id, the
    q267/q283 mergeable-state discipline."""
    from ingestao_dados_poli_spark.operators import dedup as DD
    from ingestao_dados_poli_spark.sources import versioned as V

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    did = F.col("doc_id")
    b1 = docs.filter(did < 250)
    b2 = docs.filter(did >= 250).unionByName(
        docs.filter(did < 60).select(
            (did + 50000).alias("doc_id"), "text", "lang", "source"
        )
    )
    src_dir = _scratch("q301_src_")
    store = _scratch("q301_fp_")
    pub = _scratch("q301_pub_")
    surv_dir = _scratch("q301_surv_")
    # batch 1's file FIRST: the file source orders micro-batches by
    # modification time, and the store's seen-set must grow in the
    # same direction the oracle's `seen` CTE assumes
    b1.coalesce(1).write.mode("append").parquet(src_dir)
    b2.coalesce(1).write.mode("append").parquet(src_dir)

    raw_partials: dict = {}

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        # at-least-once discipline, two cases. (1) A COMPLETED batch
        # redelivered is skipped outright: raw_partials is written as
        # the LAST step, so its presence proves the store version,
        # survivors dir, and raw cells all landed — re-running would
        # dedup the batch against its own fingerprints and overwrite
        # the survivors dir with an empty set. (2) A batch that failed
        # MIDWAY (store version published, survivors not yet written)
        # re-ingests and publishes an EXTRA store version, which the
        # versions==[1,2] lifecycle assertion below fails LOUDLY after
        # the drain — an interrupted ingest can crash the query, never
        # silently lose rows.
        if bid in raw_partials:
            return
        s = batch_df.sparkSession
        survivors, _ver = DD.dedup_ingest_batch(
            s, batch_df, store, "text", "doc_id"
        )
        survivors.select("doc_id", "lang", "source").write.mode(
            "overwrite"
        ).parquet(f"{surv_dir}/batch={bid}")
        raw_partials[bid] = [
            (r.lang, r.source, int(r.n))
            for r in batch_df.groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]

    src = SO.read_file_stream(
        spark, src_dir, b1.schema, max_files_per_trigger=1
    )
    SO.drain(src.writeStream.foreachBatch(ingest))

    got = V.committed_versions(spark, store)
    if got != [1, 2] or len(raw_partials) != 2:
        raise AssertionError(
            f"streamed ingest drifted: store versions {got}, "
            f"{len(raw_partials)} micro-batches (expected 2 of each)"
        )
    corpus = spark.read.parquet(surv_dir).select(
        "doc_id", "lang", "source"
    )
    pub_version = V.publish(spark, corpus, pub)
    if pub_version != 1:
        raise AssertionError(f"publish version {pub_version}, expected 1")
    published = V.read_version(spark, pub, pub_version)

    raw_cells = (
        _lit_df(
            spark,
            "lang string, source string, n long",
            [c for cells in raw_partials.values() for c in cells],
        )
        .groupBy("lang", "source")
        .agg(F.sum("n").alias("n_raw"))
    )
    ded_cells = published.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_dedup")
    )
    return _ML._mix_drift_profile(raw_cells, ded_cells)
