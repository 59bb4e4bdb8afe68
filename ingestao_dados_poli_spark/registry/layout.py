"""Storage-layout registry: partitioning/bucketing/Z-order/OPTIMIZE,
bloom pruning, versioned snapshots, schema contracts, scans/sinks
and pushdown verification.

Split out of the former monolithic queries.py (round 5) — every
block is verbatim; registration happens via the shared `q` decorator
from `._base`, so importing this module populates QUERIES/ORACLES.
"""

from ingestao_dados_poli_spark.registry._base import *  # noqa: F401,F403



# ------------------------------------------------------- 2. scan + pushdown

@q(
    "q02_pushdown_sum",
    """
    SELECT CAST(round(sum(l_extendedprice * l_discount), 2) AS DOUBLE) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q02_pushdown_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: all four predicates push to the parquet scan
    (verify with .explain → PushedFilters), projection prunes to 4 cols."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )



# ----------------------------------------------------- 11. text analysis

@q(
    "q22_text_stats",
    """
    SELECT doc_id,
           length(text) AS n_chars_calc,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
           source
    FROM documents
    """,
)
def q22_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.n_chars("text").cast("long").alias("n_chars_calc"),
        TX.n_tokens_ws("text").cast("long").alias("n_tokens"),
        "source",
    )



# ------------------------------------------- 14. statistics aggregates

@q(
    "q31_stats_agg",
    """
    SELECT l_returnflag,
           CAST(round(stddev_samp(l_extendedprice), 4) AS DOUBLE) AS sd_price,
           CAST(round(var_samp(l_quantity), 4) AS DOUBLE)         AS var_qty,
           CAST(round(min(l_extendedprice), 2) AS DOUBLE)         AS min_price,
           CAST(round(max(l_extendedprice), 2) AS DOUBLE)         AS max_price,
           count(DISTINCT l_partkey) AS n_parts,
           CAST(round(corr(l_quantity, l_extendedprice), 6) AS DOUBLE) AS qty_price_corr
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q31_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates beyond the reference's avg/round/count
    (SURVEY §2.4 'not present' list): stddev, variance, min/max, exact
    count-distinct, correlation — all one HashAggregate pass except the
    distinct, which Spark expands to a two-phase aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.count_distinct(F.col("l_partkey")).alias("n_parts"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
    )



@q(
    "q37_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q37_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the engine's SQL entry point (DataFrame and
    SQL share Catalyst — SURVEY §3 'new-engine lifecycle')."""
    li = _t(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
               count(*) AS n
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        li=li,
    )



@q(
    "q57_corr_stats",
    """
    SELECT l_returnflag,
           CAST(round(corr(l_quantity, l_extendedprice), 6) AS DOUBLE) AS corr_qty_price,
           CAST(round(covar_samp(l_quantity, l_extendedprice), 2) AS DOUBLE) AS covar_qp,
           CAST(round(stddev_samp(l_extendedprice), 2) AS DOUBLE) AS sd_price,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q57_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics (corr / sample covariance / stddev) — all
    one-pass partial-aggregatable built-ins, so the plan is the same
    single shuffle as a plain sum. Rounded 2-6 dp: both engines use
    numerically-stable one-pass updates but differ in the last ulps."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qp"),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
        F.count(F.lit(1)).alias("n"),
    )



@q(
    "q59_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)
               AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q59_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on all three inputs, fact-fact
    join, broadcast dim, global top-k. All three predicates reach the
    parquet scans (PushedFilters), so at 100 TB only the qualifying
    row groups are read; customer-after-filter broadcasts; the
    lineitem⋈orders join shuffles only filtered rows; the final top-10
    is TakeOrderedAndProject (per-partition heap + driver merge of 10
    rows per partition — no global sort)."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    ords = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-03-15"
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1995-03-15"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    agg = (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(F.broadcast(cust), ords.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return R.top_k(
        agg.select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        ),
        [F.col("revenue").desc(), F.col("l_orderkey").asc()],
        10,
    )



# ------------------------------- 29. SCD2 / date spine / CDC keep-latest

@q(
    "q69_scd2_dimension",
    """
    SELECT o_custkey, o_orderkey, o_orderstatus,
           CAST(o_orderdate AS VARCHAR) AS valid_from,
           CAST(lead(o_orderdate) OVER w AS VARCHAR) AS valid_to,
           CASE WHEN lead(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END
               AS is_current
    FROM orders WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q69_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build: turn a change log (orders per
    customer) into [valid_from, valid_to) intervals with a current-row
    flag — one lead() window, one shuffle on the dimension key. At
    100 TB this is the standard dimension-history pattern; the window
    partitions by the natural key so state never exceeds one entity's
    history per task."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("string").alias("valid_from"),
        nxt.cast("string").alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )



@q(
    "q70_date_spine",
    """
    WITH bounds AS (
        SELECT o_custkey,
               min(date_trunc('month', o_orderdate)) AS lo,
               max(date_trunc('month', o_orderdate)) AS hi
        FROM orders WHERE o_custkey < 30 GROUP BY 1),
    spine AS (
        SELECT o_custkey,
               unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month
        FROM bounds),
    counts AS (
        SELECT o_custkey, date_trunc('month', o_orderdate) AS month,
               count(*) AS n
        FROM orders WHERE o_custkey < 30 GROUP BY 1, 2)
    SELECT s.o_custkey,
           CAST(CAST(s.month AS DATE) AS VARCHAR) AS month,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_orders
    FROM spine s LEFT JOIN counts c
      ON s.o_custkey = c.o_custkey AND s.month = c.month
    """,
)
def q70_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap fill: per-customer contiguous month axis
    (sequence + explode) left-joined to observed monthly counts so
    missing months surface as explicit zeros — the time-series
    completeness primitive. The spine is generated from a pre-aggregated
    bounds table (tiny), so the explode fans out dim-side only; the big
    fact is touched once for the counts aggregation."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 30)
    month = F.date_trunc("month", F.col("o_orderdate"))
    bounds = orders.groupBy("o_custkey").agg(
        F.min(month).alias("lo"), F.max(month).alias("hi")
    )
    spine = bounds.select(
        "o_custkey",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))
        ).alias("month"),
    )
    counts = orders.groupBy(
        "o_custkey", month.alias("month")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.join(counts, ["o_custkey", "month"], "left")
        .select(
            "o_custkey",
            F.col("month").cast("date").cast("string").alias("month"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_orders"),
        )
    )



# ------------------------- 48. Z-order clustering code (layout locality)

@q(
    "q95_zorder_code",
    """
    WITH b AS (
        SELECT l_orderkey,
               CAST(l_partkey % 256 AS BIGINT) AS bx,
               CAST(l_suppkey % 256 AS BIGINT) AS by
        FROM lineitem
    ),
    z AS (
        SELECT l_orderkey,
               list_sum([ (((bx >> i) & 1) << (2*i))
                        + (((by >> i) & 1) << (2*i+1)) for i in range(0, 8)]) AS zv
        FROM b
    )
    SELECT CAST(zv >> 10 AS BIGINT) AS z_bucket,
           count(*) AS n,
           CAST(min(zv) AS BIGINT) AS z_min,
           CAST(max(zv) AS BIGINT) AS z_max
    FROM z GROUP BY 1
    """,
)
def q95_zorder_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) interleave as a first-class expression — the
    clustering key behind `writers.write_clustered`'s multi-column
    data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER re-expressed
    as plain Spark: bucket → interleave → repartitionByRange → sorted
    write). `partitioning.morton_code` expands to bits*ncols flat
    shift/mask terms, all inside whole-stage codegen — no UDF, no
    shuffle; the only shuffle in the full write path is the ONE range
    partition on the z-value. Oracle recomputes the interleave in
    DuckDB via a list comprehension, so the bit math is value-checked
    end to end."""
    from ingestao_dados_poli_spark.partitioning import morton_code

    li = _t(spark, sf_dir, "lineitem")
    z = morton_code(
        [F.col("l_partkey") % 256, F.col("l_suppkey") % 256], bits=8
    )
    return (
        li.select(F.col("l_orderkey"), z.alias("zv"))
        .groupBy(F.shiftright("zv", 10).cast("long").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("zv").cast("long").alias("z_min"),
            F.max("zv").cast("long").alias("z_max"),
        )
    )



# --------------------- 62. snapshot diff / reconciliation

@q(
    "q109_snapshot_diff",
    """
    WITH old AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
    ),
    new AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 53 = 0
    )
    SELECT CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                WHEN old.o_totalprice = new.o_totalprice
                 AND old.o_orderstatus = new.o_orderstatus THEN 'unchanged'
                ELSE 'changed' END AS change_type,
           count(*) AS n
    FROM old FULL JOIN new ON old.o_orderkey = new.o_orderkey
    GROUP BY 1
    """,
)
def q109_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill/migration reconciliation via relational.table_diff: a
    deterministic 'rewritten' snapshot (some keys dropped, some prices
    bumped, some keys added) is diffed against the original with ONE
    full-outer join on the key — non-key columns collapse to a struct
    per side so the compare is a single null-safe struct equality. The
    oracle recomputes the same diff declaratively."""
    cols = ["o_orderkey", "o_totalprice", "o_orderstatus"]
    old = _t(spark, sf_dir, "orders").select(*cols)
    k = F.col("o_orderkey")
    new = (
        old.filter(k % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(k % 31 == 0, F.col("o_totalprice") + 1.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            old.filter(k % 53 == 0).select(
                (k + 100000000).alias("o_orderkey"),
                "o_totalprice",
                "o_orderstatus",
            )
        )
    )
    diff = R.table_diff(old, new, ["o_orderkey"])
    return diff.groupBy("change_type").agg(F.count(F.lit(1)).alias("n"))



# ---------- 85. versioned-publish round-trip through the oracle gate

@q(
    "q132_versioned_publish",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_pinned,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(1 AS BIGINT) AS live_version
    FROM documents
    """,
)
def q132_versioned_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ties `sources/versioned.py` to the gate: publish documents as
    snapshot v=1, then attempt a SCHEMA-DRIFTED candidate — the schema
    contract recorded in v=1's commit marker refuses it DRIVER-SIDE
    (SchemaDriftError before any write job: no executor work, no
    abandoned v-dir, and no stack-trace noise in benchmark logs), then
    read back BOTH the live (max committed) version and the pinned
    version and prove they are the same complete snapshot. A missing
    commit marker, a half-published table, a pinned read seeing later
    data, or a drifted publish slipping through each turns the row
    red. The oracle is the source table itself: lossless publish means
    identical count/sum, live_version stays 1 because the drifted
    candidate was refused before writing."""
    import shutil as _shutil

    from ingestao_dados_poli_spark.sources import versioned as V

    docs = _t(spark, sf_dir, "documents")
    # cleared on entry: bounds scratch space to one copy per process
    base = _scratch_dir("q132_tbl", sf_dir)
    _shutil.rmtree(base, ignore_errors=True)
    path = base + "/t"
    v1 = V.publish(spark, docs, path)
    # drifted publish: wrong column set → refused before the write
    # starts; nothing (not even an uncommitted dir) is left behind
    drift_refused = False
    try:
        V.publish(
            spark,
            docs.select(F.col("doc_id").alias("boom")),
            path,
        )
    except V.SchemaDriftError:
        drift_refused = True
    if not drift_refused or V._version_dirs(spark, path) != [1]:
        raise AssertionError("schema-drift gate failed to refuse cleanly")
    live = V.read_latest(spark, path)
    pinned = V.read_version(spark, path, v1)
    return (
        live.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .crossJoin(
            pinned.agg(F.count(F.lit(1)).cast("long").alias("n_pinned"))
        )
        .select(
            "n_rows",
            "n_pinned",
            "total_chars",
            F.lit(V.latest_version(spark, path)).cast("long").alias("live_version"),
        )
    )



# ------- 88. cross-job bloom pruning (persisted runtime filter)

@q(
    "q135_bloom_pruned_join",
    """
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderdate >= DATE '1997-01-01'
      AND o.o_orderdate <  DATE '1997-04-01'
    GROUP BY o.o_orderpriority
    """,
)
def q135_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-job runtime filtering (`operators/bloom.py`): build a
    bloom over one quarter's order keys, PERSIST it (save + load — the
    artifact round-trip an incremental pipeline does between jobs),
    prune the lineitem scan with an Arrow-vectorized probe BEFORE the
    join shuffle, then join and aggregate. The bloom admits ~selected
    fraction + fpp of lineitem into the exchange instead of 100% — at
    100 TB that is the difference between shuffling the whole fact
    table and shuffling the quarter you need; Catalyst's own runtime
    bloom can't be saved across jobs. Oracled against the PLAIN join:
    no-false-negatives means pruning must not change a single group or
    sum (false positives are absorbed by the join)."""
    import shutil as _shutil

    from ingestao_dados_poli_spark.operators import bloom as B

    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    bf = B.build_key_bloom(orders, "o_orderkey", num_bits=1 << 21)
    bpath = _scratch_dir("q135_bloom", sf_dir)
    _shutil.rmtree(bpath, ignore_errors=True)
    B.save_bloom(spark, bf, bpath)
    loaded, nh = B.load_bloom(spark, bpath)
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    pruned = B.bloom_prune(li, "l_orderkey", loaded, nh)
    return (
        pruned.join(
            orders.select("o_orderkey", "o_orderpriority"),
            pruned.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"),
        )
    )



@q(
    "q136_bucketed_join",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def q136_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned fact⋈fact: write orders and lineitem as EXTERNAL
    bucketed tables (`sources/writers.py:write_bucketed_table`), both
    bucketed AND sorted by the join key with equal bucket counts, then
    join + aggregate on that key. With bucketing the sort-merge join
    needs NO Exchange and NO per-task Sort on either side — the
    layout, not the engine, pays the shuffle once at write time; every
    later join/agg ON THE BUCKET KEY rides it free (locked by
    test_plans.test_q136_bucketed_join_zero_exchange: 0 exchanges, 0
    sorts for a bucket-key join+agg under a disabled-broadcast conf).
    The write repartitions to exactly num_buckets tasks on the bucket
    key (same Murmur3 hash) so each bucket is ONE sorted file — the
    precondition for Spark to also elide the merge-join Sort; multiple
    files per bucket would re-sort at read. (Sort-elision additionally
    requires `spark.sql.legacy.bucketedTableScan.outputOrdering=true`
    — Spark keeps it off by default because proving one-file-per-bucket
    means listing files at PLANNING time; exchange-elision is always
    on. The right setting for a table maintained one-file-per-bucket,
    the wrong one for ad-hoc bucketed dirs.) The final per-priority
    rollup here still exchanges on ITS key — bucketing buys the join,
    not unrelated group-bys. Oracled against
    the PLAIN join on the raw parquet — the bucketed copy is lossless,
    so results are identical by construction."""
    import shutil as _shutil

    from ingestao_dados_poli_spark.sources.writers import write_bucketed_table

    ord_t, li_t = q136_table_names()
    base = _scratch_dir("q136_bkt", sf_dir)
    # idempotent re-entry: drop catalog entries AND external files —
    # saveAsTable(overwrite) alone would CTAS into a non-empty dir left
    # by an earlier call in this process.
    spark.sql(f"DROP TABLE IF EXISTS {ord_t}")
    spark.sql(f"DROP TABLE IF EXISTS {li_t}")
    _shutil.rmtree(base, ignore_errors=True)
    orders = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .repartition(8, "o_orderkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .repartition(8, "l_orderkey")
    )
    write_bucketed_table(
        orders, ord_t, ["o_orderkey"], 8,
        sort_cols=["o_orderkey"], path=f"{base}/orders",
    )
    write_bucketed_table(
        li, li_t, ["l_orderkey"], 8,
        sort_cols=["l_orderkey"], path=f"{base}/lineitem",
    )
    o = spark.table(ord_t)
    l = spark.table(li_t)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"),
        )
    )



# ----------------------- 82. Python UDTF (lateral row generator)

@q(
    "q140_udtf_windows",
    """
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    )
    SELECT doc_id, CAST(g.i AS BIGINT) AS win_idx,
           array_to_string(
               list_slice(toks, g.i * 3 + 1, g.i * 3 + 5), ' '
           ) AS window_text,
           5 AS n_words
    FROM t, unnest(generate_series(0, CAST(floor((n - 5) / 3.0) AS BIGINT)))
            AS g(i)
    WHERE n >= 5
    """,
)
def q140_udtf_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched Python UDTF via SQL LATERAL
    (`functions/udtfs.py:SlidingWindows`): overlapping 5-word windows
    every 3 words over documents — the chunk-for-embedding primitive
    where adjacent chunks share context. Exercises the engine's
    row-generator extension point end-to-end (typed struct output,
    Arrow transfer, LATERAL correlation) on a generator simple enough
    for a full DuckDB value oracle; stateful parsers swap the eval
    body, not the wiring. The UDTF is the contained slow path: one
    Python worker pass over the doc partition, no shuffle at all."""
    from ingestao_dados_poli_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("q140_docs")
    return spark.sql(
        """
        SELECT d.doc_id, w.win_idx, w.window_text, w.n_words
        FROM q140_docs d, LATERAL sliding_windows(d.text, 5, 3) w
        """
    )



# ------------- 85. file-level min/max stats skipping (manifest pruning)

@q(
    "q144_stats_pruned_scan",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-02-01'
    GROUP BY l_returnflag
    """,
)
def q144_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-style data skipping (`sources/stats.py`): cluster
    lineitem by ship date (repartitionByRange + sortWithinPartitions —
    the write-time layout), harvest per-FILE min/max from parquet
    footers via pyarrow (metadata-only, zero rows scanned), then answer
    a one-month query by handing Spark ONLY the overlapping files —
    the Delta/Iceberg pruning move that turns 20 000 scheduled scan
    tasks into 20 at 100 TB; Spark's own row-group pruning then works
    WITHIN the chosen files. File pruning is a superset guarantee, so
    the exact row predicate still applies and the result is
    value-identical to the full scan (the oracle). Pruning
    effectiveness (files_read < files_total) is locked in
    test_sources.test_stats_pruning_skips_files."""
    import os as _os
    import shutil as _shutil

    from ingestao_dados_poli_spark.sources import stats as ST

    base = _scratch_dir("q144_cluster", sf_dir)
    clustered = base + "/lineitem"
    if not _os.path.exists(clustered):
        _shutil.rmtree(base, ignore_errors=True)
        li = _t(spark, sf_dir, "lineitem")
        (
            li.repartitionByRange(8, "l_shipdate")
            .sortWithinPartitions("l_shipdate")
            .write.mode("overwrite")
            .parquet(clustered)
        )
    stats = ST.collect_file_stats(spark, clustered, ["l_shipdate"])
    # footer stats stringify DATE as 'YYYY-MM-DD HH:MM:SS'; normalize
    # the bounds to the same precision so ISO prefix-compare is exact
    df, _read, _total = ST.pruned_read(
        spark, stats, "l_shipdate",
        "1997-01-01 00:00:00", "1997-01-31 23:59:59",
    )
    return (
        df.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1997-02-01")
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )



# ---------------- 88. Z-order two-dimensional file skipping

@q(
    "q146_zorder_skipping",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_quantity >= 45
    GROUP BY l_returnflag
    """,
)
def q146_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional skipping: lineitem rewritten Z-order-clustered
    on (ship-day, quantity) (`sources/writers.py:write_clustered` —
    Morton interleave, ONE range shuffle), then a quantity-only query
    reads through `sources/stats.py` footer pruning. 1-D range
    clustering (q144) skips on ITS column only; the Z-layout keeps
    both dimensions' footer ranges tight, so EITHER predicate prunes
    files (both directions asserted in
    test_sources.test_zorder_prunes_both_dimensions). File pruning
    stays a superset guarantee — the exact predicate reapplies, and
    the result is value-identical to a full scan (the oracle)."""
    import os as _os
    import shutil as _shutil

    from ingestao_dados_poli_spark.sources import stats as ST
    from ingestao_dados_poli_spark.sources.writers import write_clustered

    base = _scratch_dir("q146_z", sf_dir)
    clustered = base + "/lineitem"
    if not _os.path.exists(clustered):
        _shutil.rmtree(base, ignore_errors=True)
        li = _t(spark, sf_dir, "lineitem").withColumn(
            "_days", F.datediff(F.col("l_shipdate"), F.lit("1995-01-01"))
        )
        write_clustered(li, clustered, ["_days", "l_quantity"], num_files=8)
    stats = ST.collect_file_stats(spark, clustered, ["l_quantity"])
    df, _read, _total = ST.pruned_read(
        spark, stats, "l_quantity", "45", "50", numeric=True
    )
    return (
        df.filter(F.col("l_quantity") >= 45)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )



# ---------------- 89. lakehouse OPTIMIZE, losslessness fingerprint-proven

@q(
    "q147_optimize_lossless",
    """
    WITH h AS (
      SELECT o_orderpriority,
             CAST(('0x' || substr(md5(concat_ws(chr(31),
                 coalesce(CAST(o_orderkey AS VARCHAR),
                          chr(0) || 'null' || chr(0)),
                 coalesce(o_orderpriority, chr(0) || 'null' || chr(0)),
                 coalesce(CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))
                               AS VARCHAR),
                          chr(0) || 'null' || chr(0))
             )), 1, 15)) AS BIGINT) AS hh
      FROM orders)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           bit_xor(hh) AS xor_fp,
           CAST(sum(CAST(hh AS HUGEINT)) % 1152921504606846976 AS BIGINT)
               AS sum_fp
    FROM h GROUP BY o_orderpriority
    """,
)
def q147_optimize_lossless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance op end-to-end (`sources/writers.py:optimize_table`):
    shatter orders into 64 tiny files (the streaming-sink reality),
    OPTIMIZE into a compacted Z-clustered copy, and return the
    per-priority anti-entropy digest (`operators/audit.py`) OF THE
    OPTIMIZED COPY. The oracle computes the digest from the raw orders
    table in DuckDB — equality proves the rewrite lost and invented
    nothing, cross-engine, which is the invariant every compaction job
    must ship with. File-count reduction is asserted in
    test_sources.test_optimize_compacts_and_clusters."""
    import os as _os
    import shutil as _shutil

    from ingestao_dados_poli_spark.operators import audit as AU
    from ingestao_dados_poli_spark.sources.writers import optimize_table

    base = _scratch_dir("q147_opt", sf_dir)
    src, dst = base + "/src", base + "/opt"
    if not _os.path.exists(dst):
        _shutil.rmtree(base, ignore_errors=True)
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        orders.repartition(64).write.mode("overwrite").parquet(src)
        optimize_table(
            spark, src, dst, ["o_orderkey"], target_file_bytes=1 << 20
        )
    opt = spark.read.parquet(dst)
    cols = [
        F.col("o_orderkey"),
        F.col("o_orderpriority"),
        F.round("o_totalprice", 2).cast("decimal(18,2)"),
    ]
    return AU.table_fingerprint(opt, cols, group_by=["o_orderpriority"])



# ------------- 91. SCD2 point-in-time resolution via as-of join

@q(
    "q149_scd2_pit_join",
    """
    WITH dim0 AS (
        SELECT o_custkey, o_orderdate AS valid_from,
               arg_max(o_orderstatus, o_orderkey) AS status
        FROM orders WHERE o_custkey < 200
        GROUP BY o_custkey, o_orderdate),
    dim AS (
        SELECT o_custkey, valid_from, status,
               lead(valid_from) OVER (PARTITION BY o_custkey
                                      ORDER BY valid_from) AS valid_to
        FROM dim0),
    fact AS (
        SELECT o.o_custkey, l.l_shipdate, l.l_quantity
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_custkey < 200),
    resolved AS (
        SELECT f.l_quantity, d.status
        FROM fact f LEFT JOIN dim d
          ON f.o_custkey = d.o_custkey
         AND f.l_shipdate >= d.valid_from
         AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to))
    SELECT coalesce(status, 'none') AS status,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM resolved GROUP BY coalesce(status, 'none')
    """,
)
def q149_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension resolution — the READ side of SCD2
    (q69 is the build side): each shipment line resolves the customer
    status version valid at its ship date. Expressed as
    `relational.asof_join` (union + per-key window carry-forward, ONE
    shuffle on the key) instead of the textbook BETWEEN range join the
    oracle uses — the formulation that survives 100 TB, where a
    version-interval join would shuffle fact rows against every
    candidate version (and degrade to BNLJ without an equi bound).
    Gap-free SCD2 intervals (valid_to = next valid_from) make backward
    as-of and interval containment provably identical — which is
    exactly what the cross-formulation oracle certifies."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    dim = (
        orders.groupBy("o_custkey", "o_orderdate")
        .agg(F.max_by("o_orderstatus", "o_orderkey").alias("status"))
        .withColumnRenamed("o_orderdate", "valid_from")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    fact = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select("o_custkey", "l_shipdate", "l_quantity")
    resolved = R.asof_join(
        fact,
        dim,
        key="o_custkey",
        left_ts="l_shipdate",
        right_ts="valid_from",
        right_cols=["status"],
        slim=True,
    )
    return (
        resolved.groupBy(
            F.coalesce(F.col("asof_status"), F.lit("none")).alias("status")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"),
        )
    )



# ------------- 92. intentional schema evolution: pinned vs live reads

@q(
    "q150_schema_evolution",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs_v1,
           CAST(count(*) AS BIGINT) AS n_docs_live,
           CAST(round(avg(n_chars / 100.0), 2) AS DOUBLE) AS avg_quality
    FROM documents GROUP BY source
    """,
)
def q150_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evolution contract of `sources/versioned.py`: v=1 publishes
    documents' slim schema, v=2 adds a quality column — refused by the
    drift gate until the caller states intent (allow_schema_change=
    True), after which the NEW schema becomes the contract. A pinned
    v=1 read still serves exactly the old columns (reproducibility for
    the training run that shipped against it) while read_latest serves
    the evolved schema; both reads must carry identical row
    populations, which is what the per-source oracle certifies
    (n_docs_v1 from the pinned read == n_docs_live from the live read
    == the source table). The column-level assertions (pinned read has
    no quality column; unstated drift still raises) live in
    test_versioned."""
    import shutil as _shutil

    from ingestao_dados_poli_spark.sources import versioned as V

    base = _scratch_dir("q150_evo", sf_dir)
    _shutil.rmtree(base, ignore_errors=True)
    path = base + "/docs"
    docs = _t(spark, sf_dir, "documents")
    slim = docs.select("doc_id", "source", "n_chars")
    V.publish(spark, slim, path)
    evolved = slim.withColumn(
        "quality", F.round(F.col("n_chars") / 100.0, 6)
    )
    V.publish(spark, evolved, path, allow_schema_change=True)
    pinned = V.read_version(spark, path, 1)
    live = V.read_latest(spark, path)
    a = pinned.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_v1")
    )
    b = live.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_live"),
        F.round(F.avg("quality"), 2).alias("avg_quality"),
    )
    return a.join(b, "source")



# ------------- 93. dynamic partition overwrite (surgical backfill)

@q(
    "q151_dynamic_partition_overwrite",
    """
    WITH t AS (SELECT CAST(min(ts) AS DATE) AS d FROM events),
    adj AS (SELECT event_type,
                   CASE WHEN CAST(ts AS DATE) = (SELECT d FROM t)
                        THEN round(value * 2, 2) ELSE value END AS v
            FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(v), 2) AS DOUBLE) AS sum_value
    FROM adj GROUP BY event_type
    """,
)
def q151_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The surgical-backfill primitive
    (`sources/writers.py:overwrite_partitions_dynamic`): events land
    day-partitioned, one day turns out wrong, the corrected day is
    rewritten with partitionOverwriteMode=dynamic — ONLY that
    partition's files change; every other day's files are untouched
    (mtime-pinned in test_sources). Spark's default static overwrite
    would truncate the whole table first — at 100 TB that is the
    difference between rewriting one day and 3 649. The oracle
    recomputes the expected post-correction table from the source:
    doubled values on the corrected day, originals elsewhere. The
    1-row min-day collect is driver-side CONFIG derivation (which day
    to fix), not data movement."""
    import shutil as _shutil

    from ingestao_dados_poli_spark.sources.writers import (
        overwrite_partitions_dynamic,
    )

    base = _scratch_dir("q151_dpo", sf_dir)
    path = base + "/events"
    _shutil.rmtree(base, ignore_errors=True)
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    ev.write.partitionBy("day").parquet(path)
    target = ev.agg(F.min("day")).collect()[0][0]
    corrected = ev.filter(F.col("day") == F.lit(target)).withColumn(
        "value", F.round(F.col("value") * 2, 2)
    )
    overwrite_partitions_dynamic(corrected, path, ["day"])
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )



# ------------- 102. GDPR erasure on the versioned store

@q(
    "q160_gdpr_erasure",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE user_id NOT IN (1, 2, 3)
    GROUP BY event_type
    """,
)
def q160_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten on the versioned store
    (`sources/versioned.py:erase_rows`): events publish as v=1, users
    {1,2,3} are erased into v=2 with one filtered rewrite, and the
    LIVE read immediately and atomically stops serving them — which is
    what the oracle checks (live agg == source minus the erased
    users). The deliberate tension: pinned v=1 STILL serves the rows
    (reproducibility) until `vacuum` retires it — erasure is only
    complete after retention-policy vacuum, and test_versioned pins
    exactly that sequence (pinned-still-there, then vacuum, then
    pinned-read raises)."""
    import shutil as _shutil

    from ingestao_dados_poli_spark.sources import versioned as V

    base = _scratch_dir("q160_gdpr", sf_dir)
    path = base + "/events"
    _shutil.rmtree(base, ignore_errors=True)
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    V.publish(spark, ev, path)
    V.erase_rows(spark, path, F.col("user_id").isin(1, 2, 3))
    live = V.read_latest(spark, path)
    return live.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )



# ------------- 113. Python DataSource in the gate (pushdown-pruned read)

@q(
    "q171_python_datasource",
    """
    SELECT 'src_' || CAST(i % 5 AS VARCHAR) AS source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(i) AS BIGINT) AS id_sum
    FROM range(1000, 3000) t(i)
    GROUP BY 1
    """,
)
def q171_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 Python DataSource (`sources/pyds.py`) inside the
    oracle gate: a doc_id range predicate is PUSHED into the source
    (pushFilters shrinks the generation interval, pruning whole
    partitions before a single row exists), and the id/source algebra
    of what survives is value-checked against DuckDB's range() — the
    cross-engine proof that pushdown-pruned reads are consistent with
    the full read. The custom-connector contract (partition planning,
    Arrow batches, filter pushdown) exercised where the driver can see
    it, not just in pytest."""
    from ingestao_dados_poli_spark.sources.pyds import SynthDocsDataSource

    # planning (where pushFilters runs) happens at the caller's collect,
    # after this function returns — so the conf must outlive this frame
    # (same precedent as the nanosAsLong reader flag in _t). Scope-safe:
    # it only affects Python DataSource scans, which opt in per-reader.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(SynthDocsDataSource)
    except Exception:
        pass  # already registered in this session
    docs = (
        spark.read.format("synthdocs")
        .option("rows", "5000")
        .option("partitions", "8")
        .load()
    )
    pruned = docs.filter(
        (F.col("doc_id") >= 1000) & (F.col("doc_id") < 3000)
    )
    return pruned.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )



# ------------- 118. change-data-feed between committed snapshots

@q(
    "q176_snapshot_cdf",
    """
    WITH v1 AS (
        SELECT doc_id, source, n_chars FROM documents),
    v2 AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000
                    ELSE n_chars END AS n_chars
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, 'src_new' AS source,
               doc_id AS n_chars
        FROM documents WHERE doc_id < 10),
    d AS (
        SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
               CASE WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v2.doc_id IS NULL THEN 'removed'
                    WHEN v1.source = v2.source AND v1.n_chars = v2.n_chars
                         THEN 'unchanged'
                    ELSE 'changed' END AS change_type
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
    SELECT change_type, CAST(count(*) AS BIGINT) AS n
    FROM d GROUP BY change_type
    """,
)
def q176_snapshot_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between VERSIONED snapshots: publish documents
    as v=1, apply a deterministic edit wave (delete every 7th doc,
    bump every 10th's n_chars, append 10 new docs), publish v=2, then
    derive the CDF with `relational.table_diff` over `read_version(1)`
    vs `read_version(2)` — added/removed/changed/unchanged per key
    from ONE full-outer join on the snapshot bytes (struct-collapsed
    compare, no per-column join fanout). This is the Delta
    'change data feed' read pattern built from plain committed
    snapshots: downstream incremental consumers pull the classified
    delta instead of re-reading either version in full. The oracle
    recomputes the same classification from the source table's
    algebra."""
    import shutil as _shutil

    from ingestao_dados_poli_spark.sources import versioned as V

    base = _scratch_dir("q176_cdf", sf_dir)
    path = base + "/docs"
    _shutil.rmtree(base, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    V.publish(spark, docs, path)
    edited = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .withColumn(
            "n_chars",
            F.when(
                F.col("doc_id") % 10 == 0, F.col("n_chars") + 1000
            ).otherwise(F.col("n_chars")),
        )
    )
    appended = (
        docs.filter(F.col("doc_id") < 10)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.lit("src_new").alias("source"),
            F.col("doc_id").cast("long").alias("n_chars"),
        )
    )
    V.publish(spark, edited.unionByName(appended), path)
    v1 = V.read_version(spark, path, 1)
    v2 = V.read_version(spark, path, 2)
    cdf = R.table_diff(v1, v2, keys=["doc_id"])
    return cdf.groupBy("change_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )



# ------------- 123. partitioned + bucketed layout (both levers at once)

@q(
    "q181_partitioned_bucketed",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE o_orderpriority = '1-URGENT'
    """,
)
def q181_partitioned_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both layout levers on ONE table: orders written hive-PARTITIONED
    by priority AND bucketed+sorted by orderkey
    (`writers.write_bucketed_table` with partition_by via the writer's
    native combination). A priority-filtered join then (a) partition-
    prunes to 1/5 of the directories BEFORE listing files and (b)
    joins bucket-aligned against the bucketed lineitem copy —
    PartitionFilters and zero-Exchange bucketing in the same plan
    (locked by test_plans.test_q181_partition_prune_plus_bucket_join).
    This is the canonical 100 TB fact-table layout: partition by the
    coarse filter dimension, bucket by the join key; neither lever
    alone gives both prunes. Oracled against the plain join on raw
    parquet."""
    import os as _os
    import shutil as _shutil

    pid = _os.getpid()
    ord_t, li_t = f"q181_orders_{pid}", f"q181_lineitem_{pid}"
    base = _scratch_dir("q181_pb", sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {ord_t}")
    spark.sql(f"DROP TABLE IF EXISTS {li_t}")
    _shutil.rmtree(base, ignore_errors=True)
    orders = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .repartition(8, "o_orderkey")
    )
    (
        orders.write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{base}/orders")
        .format("parquet")
        .saveAsTable(ord_t)
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .repartition(8, "l_orderkey")
    )
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", f"{base}/lineitem")
        .format("parquet")
        .saveAsTable(li_t)
    )
    o = spark.table(ord_t).filter(F.col("o_orderpriority") == "1-URGENT")
    l = spark.table(li_t)
    j = l.join(o, l.l_orderkey == o.o_orderkey)
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"),
    )



# ------------- 125. out-of-order arrival observability

@q(
    "q183_out_of_order_stats",
    """
    WITH seq AS (
        SELECT user_id, ts,
               max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS UNBOUNDED PRECEDING) AS high_water
        FROM events),
    lateness AS (
        SELECT user_id,
               CASE WHEN ts < high_water
                    THEN CAST(date_diff('second', ts, high_water) AS BIGINT)
                    ELSE 0 END AS late_s
        FROM seq)
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           CAST(max(late_s) AS BIGINT) AS max_late_s,
           CAST(round(avg(late_s), 2) AS DOUBLE) AS avg_late_s
    FROM lateness
    """,
)
def q183_out_of_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark SIZING observability: per user, replay events in
    arrival order (event_id) and measure each event's lateness behind
    the running event-time high-water mark — the distribution that
    tells you what `withWatermark` delay actually covers your data
    (max_late_s too big → rows silently drop, cf. the late-drop test;
    too generous → state lingers). One per-key window over arrival
    order, no self-join; the running-max frame is the batch replica of
    exactly what the streaming engine's watermark tracker computes."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = ev.select(
        "user_id",
        "ts",
        F.max("ts").over(w).alias("high_water"),
    )
    late = seq.select(
        F.when(
            F.col("ts") < F.col("high_water"),
            (F.unix_timestamp("high_water") - F.unix_timestamp("ts")).cast(
                "long"
            ),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("late_s")
    )
    return late.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_late"),
        F.max("late_s").cast("long").alias("max_late_s"),
        F.round(F.avg("late_s"), 2).alias("avg_late_s"),
    )



# ------------- 126. mergeSchema evolution read (heterogeneous parquet)

@q(
    "q184_mergeschema_read",
    """
    WITH old_part AS (
        SELECT doc_id, source, n_chars, NULL AS quality
        FROM documents WHERE doc_id % 2 = 0),
    new_part AS (
        SELECT doc_id, source, n_chars,
               round(n_chars / 100.0, 4) AS quality
        FROM documents WHERE doc_id % 2 = 1),
    unioned AS (
        SELECT * FROM old_part UNION ALL SELECT * FROM new_part)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(quality) AS BIGINT) AS n_with_quality,
           CAST(round(avg(quality), 4) AS DOUBLE) AS avg_quality
    FROM unioned GROUP BY source
    """,
)
def q184_mergeschema_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-file schema evolution at READ time: half the table
    was written before the `quality` column existed, half after, in the
    SAME directory — `mergeSchema=true` unifies the footers into the
    superset schema and null-fills the old files' missing column,
    exactly the migration-window reality of a table whose writer
    evolved mid-stream. (Default reads take ONE file's schema — the
    silent column-loss trap; merge costs a footer pass over files, so
    lakehouse tables record the contract in the commit log instead —
    q150's versioned approach. Both belong in the engine.) The oracle
    rebuilds the same union with an explicit NULL column."""
    import os as _os
    import shutil as _shutil

    base = _scratch_dir("q184_ms", sf_dir)
    path = base + "/docs"
    if not _os.path.exists(path):
        _shutil.rmtree(base, ignore_errors=True)
        docs = _t(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        )
        docs.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(path)
        docs.filter(F.col("doc_id") % 2 == 1).withColumn(
            "quality", F.round(F.col("n_chars") / 100.0, 4)
        ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count("quality").cast("long").alias("n_with_quality"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )


# ----------------------- 138. ORC source/sink roundtrip

@q(
    "q201_orc_roundtrip",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM lineitem
    WHERE l_returnflag <> 'N'
    GROUP BY 1, 2
    """,
)
def q201_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as a first-class source/sink: lineitem lands as an ORC table
    partitioned by l_returnflag (Spark's built-in ORC datasource — no
    extra packages), is read back with a partition filter, and rolls up
    revenue per (returnflag, linestatus). The filter prunes whole
    partition DIRECTORIES at planning time (same pruning contract as
    the parquet layout queries, q144/q146); the oracle computes the
    identical rollup straight from the parquet source, so the
    value-hash proves the ORC roundtrip is LOSSLESS for every column
    that matters (decimal-as-double survives; cents quantization makes
    the sum exact). Write is sf-scoped and idempotent within a session
    (bench runs every query twice)."""
    import os as _os
    import shutil as _shutil

    from ingestao_dados_poli_spark.sources.readers import read_orc
    from ingestao_dados_poli_spark.sources.writers import write_orc

    base = _scratch_dir("q201_orc", sf_dir)
    orc_path = base + "/lineitem"
    if not _os.path.exists(orc_path):
        _shutil.rmtree(base, ignore_errors=True)
        write_orc(
            _t(spark, sf_dir, "lineitem").select(
                "l_returnflag", "l_linestatus", "l_extendedprice"
            ),
            orc_path,
            partition_by=["l_returnflag"],
        )
    back = read_orc(spark, orc_path).filter(F.col("l_returnflag") != "N")
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )


# ------------------- 139. corrupt-record tolerant JSONL ingest

@q(
    "q209_corrupt_record_ingest",
    """
    SELECT CASE WHEN event_id % 7 = 0 THEN '_corrupt'
                ELSE event_type END AS event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
)
def q209_corrupt_record_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest reality check: a JSONL feed where a deterministic
    subset of lines (event_id % 7 == 0) is TRUNCATED mid-object must
    load in PERMISSIVE mode with the bad lines captured in
    columnNameOfCorruptRecord — never a failed job (FAILFAST is for
    CI, not a 100 TB backfill), never silent row loss (DROPMALFORMED's
    failure mode). The query writes the feed itself (corruption rule =
    pure function of the row), reads it back tolerant, and reports
    parsed counts per type plus the '_corrupt' bucket; the oracle
    derives the same histogram from the clean source table, so a
    parser that drops, duplicates, or mis-buckets any line fails the
    hash. Scan-side only — corrupt handling adds no shuffle."""
    import os as _os
    import shutil as _shutil

    events = _t(spark, sf_dir, "events")
    base = _scratch_dir("q209_jsonl", sf_dir)
    feed = f"{base}/feed"
    if not _os.path.exists(feed):
        _shutil.rmtree(base, ignore_errors=True)
        line = F.when(
            F.col("event_id") % 7 == 0,
            F.concat(F.lit('{"event_id": '), F.col("event_id").cast("string")),
        ).otherwise(
            F.to_json(F.struct("event_id", "event_type", "value"))
        )
        events.select(line.alias("value")).write.mode("overwrite").text(feed)
    back = (
        spark.read.schema(
            "event_id long, event_type string, value double, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(feed)
    )
    return back.groupBy(
        F.when(F.col("_corrupt_record").isNotNull(), F.lit("_corrupt"))
        .otherwise(F.col("event_type"))
        .alias("event_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


@q(
    "q221_file_governance_metadata",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(ceil(count(*) / 500.0) AS BIGINT) AS n_files,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def q221_file_governance_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-size governance via the hidden `_metadata` column — the
    small-file/fat-file audit every 100 TB table needs: orders land
    hive-partitioned by priority with maxRecordsPerFile=500 after a
    repartition on the partition column (one task owns each priority,
    so the writer's file split is DETERMINISTIC: ceil(rows/500) files
    per directory). The read-back groups on `_metadata.file_name` —
    Spark's zero-cost per-file lineage, no filename UDF, no extra
    scan column materialized on disk — and the query SELF-ASSERTS
    (q129 pattern) that every partition's observed file count equals
    the governance target before returning; drift raises. The oracle
    never sees the files and pins the same ceil arithmetic from row
    counts, so the value-hash proves both the layout contract and the
    roundtrip. Write is sf-scoped and idempotent within a session
    (bench runs every query twice)."""
    import shutil as _shutil

    base = _scratch_dir("q221_meta", sf_dir)
    _shutil.rmtree(base, ignore_errors=True)
    od = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    (
        # Explicit partition count (r07): a keyless-N repartition(col)
        # is AQE-optimizable, and AQE coalesced the writer to ONE task
        # writing all ~300 files serially (drill: one 3.7 s task = 75%
        # of this query). With N pinned the 5 priorities land in
        # parallel writer tasks; each priority still lives WHOLLY in
        # one task, so the per-directory file split stays the same
        # deterministic ceil(rows/500) the self-assert and oracle pin.
        od.repartition(
            shuffle_partitions(spark),
            F.col("o_orderpriority"),
        )
        .write.option("maxRecordsPerFile", 500)
        .partitionBy("o_orderpriority")
        .parquet(base)
    )
    back = spark.read.parquet(base).select(
        "o_orderpriority", "cents", F.col("_metadata.file_name").alias("fn")
    )
    out = (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("fn").cast("long").alias("n_files"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .withColumn(
            "files_expected",
            F.ceil(F.col("n_rows") / F.lit(500)).cast("long"),
        )
        # 5-row aggregate, lazily checkpointed (r07): the self-assert
        # count below materializes it, and the returned frame reads the
        # blocks — previously BOTH re-scanned the 300-small-file layout
        # (two full listings + footer passes, ~40% of this query).
        .localCheckpoint(eager=False)
    )
    bad = out.where(F.col("n_files") != F.col("files_expected")).count()
    if bad:
        raise AssertionError(f"file governance violated for {bad} partitions")
    return out.select(
        "o_orderpriority", "n_rows", "n_files", "total_cents"
    ).orderBy("o_orderpriority")


# --------------------- 84. rendezvous (HRW) shard placement

@q(
    "q275_rendezvous_sharding",
    """
    WITH k AS (SELECT c_custkey AS key FROM customer),
    a8 AS (
        SELECT key,
               arg_max(s, ('0x' || substr(md5(CAST(key AS VARCHAR) || ':'
                                          || CAST(s AS VARCHAR)), 1, 15))
                          ::BIGINT) AS shard
        FROM k CROSS JOIN (SELECT unnest(range(0, 8)) AS s) GROUP BY key),
    a9 AS (
        SELECT key,
               arg_max(s, ('0x' || substr(md5(CAST(key AS VARCHAR) || ':'
                                          || CAST(s AS VARCHAR)), 1, 15))
                          ::BIGINT) AS shard
        FROM k CROSS JOIN (SELECT unnest(range(0, 9)) AS s) GROUP BY key),
    c8 AS (SELECT 8 AS n_shards, CAST(shard AS INTEGER) AS shard,
                  count(*) AS n_keys
           FROM a8 GROUP BY 2),
    c9 AS (SELECT 9 AS n_shards, CAST(shard AS INTEGER) AS shard,
                  count(*) AS n_keys
           FROM a9 GROUP BY 2),
    mv AS (SELECT 0 AS n_shards, -1 AS shard, count(*) AS n_keys
           FROM a8 JOIN a9 USING (key) WHERE a8.shard <> a9.shard)
    SELECT CAST(n_shards AS INTEGER) AS n_shards, shard,
           CAST(n_keys AS BIGINT) AS n_keys
    FROM (SELECT * FROM c8 UNION ALL SELECT * FROM c9
          UNION ALL SELECT * FROM mv)
    ORDER BY n_shards, shard
    """,
)
def q275_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight, Thaler & Ravishankar 1998)
    shard placement — the consistent-hashing scheme behind cache and
    shard routing: key k lands on argmax_s md5(k:s), so growing the
    cluster from 8 to 9 shards moves ONLY the keys whose new shard
    wins the argmax — an expected 1/9 of them — while modulo
    placement would reshuffle 8/9. The query emits per-shard
    populations under both cluster sizes plus the moved-key count
    (the n_shards=0 row), letting the balance AND the minimal-motion
    property be value-checked. Engine side computes the argmax IN-ROW
    (an array of (weight, shard) structs and array_max — scan-only,
    ZERO shuffles before the count agg) rather than exploding 8 rows
    per key; weights are the md5-hex-prefix integers both engines
    derive identically (q83's idiom). Scale shape: placement is a
    pure per-row function; the only shuffles are the tiny per-shard
    count aggs."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key")
    )

    def shard_of(n: int):
        return F.array_max(
            F.array(
                *[
                    F.struct(
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat_ws(
                                        ":",
                                        F.col("key").cast("string"),
                                        F.lit(str(s)),
                                    )
                                ),
                                1,
                                15,
                            ),
                            16,
                            10,
                        )
                        .cast("long")
                        .alias("w"),
                        F.lit(s).alias("s"),
                    )
                    for s in range(n)
                ]
            )
        ).getField("s")

    placed = cust.select(
        shard_of(8).alias("shard8"), shard_of(9).alias("shard9")
    )
    c8 = placed.groupBy(F.col("shard8").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_keys")
    ).select(F.lit(8).alias("n_shards"), "shard", "n_keys")
    c9 = placed.groupBy(F.col("shard9").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_keys")
    ).select(F.lit(9).alias("n_shards"), "shard", "n_keys")
    mv = placed.filter(F.col("shard8") != F.col("shard9")).agg(
        F.count(F.lit(1)).alias("n_keys")
    ).select(F.lit(0).alias("n_shards"), F.lit(-1).alias("shard"), "n_keys")
    return (
        c8.unionByName(c9)
        .unionByName(mv)
        .select(
            F.col("n_shards").cast("int").alias("n_shards"),
            F.col("shard").cast("int").alias("shard"),
            F.col("n_keys").cast("long").alias("n_keys"),
        )
        .orderBy("n_shards", "shard")
    )


# --------------------- 85. Merkle-style partition diff (incremental sync)

@q(
    "q282_partition_diff",
    """
    WITH v1 AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus AS st,
               strftime(o_orderdate, '%Y-%m') AS part
        FROM orders),
    v2 AS (
        SELECT k, CASE WHEN k % 997 = 0 THEN cents + 100 ELSE cents END
                   AS cents,
               st, part
        FROM v1),
    h1 AS (
        SELECT part,
               sum(('0x' || substr(md5(CAST(k AS VARCHAR) || ':'
                    || CAST(cents AS VARCHAR) || ':' || st), 1, 15))
                   ::BIGINT) AS checksum,
               count(*) AS n_rows
        FROM v1 GROUP BY 1),
    h2 AS (
        SELECT part,
               sum(('0x' || substr(md5(CAST(k AS VARCHAR) || ':'
                    || CAST(cents AS VARCHAR) || ':' || st), 1, 15))
                   ::BIGINT) AS checksum
        FROM v2 GROUP BY 1),
    touched AS (
        SELECT part, count(*) AS n_touched FROM v1
        WHERE k % 997 = 0 GROUP BY 1)
    SELECT h1.part,
           CAST(h1.n_rows AS BIGINT) AS n_rows,
           CAST(coalesce(t.n_touched, 0) AS BIGINT) AS n_touched
    FROM h1 JOIN h2 USING (part)
    LEFT JOIN touched t USING (part)
    WHERE h1.checksum <> h2.checksum
    ORDER BY h1.part
    """,
)
def q282_partition_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style partition diff — the primitive behind incremental
    replication/backfill: instead of comparing 100 TB row-by-row,
    each partition folds its rows into an ORDER-INDEPENDENT checksum
    (sum of per-row md5-prefix integers — commutative, so partition
    layout and task order can't change it), and only partitions whose
    checksums disagree get re-synced. The "new version" here bumps
    every 997th order by $1.00, so exactly the months containing such
    keys must surface, each with its touched-row count — a wrong
    row-hash, a dropped row, or a sum that overflows differently
    would all flip a checksum and fail the value hash. Scale shape:
    two scans (or one over a CDC feed), map-side-combined sums per
    partition, and the diff join runs on PARTITION-count rows. The
    63-bit prefix keeps the BIGINT sum far from wrap at any
    realistic partition size (2^63/2^60 ≈ 8 rows of headroom per
    hash bit — sums stay exact for < ~8k rows; DuckDB widens to
    HUGEINT, Spark to DECIMAL(38), so larger partitions stay exact
    too)."""
    orders = _t(spark, sf_dir, "orders")
    v1 = orders.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderstatus").alias("st"),
        F.date_format("o_orderdate", "yyyy-MM").alias("part"),
    )
    v2 = v1.withColumn(
        "cents",
        F.when(F.col("k") % 997 == 0, F.col("cents") + 100).otherwise(
            F.col("cents")
        ),
    )

    def rowhash(df):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("k").cast("string"),
                        F.col("cents").cast("string"),
                        F.col("st"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("decimal(38,0)")

    h1 = v1.groupBy("part").agg(
        F.sum(rowhash(v1)).alias("checksum"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    h2 = v2.groupBy("part").agg(F.sum(rowhash(v2)).alias("checksum2"))
    touched = (
        v1.filter(F.col("k") % 997 == 0)
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_touched"))
    )
    return (
        h1.join(h2, "part")
        .filter(F.col("checksum") != F.col("checksum2"))
        .join(touched, "part", "left")
        .select(
            "part",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.coalesce(F.col("n_touched"), F.lit(0))
            .cast("long")
            .alias("n_touched"),
        )
        .orderBy("part")
    )
