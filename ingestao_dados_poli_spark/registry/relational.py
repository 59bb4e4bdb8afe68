"""Core relational registry: joins, set ops, aggregation, window
basics, cleaning/locale — the reference-derived surface (SURVEY §2)
plus the engine's relational extensions (q01–q101).

Split out of the former monolithic queries.py (round 5) — every
block is verbatim; registration happens via the shared `q` decorator
from `._base`, so importing this module populates QUERIES/ORACLES.
"""

from ingestao_dados_poli_spark.operators.quantiles import exact_percentiles
from ingestao_dados_poli_spark.registry._base import *  # noqa: F401,F403



# ----------------------------------------------------------------- 1. flagship
# Gold-query shape (reference etl/4:26-96): fact ⋈ dim (broadcast) ⋈ dim,
# 2-key groupBy, avg/round/count aggregates.

@q(
    "q01_gold_flagship",
    """
    SELECT c_mktsegment, n_name,
           CAST(round(avg(o_totalprice), 2) AS DOUBLE) AS avg_order_value,
           CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS total_value,
           count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY c_mktsegment, n_name
    """,
)
def q01_gold_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    # dims broadcast: no shuffle of the orders fact for the joins; the
    # only shuffle is the final 2-key aggregation (partial agg map-side).
    enriched = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    return enriched.groupBy("c_mktsegment", "n_name").agg(
        F.round(F.avg("o_totalprice"), 2).alias("avg_order_value"),
        F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        F.count(F.lit(1)).alias("n_orders"),
    )



# ----------------------------------------------------------- 3. aggregation

@q(
    "q03_agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(l_quantity), 2) AS DOUBLE)        AS sum_qty,
           CAST(round(sum(l_extendedprice), 2) AS DOUBLE)   AS sum_base_price,
           CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(avg(l_quantity), 4) AS DOUBLE)        AS avg_qty,
           CAST(round(avg(l_extendedprice), 4) AS DOUBLE)   AS avg_price,
           CAST(round(avg(l_discount), 6) AS DOUBLE)        AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q03_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (partial+final HashAggregate; one shuffle on the
    2 grouping keys — reference A1-A3 analog, etl/4:84-91)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )



# ----------------------------------------------------------------- 4. joins

@q(
    "q04_join_brand_volume",
    """
    SELECT p_brand,
           CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def q04_join_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join fact⋈dim (reference J1, etl/4:26-28). part is the
    small side → broadcast; lineitem never shuffles for the join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )



@q(
    "q05_left_join_customer_orders",
    """
    SELECT c_mktsegment,
           count(o_orderkey) AS n_orders,
           count(*) AS n_rows,
           CAST(round(sum(coalesce(o_totalprice, 0)), 2) AS DOUBLE) AS total_value
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def q05_left_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join (reference J2, etl/4:43-57): customers without
    orders survive with null order columns."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.coalesce("o_totalprice", F.lit(0))), 2).alias("total_value"),
        )
    )



@q(
    "q06_semi_join",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    GROUP BY c_mktsegment
    """,
)
def q06_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (SURVEY §2.3 'free' operator the reference lacks)."""
    customer = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        R.semi_join(customer, big, customer.c_custkey == big.o_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )



@q(
    "q07_anti_join",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q07_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        R.anti_join(customer, orders, customer.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )



# ------------------------------------------------------------ 5. set ops

@q(
    "q08_union_align",
    """
    SELECT count(*) AS n_rows,
           count(c_acctbal) AS n_with_acctbal,
           count(c_mktsegment) AS n_with_segment
    FROM (
        SELECT c_custkey, c_name, c_acctbal, NULL AS c_mktsegment
        FROM customer WHERE c_custkey % 2 = 0
        UNION ALL
        SELECT c_custkey, c_name, NULL AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 2 = 1
    )
    """,
)
def q08_union_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift union (reference U1+P7, 0a:56-66): two frames with
    different column subsets unioned BY NAME with null padding."""
    customer = _t(spark, sf_dir, "customer")
    v1 = customer.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name", "c_acctbal")
    v2 = customer.filter(F.col("c_custkey") % 2 == 1).select("c_custkey", "c_name", "c_mktsegment")
    u = align_union([v1, v2])
    return u.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("c_acctbal").alias("n_with_acctbal"),
        F.count("c_mktsegment").alias("n_with_segment"),
    )



@q(
    "q09_distinct",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q09_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()



@q(
    "q10_intersect_except",
    """
    SELECT 'both' AS tag, count(*) AS n FROM (
        SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
    UNION ALL
    SELECT 'only_building' AS tag, count(*) AS n FROM (
        SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
    """,
)
def q10_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    b = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    a = customer.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_nationkey")
    both = b.intersect(a).agg(F.count(F.lit(1)).alias("n")).select(F.lit("both").alias("tag"), "n")
    only = b.subtract(a).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("only_building").alias("tag"), "n"
    )
    return both.unionByName(only)



# ---------------------------------------------------- 6. window / sort / topk

@q(
    "q11_global_topk",
    """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q11_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k → TakeOrderedAndProject (no full sort at any scale)."""
    orders = _t(spark, sf_dir, "orders")
    return R.top_k(
        orders.select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        10,
    )



@q(
    "q12_topk_per_group",
    """
    SELECT * FROM (
        SELECT c_mktsegment, o_orderkey,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders JOIN customer ON o_custkey = c_custkey)
    WHERE rn <= 3
    """,
)
def q12_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    joined = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey).select(
        "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return joined.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)



@q(
    "q13_window_running",
    """
    SELECT user_id, event_id,
           CAST(round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING), 4) AS DOUBLE) AS running_value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
    FROM events
    WHERE user_id < 50
    """,
)
def q13_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate window (SURVEY §2.7 — absent in reference,
    first-class here)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wr = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
        F.row_number().over(wr).alias("seq"),
    )



# ------------------------------------------------- 7. scalar / string layer

@q(
    "q14_string_clean",
    """
    SELECT p_partkey,
           upper(p_type) AS type_u,
           regexp_replace(p_name, ' ', '_', 'g') AS name_u,
           string_split(p_type, ' ')[1] AS type_head,
           length(p_name) AS name_len
    FROM part
    """,
)
def q14_string_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference F1/F6/F7 string layer: regexp_replace, split+getItem,
    upper — all single-Project, codegen'd."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_type").alias("type_u"),
        F.regexp_replace("p_name", " ", "_").alias("name_u"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_head"),
        F.length("p_name").cast("long").alias("name_len"),
    )



@q(
    "q15_remap_values",
    """
    SELECT CASE WHEN c_mktsegment IN ('BUILDING', 'AUTOMOBILE') THEN 'PHYSICAL'
                WHEN c_mktsegment = 'MACHINERY' THEN 'INDUSTRIAL'
                ELSE c_mktsegment END AS segment_group,
           count(*) AS n
    FROM customer GROUP BY 1
    """,
)
def q15_remap_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """when/isin conditional remap (reference F9, etl/4:36-38)."""
    customer = _t(spark, sf_dir, "customer")
    remapped = customer.withColumn(
        "segment_group",
        F.when(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"), "PHYSICAL")
        .when(F.col("c_mktsegment") == "MACHINERY", "INDUSTRIAL")
        .otherwise(F.col("c_mktsegment")),
    )
    return remapped.groupBy("segment_group").agg(F.count(F.lit(1)).alias("n"))



@q(
    "q16_locale_parse",
    """
    WITH ptbr AS (
        SELECT l_returnflag,
               replace(printf('%.2f', l_quantity), '.', ',') AS qty_str
        FROM lineitem)
    SELECT l_returnflag,
           CAST(round(sum(CAST(replace(replace(qty_str, '.', ''), ',', '.') AS DOUBLE)), 2) AS DOUBLE) AS sum_parsed,
           CAST(sum(CAST(trunc(CAST(replace(qty_str, ',', '.') AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_compat_int
    FROM ptbr GROUP BY l_returnflag
    """,
)
def q16_locale_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pt-BR decimal-comma parse (reference F5/F11/F12 + §2.10 compat):
    synthesize '24,50'-style strings from l_quantity, parse both ways."""
    li = _t(spark, sf_dir, "lineitem")
    comma_str = F.regexp_replace(F.format_string("%.2f", F.col("l_quantity")), r"\.", ",")
    parsed = parse_decimal_comma(comma_str)
    compat = compat_int_index(comma_str)
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(parsed), 2).alias("sum_parsed"),
        F.sum(compat.cast("long")).alias("sum_compat_int"),
    )



# ------------------------------------------------------------- 9. rollup

@q(
    "q18_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q18_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )



# ------------------------------------------------------------ 10. events

@q(
    "q19_tumbling_window",
    """
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q19_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling window = the streaming tumbling_counts plan run on
    a bounded source (same code path as streaming/stream_ops.py)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).cast("string").alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )



@q(
    "q20_sessionize",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                         - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged)
    SELECT user_id, session_id,
           count(*) AS n_events,
           CAST(min(ts) AS VARCHAR) AS session_start,
           CAST(max(ts) AS VARCHAR) AS session_end,
           CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
    FROM numbered GROUP BY user_id, session_id
    """,
)
def q20_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min idle gap) via lag + running sum —
    the SQL-expressible twin of the built-in session_window path (q104
    batch, q152 streaming via `stream_ops.session_window_counts`)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long") > 1800, 1
        ).otherwise(0),
    )
    numbered = flagged.withColumn("session_id", F.sum("new_session").over(wrun).cast("long"))
    return numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").cast("string").alias("session_start"),
        F.max("ts").cast("string").alias("session_end"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )



@q(
    "q21_json_extract",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def q21_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        (F.get_json_object("props", "$.k").cast("long") % 10).alias("k_bucket")
    ).agg(F.count(F.lit(1)).alias("n"))



@q(
    "q32_cube",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_price,
           count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q32_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over 2 keys (4 grouping sets in one shuffle — SURVEY §2.4)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )



@q(
    "q33_asof_join",
    """
    WITH p AS (SELECT user_id, event_id, ts, value FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, arg_max(value, event_id) AS click_value
               FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.user_id, p.event_id, CAST(p.ts AS VARCHAR) AS ts,
           CAST(round(p.value, 4) AS DOUBLE) AS value,
           CAST(c.ts AS VARCHAR) AS asof_ts,
           CAST(round(c.click_value, 4) AS DOUBLE) AS asof_click_value
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q33_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY §2.3 'not present' list): each purchase matched
    to the user's latest click at-or-before it. Union+window formulation —
    one shuffle on user_id, no range-join candidate explosion."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    joined = R.asof_join(
        purchases, clicks, key="user_id", right_cols=["click_value"]
    )
    return joined.select(
        "user_id",
        "event_id",
        F.col("ts").cast("string").alias("ts"),
        F.round("value", 4).alias("value"),
        F.col("asof_ts").cast("string").alias("asof_ts"),
        F.round("asof_click_value", 4).alias("asof_click_value"),
    )



# --------------------------------------------- 16. pivot / grouping sets

@q(
    "q36_pivot",
    """
    SELECT l_returnflag,
           CAST(round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS DOUBLE) AS F,
           CAST(round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS DOUBLE) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q36_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation). Pivot values are DECLARED, not
    discovered — at 100 TB discovery would be an extra full scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )



# ---------------------------------------------- 18. dates / percentiles

@q(
    "q41_date_parts",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           count(*) AS n_orders,
           CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS total
    FROM orders GROUP BY 1, 2
    """,
)
def q41_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-part aggregation (date/time functions — SURVEY §2.6
    'not present' list)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )



@q(
    "q42_percentiles",
    """
    SELECT l_returnflag,
           CAST(round(quantile_cont(l_quantity, 0.5), 4) AS DOUBLE) AS median_qty,
           CAST(round(quantile_cont(l_extendedprice, 0.9), 4) AS DOUBLE) AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q42_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`). The approx_percentile variant is the 100 TB path;
    exact is used here because it is oracle-checkable."""
    li = _t(spark, sf_dir, "lineitem")
    # l_quantity has ~50 distinct values: an exact histogram, one job
    qty = exact_percentiles(li, ["l_returnflag"], "l_quantity", [0.5], None)
    price = exact_percentiles(li, ["l_returnflag"], "l_extendedprice", [0.9], 64)
    return _lit_df(
        spark,
        "l_returnflag string, median_qty double, p90_price double",
        [(g[0], qty[g].values[0], price[g].values[0]) for g in qty],
    ).select(
        "l_returnflag",
        F.round(F.col("median_qty"), 4).alias("median_qty"),
        F.round(F.col("p90_price"), 4).alias("p90_price"),
    )



@q(
    "q43_argmax",
    """
    SELECT o_orderpriority,
           CAST(split_part(max(printf('%020.2f|%012d', o_totalprice, o_orderkey)),
                           '|', 2) AS BIGINT) AS top_orderkey,
           CAST(round(max(o_totalprice), 2) AS DOUBLE) AS top_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def q43_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by with a deterministic struct tie-break (price, then key).
    The oracle encodes the same ordering as a zero-padded sortable
    string (DuckDB 1.0 has no composite-key arg_max)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.max_by(
            "o_orderkey", F.struct("o_totalprice", "o_orderkey")
        ).alias("top_orderkey"),
        F.round(F.max("o_totalprice"), 2).alias("top_price"),
    )



@q(
    "q44_explode_words",
    """
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
    GROUP BY word HAVING count(*) >= 10
    """,
)
def q44_explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode/unnest (lateral array expansion — absent in reference)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 10)
    )



@q(
    "q45_string_agg",
    """
    SELECT l_linestatus,
           string_agg(DISTINCT l_returnflag, ',' ORDER BY l_returnflag) AS flags
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q45_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic string aggregation: sorted distinct set joined —
    collect_set order is nondeterministic, so sort before joining."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.array_join(F.array_sort(F.collect_set("l_returnflag")), ",").alias("flags")
    )



# ----------------------------------------------------- 21. range join

@q(
    "q48_range_join",
    """
    WITH bands(band, lo, hi) AS (
        VALUES ('xs', 0, 10), ('s', 10, 20), ('m', 20, 30),
               ('l', 30, 40), ('xl', 40, 60))
    SELECT band, count(*) AS n,
           CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS total
    FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
    GROUP BY band
    """,
)
def q48_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join against a tiny band dimension. The interval
    side broadcasts (BroadcastNestedLoopJoin) — the right physical plan
    for a literal-sized interval table; keyed range joins at scale go
    through range_join(partition_keys=...) instead."""
    li = _t(spark, sf_dir, "lineitem")
    bands = _lit_df(
        spark,
        "band string, lo long, hi long",
        [("xs", 0, 10), ("s", 10, 20), ("m", 20, 30), ("l", 30, 40), ("xl", 40, 60)],
    )
    joined = R.range_join(li, F.broadcast(bands), "l_quantity", "lo", "hi")
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("total"),
    )



# ------------------------------------------- 22. null-safe / bag / regex

@q(
    "q50_nullsafe_join",
    """
    WITH a AS (SELECT c_custkey,
                      CASE WHEN c_nationkey % 5 = 0 THEN NULL
                           ELSE c_nationkey END AS k
               FROM customer),
         b AS (SELECT n_nationkey,
                      CASE WHEN n_nationkey % 5 = 0 THEN NULL
                           ELSE n_nationkey END AS k,
                      n_name
               FROM nation)
    SELECT coalesce(CAST(a.k AS VARCHAR), 'NULL') AS join_key,
           count(*) AS n
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY 1
    """,
)
def q50_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (eqNullSafe == IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of dropping out — the semantics a
    conformed-entity-key join needs when cleaning can null a key."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    a = customer.select(
        "c_custkey",
        F.when(F.col("c_nationkey") % 5 == 0, None)
        .otherwise(F.col("c_nationkey"))
        .alias("k"),
    )
    b = nation.select(
        F.when(F.col("n_nationkey") % 5 == 0, None)
        .otherwise(F.col("n_nationkey"))
        .alias("k"),
        "n_name",
    )
    joined = a.join(F.broadcast(b), a["k"].eqNullSafe(b["k"]))
    return joined.groupBy(
        F.coalesce(a["k"].cast("string"), F.lit("NULL")).alias("join_key")
    ).agg(F.count(F.lit(1)).alias("n"))



@q(
    "q51_except_all",
    """
    SELECT l_returnflag, count(*) AS n FROM (
        SELECT l_returnflag FROM lineitem WHERE l_quantity < 30
        EXCEPT ALL
        SELECT l_returnflag FROM lineitem WHERE l_quantity < 10)
    GROUP BY l_returnflag
    """,
)
def q51_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics EXCEPT ALL (multiset difference keeps surplus
    multiplicity — distinct-based EXCEPT would collapse to ≤1 row)."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.filter(F.col("l_quantity") < 30).select("l_returnflag")
    narrow = li.filter(F.col("l_quantity") < 10).select("l_returnflag")
    return wide.exceptAll(narrow).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n")
    )



@q(
    "q52_regex_extract",
    """
    SELECT regexp_extract(p_name, '^([a-z]+) ([a-z]+)', 2) AS second_word,
           count(*) AS n
    FROM part GROUP BY 1 HAVING count(*) >= 5
    """,
)
def q52_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex group extraction (both engines: Java/RE2 agree on this
    pattern class; group 2 = second word)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.groupBy(
            F.regexp_extract("p_name", r"^([a-z]+) ([a-z]+)", 2).alias("second_word")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )



@q(
    "q54_repetition",
    """
    SELECT source,
           CAST(round(avg(CASE WHEN trim(text) = '' THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS DOUBLE)
                         / len(regexp_split_to_array(trim(text), '\\s+')) END), 6) AS DOUBLE) AS avg_repetition,
           count(*) AS n_docs
    FROM documents GROUP BY source
    """,
)
def q54_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal (1 - distinct/total tokens),
    averaged per source — high scores flag boilerplate or looping
    generations."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.round(F.avg(TX.repetition_ratio("text")), 6).alias("avg_repetition"),
        F.count(F.lit(1)).alias("n_docs"),
    )



@q(
    "q56_histogram",
    """
    SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bin,
           count(*) AS n,
           CAST(round(avg(o_totalprice), 2) AS DOUBLE) AS avg_price
    FROM orders GROUP BY 1
    """,
)
def q56_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning: pure scan-side arithmetic + one
    partial/final agg on a low-cardinality key — no pre-pass to find
    bounds, so it stays one shuffle at any scale."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy(
        F.floor(F.col("o_totalprice") / 25000).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )



@q(
    "q58_ntile",
    """
    WITH ranked AS (
        SELECT c_mktsegment, c_acctbal,
               CAST(ntile(4) OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
        FROM customer)
    SELECT c_mktsegment, quartile,
           CAST(round(avg(c_acctbal), 2) AS DOUBLE) AS avg_bal,
           count(*) AS n
    FROM ranked GROUP BY 1, 2
    """,
)
def q58_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quartile assignment per segment + per-quartile rollup.
    Tie-break on c_custkey makes the bucket assignment deterministic
    across engines (ntile splits ties by row order otherwise). One
    shuffle on the window partition key; the downstream agg reuses the
    same partitioning so no second exchange of the full data."""
    customer = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    ranked = customer.select(
        "c_mktsegment", "c_acctbal", F.ntile(4).over(w).alias("quartile")
    )
    return ranked.groupBy("c_mktsegment", "quartile").agg(
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
        F.count(F.lit(1)).alias("n"),
    )



@q(
    "q60_salted_join",
    """
    SELECT c_mktsegment,
           count(*) AS n_orders,
           CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS total_value
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q60_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join (relational.salted_join): same result
    as the plain join — the oracle IS the plain join — but each fact
    key is spread over 16 shuffle buckets with the dim replicated 16×,
    bounding the longest task at 1/16 of the hottest key. The
    reference's nome-join (etl/4:50) concentrates on a few big banks;
    this is the pattern that keeps it flowing when the dim is too big
    to broadcast. (Unit-tested in test_relational; registered here so
    the DuckDB oracle also certifies result parity end-to-end.)"""
    orders = _t(spark, sf_dir, "orders")
    customer = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumnRenamed("c_custkey", "o_custkey")
    )
    joined = R.salted_join(orders, customer, "o_custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_value"),
    )



@q(
    "q61_scalar_subquery",
    """
    SELECT o_orderpriority, count(*) AS n_above
    FROM orders
    WHERE o_totalprice > (SELECT round(avg(o_totalprice), 2) FROM orders)
    GROUP BY o_orderpriority
    """,
)
def q61_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery through the spark.sql entry point (DataFrame and
    SQL share Catalyst — SURVEY §3). The subquery plans as its own tiny
    agg job whose single-row result is injected as a literal, so the
    outer scan runs once with an ordinary pushable predicate. Threshold
    rounded to 2 dp in both engines so a borderline row can't flip on
    last-ulp avg differences."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_q61")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_above
        FROM orders_q61
        WHERE o_totalprice > (SELECT round(avg(o_totalprice), 2)
                              FROM orders_q61)
        GROUP BY o_orderpriority
        """
    )



@q(
    "q62_conditional_agg",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_discounted,
           CAST(round(sum(CASE WHEN l_tax > 0.04
                               THEN l_extendedprice ELSE 0 END), 2) AS DOUBLE)
               AS taxed_revenue,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q62_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional (filtered) aggregation — many metrics in ONE scan +
    one partial/final agg instead of one job per metric. This is how
    the reference's per-expectation validation jobs (etl/1:139-151, one
    Spark job each) collapse into a single pass, and the 100 TB answer
    to 'N metrics over the same fact table'."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0))
        .cast("long")
        .alias("n_discounted"),
        F.round(
            F.sum(
                F.when(F.col("l_tax") > 0.04, F.col("l_extendedprice")).otherwise(
                    0.0
                )
            ),
            2,
        ).alias("taxed_revenue"),
        F.count(F.lit(1)).alias("n"),
    )



@q(
    "q63_array_hof",
    """
    WITH per_row AS (
        SELECT label,
               len(list_filter(embedding, x -> x > 0)) AS n_pos,
               list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x))) AS l1
        FROM embeddings)
    SELECT label,
           CAST(sum(n_pos) AS BIGINT) AS total_pos,
           CAST(round(avg(l1), 2) AS DOUBLE) AS avg_l1,
           count(*) AS n
    FROM per_row GROUP BY label
    """,
)
def q63_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions (transform / filter / aggregate)
    over the embedding column — the declarative array surface, kept
    JVM-side (no Python UDF). Float components cast to double BEFORE
    the fold in both engines (float32 accumulation diverges); both
    engines fold the list in element order so the rounded sums match.
    NOTE (perf, see gotchas): Spark HOFs are interpreted (~µs/element)
    — fine for per-row reductions like this; bulk linear algebra goes
    through the Arrow/numpy kernels in functions/vectors.py (q26/q30)."""
    emb = _t(spark, sf_dir, "embeddings")
    row = emb.select(
        "label",
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_pos"),
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + F.abs(x),
        ).alias("l1"),
    )
    return row.groupBy("label").agg(
        F.sum("n_pos").cast("long").alias("total_pos"),
        F.round(F.avg("l1"), 2).alias("avg_l1"),
        F.count(F.lit(1)).alias("n"),
    )



# --------------------------------------------- 26. approximate aggregates

@q(
    "q64_approx_aggregates",
    """
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct_cust,
           TRUE AS acd_within_5pct,
           CAST(round(quantile_cont(o_totalprice, 0.5), 2) AS DOUBLE) AS exact_p50,
           TRUE AS approx_p50_within_5pct
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q64_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates — the 100 TB path for distinct counts and
    quantiles. approx_count_distinct (HyperLogLog++) and
    percentile_approx (KLL-style) are single-pass, partial-aggregatable,
    fixed-memory sketches; the exact variants (count_distinct's
    per-group de-dup shuffle, percentile's full value collection per
    group) are the thing they replace.

    Oracle contract: the EXACT columns must hash-match DuckDB
    (quantile_cont == F.percentile exactly); the approx values are
    engine-specific, so what crosses the oracle is a TOLERANCE CHECK —
    |approx − exact| / exact ≤ 5% — emitted as a boolean column that
    the oracle asserts as literal TRUE. The tolerance claim is thereby
    hash-checked, not just documented.

    Plan note (measured at sf0.1): putting count_distinct and the
    typed-imperative sketch aggregates (HLL, KLL, exact percentile) in
    ONE groupBy forces the distinct rewrite's Expand over the sketch
    buffers and drops the whole stage to sort-based aggregation —
    ~19 s. Two separate aggregations joined on the 5-row group key run
    hash-aggregated in ~2 s. At 100 TB only the approx half would ship;
    the exact half exists to feed the tolerance check."""
    orders = fan_out(_t(spark, sf_dir, "orders"))
    exact = orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("_exact_cd"),
        F.percentile("o_totalprice", F.lit(0.5)).alias("_p50"),
    )
    # Sketch precision sized to the CONTRACT, not beyond it (r07): the
    # approx values cross the oracle only as within-5% booleans, so
    # accuracy 10000 / rsd 0.01 bought precision the query throws away
    # (guide §1.2 "don't compute things you throw away"). KLL accuracy
    # 2000 still bounds rank error to 0.05% of n; HLL rsd 0.02 keeps
    # expected error 2.5x inside the 5% line (verified TRUE at
    # sf0.001/0.01/0.1 — deterministic hashing, fixed data). Measured
    # ~2x on the sketch agg stage's executor time.
    approx = orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("_acd"),
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(2000)).alias("_ap50"),
    )
    agg = exact.join(approx, "o_orderpriority")
    return agg.select(
        "o_orderpriority",
        F.col("_exact_cd").cast("long").alias("exact_distinct_cust"),
        (
            F.abs(F.col("_acd") - F.col("_exact_cd")) / F.col("_exact_cd") <= 0.05
        ).alias("acd_within_5pct"),
        F.round("_p50", 2).alias("exact_p50"),
        (
            F.abs(F.col("_ap50") - F.col("_p50")) / F.col("_p50") <= 0.05
        ).alias("approx_p50_within_5pct"),
    )



# ---------------------------------- 28. TF-IDF / upsert / column profile

@q(
    "q66_tfidf_top_terms",
    """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    scored AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tfidf,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term
               ) AS rnk
        FROM scored
    )
    SELECT doc_id, term,
           CAST(round(tfidf, 6) AS DOUBLE) AS tfidf,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE doc_id < 10 AND rnk <= 3
    """,
)
def q66_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top terms per document — the classic text-relevance
    feature, all JVM built-ins. Corpus-wide stats (N, per-term document
    frequency) come from two aggregations; the df table is
    VOCABULARY-sized (Heaps' law: ~1M terms at 100 TB), so it
    broadcasts into the tf join — the big tf frame never shuffles for
    the join, only for its own groupBy. Output limited to doc_id < 10
    AFTER ranking so the oracle checks the full-corpus math."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.select(F.count_distinct("doc_id").alias("n_docs"))
    dfreq = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter((F.col("doc_id") < 10) & (F.col("rnk") <= 3))
        .select(
            "doc_id",
            "term",
            F.round("tfidf", 6).alias("tfidf"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )



@q(
    "q67_merge_upsert",
    """
    WITH updates AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 1.1, 2) AS DOUBLE) AS new_price
        FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN u.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_updated,
           CAST(round(sum(coalesce(u.new_price, o.o_totalprice)), 2) AS DOUBLE)
               AS total_price
    FROM orders o LEFT JOIN updates u ON o.o_orderkey = u.o_orderkey
    """,
)
def q67_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-1 upsert via relational.merge_upsert (union + per-key
    latest-wins window — the table-format-free MERGE INTO): 1% of
    orders get a repriced update row; the merge must keep exactly the
    updated version for those keys and the base row elsewhere. The
    oracle expresses the same result declaratively (left join +
    coalesce), so the window formulation is hash-checked against it."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_totalprice").withColumn("_version", F.lit(0))
    updates = (
        orders.filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice"),
        )
        .withColumn("_version", F.lit(1))
    )
    merged = R.merge_upsert(base, updates, ["o_orderkey"], "_version")
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("_version") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_updated"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )



@q(
    "q77_cdc_keep_latest",
    """
    SELECT user_id, event_id,
           CAST(ts AS VARCHAR) AS last_ts,
           CAST(round(value, 2) AS DOUBLE) AS last_value
    FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE user_id < 500)
    WHERE rn = 1
    """,
)
def q77_cdc_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: latest event per entity via the deterministic
    keep-first operator with a descending order — the snapshot-from-
    changelog pattern. One shuffle on user_id; at 100 TB the window
    state is one row per task-resident key (no collect_list)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 500)
    latest = R.dedup_keep_first(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return latest.select(
        "user_id",
        "event_id",
        F.col("ts").cast("string").alias("last_ts"),
        F.round("value", 2).alias("last_value"),
    )



@q(
    "q73_zscore_anomaly",
    """
    WITH st AS (
        SELECT event_type,
               round(avg(value), 6) AS mu,
               round(stddev_samp(value), 6) AS sd
        FROM events GROUP BY 1),
    z AS (
        SELECT e.event_type,
               round((e.value - st.mu) / st.sd, 2) AS zscore
        FROM events e JOIN st ON e.event_type = st.event_type)
    SELECT event_type,
           count(*) AS n_anomalies,
           CAST(round(max(abs(zscore)), 2) AS DOUBLE) AS max_abs_z
    FROM z WHERE abs(zscore) > 3.0
    GROUP BY event_type
    """,
)
def q73_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly gate: per-key mean/stddev (one agg), broadcast
    the tiny stats table back onto the stream of events, flag |z| > 3.
    Stats are rounded to 6 dp BEFORE the z computation and z to 2 dp
    before the cut, so engine summation-order noise can't flip a
    borderline row. The fact table is scanned twice but shuffled only
    for the per-type agg (stats join is broadcast)."""
    ev = _t(spark, sf_dir, "events")
    st = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_samp("value"), 6).alias("sd"),
    )
    z = ev.join(F.broadcast(st), "event_type").select(
        "event_type",
        F.round((F.col("value") - F.col("mu")) / F.col("sd"), 2).alias("zscore"),
    )
    return (
        z.filter(F.abs("zscore") > 3.0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_anomalies"),
            F.round(F.max(F.abs("zscore")), 2).alias("max_abs_z"),
        )
    )


@q("q74_sql_api_parity", _Q74_SQL.format(table="orders"))
def q74_sql_api_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL front door: the SAME SQL text the DuckDB oracle
    runs is executed through spark.sql() over a temp view — proving the
    declarative surface, not just the DataFrame API. Catalyst compiles
    the rank-filter to a per-group top-k (WindowGroupLimit), so the
    shuffle carries at most 3 rows per priority per map task."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("q74_orders")
    return spark.sql(_Q74_SQL.format(table="q74_orders"))



# ----------------------------------- 36. corpus prep: deterministic split

@q(
    "q83_hash_split",
    """
    WITH b AS (
        SELECT source,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 4096 AS bucket
        FROM documents)
    SELECT CASE WHEN bucket < 3277 THEN 'train'
                WHEN bucket < 3687 THEN 'val'
                ELSE 'test' END AS split,
           source, count(*) AS n_docs
    FROM b GROUP BY 1, 2
    """,
)
def q83_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-bucket train/val/test split (80/10/10): a
    row's split is a pure function of its id — stable under reruns,
    appends, and engine changes, unlike randomSplit. Scan-side hash +
    CASE, no shuffle before the count agg. The oracle recomputes the
    identical md5 buckets in DuckDB, proving cross-engine split
    reproducibility (the property that matters for 100 TB backfills)."""
    docs = _t(spark, sf_dir, "documents")
    out = CO.hash_split(
        docs,
        id_col="doc_id",
        splits={"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return out.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )



# ----------------------------------------- 41. window: lag / delta

@q(
    "q88_lag_delta",
    """
    WITH daily AS (
        SELECT CAST(CAST(date_trunc('day', o_orderdate) AS TIMESTAMP)
                    AS VARCHAR) AS day,
               CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS daily_total
        FROM orders GROUP BY 1)
    SELECT day, daily_total,
           lag(daily_total) OVER (ORDER BY day) AS prev_total,
           CAST(round(daily_total
                      - coalesce(lag(daily_total) OVER (ORDER BY day),
                                 daily_total), 2) AS DOUBLE) AS delta
    FROM daily
    """,
)
def q88_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day revenue delta via lag() — the lead/lag window
    family (q13 covers running sums, q20 session gaps). The global
    ORDER BY window is over the DAILY aggregate (≤ a few thousand
    rows at any corpus size), not the fact table — aggregate first,
    window second, so the single-task window stage is bounded."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("string").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("daily_total"))
    # INVARIANT (pinned by test_global_windows_are_post_aggregation):
    # this unpartitioned window's input is the daily aggregate —
    # |rows| = |distinct days|, bounded by calendar span, not data size.
    w = Window.orderBy("day")
    prev = F.lag("daily_total").over(w)
    return daily.select(
        "day",
        "daily_total",
        prev.alias("prev_total"),
        F.round(
            F.col("daily_total") - F.coalesce(prev, F.col("daily_total")), 2
        ).alias("delta"),
    )



# ------------------------------- 43. mergeable sketch rollup (HLL)

@q(
    "q90_hll_rollup",
    """
    SELECT source,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS exact_distinct_fp,
           TRUE AS hll_within_5pct
    FROM documents
    GROUP BY source
    """,
)
def q90_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the continuous-aggregate primitive at
    100 TB: build Datasketches HLL sketches at FINE grain
    (source × lang), then roll up to source by merging SKETCH STATE
    (hll_union_agg) without re-touching rows. A real pipeline persists
    the fine-grain sketch table and answers any coarser distinct-count
    from it; appending a day merges one new sketch row per group
    instead of rescanning history. Oracle contract (q64 pattern): the
    exact distinct count hash-matches DuckDB and the HLL estimate
    crosses as a |approx−exact|/exact ≤ 5% boolean asserted literal
    TRUE — HLL register state is a max over hashes, so the estimate is
    order-insensitive and the boolean deterministic."""
    docs = _t(spark, sf_dir, "documents").withColumn("fp", F.md5("text"))
    fine = docs.groupBy("source", "lang").agg(
        F.hll_sketch_agg("fp", F.lit(12)).alias("sk")
    )
    rolled = fine.groupBy("source").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_approx")
    )
    exact = docs.groupBy("source").agg(
        F.count_distinct("fp").alias("exact_distinct_fp")
    )
    return exact.join(rolled, "source").select(
        "source",
        F.col("exact_distinct_fp").cast("long").alias("exact_distinct_fp"),
        (
            F.abs(F.col("_approx") - F.col("exact_distinct_fp"))
            / F.col("exact_distinct_fp")
            <= 0.05
        ).alias("hll_within_5pct"),
    )



# ------------------------------------------ 46. EWMA (exact window math)

@q(
    "q93_ewma",
    """
    WITH base AS (
        SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
               round(sum(o_totalprice), 2) AS x
        FROM orders JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    ), seq AS (
        SELECT n_name, yr, x,
               CAST(round(x * 100) AS BIGINT) AS xc,
               row_number() OVER (PARTITION BY n_name ORDER BY yr) AS t,
               first_value(CAST(round(x * 100) AS BIGINT)) OVER (
                   PARTITION BY n_name ORDER BY yr) AS x1c
        FROM base
    ), cum AS (
        SELECT n_name, yr, x, t, x1c,
               sum(xc * CAST(power(2.0, t) AS BIGINT)) OVER (
                   PARTITION BY n_name ORDER BY yr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u
        FROM seq
    )
    SELECT n_name, yr, CAST(x AS DOUBLE) AS yearly_revenue,
           CAST(round(power(0.5, t) * (0.5 * CAST(u AS DOUBLE) + x1c))
                / 100.0 AS DOUBLE) AS ewma
    FROM cum
    """,
)
def q93_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average over a per-group time
    series, in PURE window algebra — no UDF, no recursion, no
    driver loop. The recurrence e_t = a*x_t + (1-a)*e_(t-1) has the
    closed form e_t = (1-a)^t * (a*U_t + x_1) with
    U_t = cumsum(x_k * (1-a)^(-k)), i.e. one row_number, one
    first_value, one cumulative sum — all partial-aggregatable window
    ops that scale to any number of groups. a = 0.5 makes every
    rescale an EXACT power-of-two multiply, and the cumsum runs over
    INTEGER CENTS (x*100*2^t, ~1e12 max, well under 2^53) so every
    intermediate is an exact dyadic rational — Spark and DuckDB agree
    bitwise (DuckDB's segment-tree window sum reorders float adds, so
    a double cumsum would straddle rounding boundaries) and the
    oracle hash-checks the math, not a tolerance. The final round
    also happens IN CENTS: rounding after /100 would hit half-cent
    boundaries where Spark's shortest-string HALF_UP round and
    DuckDB's true-binary-value round legitimately disagree."""
    a = 0.5
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    base = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(nation, customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("yr"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("x"))
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    xc = F.round(F.col("x") * 100).cast("long")
    seq = base.select(
        "n_name", "yr", "x",
        xc.alias("xc"),
        F.row_number().over(w).alias("t"),
        F.first(xc).over(w).alias("x1c"),
    )
    cum = seq.withColumn(
        "u",
        F.sum(
            (F.col("xc") * F.pow(F.lit(2.0), F.col("t"))).cast("long")
        ).over(wc),
    )
    return cum.select(
        "n_name",
        "yr",
        F.col("x").alias("yearly_revenue"),
        (
            F.round(
                F.pow(F.lit(1 - a), F.col("t"))
                * (a * F.col("u") + F.col("x1c")),
                0,
            )
            / 100.0
        ).alias("ewma"),
    )



# ---------------------------- 49. VARIANT semi-structured access (Spark 4)

@q(
    "q96_variant_extract",
    """
    WITH j AS (
        SELECT json_object(
                   'type', event_type,
                   'm', json_object('uid', user_id, 'v', value),
                   'p', json(props)) AS v
        FROM events
    )
    SELECT v->>'$.type' AS etype,
           count(*) AS n,
           CAST(sum(CAST(v->>'$.p.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(round(sum(CAST(v->>'$.m.v' AS DOUBLE)), 2) AS DOUBLE) AS sum_v,
           CAST(count(v->'$.absent') AS BIGINT) AS n_absent
    FROM j GROUP BY 1
    """,
)
def q96_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type: build a
    nested document per event, `parse_json` it ONCE into the binary
    variant encoding, then extract typed paths with `variant_get` /
    `try_variant_get` (the latter returns null on a missing path
    instead of throwing — counted here to prove the contract). At
    100 TB this is the schema-on-read path for heterogeneous event
    payloads: variant decode happens once per row at scan, path reads
    are binary offset lookups (no per-access JSON re-parse), and the
    whole pipeline stays codegen — contrast q21's per-call
    get_json_object string parsing. Oracle mirrors the same nested
    doc with DuckDB's JSON type."""
    # fan_out: the per-row to_json -> parse_json variant encode is the
    # dominant cost and otherwise runs on the single under-split scan
    # task (§2.5; no-op on already-parallel sources).
    ev = fan_out(
        _t(spark, sf_dir, "events").select("event_type", "user_id", "value", "props")
    )
    v = F.parse_json(
        F.to_json(
            F.struct(
                F.col("event_type").alias("type"),
                F.struct(
                    F.col("user_id").alias("uid"),
                    F.col("value").alias("v"),
                ).alias("m"),
                F.from_json("props", "k LONG").alias("p"),
            )
        )
    )
    doc = ev.select(v.alias("v"))
    return doc.groupBy(
        F.variant_get("v", "$.type", "string").alias("etype")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.variant_get("v", "$.p.k", "bigint")).alias("sum_k"),
        F.round(F.sum(F.variant_get("v", "$.m.v", "double")), 2).alias("sum_v"),
        F.count(F.try_variant_get("v", "$.absent", "bigint")).alias("n_absent"),
    )



# --------------------- 52. grouped linear regression (regr_* aggregates)

@q(
    "q99_grouped_regression",
    """
    SELECT o_orderpriority,
           CAST(regr_count(o_totalprice,
                CAST(datediff('day', DATE '1970-01-01',
                     CAST(o_orderdate AS DATE)) AS DOUBLE)) AS BIGINT) AS n,
           CAST(round(regr_slope(o_totalprice,
                CAST(datediff('day', DATE '1970-01-01',
                     CAST(o_orderdate AS DATE)) AS DOUBLE)), 4) AS DOUBLE) AS slope,
           CAST(round(regr_intercept(o_totalprice,
                CAST(datediff('day', DATE '1970-01-01',
                     CAST(o_orderdate AS DATE)) AS DOUBLE)), 2) AS DOUBLE) AS intercept,
           CAST(round(regr_r2(o_totalprice,
                CAST(datediff('day', DATE '1970-01-01',
                     CAST(o_orderdate AS DATE)) AS DOUBLE)), 6) AS DOUBLE) AS r2
    FROM orders GROUP BY 1
    """,
)
def q99_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS drift fit with the SQL-standard regr_* aggregate
    family (Spark 3.5+ built-ins, single HashAggregate — no collect, no
    UDF, no per-group pandas): slope/intercept/r2 of order value over
    time per priority class. The 100 TB shape is identical to any
    grouped sum: map-side partial moments, one shuffle on the group
    key."""
    o = _t(spark, sf_dir, "orders")
    x = F.unix_date(F.to_date("o_orderdate")).cast("double")
    y = F.col("o_totalprice")
    return o.groupBy("o_orderpriority").agg(
        F.regr_count(y, x).alias("n"),
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 2).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )



# --------------------- 53. time-RANGE rolling window (not rows-based)

@q(
    "q100_rolling_time_avg",
    """
    SELECT event_id, user_id,
           CAST(round(avg(value) OVER (
                PARTITION BY user_id
                ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ), 4) AS DOUBLE) AS rolling_avg_1h
    FROM events WHERE user_id < 100
    """,
)
def q100_rolling_time_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing one-HOUR average per user via a RANGE window frame over
    epoch seconds — time-based frames (unlike q13's rowsBetween) keep
    their meaning under irregular event spacing, and RANGE includes all
    peers of a tied timestamp so the result is deterministic. Scale
    shape: one shuffle on user_id; frames evaluate inside the sorted
    partition with no self-join (contrast the naive
    events-x-events-within-1h formulation)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    ev = ev.withColumn("_sec", F.col("ts").cast("long"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("_sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 4).alias("rolling_avg_1h"),
    )



# --------------------- 54. URL parsing (parse_url builtin)

@q(
    "q101_url_parse",
    """
    WITH u AS (
      SELECT printf('https://%s.example.com/%s/%d?ref=%s',
                    source, lang, doc_id, source) AS url
      FROM documents
    ),
    p AS (
      SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS host,
             regexp_extract(url, 'https?://[^/?]+(/[^?]*)', 1) AS path,
             regexp_extract(url, '[?&]ref=([^&]*)', 1) AS ref
      FROM u
    )
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
           CAST(count(DISTINCT ref) AS BIGINT) AS n_refs
    FROM p GROUP BY 1
    """,
)
def q101_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition with the parse_url builtin (HOST / PATH /
    QUERY-key extraction, JVM-side codegen — the crawl-pipeline
    primitive for per-domain grouping and ref-tag hygiene), then a
    per-host rollup. URLs are synthesized deterministically from
    document attributes since the corpus has none; the oracle parses
    the same URLs with regex. Scale shape: pure scan-side string ops +
    one grouped agg on host."""
    docs = _t(spark, sf_dir, "documents")
    u = docs.select(
        F.format_string(
            "https://%s.example.com/%s/%d?ref=%s",
            F.col("source"),
            F.col("lang"),
            F.col("doc_id"),
            F.col("source"),
        ).alias("url")
    )
    p = u.select(
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("ref")).alias("ref"),
    )
    return p.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("path").alias("n_paths"),
        F.countDistinct("ref").alias("n_refs"),
    )


