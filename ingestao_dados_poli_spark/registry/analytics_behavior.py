"""Analytic registry (behavioral slice): EXISTS-gated counts,
revenue/promo shares, pipelines, rollups, UD(A)Fs, sketch algebra and
data-profiling suites (q165-q239).

Split out of registry/analytics.py in round 6 — it had regrown past
the round-4 "no registry module >2,500 lines" line; every block is
verbatim. Registration happens via the shared `q` decorator from
`._base`, so importing this module populates QUERIES/ORACLES.
"""

from ingestao_dados_poli_spark.operators.quantiles import exact_percentiles
from ingestao_dados_poli_spark.registry._base import *  # noqa: F401,F403

# ------------- 107. EXISTS-gated priority count (TPC-H Q4 shape)

@q(
    "q165_priority_count",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o_orderdate >= DATE '1997-01-01'
      AND o_orderdate < DATE '1997-04-01'
      AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q165_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4's shape: orders in a quarter having at least one line
    shipped after the order date, counted per priority. The correlated
    EXISTS with a cross-table comparison becomes a left_semi join with
    compound condition (equi on orderkey + the l_shipdate >
    o_orderdate residual) — semi join means the fact side's multiple
    matching lines can't double-count an order, and the quarter filter
    pushes into the orders scan before the join."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    gated = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return gated.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )



# ------------- 108. returned-revenue customer ranking (TPC-H Q10 shape)

@q(
    "q166_returned_revenue_topk",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= DATE '1997-01-01'
      AND o.o_orderdate < DATE '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
)
def q166_returned_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers who returned the most revenue in a quarter
    — 4-table join with the date filter pushed to orders, the 'R' flag
    pushed to lineitem, nation broadcast, and the final top-20 via
    TakeOrderedAndProject (rounded-revenue + custkey tie-break so
    float noise can't flip rank 20 across engines)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    agg = j.groupBy("c_custkey", "c_name", "n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(20)



# ------------- 109. conditional revenue share (TPC-H Q14 shape)

@q(
    "q167_promo_share",
    """
    SELECT CAST(round(
             100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS DOUBLE)
               AS promo_share_pct,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= DATE '1997-03-01'
      AND l.l_shipdate < DATE '1997-04-01'
    GROUP BY ALL
    """,
)
def q167_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for one month — the
    conditional-aggregate ratio computed in a SINGLE pass (sum(CASE)
    over the same scan, never two filtered subqueries joined back),
    with the month filter pushed to the lineitem scan and part
    broadcast. The ratio divides unrounded sums and rounds once at the
    end — rounding the numerator and denominator separately is the
    classic cross-engine parity bug."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01")
        & (F.col("l_shipdate") < "1997-04-01")
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type").like("PROMO%"), net).otherwise(0.0))
            / F.sum(net),
            4,
        ).alias("promo_share_pct"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )



# ------------- 110. declarative pipeline end-to-end (zone hop as data)

@q(
    "q168_pipeline_end_to_end",
    """
    WITH silver AS (
        SELECT doc_id, source,
               len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')),
                   ' ')) AS n_tokens
        FROM documents WHERE n_chars >= 50)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM silver GROUP BY source
    """,
)
def q168_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declarative zone hop (`plans/pipeline.py`) run END TO END
    inside the oracle gate: Source(parquet) → transforms (length gate,
    whitespace normalize, token count) → Sink(parquet) with the quality
    suite observed on that same write → read the written zone back
    and aggregate. What the oracle certifies is the whole hop —
    config-described steps compile to one Catalyst plan, the suite
    passes, and the SINK's bytes (not the in-memory frame) carry
    exactly the transformed population. The reference's notebook hop
    (etl/1:44-186) as six lines of configuration."""
    import shutil as _shutil

    from ingestao_dados_poli_spark.plans.pipeline import (
        Pipeline,
        Sink,
        Source,
    )
    from ingestao_dados_poli_spark.quality import Suite, not_null

    base = _scratch_dir("q168_pipe", sf_dir)
    _shutil.rmtree(base, ignore_errors=True)
    out = base + "/silver"

    def gate(df: DataFrame) -> DataFrame:
        return df.filter(F.col("n_chars") >= 50)

    def tokenize(df: DataFrame) -> DataFrame:
        norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
        return df.select(
            "doc_id", "source",
            F.size(F.split(norm, " ")).alias("n_tokens"),
        )

    pipe = Pipeline(
        name="docs_silver",
        source=Source(path=f"{sf_dir}/documents.parquet"),
        transforms=[gate, tokenize],
        suite=Suite("docs_silver", [not_null("doc_id"), not_null("n_tokens")]),
        sink=Sink(path=out, target_file_partitions=4),
    )
    report = pipe.run(spark)
    assert report["validation"]["success"], report
    silver = spark.read.parquet(out)
    return silver.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )



# ------------- 111. calendar-hierarchy rollup with grouping_id

@q(
    "q169_time_hierarchy_rollup",
    """
    SELECT coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS yr,
           coalesce(CAST(quarter(o_orderdate) AS VARCHAR), 'ALL') AS qtr,
           CAST(GROUPING(year(o_orderdate)) * 2
                + GROUPING(quarter(o_orderdate)) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), quarter(o_orderdate))
    """,
)
def q169_time_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-hierarchy rollup (year → quarter → grand total) with
    grouping_id disambiguation: a NULL produced by the rollup's
    subtotal levels is NOT a NULL in the data — GROUPING()/grouping_id
    is the only correct discriminator, surfaced here as the gid column
    and used to label subtotal rows 'ALL'. One Expand + one shuffle —
    the rollup never rescans per level."""
    orders = _t(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    qtr = F.quarter("o_orderdate")
    return (
        orders.rollup(yr.alias("y"), qtr.alias("q"))
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce(F.col("y").cast("string"), F.lit("ALL")).alias("yr"),
            F.coalesce(F.col("q").cast("string"), F.lit("ALL")).alias("qtr"),
            "gid", "n_orders", "total",
        )
    )



# ------------- 112. array set algebra on aggregated sets

@q(
    "q170_array_set_ops",
    """
    WITH h1 AS (
        SELECT o_custkey, list_sort(list_distinct(list(o_orderpriority)))
                   AS p1
        FROM orders WHERE o_orderdate < DATE '1997-01-01'
        GROUP BY o_custkey),
    h2 AS (
        SELECT o_custkey, list_sort(list_distinct(list(o_orderpriority)))
                   AS p2
        FROM orders WHERE o_orderdate >= DATE '1997-01-01'
        GROUP BY o_custkey),
    j AS (
        SELECT coalesce(h1.o_custkey, h2.o_custkey) AS o_custkey,
               coalesce(p1, []) AS p1, coalesce(p2, []) AS p2
        FROM h1 FULL OUTER JOIN h2 ON h1.o_custkey = h2.o_custkey)
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(len(list_intersect(p1, p2))) AS BIGINT) AS common,
           CAST(sum(len(list_filter(p1, x -> NOT list_contains(p2, x))))
                AS BIGINT) AS dropped,
           CAST(sum(len(list_filter(p2, x -> NOT list_contains(p1, x))))
                AS BIGINT) AS gained
    FROM j
    """,
)
def q170_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra over AGGREGATED sets: each customer's distinct
    order-priority set before/after a date split, then intersect /
    except in-row to measure behavior change (common, dropped, gained
    priorities). collect_set builds the sets in the grouped agg (one
    shuffle per period), the set ops run in-row with no further
    shuffle, and the full-outer join on the hash-uniform key aligns
    the two periods. The per-customer set-valued state stays bounded
    by the domain (5 priorities), the property that makes
    collect_set-based profiles safe at scale."""
    orders = _t(spark, sf_dir, "orders")
    before = (
        orders.filter(F.col("o_orderdate") < "1997-01-01")
        .groupBy("o_custkey")
        .agg(F.array_sort(F.collect_set("o_orderpriority")).alias("p1"))
    )
    after = (
        orders.filter(F.col("o_orderdate") >= "1997-01-01")
        .groupBy("o_custkey")
        .agg(F.array_sort(F.collect_set("o_orderpriority")).alias("p2"))
    )
    j = before.join(after, "o_custkey", "full_outer").select(
        F.coalesce(F.col("p1"), F.array().cast("array<string>")).alias("p1"),
        F.coalesce(F.col("p2"), F.array().cast("array<string>")).alias("p2"),
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.size(F.array_intersect("p1", "p2"))).cast("long").alias("common"),
        F.sum(F.size(F.array_except("p1", "p2"))).cast("long").alias("dropped"),
        F.sum(F.size(F.array_except("p2", "p1"))).cast("long").alias("gained"),
    )



# ------------- 114. equi-depth histogram (quantile-bounded profiling)

@q(
    "q172_equidepth_histogram",
    """
    WITH b AS (
        SELECT round(quantile_cont(o_totalprice, 0.25), 2) AS b1,
               round(quantile_cont(o_totalprice, 0.50), 2) AS b2,
               round(quantile_cont(o_totalprice, 0.75), 2) AS b3
        FROM orders)
    SELECT CAST(sum(CASE WHEN o_totalprice <= b1 THEN 1 ELSE 0 END)
                AS BIGINT) AS q1_n,
           CAST(sum(CASE WHEN o_totalprice > b1 AND o_totalprice <= b2
                         THEN 1 ELSE 0 END) AS BIGINT) AS q2_n,
           CAST(sum(CASE WHEN o_totalprice > b2 AND o_totalprice <= b3
                         THEN 1 ELSE 0 END) AS BIGINT) AS q3_n,
           CAST(sum(CASE WHEN o_totalprice > b3 THEN 1 ELSE 0 END)
                AS BIGINT) AS q4_n,
           CAST(max(b1) AS DOUBLE) AS b1,
           CAST(max(b2) AS DOUBLE) AS b2,
           CAST(max(b3) AS DOUBLE) AS b3
    FROM orders, b
    """,
)
def q172_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bounded) histogram — the profiling shape
    optimizers and drift monitors want when fixed-width bins (q56)
    would dump 90% of a skewed column into one bucket. Exact quartile
    boundaries in one aggregate pass, broadcast back as a 1-row
    literal, bucket membership as sum(CASE) in a second pass — two
    passes total, no per-row window. Boundaries are rounded to the
    data's own 2-decimal grain in BOTH engines before classification,
    making the bucket edges ulp-insensitive (linear-interpolation
    quantiles are engine-deterministic but not bit-promised). The
    100 TB variant swaps percentile for percentile_approx and accepts
    the documented rank error (q64's trade, same shape)."""
    orders = _t(spark, sf_dir, "orders")
    # one array-percentile call: scalar percentile() aggs each keep
    # and sort their own buffer; the array form sorts once (q217's fix)
    pct = F.percentile(
        "o_totalprice", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))
    )
    b = orders.agg(pct.alias("_p")).select(
        F.round(F.get("_p", 0), 2).alias("b1"),
        F.round(F.get("_p", 1), 2).alias("b2"),
        F.round(F.get("_p", 2), 2).alias("b3"),
    )
    j = orders.crossJoin(F.broadcast(b))
    v = F.col("o_totalprice")
    return j.agg(
        F.sum(F.when(v <= F.col("b1"), 1).otherwise(0)).cast("long").alias("q1_n"),
        F.sum(F.when((v > F.col("b1")) & (v <= F.col("b2")), 1).otherwise(0))
        .cast("long")
        .alias("q2_n"),
        F.sum(F.when((v > F.col("b2")) & (v <= F.col("b3")), 1).otherwise(0))
        .cast("long")
        .alias("q3_n"),
        F.sum(F.when(v > F.col("b3"), 1).otherwise(0)).cast("long").alias("q4_n"),
        F.max("b1").alias("b1"),
        F.max("b2").alias("b2"),
        F.max("b3").alias("b3"),
    )



# ------------- 115. per-group winsorization (outlier capping)

@q(
    "q173_winsorize",
    """
    WITH caps AS (
        SELECT o_orderpriority,
               round(quantile_cont(o_totalprice, 0.05), 2) AS lo,
               round(quantile_cont(o_totalprice, 0.95), 2) AS hi
        FROM orders GROUP BY o_orderpriority)
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN o.o_totalprice < c.lo
                         OR o.o_totalprice > c.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_capped,
           CAST(round(sum(least(greatest(o.o_totalprice, c.lo), c.hi)), 2)
                AS DOUBLE) AS winsorized_sum
    FROM orders o JOIN caps c ON o.o_orderpriority = c.o_orderpriority
    GROUP BY o.o_orderpriority
    """,
)
def q173_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization — the robust-statistics data-cleaning
    primitive (cap each group's values at its own p05/p95 instead of
    deleting outliers): per-group caps in ONE grouped percentile pass,
    broadcast join back (group count is small by definition), clamp
    in-row with least/greatest. Caps round to the data's 2-decimal
    grain in both engines (same ulp-insensitivity argument as q172).
    Never a per-row window over the full table — the caps table is the
    only state that moves."""
    orders = _t(spark, sf_dir, "orders")
    caps = (
        orders.groupBy("o_orderpriority")
        .agg(
            F.percentile(
                "o_totalprice", F.array(F.lit(0.05), F.lit(0.95))
            ).alias("_p")
        )
        .select(
            "o_orderpriority",
            F.round(F.get("_p", 0), 2).alias("lo"),
            F.round(F.get("_p", 1), 2).alias("hi"),
        )
    )
    j = orders.join(F.broadcast(caps), "o_orderpriority")
    v = F.col("o_totalprice")
    clamped = F.least(F.greatest(v, F.col("lo")), F.col("hi"))
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when((v < F.col("lo")) | (v > F.col("hi")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_capped"),
        F.round(F.sum(clamped), 2).alias("winsorized_sum"),
    )



# ------------- 116. observe() in-flight metrics (monitoring surface)

@q(
    "q174_observed_metrics",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS total,
           CAST(sum(CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_large
    FROM orders
    """,
)
def q174_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production monitoring surface: `Observation`/`df.observe`
    attaches named aggregate metrics to a flowing query — they are
    computed DURING the main action's single pass (an accumulator-style
    side channel, visible to listeners), not by a second scan the way
    a metrics afterthought usually costs. Here the observed metrics ARE
    the result under test: the query's real work is a throwaway write
    to a noop-style count, the metrics come back through the
    observation, and the oracle recomputes them declaratively —
    proving the side channel reports exactly what a dedicated
    aggregation would. The 1-row createDataFrame is metric publication
    (config-sized), not data movement."""
    from pyspark.sql import Observation

    orders = _t(spark, sf_dir, "orders")
    obs = Observation("q174")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.sum(F.when(F.col("o_totalprice") > 300000, 1).otherwise(0)).alias(
            "n_large"
        ),
    )
    # the main action: one pass; metrics ride it
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return _lit_df(
        spark,
        "n_rows long, total double, n_large long",
        [(int(m["n_rows"]), float(m["total"]), int(m["n_large"]))],
    )



# ------------- 117. exact DECIMAL money arithmetic (no rounding anywhere)

@q(
    "q175_decimal_exact",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,2)))
                AS VARCHAR) AS total_exact
    FROM orders GROUP BY o_orderpriority
    """,
)
def q175_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money arithmetic done right: cast prices to DECIMAL(18,2) at the
    scan and sum in decimal — the result is EXACT, so the oracle
    compares it with NO rounding anywhere (every float-summing query
    in this registry needs a round(...) guard; this one, stringified
    to dodge engine decimal-width metadata, matches to the last cent
    by construction). The 100 TB relevance: decimal aggregation is
    whole-stage-codegen'd 128-bit integer math — order-independent,
    re-partition-independent, audit-grade — which float money columns
    can never be. Sums are widened to DECIMAL(38,2) explicitly so both
    engines overflow-check the same bound."""
    orders = _t(spark, sf_dir, "orders")
    dec = orders.select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    return dec.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("p").cast("decimal(38,2)"))
        .cast("decimal(38,2)")
        .cast("string")
        .alias("total_exact"),
    )



# ------------- 120. nested document model (two-level HOF processing)

@q(
    "q178_nested_model",
    """
    WITH per_order AS (
        SELECT o.o_custkey, o.o_orderkey,
               count(*) AS n_lines,
               sum(CAST(l.l_quantity AS BIGINT)) AS order_qty,
               round(sum(l.l_extendedprice), 2) AS order_value
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_custkey < 100
        GROUP BY o.o_custkey, o.o_orderkey)
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(n_lines) AS BIGINT) AS n_lines,
           CAST(sum(order_qty) AS BIGINT) AS total_qty,
           CAST(round(max(order_value), 2) AS DOUBLE) AS max_order_value
    FROM per_order GROUP BY o_custkey
    """,
)
def q178_nested_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The document-model shape: customer -> array<order> ->
    array<line> built with two grouped collect_lists, then EVERY
    metric computed by higher-order functions walking the nested value
    IN-ROW — size, two-level aggregate lambdas, transform + array_max
    — with no explode and no re-shuffle after assembly. This is how a
    serving/feature store consumes nested payloads: assembling costs
    two shuffles once, every downstream metric is then shuffle-free.
    The oracle computes the same metrics from the FLAT relational
    form — nesting and flat algebra must agree exactly, which is the
    document model's consistency contract. (Per-entity state is
    bounded: a customer's own orders/lines — the collect_list safety
    rule this registry applies everywhere.)"""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    li = _t(spark, sf_dir, "lineitem")
    lines = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_custkey", "o_orderkey")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("l_quantity").cast("long").alias("qty"),
                    F.col("l_extendedprice").alias("price"),
                )
            ).alias("lines")
        )
    )
    nested = lines.groupBy("o_custkey").agg(
        F.collect_list(
            F.struct(F.col("o_orderkey").alias("okey"), F.col("lines"))
        ).alias("orders")
    )
    o = F.col("orders")
    n_lines = F.aggregate(
        o, F.lit(0).cast("long"), lambda acc, x: acc + F.size(x["lines"])
    )
    total_qty = F.aggregate(
        o,
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.aggregate(
            x["lines"], F.lit(0).cast("long"), lambda a2, ln: a2 + ln["qty"]
        ),
    )
    order_vals = F.transform(
        o,
        lambda x: F.round(
            F.aggregate(
                x["lines"], F.lit(0.0), lambda a2, ln: a2 + ln["price"]
            ),
            2,
        ),
    )
    return nested.select(
        "o_custkey",
        F.size(o).cast("long").alias("n_orders"),
        n_lines.alias("n_lines"),
        total_qty.alias("total_qty"),
        F.round(F.array_max(order_vals), 2).alias("max_order_value"),
    )



# ------------- 121. grouped-aggregate pandas UDAF (custom aggregate)

@q(
    "q179_grouped_agg_udaf",
    """
    WITH ranked AS (
        SELECT o_orderpriority, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice ASC,
                                           o_orderkey ASC) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders)
    SELECT o_orderpriority,
           CAST(round(avg(o_totalprice), 2) AS DOUBLE) AS trimmed_mean,
           CAST(count(*) AS BIGINT) AS n_used
    FROM ranked
    WHERE rn > CAST(floor(n * 0.1) AS BIGINT)
      AND rn <= n - CAST(floor(n * 0.1) AS BIGINT)
    GROUP BY o_orderpriority
    """,
)
def q179_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom-aggregate extension point: a GROUPED_AGG pandas UDF
    (vectorized UDAF — whole group arrives as one numpy-backed Series,
    one Python call per group, Arrow transfer) computing a 10%-trimmed
    mean, the robust-statistics aggregate SQL lacks. Count-based
    trimming (drop floor(n*0.1) rows from each sorted end) makes the
    semantics exactly reproducible in SQL — which is what the oracle
    does with a rank-window formulation. Same contract as avg: usable
    in groupBy here; the 100 TB note is that a grouped-agg UDF has no
    partial aggregation — the full group shuffles to one task, so keep
    groups bounded (5 here) or decompose into algebraic pieces
    (operators/incremental.py) when they aren't."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: queries.py's `from __future__ import
    # annotations` stringifies hints, so pandas_udf can't infer
    # GROUPED_AGG from a signature here
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def trimmed_mean(v):
        x = np.sort(v.to_numpy(dtype=np.float64))
        k = int(len(x) // 10)
        kept = x[k : len(x) - k] if len(x) > 2 * k else x
        return float(kept.mean())

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def trimmed_n(v):
        n = len(v)
        return int(n - 2 * (n // 10))

    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(trimmed_mean("o_totalprice"), 2).alias("trimmed_mean"),
        trimmed_n("o_totalprice").alias("n_used"),
    )



# ------------- 122. SQL-registered vectorized UDF (Python kernel via SQL)

@q(
    "q180_sql_registered_udf",
    """
    SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY source
    """,
)
def q180_sql_registered_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python kernels behind the SQL front door: a VECTORIZED
    (Arrow-batched) pandas UDF registered with spark.udf.register and
    called from plain SQL text — the shape that lets SQL-only users
    reach Python logic without ever seeing a DataFrame API, at
    pandas-batch speed rather than row-at-a-time (the registry's
    standing rule: no scalar Python UDFs in hot paths; registration
    changes the CALLER, not the execution model). The kernel is
    deliberately SQL-replicable (whitespace token count) so the oracle
    proves the registered path computes exactly what the declarative
    twin does."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("long", PandasUDFType.SCALAR)
    def ws_tokens(texts):
        return texts.str.split(" ").str.len().astype("int64")

    spark.udf.register("ws_tokens", ws_tokens)
    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("q180_docs")
    return spark.sql(
        """
        SELECT source,
               CAST(sum(ws_tokens(text)) AS BIGINT) AS total_tokens,
               count(*) AS n_docs
        FROM q180_docs GROUP BY source
        """
    )



# ------------- 130. event-transition analysis (product funnel edges)

@q(
    "q188_event_transitions",
    """
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS next_ts
        FROM events),
    transitions AS (
        SELECT event_type AS from_type, next_type AS to_type
        FROM seq
        WHERE next_type IS NOT NULL
          AND next_ts - ts <= INTERVAL 30 MINUTE)
    SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
    FROM transitions GROUP BY from_type, to_type
    ORDER BY n DESC, from_type, to_type LIMIT 15
    """,
)
def q188_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-graph edges: consecutive event-type transitions per
    user within a 30-minute gap (the same gap bound the sessionizers
    use), counted into the top-15 transition matrix a product-analytics
    funnel is built from. One window shuffle on user_id produces every
    adjacent pair via lead() — never a self-join of events on
    'next event after mine' (an inequality join that degrades
    quadratically in per-user event count). Top-15 by count with full
    tie-break so rank boundaries are engine-stable."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "ts",
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("ts").over(w).alias("next_ts"),
    )
    trans = seq.filter(
        F.col("next_type").isNotNull()
        & (
            F.col("next_ts").cast("long") - F.col("ts").cast("long")
            <= 30 * 60
        )
    )
    return (
        trans.groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "from_type", "to_type")
        .limit(15)
    )



# ------------- 131. dormancy / resurrection cohort (monthly set algebra)

@q(
    "q189_resurrected_users",
    """
    WITH weekly AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS w
        FROM events),
    w1 AS (SELECT user_id FROM weekly
           WHERE w = TIMESTAMP '2024-01-01 00:00:00'),
    w2 AS (SELECT user_id FROM weekly
           WHERE w = TIMESTAMP '2024-01-08 00:00:00'),
    w3 AS (SELECT user_id FROM weekly
           WHERE w = TIMESTAMP '2024-01-15 00:00:00')
    SELECT CAST((SELECT count(*) FROM w1) AS BIGINT) AS w1_active,
           CAST((SELECT count(*) FROM w1
                 WHERE user_id NOT IN (SELECT user_id FROM w2)) AS BIGINT)
               AS churned_w2,
           CAST((SELECT count(*) FROM w1
                 WHERE user_id NOT IN (SELECT user_id FROM w2)
                   AND user_id IN (SELECT user_id FROM w3)) AS BIGINT)
               AS resurrected_w3
    """,
)
def q189_resurrected_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormancy/resurrection cohort: of week 1's active users, how
    many skipped week 2 entirely and came back in week 3 — the churn
    signal a retention team watches beyond simple cohort retention
    (q107). ONE distinct (user, week) pre-aggregation feeds every
    week set; membership algebra is then semi/anti joins on the
    deduplicated sets (never EXISTS probes against raw events — the
    weekly distinct is what bounds the join inputs at 100 TB). The
    oracle expresses the same algebra with correlated IN/NOT IN. The
    three tiny count aggregates crossJoin into one row (1-row sides —
    the allowlisted scalar-broadcast shape)."""
    ev = _t(spark, sf_dir, "events")
    weekly = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("w")
    ).distinct()

    def week(ts: str) -> DataFrame:
        return weekly.filter(F.col("w") == ts).select("user_id")

    w1, w2, w3 = (
        week("2024-01-01"),
        week("2024-01-08"),
        week("2024-01-15"),
    )
    churned = w1.join(w2, "user_id", "left_anti")
    resurrected = churned.join(w3, "user_id", "left_semi")
    return (
        w1.agg(F.count(F.lit(1)).cast("long").alias("w1_active"))
        .crossJoin(
            churned.agg(F.count(F.lit(1)).cast("long").alias("churned_w2"))
        )
        .crossJoin(
            resurrected.agg(
                F.count(F.lit(1)).cast("long").alias("resurrected_w3")
            )
        )
    )


# ------------- 135. last-touch attribution / market-basket lift

@q(
    "q197_last_touch_attribution",
    """
    WITH w AS (
        SELECT event_type, value,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS channel
        FROM events)
    SELECT coalesce(channel, 'none') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM w WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def q197_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style last-touch attribution: every purchase credits
    the user's most recent NON-purchase event (ignore-nulls last_value
    over an unbounded-preceding-to-1 frame), 'none' when the purchase
    is the session opener. ONE shuffle — the per-user event-time window
    — then a tiny channel rollup; no self-join, no as-of join (q33's
    operator solves the two-table case; attribution is single-stream,
    so the window IS the right plan at 100 TB: state per user = one
    running value). Revenue summed in integer cents; (ts, event_id)
    ordering makes the frame deterministic under equal timestamps."""
    events = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channeled = events.withColumn(
        "channel",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        channeled.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("none")).alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
    )


@q(
    "q198_basket_lift",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cnt AS (SELECT l_partkey, count(*) AS c FROM items GROUP BY 1),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS c_ab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 3)
    SELECT part_a, part_b,
           CAST(c_ab AS BIGINT) AS c_ab,
           CAST(ca.c AS BIGINT) AS c_a,
           CAST(cb.c AS BIGINT) AS c_b,
           CAST(round(n.n_orders * c_ab * 1.0 / (ca.c * cb.c), 4) AS DOUBLE)
               AS lift
    FROM pairs
    JOIN cnt ca ON part_a = ca.l_partkey
    JOIN cnt cb ON part_b = cb.l_partkey
    CROSS JOIN n
    ORDER BY lift DESC, part_a, part_b LIMIT 15
    """,
)
def q198_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: co-purchased part pairs with
    support >= 3, ranked by LIFT = N * c_ab / (c_a * c_b) — the
    recommender-bootstrap query. Scale shape: the pair generation is a
    self-equi-join ON THE ORDER KEY, so fan-out per key is bounded by
    basket size (~4 items -> ~6 pairs), never a cross product; item
    counts broadcast (part dim << pair set); the support filter prunes
    the tail BEFORE the lift join. Lift is a single expression over
    exact integer counts — identical doubles on both engines — and the
    top-15 cut is tie-broken by the part-id pair."""
    li = _t(spark, sf_dir, "lineitem")
    # ONE exchange feeds everything (r08, guide §2.4): the former shape
    # was distinct (2-phase exchange) -> items self-join on l_orderkey
    # (SMJ: sort both sides) -> pair groupBy exchange, plus separate
    # distinct-consuming subtrees for the per-part counts and the order
    # normalizer. groupBy(l_orderkey) + in-row dedup (array_distinct)
    # replaces the distinct AND the self-join: baskets are ~4 items, so
    # the sorted-array index-pair expansion is bounded in-row, and the
    # per-part counts / order count derive from the SAME per-order
    # aggregate (AQE stage reuse shares its exchange). Pair semantics
    # identical: distinct parts per order, all pairs part_a < part_b.
    # (An eager localCheckpoint of the old `items` A/B-measured 1.11x
    # AGAINST head — materialization cost > the reuse win; rejected.)
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.array_distinct(F.collect_list("l_partkey"))).alias(
            "_ps"
        )
    )
    # N rides the plan as a broadcast 1-row frame instead of a driver
    # count() (r07, guide §5): count_distinct(l_orderkey) == the
    # per-order row count (l_orderkey is a PK component, NOT NULL).
    n_orders = F.broadcast(
        per_order.select(F.count(F.lit(1)).alias("_n_orders"))
    )
    cnt = (
        per_order.select(F.explode("_ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = (
        per_order.select(F.explode(DD._pairs_in_group(F.col("_ps"))).alias("p"))
        .groupBy(
            F.col("p.id_a").alias("part_a"),
            F.col("p.id_b").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 3)
    )
    ca = F.broadcast(cnt.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("c_a")))
    cb = F.broadcast(cnt.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("c_b")))
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(n_orders)
        .select(
            "part_a",
            "part_b",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.col("c_a").cast("long").alias("c_a"),
            F.col("c_b").cast("long").alias("c_b"),
            F.round(
                F.col("_n_orders") * F.col("c_ab")
                / (F.col("c_a") * F.col("c_b")),
                4,
            )
            .cast("double")
            .alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(15)
    )


# ---------------- 136. chi-square independence (event_type x weekday)

@q(
    "q199_chi_square_cells",
    """
    WITH cells AS (
        SELECT event_type, EXTRACT(dow FROM ts) AS dow,
               count(*) AS observed
        FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, sum(observed) AS r FROM cells GROUP BY 1),
    ct AS (SELECT dow, sum(observed) AS c FROM cells GROUP BY 1),
    n AS (SELECT sum(observed) AS n FROM cells)
    SELECT cells.event_type,
           CAST(cells.dow AS INT) AS dow,
           CAST(observed AS BIGINT) AS observed,
           CAST(round(1000.0 * r * c / n) AS BIGINT) AS expected_millis,
           CAST(round(1000.0 * (observed - 1.0 * r * c / n)
                             * (observed - 1.0 * r * c / n)
                             / (1.0 * r * c / n)) AS BIGINT)
               AS contrib_millis
    FROM cells
    JOIN rt USING (event_type)
    JOIN ct USING (dow)
    CROSS JOIN n
    """,
)
def q199_chi_square_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test (event_type x weekday), reported as
    the per-cell contribution table — the data-drift / seasonality
    screen run before trusting a training-data time slice. Float
    discipline: each cell's expected count and (O-E)^2/E contribution
    is ONE closed-form expression over exact integer marginals,
    quantized to millis — no float SUM anywhere, so engines can't
    drift on accumulation order (the total statistic is then an exact
    integer sum the reader can take downstream). Scale shape: one
    map-side-combined groupBy on (type, dow) collapses 100 TB to a
    35-cell table; marginals and N derive from the CELLS (tiny
    re-aggs, broadcast back) — the raw stream is scanned ONCE.
    Weekday alignment: Spark dayofweek() is 1=Sunday..7, DuckDB
    EXTRACT(dow) is 0=Sunday..6 — the Spark side subtracts 1."""
    events = _t(spark, sf_dir, "events")
    cells = events.groupBy(
        "event_type", (F.dayofweek("ts") - 1).cast("int").alias("dow")
    ).agg(F.count(F.lit(1)).alias("observed"))
    rt = cells.groupBy("event_type").agg(F.sum("observed").alias("r"))
    ct = cells.groupBy("dow").agg(F.sum("observed").alias("c"))
    n = cells.agg(F.sum("observed").alias("n"))
    e = F.col("r") * F.col("c") / F.col("n")
    return (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            F.col("observed").cast("long").alias("observed"),
            # association mirrors the oracle text exactly (1000 first,
            # division last) — a different fp evaluation order can flip
            # a .5 rounding edge even when the math is "the same"
            F.round(F.lit(1000.0) * F.col("r") * F.col("c") / F.col("n"))
            .cast("long")
            .alias("expected_millis"),
            F.round(
                F.lit(1000.0)
                * (F.col("observed") - e)
                * (F.col("observed") - e)
                / e
            )
            .cast("long")
            .alias("contrib_millis"),
        )
    )


# ------- 137. sketch algebra / interval coalescing / robust outliers

@q(
    "q213_hll_sketch_algebra",
    """
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS merge_within_2pct,
           TRUE AS est_within_5pct
    FROM events
    """,
)
def q213_hll_sketch_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch algebra — the cube-building primitive at
    100 TB: per-slice HLL sketches union to the global sketch with NO
    rescan (Datasketches HLL via hll_sketch_agg / hll_union_agg). The
    query computes the distinct-user estimate BOTH ways — one direct
    sketch, and per-event-type partials union-merged — and
    self-asserts (q129 pattern) that the two agree within 2% and that
    the direct estimate is within 5% of the exact count; a violated
    invariant raises instead of returning rows. (First cut asserted
    EQUALITY — true while sketches stay sparse, found false at sf0.1:
    once a sketch goes dense the union gadget's target representation
    shifts the estimator by a few counts, 1488 vs 1494 of 1500. The
    honest mergeability contract is closeness, not bit-equality.)
    The oracle pins the exact count and the two invariant flags.
    Driver traffic: three scalars."""
    ev = _t(spark, sf_dir, "events")
    row = (
        ev.agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct"),
            F.countDistinct("user_id").alias("exact"),
        )
        .crossJoin(
            F.broadcast(
                ev.groupBy("event_type")
                .agg(F.hll_sketch_agg("user_id").alias("sk"))
                .agg(
                    F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged")
                )
            )
        )
        .collect()[0]
    )
    if abs(row["direct"] - row["merged"]) > 0.02 * max(row["direct"], 1):
        raise AssertionError(
            f"sketch union inconsistent: {row['direct']} vs {row['merged']}"
        )
    if abs(row["direct"] - row["exact"]) > 0.05 * max(row["exact"], 1):
        raise AssertionError(
            f"HLL estimate {row['direct']} outside 5% of exact {row['exact']}"
        )
    return _lit_df(
        spark,
        "n_exact long, merge_within_2pct boolean, est_within_5pct boolean",
        [(int(row["exact"]), True, True)],
    )


@q(
    "q214_interval_merge",
    """
    WITH iv AS (
        SELECT o_custkey,
               CAST(floor(epoch(o_orderdate)) AS BIGINT) AS s,
               CAST(floor(epoch(o_orderdate)) AS BIGINT)
                   + (o_orderkey % 14 + 1) * 86400 AS e,
               o_orderkey
        FROM orders),
    flagged AS (
        SELECT o_custkey, s, e,
               CASE WHEN max(e) OVER (
                        PARTITION BY o_custkey ORDER BY s, e, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        IS NULL
                     OR s > max(e) OVER (
                        PARTITION BY o_custkey ORDER BY s, e, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_grp
        FROM iv),
    grp AS (
        SELECT o_custkey, s, e,
               sum(new_grp) OVER (
                   PARTITION BY o_custkey ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        FROM flagged),
    merged AS (
        SELECT o_custkey, g, min(s) AS ms, max(e) AS me, count(*) AS n_raw
        FROM grp GROUP BY 1, 2)
    SELECT o_custkey,
           CAST(sum(n_raw) AS BIGINT) AS n_intervals,
           CAST(count(*) AS BIGINT) AS n_merged,
           CAST(sum(me - ms) AS BIGINT) AS covered_seconds
    FROM merged GROUP BY 1
    """,
)
def q214_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (merge overlapping per-key windows) — the
    availability/billing/session primitive q112's overlap COUNT does
    not give you: each customer's order-activity intervals collapse to
    their disjoint union via the classic single-window algorithm (new
    group when the start clears the running max of prior ends, group
    id = running sum of the flag, then min/max per group). TWO window
    passes over one per-key shuffle, no self-join — at 100 TB this is
    the formulation that works, because the q112-style pair join is
    quadratic in per-key interval count while this is n log n sort.
    All-integer epoch arithmetic; (s, e, orderkey) ordering breaks
    ties identically in both engines."""
    orders = _t(spark, sf_dir, "orders")
    epoch = F.floor(
        F.unix_timestamp(F.col("o_orderdate").cast("timestamp"))
    ).cast("long")
    iv = orders.select(
        "o_custkey",
        epoch.alias("s"),
        (epoch + (F.col("o_orderkey") % 14 + 1) * 86400).alias("e"),
        "o_orderkey",
    )
    w_prev = (
        Window.partitionBy("o_custkey")
        .orderBy("s", "e", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior_max = F.max("e").over(w_prev)
    flagged = iv.select(
        "o_custkey",
        "s",
        "e",
        F.when(prior_max.isNull() | (F.col("s") > prior_max), 1)
        .otherwise(0)
        .alias("new_grp"),
    )
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grp = flagged.select(
        "o_custkey", "s", "e", F.sum("new_grp").over(w_run).alias("g")
    )
    merged = grp.groupBy("o_custkey", "g").agg(
        F.min("s").alias("ms"),
        F.max("e").alias("me"),
        F.count(F.lit(1)).alias("n_raw"),
    )
    return merged.groupBy("o_custkey").agg(
        F.sum("n_raw").cast("long").alias("n_intervals"),
        F.count(F.lit(1)).cast("long").alias("n_merged"),
        F.sum(F.col("me") - F.col("ms")).cast("long").alias("covered_seconds"),
    )


@q(
    "q215_mad_outliers",
    """
    WITH x AS (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) * 2 AS x2
        FROM orders),
    med AS (SELECT o_orderpriority,
                   quantile_cont(x2, 0.5) AS med2
            FROM x GROUP BY 1),
    dev AS (SELECT x.o_orderpriority, x2, med2, abs(x2 - med2) AS dev2
            FROM x JOIN med USING (o_orderpriority)),
    mad AS (SELECT o_orderpriority, med2,
                   quantile_cont(dev2, 0.5) AS mad2
            FROM dev GROUP BY 1, 2)
    SELECT d.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(m.med2 / 2 AS DOUBLE) AS median_cents,
           CAST(m.mad2 / 2 AS DOUBLE) AS mad_cents,
           CAST(sum(CASE WHEN 2 * d.dev2 > 10 * m.mad2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON d.o_orderpriority = m.o_orderpriority
    GROUP BY 1, 3, 4
    """,
)
def q215_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen: median absolute deviation per priority
    with a 5xMAD cut — the heavy-tail-safe variant of q73's z-score
    (one fat order drags a mean+stddev gate, not a median+MAD one).
    Exactness trick stacked twice: prices enter as DOUBLED integer
    cents so the first median interpolates to an exact integer, and
    the outlier comparison is 2*dev > 10*mad so BOTH sides stay
    integer-valued even when the second median lands on a half — no
    rounding guard anywhere (q187's lesson, applied to nested
    quantiles). Two grouped exact percentiles + one broadcast join
    back; the 100 TB swap is percentile_approx."""
    orders = _t(spark, sf_dir, "orders")
    x = orders.select(
        "o_orderpriority",
        (F.round(F.col("o_totalprice") * 100).cast("long") * 2).alias("x2"),
    )
    med = x.groupBy("o_orderpriority").agg(
        F.percentile("x2", F.lit(0.5)).alias("med2")
    )
    dev = x.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        "med2",
        F.abs(F.col("x2") - F.col("med2")).alias("dev2"),
    )
    mad = dev.groupBy("o_orderpriority", "med2").agg(
        F.percentile("dev2", F.lit(0.5)).alias("mad2")
    )
    return (
        dev.join(
            F.broadcast(mad.select("o_orderpriority", "mad2")), "o_orderpriority"
        )
        .groupBy(
            "o_orderpriority",
            (F.col("med2") / 2).cast("double").alias("median_cents"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.max((F.col("mad2") / 2).cast("double")).alias("mad_cents"),
            F.sum(
                F.when(2 * F.col("dev2") > 10 * F.col("mad2"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            "median_cents",
            "mad_cents",
            "n_outliers",
        )
    )


@q(
    "q216_theta_sketch_setops",
    """
    WITH a AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'purchase' AND value > 50.0),
         b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
    SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
           CAST((SELECT count(*) FROM a
                 WHERE user_id IN (SELECT user_id FROM b)) AS BIGINT)
               AS n_inter,
           CAST((SELECT count(*) FROM (SELECT user_id FROM a UNION
                                       SELECT user_id FROM b)) AS BIGINT)
               AS n_union,
           CAST((SELECT count(*) FROM a
                 WHERE user_id NOT IN (SELECT user_id FROM b)) AS BIGINT)
               AS n_diff,
           TRUE AS sketch_within_2pct
    """,
)
def q216_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET ALGEBRA — the piece HLL (q213) cannot do:
    union AND intersection AND difference of distinct-user sets, all
    from two single-pass sketches (Datasketches Theta via
    theta_sketch_agg / theta_union / theta_intersection /
    theta_difference). At 100 TB the audience-overlap question
    ("how many high-value purchasers also hit errors?") needs no
    re-scan per set expression: per-segment sketches are built once in
    one pass (FILTER'd aggs) and every boolean combination is sketch
    arithmetic on KB-sized payloads. Self-asserts (q129 pattern) each
    sketch estimate within 2% of the exactly-computed answer — theta
    stays in exact mode below its nominal-entries threshold, so at
    test SFs the estimates are exact, and the margin covers sampling
    mode at real scale. Output pins the exact counts; a violated
    invariant raises instead of returning rows. Driver traffic: one
    row of scalars."""
    ev = _t(spark, sf_dir, "events")
    a = (F.col("event_type") == "purchase") & (F.col("value") > 50.0)
    b = F.col("event_type") == "error"
    row = (
        ev.agg(
            F.expr(
                "theta_sketch_agg(user_id) FILTER"
                " (WHERE event_type = 'purchase' AND value > 50.0d)"
            ).alias("sk_a"),
            F.expr(
                "theta_sketch_agg(user_id) FILTER (WHERE event_type = 'error')"
            ).alias("sk_b"),
            F.count_distinct(F.when(a, F.col("user_id"))).alias("n_a"),
            F.count_distinct(F.when(b, F.col("user_id"))).alias("n_b"),
            F.count_distinct(F.when(a | b, F.col("user_id"))).alias("n_union"),
        )
        .select(
            F.expr("theta_sketch_estimate(sk_a)").alias("est_a"),
            F.expr("theta_sketch_estimate(sk_b)").alias("est_b"),
            F.expr(
                "theta_sketch_estimate(theta_union(sk_a, sk_b))"
            ).alias("est_union"),
            F.expr(
                "theta_sketch_estimate(theta_intersection(sk_a, sk_b))"
            ).alias("est_inter"),
            F.expr(
                "theta_sketch_estimate(theta_difference(sk_a, sk_b))"
            ).alias("est_diff"),
            "n_a",
            "n_b",
            "n_union",
        )
        .collect()[0]
    )
    n_inter = row["n_a"] + row["n_b"] - row["n_union"]
    n_diff = row["n_a"] - n_inter
    for est, exact, tag in [
        (row["est_a"], row["n_a"], "a"),
        (row["est_b"], row["n_b"], "b"),
        (row["est_union"], row["n_union"], "union"),
        (row["est_inter"], n_inter, "inter"),
        (row["est_diff"], n_diff, "diff"),
    ]:
        if abs(est - exact) > 0.02 * max(exact, 50):
            raise AssertionError(f"theta {tag}: est {est} vs exact {exact}")
    return _lit_df(
        spark,
        "n_a long, n_b long, n_inter long, n_union long, n_diff long,"
        " sketch_within_2pct boolean",
        [
            (
                int(row["n_a"]),
                int(row["n_b"]),
                int(n_inter),
                int(row["n_union"]),
                int(n_diff),
                True,
            )
        ],
    )


@q(
    "q217_kll_quantile_merge",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.25)
               AS p25_cents,
           quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.50)
               AS p50_cents,
           quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.75)
               AS p75_cents,
           quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.95)
               AS p95_cents,
           TRUE AS sketch_rank_within_3pct
    FROM lineitem
    """,
)
def q217_kll_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketches (Datasketches KLL, k=200) — exact
    percentiles need a full sort per question; at 100 TB the
    per-partition KLL partials merge associatively (kll_sketch_merge
    fold over collect_list of 8 slice partials — the same
    partial→combine shape a 1000-executor tree aggregation runs), so
    price-distribution quantiles come from one pass and KB-sized
    state. Self-assert (q129 pattern): each sketch quantile's EXACT
    rank — counted against the data in the percentiles' bucket pass, not the
    sketch's own claim — must sit within 3% normalized rank of the
    target (k=200 guarantees ~1.65% at 99% confidence); violation
    raises. Output pins exact interpolated percentiles over integer
    cents (midpoints are binary-exact — the q187/q215 trick), which is
    what the DuckDB oracle pins too. Driver traffic: bucket-sized
    histograms."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.pmod(F.col("l_orderkey"), F.lit(8)).alias("slice"),
    )
    ps = [0.25, 0.5, 0.75, 0.95]
    # cached: every pass below reads it. fan_out FIRST (r07): the cache
    # inherits the scan's partitioning, and a one-row-group source
    # would pin every pass to a single core (§2.5).
    li = fan_out(li).persist()
    try:
        srow = (
            li.groupBy("slice")
            .agg(F.expr("kll_sketch_agg_bigint(cents, 200)").alias("sk"))
            .agg(F.collect_list("sk").alias("sks"))
            .select(
                F.expr(
                    "aggregate(slice(sks, 2, size(sks)), sks[0],"
                    " (acc, x) -> kll_sketch_merge_bigint(acc, x))"
                ).alias("merged")
            )
            .select(
                *[F.expr(f"kll_sketch_get_quantile_bigint(merged, {p}d)") for p in ps]
            )
            .collect()[0]
        )
        # bucketed selection, not a percentile() agg sorting ~583k values
        # on ONE core; the exact ranks are counted in its bucket pass
        audit = {
            f"s{i}": F.count_if(F.col("cents") <= int(v)) for i, v in enumerate(srow)
        }
        pct, sums = exact_percentiles(
            li, [], "cents", ps, 4096, extra={"n": F.count(F.lit(1)), **audit}
        )[()]
    finally:
        li.unpersist()
    n = sums["n"]
    for i, p in enumerate(ps):
        if abs(sums[f"s{i}"] / n - p) > 0.03:
            raise AssertionError(f"kll quantile p{p} has exact rank {sums[f's{i}']/n}")
    return _lit_df(
        spark,
        "n_lines long, p25_cents double, p50_cents double, p75_cents double,"
        " p95_cents double, sketch_rank_within_3pct boolean",
        [(int(n), *pct, True)],
    )


@q(
    "q218_topk_sketch_combine",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1 ORDER BY n_events DESC, event_type
    """,
)
def q218_topk_sketch_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequent-items sketches (Datasketches Frequent Items
    via approx_top_k_accumulate / _combine / _estimate) — the
    heavy-hitters primitive: per-slice partials (8 user-hash slices
    standing in for per-executor partials) combine associatively into
    the global top-k with NO per-slice rescan. With maxItemsTracked=64
    >= the distinct-item count nothing is ever evicted, so the sketch
    counts are EXACT and the query self-asserts (q129 pattern) a
    full-outer reconciliation against the exact groupBy — any missing
    item or count drift raises. At real cardinality the same plan
    degrades gracefully to epsilon-bounded estimates. Output is the
    exact ranking; ties broken by item for cross-engine determinism.
    Driver traffic: one 5-row result."""
    ev = _t(spark, sf_dir, "events")
    partials = ev.groupBy(
        F.pmod(F.xxhash64("user_id"), F.lit(8)).alias("slice")
    ).agg(F.expr("approx_top_k_accumulate(event_type, 64)").alias("st"))
    est = (
        partials.agg(
            F.expr(
                "approx_top_k_estimate(approx_top_k_combine(st, 64), 5)"
            ).alias("top")
        )
        .select(F.explode("top").alias("e"))
        .select(
            F.col("e.item").alias("event_type"),
            F.col("e.count").cast("long").alias("n_events"),
        )
        # 5-row frame, lazily checkpointed (r07): the self-assert join
        # below materializes it, and the returned orderBy reads the
        # blocks — otherwise the events scan + sketch build ran twice.
        .localCheckpoint(eager=False)
    )
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    bad = (
        est.join(exact, "event_type", "full")
        .where(
            F.col("n_events").isNull()
            | F.col("n_exact").isNull()
            | (F.col("n_events") != F.col("n_exact"))
        )
        .count()
    )
    if bad:
        raise AssertionError(f"approx_top_k merge not exact: {bad} mismatches")
    return est.orderBy(F.desc("n_events"), "event_type")


@q(
    "q231_fd_profiling",
    """
    WITH p1 AS (
      SELECT o_orderkey, o_custkey, count(*) AS n
      FROM orders GROUP BY 1, 2
    ), v1 AS (
      SELECT o_orderkey, sum(n) AS n_rows, count(*) AS variants
      FROM p1 GROUP BY 1 HAVING count(*) > 1
    ), p2 AS (
      SELECT lang, source, count(*) AS n
      FROM documents GROUP BY 1, 2
    ), v2 AS (
      SELECT lang, sum(n) AS n_rows, count(*) AS variants
      FROM p2 GROUP BY 1 HAVING count(*) > 1
    )
    SELECT fd, n_violating_keys, rows_in_violations, max_variants FROM (
      SELECT 'documents: lang -> source' AS fd,
             CAST(count(*) AS BIGINT) AS n_violating_keys,
             CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS rows_in_violations,
             CAST(coalesce(max(variants), 0) AS BIGINT) AS max_variants
      FROM v2
      UNION ALL
      SELECT 'orders: o_orderkey -> o_custkey',
             CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(n_rows), 0) AS BIGINT),
             CAST(coalesce(max(variants), 0) AS BIGINT)
      FROM v1
    ) ORDER BY fd
    """,
)
def q231_fd_profiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling (`quality.fd_violations`): one
    candidate key FD that must HOLD (o_orderkey -> o_custkey — zero
    violating keys proves it) and one that must FAIL (documents
    lang -> source — every language spans many sources), summarized
    as (violating keys, rows bound to them, worst variant count).
    The schema-discovery pass run before declaring keys or
    denormalizing. Two map-side-combined aggs per FD; shuffles carry
    distinct (lhs, rhs) pairs, never rows."""
    orders = _t(spark, sf_dir, "orders")
    docs = _t(spark, sf_dir, "documents")

    def summarize(v, name):
        return v.agg(
            F.count(F.lit(1)).cast("long").alias("n_violating_keys"),
            F.coalesce(F.sum("n_rows"), F.lit(0))
            .cast("long")
            .alias("rows_in_violations"),
            F.coalesce(F.max("n_rhs_variants"), F.lit(0))
            .cast("long")
            .alias("max_variants"),
        ).select(F.lit(name).alias("fd"), "*")

    a = summarize(
        Q.fd_violations(orders, ["o_orderkey"], ["o_custkey"]),
        "orders: o_orderkey -> o_custkey",
    )
    b = summarize(
        Q.fd_violations(docs, ["lang"], ["source"]),
        "documents: lang -> source",
    )
    return b.unionByName(a).orderBy("fd")



# --------------------- 132. deterministic PII pseudonymization

@q(
    "q236_masked_view",
    """
    WITH m AS (
        SELECT c_mktsegment,
               'anon_' || substr(md5('pepper:' || c_name), 1, 12) AS name_m,
               ('0x' || substr(md5('pepper:' || CAST(c_custkey AS VARCHAR)),
                               1, 12))::BIGINT AS key_m
        FROM customer),
    g AS (
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT name_m) AS BIGINT) AS n_masked_names,
               CAST(count(DISTINCT key_m) AS BIGINT) AS n_masked_keys,
               CAST(bit_xor(key_m) AS BIGINT) AS key_fp
        FROM m GROUP BY 1),
    o AS (
        SELECT c_mktsegment,
               CAST(count(DISTINCT c_name) AS BIGINT) AS n_orig_names
        FROM customer GROUP BY 1)
    SELECT g.c_mktsegment, n_rows, n_orig_names, n_masked_names,
           n_masked_keys, key_fp
    FROM g JOIN o USING (c_mktsegment)
    ORDER BY c_mktsegment
    """,
)
def q236_masked_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PII pseudonymization (privacy.mask_columns): the
    released view replaces c_name with a salted-md5 text pseudonym and
    c_custkey with a 48-bit bigint pseudonym — reversible by nobody
    without the pepper, yet equality-preserving, so joins/group-bys on
    the masked columns still work. The audit row set PROVES the 1:1
    property cross-engine: per segment, distinct masked names must
    equal distinct original names (computed on an independent unmasked
    branch and joined in), distinct masked keys must equal n_rows
    (custkey is unique), and the bit_xor fingerprint of the masked
    keys pins the exact pseudonym values against the oracle's own md5
    construction. Masking is a pure scan-side projection (one md5 per
    cell, no shuffle); both audit branches are 5-row aggregates, the
    original-side one broadcast into the join."""
    from ingestao_dados_poli_spark.operators import privacy as PV

    cust = _t(spark, sf_dir, "customer")
    masked = PV.mask_columns(
        cust, {"c_name": "text", "c_custkey": "numeric"}, salt="pepper"
    )
    g = masked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("c_name").alias("n_masked_names"),
        F.count_distinct("c_custkey").alias("n_masked_keys"),
        F.bit_xor("c_custkey").alias("key_fp"),
    )
    o = cust.groupBy("c_mktsegment").agg(
        F.count_distinct("c_name").alias("n_orig_names")
    )
    return (
        g.join(F.broadcast(o), "c_mktsegment")
        .select(
            "c_mktsegment",
            "n_rows",
            "n_orig_names",
            "n_masked_names",
            "n_masked_keys",
            "key_fp",
        )
        .orderBy("c_mktsegment")
    )



# --------------------- 133. behavioral Markov transition matrix

@q(
    "q238_event_transitions",
    """
    WITH t AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events),
    c AS (
        SELECT prev AS from_type, event_type AS to_type,
               CAST(count(*) AS BIGINT) AS n
        FROM t WHERE prev IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           CAST((1000 * n) // sum(n) OVER (PARTITION BY from_type)
                AS BIGINT) AS permille
    FROM c ORDER BY from_type, to_type
    """,
)
def q238_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral Markov chain: per-user event-type bigrams via a lag
    window, aggregated into a transition matrix with row-normalized
    probabilities in integer PERMILLE (1000*n div row_total — integer
    division keeps the values exactly equal cross-engine, the q134
    trick). Scale shape: the lag window partitions by user_id, so
    state per task is one user's event stream (bounded, spillable);
    the transition matrix itself is |event_types|² rows — the second
    window (row totals) runs on that tiny table, never on fact rows.
    At 100 TB the only heavy move is the one user_id shuffle, which a
    layout bucketed by user_id (sources/writers.bucketize) eliminates
    entirely."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("from_type", F.lag("event_type").over(w))
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return (
        trans.withColumn(
            "permille",
            F.expr("(1000 * n) div sum(n) over (partition by from_type)"),
        )
        .select("from_type", "to_type", "n", "permille")
        .orderBy("from_type", "to_type")
    )



# --------------------- 134. count-min sketch frequency estimates

@q(
    "q239_count_min_sketch",
    """
    WITH f AS (SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS n
               FROM orders GROUP BY 1),
    d AS (SELECT unnest([0, 1, 2, 3]) AS depth),
    cells AS (
        SELECT depth,
               ('0x' || substr(md5(depth || ':' || CAST(key AS VARCHAR)),
                               1, 12))::BIGINT % 256 AS bucket,
               sum(n) AS cnt
        FROM f CROSS JOIN d GROUP BY 1, 2),
    top AS (SELECT key, n FROM f ORDER BY n DESC, key LIMIT 10),
    probe AS (
        SELECT t.key, t.n, d.depth,
               ('0x' || substr(md5(d.depth || ':' || CAST(t.key AS VARCHAR)),
                               1, 12))::BIGINT % 256 AS bucket
        FROM top t CROSS JOIN d),
    est AS (
        SELECT p.key, p.n, min(c.cnt) AS cms_est
        FROM probe p JOIN cells c USING (depth, bucket)
        GROUP BY 1, 2)
    SELECT key AS o_custkey, n AS exact_n,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - n AS BIGINT) AS overestimate
    FROM est ORDER BY exact_n DESC, o_custkey
    """,
)
def q239_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (sketches.cms_build/cms_estimate): a 4x256
    grid summarizes the full o_custkey frequency distribution (~1500
    keys into 1024 cells — collisions guaranteed, which is the point),
    then the 10 true heaviest keys are point-estimated from the grid.
    The output pins the CMS's one-sided guarantee cross-engine:
    overestimate >= 0 on every row (min-of-cells can only add
    collision mass), with the exact overestimate values hash-checked
    against DuckDB's rebuild of the identical md5-indexed grid.
    Completes the mergeable-sketch family (HLL q213, theta q216, KLL
    q217, frequent-items q218) with the frequency-estimate member.
    Scale shape: exact per-key counts aggregate map-side FIRST, the
    depth fan-out explodes only the vocabulary, and the probe join
    broadcasts the 1024-cell grid."""
    from ingestao_dados_poli_spark.operators import sketches as SK

    orders = _t(spark, sf_dir, "orders")
    cms = SK.cms_build(orders, "o_custkey", depth=4, width=256)
    top = (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "o_custkey")
        .limit(10)
    )
    est = SK.cms_estimate(cms, top, "o_custkey", depth=4, width=256)
    return est.select(
        "o_custkey",
        "exact_n",
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_n"))
        .cast("long")
        .alias("overestimate"),
    ).orderBy(F.desc("exact_n"), "o_custkey")



