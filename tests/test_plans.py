"""Physical-plan assertions: the plans the engine is DESIGNED to produce,
locked in as tests so a refactor that silently de-optimizes (drops a
pushdown, un-broadcasts a dim, adds a shuffle) fails loudly.

These inspect `executedPlan` BEFORE execution (AQE's initial plan), which
is where static choices — pushed filters, broadcast strategies, top-k
operators, partial aggregation — are visible.
"""

from __future__ import annotations

from ingestao_dados_poli_spark import queries as Q


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q02_filters_push_to_parquet_scan(spark, sf_dir):
    plan = _plan(Q.QUERIES["q02_pushdown_sum"](spark, sf_dir))
    # all four predicates reach the scan...
    assert "PushedFilters:" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan or col in plan.split("PushedFilters:")[1].split("]")[0]
    # ...and the scan reads only the 4 needed columns (column pruning)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema


def test_q01_dims_broadcast_single_shuffle(spark, sf_dir):
    plan = _plan(Q.QUERIES["q01_gold_flagship"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2
    # the only data movement of the fact table is the final group-by
    assert plan.count("Exchange hashpartitioning") == 1


def test_q03_partial_aggregation(spark, sf_dir):
    plan = _plan(Q.QUERIES["q03_agg_pricing_summary"](spark, sf_dir))
    # map-side partial + final HashAggregate around exactly one shuffle
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_q11_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(Q.QUERIES["q11_global_topk"](spark, sf_dir))
    # never a full sort: per-partition heap + driver merge of k*P rows
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_q26_corpus_never_shuffles(spark, sf_dir):
    plan = _plan(Q.QUERIES["q26_embedding_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the only hash exchange is the per-query top-k window
    assert plan.count("Exchange hashpartitioning") == 1


def test_q27_minhash_shuffle_budget(spark, sf_dir):
    plan = _plan(Q.QUERIES["q27_minhash_pairs"](spark, sf_dir))
    # bucket groupBy + pair dedup — the two algorithm-inherent shuffles;
    # a regression to the self-join formulation adds more. The oracle's
    # fingerprint join-backs must stay BROADCAST (tiny per-id md5 side);
    # a SortMergeJoin would mean they started shuffling the pair stream.
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2


def test_q14_whole_stage_codegen(spark, sf_dir):
    plan = _plan(Q.QUERIES["q14_string_clean"](spark, sf_dir))
    # '*(n)' marks operators fused into a WholeStageCodegen stage
    assert "*(1)" in plan


def test_q33_asof_is_single_shuffle_window(spark, sf_dir):
    plan = _plan(Q.QUERIES["q33_asof_join"](spark, sf_dir))
    # union+window formulation: no join operator at all
    assert "Window" in plan
    for bad in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan


def test_q103_filter_pushes_below_arrow_map(spark, sf_dir):
    plan = _plan(Q.QUERIES["q103_arrow_normalize"](spark, sf_dir))
    # the vec_id < 200 predicate reaches the parquet scan, so the
    # mapInArrow kernel only ever sees the pruned rows...
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "LessThan(vec_id,200)" in pushed
    # ...and the whole thing is a shuffle-free map over scan batches
    assert "Exchange" not in plan


def test_q99_regr_is_single_partial_hashagg(spark, sf_dir):
    plan = _plan(Q.QUERIES["q99_grouped_regression"](spark, sf_dir))
    # regr_* moments partial-aggregate map-side: exactly one shuffle,
    # hash aggregation (not sort-based), no Expand
    assert plan.count("Exchange hashpartitioning") == 1
    assert "HashAggregate" in plan and "Expand" not in plan


def test_q106_no_cumulative_count_distinct(spark, sf_dir):
    plan = _plan(Q.QUERIES["q106_cumulative_uniques"](spark, sf_dir))
    # the first-seen-day formulation needs no distinct operator at all —
    # uniqueness falls out of the user-keyed min aggregate
    assert "distinct" not in plan.lower()


def test_q102_heavy_hitters_take_ordered(spark, sf_dir):
    # q102 (persist=True) eagerly materializes + localCheckpoints its
    # k-row result so the grouped-counts cache can be released (round-2
    # advice: no session-lifetime cache leak), which truncates the
    # visible plan — so assert the plan SHAPE on the identical
    # persist=False lazy variant, and the leak fix on the default.
    from ingestao_dados_poli_spark.partitioning import heavy_hitters

    lineitem = Q._t(spark, sf_dir, "lineitem")
    plan = _plan(heavy_hitters(lineitem, ["l_returnflag"], k=5, persist=False))
    assert "TakeOrderedAndProject" in plan
    # the share total joins back by broadcast, never a sort-merge join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # default path: cache released after materialization — the grouped
    # counts table must not linger in the cache manager
    out = Q.QUERIES["q102_heavy_hitters"](spark, sf_dir)
    assert out.count() > 0
    jsm = spark.sparkContext._jsc.sc().getPersistentRDDs()
    for rdd_info in jsm.values().toList().toString().split(","):
        assert "ShuffledRowRDD" not in rdd_info


def test_plan_audit_artifact_clean():
    """PLANAUDIT_local.json (tools/plan_audit.py, committed per round)
    must show zero CartesianProduct plans and no NEW
    BroadcastNestedLoopJoin beyond the deliberate scalar/1-row
    broadcast set — an accidental BNLJ on a growing side is the
    classic silent 100 TB killer."""
    import json
    import pathlib

    path = pathlib.Path(__file__).parent.parent / "PLANAUDIT_local.json"
    assert path.exists(), "run: python tools/plan_audit.py"
    audit = json.loads(path.read_text())
    s = audit["summary"]
    assert set(audit["queries"]) == set(Q.QUERIES), (
        "stale PLANAUDIT_local.json — re-run tools/plan_audit.py"
    )
    assert s["plan_errors"] == []
    assert s["queries_with_cartesian_product"] == []
    # deliberate BNLJs, each a broadcast of a 1-row/config-sized side:
    # q26/q66/q80 broadcast tiny stats or query sets, q48 broadcasts an
    # interval dim, q108 a step-count literal, q126 a 1-row scalar agg
    allowed = {
        "q108_funnel",
        "q126_dormant_rich_customers",
        "q131_pagerank",  # broadcast 1-row keyless pool-sum crossJoin per round
        "q132_versioned_publish",  # 1-row agg x 1-row agg crossJoin
        "q142_quantized_topk",  # same broadcast-query-set shape as q26
        "q172_equidepth_histogram",  # broadcast 1-row quantile bounds
        "q189_resurrected_users",  # three 1-row count aggs crossJoined
        "q198_basket_lift",  # broadcast 1-row keyless order-count crossJoin
        "q199_chi_square_cells",  # broadcast 1-row grand-total crossJoin
        "q207_join_cardinality_estimate",  # 1-row exact x 1-row estimate
        "q223_kmeans_lloyd",  # broadcast k-row centroid crossJoin per Lloyd round
        "q224_bm25_retrieval",  # broadcast 1-row corpus-stats crossJoin
        "q228_negative_sampling",  # broadcast 1-row pool-array crossJoin
        "q229_srp_reduction_recall",  # 1-row query/top-10 agg crossJoins
        "q252_source_centroid_drift",  # 20-row centroid table broadcast self-join (a.source < b.source)
        "q256_decayed_popularity",  # broadcast 1-row reference-instant crossJoin
        "q232_vocab_coverage_cut",  # broadcast 1-row totals crossJoin
        "q234_keyset_pagination",  # broadcast 1-row page-boundary crossJoin
        "q270_nelson_aalen",  # broadcast 1-row churn-cutoff crossJoin
        "q271_cuped_adjustment",  # broadcast 1-row theta/moments crossJoin
        "q272_acf_daily_volume",  # broadcast 1-row series totals + 7-row lag table
        "q280_gini_feature_gain",  # broadcast 1-row root-impurity crossJoin
        "q286_source_loo_value",  # broadcast 1-row corpus-totals crossJoin
        "q291_lang_id_prf",  # broadcast class-list (~8 rows) crossJoin
        "q296_knn_eval",  # broadcast query-block crossJoin (q26's shape)
        "q298_share_of_parent",  # broadcast 1-row grand-total crossJoin
        "q26_embedding_topk",
        "q48_range_join",
        "q66_tfidf_top_terms",
        "q80_psi_drift",
    }
    assert set(s["queries_with_bnlj"]) <= allowed, s["queries_with_bnlj"]


def test_q136_bucketed_join_zero_exchange(spark, sf_dir):
    """The bucketed-layout contract: after q136 registers both external
    bucketed tables, a sort-merge join + agg ON THE BUCKET KEY plans
    with ZERO Exchange and ZERO Sort — the write-time layout replaced
    both. Broadcast is disabled so the tiny test tables can't dodge the
    assertion via BroadcastHashJoin."""
    from ingestao_dados_poli_spark.queries import q136_table_names
    from ingestao_dados_poli_spark.session import scoped_conf

    # registers the pid-scoped bucketed tables as a side effect
    Q.QUERIES["q136_bucketed_join"](spark, sf_dir).collect()
    ord_t, li_t = q136_table_names()
    o = spark.table(ord_t)
    l = spark.table(li_t)
    # sort-elision needs the planner to LIST files and confirm one file
    # per bucket — expensive at planning time, so Spark gates it behind
    # this conf (default off). The exchange-elision needs no conf.
    with scoped_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"), \
         scoped_conf(
             spark, "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
         ):
        joined = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("l_orderkey")
            .count()
        )
        plan = _plan(joined)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "Sort " not in plan.replace("SortMergeJoin", "SMJ")
    # and the scan is bucket-aware
    assert "Bucketed: true" in plan


def test_q138_incremental_never_rescans_base(spark, sf_dir):
    """The MV-maintenance contract: a refresh reads the STATE snapshot
    plus the delta slice only — the pre-cutoff base rows are never
    rescanned. The refresh plan must contain exactly one orders scan,
    and that scan must push the delta cutoff into the parquet reader."""
    from ingestao_dados_poli_spark.operators import incremental as IC
    from ingestao_dados_poli_spark.sources import versioned as V
    from pyspark.sql import functions as F

    # publishes state v1 (base) and v2 (first refresh) as a side effect
    Q.QUERIES["q138_incremental_agg"](spark, sf_dir).collect()
    mv = Q._scratch_dir("q138_mv", sf_dir)
    delta = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") >= "1998-01-01")
    )
    refresh = IC.merge_aggregates(
        V.read_latest(spark, mv),
        IC.partial_aggregate(delta, ["o_orderpriority"], ["o_totalprice"]),
        ["o_orderpriority"],
        ["o_totalprice"],
    )
    plan = _plan(refresh)
    assert plan.count("orders.parquet") == 1
    scan = plan.split("orders.parquet")[1]
    assert "GreaterThanOrEqual(o_orderdate" in scan.split("ReadSchema")[0]
    assert "q138_mv" in plan  # state snapshot is the other scan


def test_q141_disjunction_pushes_both_sides(spark, sf_dir):
    """Q19-shape contract: the cross-side OR-of-ANDs must yield
    per-side derived predicates pushed into BOTH parquet scans before
    the join — the lineitem quantity envelope is the scan-cost game at
    scale."""
    plan = _plan(Q.QUERIES["q141_disjunctive_join"](spark, sf_dir))
    li_pushed = plan.split("lineitem.parquet")[1].split("PushedFilters:")[1]
    li_pushed = li_pushed.splitlines()[0]
    assert "GreaterThanOrEqual(l_quantity,1" in li_pushed and "Or(" in li_pushed
    part_pushed = plan.split("part.parquet")[1].split("PushedFilters:")[1]
    part_pushed = part_pushed.splitlines()[0]
    assert "p_brand" in part_pushed and "GreaterThanOrEqual(p_size,1" in part_pushed
    # residual disjunction evaluates as the join condition, no post-join
    # Filter node re-reading both sides
    assert "BroadcastHashJoin" in plan


def test_q164_hint_forces_shuffled_hash_join(spark, sf_dir):
    plan = _plan(Q.QUERIES["q164_join_hints"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q181_partition_prune_plus_bucket_join(spark, sf_dir):
    """Both layout levers visible in ONE plan: the priority filter
    prunes hive partitions (PartitionFilters on the orders scan) AND
    the orderkey join is bucket-aligned (no Exchange under disabled
    broadcast)."""
    import os

    from ingestao_dados_poli_spark.session import scoped_conf
    from pyspark.sql import functions as F

    Q.QUERIES["q181_partitioned_bucketed"](spark, sf_dir).collect()
    pid = os.getpid()
    o = spark.table(f"q181_orders_{pid}").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    l = spark.table(f"q181_lineitem_{pid}")
    with scoped_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        j = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("l_orderkey").count()
        plan = _plan(j)
    ord_scan = plan.split(f"q181_orders_{pid}")[1]
    pf = ord_scan.split("PartitionFilters: [")[1].split("]")[0]
    assert "o_orderpriority" in pf and "1-URGENT" in pf
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert plan.count("Bucketed: true") == 2


def test_q166_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(Q.QUERIES["q166_returned_revenue_topk"](spark, sf_dir))
    # top-20 never becomes a full global sort
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    # nation is broadcast as promised
    assert "BroadcastHashJoin" in plan


def test_q178_nested_metrics_have_no_explode(spark, sf_dir):
    """The document-model claim: after assembly, metrics walk the
    nested arrays in-row — the plan contains NO row generator at all
    (an explode-based rewrite would show Generate)."""
    plan = _plan(Q.QUERIES["q178_nested_model"](spark, sf_dir))
    assert "Generate" not in plan


def test_q158_vocab_mapping_is_broadcast(spark, sf_dir):
    """The token->id join must broadcast the (tiny) vocab; a shuffled
    join here would re-shuffle the whole token stream."""
    plan = _plan(Q.QUERIES["q158_tokenize_ids"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q187_grouped_median_single_shuffle_no_window(spark, sf_dir):
    plan = _plan(Q.QUERIES["q187_monthly_median_trend"](spark, sf_dir))
    # plain grouped percentile: one hash exchange, never a Window
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    # the year filter reaches the scan
    assert "o_orderdate" in plan.split("PushedFilters:")[1].split("]")[0]


def test_q137_span_dedup_no_cartesian_or_generate_explosion(spark, sf_dir):
    plan = _plan(Q.QUERIES["q137_span_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # spans expand in-row from ONE posexplode; reassembly is array_sort,
    # not a second generator pass
    assert plan.count("Generate") <= 2


def test_aqe_converts_smj_to_broadcast_at_runtime(spark, sf_dir):
    """The 100 TB planning story depends on AQE re-planning from TRUE
    shuffle sizes: a heavily filtered build side whose FILE size
    estimate blocks a static broadcast must still end up a
    BroadcastHashJoin once AQE sees the actual bytes. Forced here by
    dropping the static threshold to 1 byte (static plan = SMJ) while
    leaving the ADAPTIVE threshold at the session default."""
    from pyspark.sql import functions as F

    from ingestao_dados_poli_spark.session import scoped_conf

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        "o_orderkey < 100"
    )
    with scoped_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "1"), \
            scoped_conf(
                spark, "spark.sql.adaptive.autoBroadcastJoinThreshold", "64MB"
            ):
        df = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).agg(
            F.count(F.lit(1)).alias("n")
        )
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, final[:2000]
    assert "isFinalPlan=true" in final


def test_aqe_coalesces_shuffle_partitions(spark, sf_dir):
    """A 6-group aggregate at the session's 32-way shuffle default must
    coalesce its post-shuffle partitions (AQEShuffleRead) instead of
    running 32 near-empty reducers — per-reducer overhead is what
    coalescing exists to kill on the small stages of a big DAG."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = orders.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead coalesced" in final, final[:2000]
    assert df.rdd.getNumPartitions() < 32


def test_runtime_bloom_filter_injected_on_selective_join(spark, sf_dir):
    """Runtime row-level filtering: a selective dim filter must inject
    a bloom_filter_agg semi-filter into the FACT scan side when
    broadcast is off — the shuffle-join fallback that still prunes
    99% of fact rows before the exchange at 100 TB. Size gates are
    lowered because local testdata never crosses the 10GB application
    threshold; the conf scope restores the session defaults."""
    from pyspark.sql import functions as F

    from ingestao_dados_poli_spark.session import scoped_conf

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        "o_totalprice > 400000"
    )
    with scoped_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"), \
            scoped_conf(
                spark,
                "spark.sql.optimizer.runtime.bloomFilter."
                "applicationSideScanSizeThreshold",
                "0",
            ), \
            scoped_conf(
                spark,
                "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
                "100MB",
            ):
        df = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).agg(
            F.count(F.lit(1)).alias("n")
        )
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        n = df.collect()[0]["n"]
    assert "bloom_filter_agg" in plan, plan[:1500]
    assert "might_contain" in plan
    assert n > 0
