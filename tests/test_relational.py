from __future__ import annotations

from pyspark.sql import functions as F

from ingestao_dados_poli_spark.operators import relational as R


def test_semi_anti_join(spark):
    left = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    right = spark.createDataFrame([(2,), (3,), (4,)], ["k"])
    assert sorted(r.k for r in R.semi_join(left, right, "k").collect()) == [2, 3]
    assert [r.k for r in R.anti_join(left, right, "k").collect()] == [1]


def test_salted_join_matches_plain(spark):
    left = spark.createDataFrame([(i % 3, i) for i in range(100)], ["k", "v"])
    right = spark.createDataFrame([(0, "x"), (1, "y"), (2, "z")], ["k", "w"])
    plain = left.join(right, "k").select("k", "v", "w")
    salted = R.salted_join(left, right, "k").select("k", "v", "w")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_rejects_right_preserving(spark):
    import pytest

    left = spark.createDataFrame([(0, 1)], ["k", "v"])
    right = spark.createDataFrame([(0, "x")], ["k", "w"])
    # right/full would duplicate unmatched right rows once per salt replica
    for how in ("right", "full", "right_outer", "full_outer"):
        with pytest.raises(ValueError):
            R.salted_join(left, right, "k", how=how)
    # left-preserving joins all pass the guard
    assert R.salted_join(left, right, "k", how="left").count() == 1
    assert R.salted_join(left, right, "k", how="left_semi").count() == 1


def test_merge_upsert_latest_wins(spark):
    base = spark.createDataFrame(
        [(1, "old", 0), (2, "keep", 0), (3, "stale", 0)], ["k", "v", "ver"]
    )
    upd = spark.createDataFrame([(1, "new", 1), (4, "insert", 1)], ["k", "v", "ver"])
    out = {r.k: (r.v, r.ver) for r in R.merge_upsert(base, upd, ["k"], "ver").collect()}
    assert out == {1: ("new", 1), 2: ("keep", 0), 3: ("stale", 0), 4: ("insert", 1)}


def test_merge_upsert_tie_goes_to_updates(spark):
    base = spark.createDataFrame([(1, "base", 5)], ["k", "v", "ver"])
    upd = spark.createDataFrame([(1, "upd", 5)], ["k", "v", "ver"])
    out = R.merge_upsert(base, upd, ["k"], "ver").collect()
    assert [(r.k, r.v) for r in out] == [(1, "upd")]


def test_top_k_uses_take_ordered(spark):
    df = spark.createDataFrame([(i, float(100 - i)) for i in range(100)], ["id", "score"])
    top = R.top_k(df, [F.col("score").desc()], 5)
    assert [r.id for r in top.collect()] == [0, 1, 2, 3, 4]
    assert "TakeOrderedAndProject" in top._jdf.queryExecution().executedPlan().toString()


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "2020", "a"), (1, "2021", "b"), (2, "2019", "c")], ["k", "d", "v"]
    )
    out = R.dedup_keep_first(df, ["k"], [F.col("d").asc()])
    assert sorted((r.k, r.v) for r in out.collect()) == [(1, "a"), (2, "c")]


def test_asof_join(spark):
    import datetime as dt

    t = dt.datetime
    left = spark.createDataFrame(
        [(1, t(2024, 1, 1, 10), "p1"), (1, t(2024, 1, 1, 12), "p2"),
         (2, t(2024, 1, 1, 9), "p3")],
        ["user_id", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, t(2024, 1, 1, 9), 1.0), (1, t(2024, 1, 1, 11), 2.0),
         (1, t(2024, 1, 1, 12), 3.0), (2, t(2024, 1, 1, 10), 4.0)],
        ["user_id", "ts", "v"],
    )
    out = R.asof_join(left, right, key="user_id", right_cols=["v"])
    got = {r.tag: r.asof_v for r in out.collect()}
    # p1: latest click <= 10:00 is 9:00 (1.0); p2: equal ts 12:00 included
    # (3.0); p3: no click at-or-before 9:00 → null
    assert got == {"p1": 1.0, "p2": 3.0, "p3": None}
    assert out.count() == left.count()  # left rows always survive


def test_asof_join_slim_wide_left_identical(spark):
    """slim=True must return exactly the default's results on a WIDE
    left (50 payload columns) — including duplicate (key, ts) probe
    points and no-match rows — while keeping the window input thin."""
    from pyspark.sql import functions as F

    wide = [F.col("id") % 7, (F.col("id") * 13 % 1000).alias("ts")] + [
        (F.col("id") * (i + 3)).alias(f"pay{i:02d}") for i in range(50)
    ]
    left = (
        spark.range(500)
        .select(F.col("id").alias("k"), *wide)
        .withColumnRenamed("(id % 7)", "key")
    )
    left = left.withColumn("key", F.col("k") % 7).drop("k")
    # duplicate probe points: two rows share every (key, ts)
    left = left.unionByName(left)
    right = spark.range(100).select(
        (F.col("id") % 7).alias("key"),
        (F.col("id") * 29 % 900).alias("ts"),
        (F.col("id") * 2).alias("val"),
    ).groupBy("key", "ts").agg(F.min("val").alias("val"))  # unique per (key, ts)

    a = R.asof_join(left, right, key="key", right_cols=["val"])
    b = R.asof_join(left, right, key="key", right_cols=["val"], slim=True)
    cols = sorted(a.columns)
    assert cols == sorted(b.columns)
    key = lambda t: tuple((v is None, v if v is not None else 0) for v in t)
    ra = sorted(map(tuple, a.select(*cols).collect()), key=key)
    rb = sorted(map(tuple, b.select(*cols).collect()), key=key)
    assert ra == rb
    assert len(ra) == 1000


def test_asof_join_slim_null_keys_match_default(spark):
    """Null keys and null timestamps must resolve IDENTICALLY in both
    payload modes: the window path groups nulls like any value, so the
    slim join-back must be null-safe (a plain equi-join drops them)."""
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(None, 5, "a"), (None, 2, "b"), (1, None, "c"), (1, 5, "d")],
        "k int, ts int, tag string",
    )
    right = spark.createDataFrame(
        [(None, 3, 9), (1, 4, 7)], "k int, ts int, v int"
    )
    a = R.asof_join(left, right, key="k", right_cols=["v"])
    b = R.asof_join(left, right, key="k", right_cols=["v"], slim=True)
    ga = {r.tag: r.asof_v for r in a.collect()}
    gb = {r.tag: r.asof_v for r in b.collect()}
    assert ga == gb
    assert ga["a"] == 9  # null-key left row matches null-key right row


def test_range_join(spark):
    points = spark.createDataFrame([(1, 5), (1, 15), (2, 25)], ["g", "x"])
    ivals = spark.createDataFrame([(1, 0, 10, "lo"), (1, 10, 20, "hi"), (2, 20, 30, "mid")],
                                  ["g", "lo", "hi", "tag"])
    out = R.range_join(points, ivals, "x", "lo", "hi", partition_keys=["g"])
    assert sorted((r.x, r.tag) for r in out.collect()) == [(5, "lo"), (15, "hi"), (25, "mid")]


def test_heavy_hitters_topk_share(spark):
    from ingestao_dados_poli_spark.partitioning import heavy_hitters

    # key 0 on 60 rows, key 1 on 30, key 2 on 10 → shares 0.6/0.3/0.1
    rows = [(0,)] * 60 + [(1,)] * 30 + [(2,)] * 10
    df = spark.createDataFrame(rows, ["k"])
    out = heavy_hitters(df, ["k"], k=2, persist=False)
    got = {(r.k, r.n, r.share) for r in out.collect()}
    assert got == {(0, 60, 0.6), (1, 30, 0.3)}
    # top-k must plan as TakeOrderedAndProject, not a global sort
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_table_diff_all_change_types(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "k long, v string, x double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0)],
        "k long, v string, x double",
    )
    got = {r.k: r.change_type for r in R.table_diff(old, new, ["k"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}

    # null-safe struct equality: NULL == NULL inside compared columns
    same = R.table_diff(old, old, ["k"])
    assert {r.change_type for r in same.collect()} == {"unchanged"}


def test_interval_join_overlap_matches_naive(spark):
    import pytest

    left = spark.createDataFrame(
        [(1, "k", 0, 10), (2, "k", 20, 30), (3, "j", 5, 6)],
        "a_id long, k string, a_start long, a_end long",
    )
    right = spark.createDataFrame(
        [(10, "k", 8, 25), (11, "k", 30, 40), (12, "j", 0, 100), (13, "k", 100, 200)],
        "b_id long, k string, b_start long, b_end long",
    )
    out = R.interval_join(
        left,
        right,
        left_range=("a_start", "a_end"),
        right_range=("b_start", "b_end"),
        bucket_width=7,
        extra_keys=["k"],
    )
    got = sorted((r.a_id, r.b_id) for r in out.collect())
    # naive semantics: overlap = a_start < b_end AND b_start < a_end,
    # half-open — interval 2 [20,30) does NOT overlap 11 [30,40)
    assert got == [(1, 10), (2, 10), (3, 12)]
    # no duplicate pairs despite multi-bucket spans (12 covers 15 buckets)
    assert len(got) == len(set(got))

    # clashing column names are rejected, not silently mangled
    with pytest.raises(ValueError):
        R.interval_join(
            left,
            left,
            left_range=("a_start", "a_end"),
            right_range=("a_start", "a_end"),
            bucket_width=7,
        )


def test_contiguous_ids_total_order_no_global_window(spark):
    df = spark.createDataFrame(
        [(k,) for k in [5, 3, 9, 1, 7, 2, 8, 0, 6, 4]], "k long"
    ).repartition(4)
    out = R.contiguous_ids(df, ["k"]).collect()
    assert sorted((r.k, r.row_id) for r in out) == [(i, i) for i in range(10)]
    # the only unpartitioned window runs over the per-partition count
    # table, so the raw data is never sorted through one task
    plan = R.contiguous_ids(df, ["k"])._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()


def test_deterministic_sample_edges_and_stability(spark):
    """fraction 1.0 keeps every row, 0.0 none, and membership is a pure
    function of the key: the survivor set is identical under
    repartitioning (the property engine-RNG sample() lacks) and matches
    a driver-side md5 recomputation exactly. One stratum with no listed
    fraction samples every row at ``default``."""
    import hashlib

    def sample(df, frac):
        return R.stratified_sample_deterministic(df, "k", "k", {}, default=frac)

    df = spark.createDataFrame([(i,) for i in range(400)], ["k"])
    assert sample(df, 1.0).count() == 400
    assert sample(df, 0.0).count() == 0

    got = sorted(r.k for r in sample(df, 0.3).collect())
    re_got = sorted(
        r.k
        for r in sample(df.repartition(13), 0.3).collect()
    )
    assert got == re_got
    thresh = format(int(round(0.3 * 16**8)), "08x")
    expect = [
        i
        for i in range(400)
        if hashlib.md5(str(i).encode()).hexdigest()[:8] < thresh
    ]
    assert got == expect
    # ~30% of 400 with 32-bit hash uniformity: generous tolerance
    assert 80 <= len(got) <= 160


def test_stratified_sample_deterministic_default(spark):
    rows = [(i, "keep" if i % 2 else "thin") for i in range(200)]
    df = spark.createDataFrame(rows, ["k", "s"])
    out = R.stratified_sample_deterministic(
        df, "s", "k", {"keep": 1.0}, default=0.0
    ).collect()
    assert sorted(r.k for r in out) == [i for i in range(200) if i % 2]

    half = R.stratified_sample_deterministic(
        df, "s", "k", {"keep": 1.0, "thin": 0.5}
    )
    kept = {r.k for r in half.collect()}
    assert {i for i in range(200) if i % 2} <= kept
    n_thin = len(kept) - 100
    assert 25 <= n_thin <= 75


def test_incremental_agg_merge_equals_full_recompute(spark):
    from ingestao_dados_poli_spark.operators import incremental as IC

    rows = [("a", i, float(i * 10)) for i in range(20)] + [
        ("b", i, float(100 - i)) for i in range(5)
    ]
    df = spark.createDataFrame(rows, ["k", "seq", "x"])
    keys, ms = ["k"], ["x"]
    base = IC.partial_aggregate(df.filter("seq < 10"), keys, ms)
    delta = IC.partial_aggregate(df.filter("seq >= 10"), keys, ms)
    merged = {
        r["k"]: r for r in IC.merge_aggregates(base, delta, keys, ms).collect()
    }
    full = {r["k"]: r for r in IC.partial_aggregate(df, keys, ms).collect()}
    assert set(merged) == set(full)
    for k in full:
        assert merged[k]["state_cnt"] == full[k]["state_cnt"]
        assert merged[k]["x_min"] == full[k]["x_min"]
        assert merged[k]["x_max"] == full[k]["x_max"]
        assert abs(merged[k]["x_sum"] - full[k]["x_sum"]) < 1e-9
    # groups only in delta must appear (new key arrives mid-stream)
    df2 = spark.createDataFrame([("c", 0, 7.0)], ["k", "seq", "x"])
    with_new = IC.merge_aggregates(
        base, IC.partial_aggregate(df2, keys, ms), keys, ms
    ).collect()
    assert {"a", "b", "c"} >= {r["k"] for r in with_new}
    assert [r for r in with_new if r["k"] == "c"][0]["x_sum"] == 7.0


def test_incremental_agg_state_schema_drift_raises(spark):
    from ingestao_dados_poli_spark.operators import incremental as IC

    df = spark.createDataFrame([("a", 1.0)], ["k", "x"])
    good = IC.partial_aggregate(df, ["k"], ["x"])
    bad = good.drop("x_max")
    import pytest as _pytest

    with _pytest.raises(Exception):
        IC.merge_aggregates(good, bad, ["k"], ["x"]).collect()


def test_incremental_agg_finalize_avg(spark):
    from ingestao_dados_poli_spark.operators import incremental as IC

    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], ["k", "x"])
    out = IC.finalize(IC.partial_aggregate(df, ["k"], ["x"]), ["x"]).collect()[0]
    assert out["n"] == 2 and out["x_avg"] == 1.5


def test_incremental_join_delta_tiles_full_join(spark):
    """old/delta splits of both sides: old-old + the three delta terms
    must tile the full join exactly — keys present only in old, only
    in delta, and straddling both."""
    import pyspark.sql.functions as F
    from ingestao_dados_poli_spark.operators import relational as R

    a = spark.createDataFrame(
        [(1, "a1", 0), (2, "a2", 0), (2, "a2d", 1), (3, "a3d", 1)],
        ["k", "av", "is_new"],
    )
    b = spark.createDataFrame(
        [(1, "b1", 0), (3, "b3", 0), (1, "b1d", 1), (4, "b4d", 1)],
        ["k", "bv", "is_new"],
    )
    a_old = a.filter("is_new = 0").select("k", "av")
    a_new = a.filter("is_new = 1").select("k", "av")
    b_old = b.filter("is_new = 0").select("k", "bv")
    b_new = b.filter("is_new = 1").select("k", "bv")
    full = {tuple(r) for r in a.join(b, "k").select("k", "av", "bv").collect()}
    tiled = a_old.join(b_old, "k").unionByName(
        R.incremental_join_delta(a_old, a_new, b_old, b_new, "k")
    )
    got = [tuple(r) for r in tiled.select("k", "av", "bv").collect()]
    assert len(got) == len(full) and set(got) == full  # no loss, no dupes

    import pytest as _pytest

    with _pytest.raises(ValueError):
        R.incremental_join_delta(a_old, a_new, b_old, b_new, "k", how="left")


def test_differential_skew_join_equals_plain_join(spark):
    """Routing must be invisible: all-hot (threshold 0), all-cold
    (threshold huge) and mixed thresholds all reproduce the plain
    inner join row-for-row, including duplicate join keys on both
    sides and keys missing from either input."""
    import pyspark.sql.functions as F
    from ingestao_dados_poli_spark.operators import relational as R

    a = spark.createDataFrame(
        [(i % 5, f"a{i}") for i in range(40)] + [(9, "a_only")], ["k", "av"]
    )
    b = spark.createDataFrame(
        [(k, f"b{k}{j}") for k in range(4) for j in range(2)] + [(8, "b_only")],
        ["k", "bv"],
    )
    plain = sorted(
        tuple(r) for r in a.join(b, "k").select("k", "av", "bv").collect()
    )
    for threshold in (0, 5, 10**9):
        got = sorted(
            tuple(r)
            for r in R.differential_skew_join(a, b, "k", threshold)
            .select("k", "av", "bv")
            .collect()
        )
        assert got == plain, threshold


def test_merge_into_three_branches(spark):
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        ["k", "name", "bal"],
    )
    upd = spark.createDataFrame(
        [
            (2, "b2", 99.0, "U"),   # matched update
            (3, "c", 30.0, "D"),    # matched delete
            (9, "new", 5.0, "I"),   # not matched insert
        ],
        ["k", "name", "bal", "op"],
    )
    out = R.merge_into(
        base, upd, ["k"],
        update_cols=["name", "bal"],
        delete_condition=F.col("u.op") == "D",
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (1, "a", 10.0),
        (2, "b2", 99.0),
        (4, "d", 40.0),
        (9, "new", 5.0),
    ]


def test_merge_into_null_delete_condition_keeps_row(spark):
    # three-valued-logic guard: a NULL-evaluating delete condition must
    # KEEP the matched row (update branch), never silently delete it
    base = spark.createDataFrame([(1, "a")], ["k", "v"])
    upd = spark.createDataFrame(
        [(1, "a2", None)], "k int, v string, op string"
    )
    out = R.merge_into(
        base, upd, ["k"], delete_condition=F.col("u.op") == "D"
    )
    assert [tuple(r) for r in out.collect()] == [(1, "a2")]


def test_merge_into_partial_update_cols(spark):
    # non-updated columns keep the base values on matched rows and take
    # the update row's values on inserts
    base = spark.createDataFrame([(1, "a", 7), (2, "b", 8)], ["k", "v", "z"])
    upd = spark.createDataFrame([(1, "A", 70), (3, "C", 90)], ["k", "v", "z"])
    out = R.merge_into(base, upd, ["k"], update_cols=["v"])
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(1, "A", 7), (2, "b", 8), (3, "C", 90)]


def test_point_in_time_join_no_leakage(spark):
    # feature snapshot effective at ts=10 must NOT be visible to a
    # spine row at ts=9, and the newest eligible snapshot wins
    spine = spark.createDataFrame(
        [(1, 9, 100), (2, 10, 100), (3, 25, 100), (4, 5, 200)],
        ["event_id", "ts", "uid"],
    )
    feats = spark.createDataFrame(
        [(100, 10, 1.0), (100, 20, 2.0), (200, 30, 9.0)],
        ["uid", "eff_ts", "f"],
    )
    out = {
        r.event_id: r.pit_f
        for r in R.point_in_time_join(
            spine, [("pit_", feats, "eff_ts", ["f"])], key="uid",
            spine_ts="ts",
        ).collect()
    }
    assert out[1] is None        # snapshot not yet effective
    assert out[2] == 1.0         # becomes visible exactly at eff_ts
    assert out[3] == 2.0         # newest eligible snapshot
    assert out[4] is None        # other key's snapshots invisible
