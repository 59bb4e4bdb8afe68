"""Source-layer tests: typed CSV ingestion with corrupt-row quarantine,
partitioned parquet writes with pruning, Hadoop-fs utilities."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ingestao_dados_poli_spark.sources import fs
from ingestao_dados_poli_spark.sources.readers import read_csv, read_json, read_orc
from ingestao_dados_poli_spark.sources.writers import write_orc, write_parquet


def _split_corrupt(df):
    # cache first: Spark refuses a query whose only referenced column is
    # the corrupt-record column (SPARK-21610)
    df = df.cache()
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    return clean, df.filter(F.col("_corrupt_record").isNotNull())


def test_read_csv_typed_with_quarantine(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id|price\n1|10.5\n2|not_a_number\n3|7.25\n")
    schema = StructType(
        [StructField("id", LongType()), StructField("price", DoubleType())]
    )
    df = read_csv(spark, str(p), schema=schema, sep="|")
    clean, bad = _split_corrupt(df)
    assert clean.schema["price"].dataType == DoubleType()
    assert sorted(r.id for r in clean.collect()) == [1, 3]
    assert bad.count() == 1  # the unparseable row is kept, not dropped


def test_read_json_typed_with_quarantine(spark, tmp_path):
    # mirrors the CSV quarantine path: one syntactically-broken line and
    # one type-mismatched line both land in _corrupt_record.
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "price": 10.5}\n'
        '{"id": 2, "price": }\n'
        '{"id": "oops", "price": 7.0}\n'
        '{"id": 3, "price": 7.25}\n'
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("price", DoubleType())]
    )
    df = read_json(spark, str(p), schema=schema)
    clean, bad = _split_corrupt(df)
    assert clean.schema["price"].dataType == DoubleType()
    assert sorted(r.id for r in clean.collect()) == [1, 3]
    assert bad.count() == 2


def test_read_json_clean_no_schema(spark, tmp_path):
    p = tmp_path / "clean.jsonl"
    p.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    df = read_json(spark, str(p))
    assert sorted(df.columns) == ["a", "b"] and df.count() == 2


def test_read_csv_delimiters(spark, tmp_path):
    # the reference's three landing formats: tab, comma, pipe (0a:26,38,52)
    for sep, name in [("\t", "t.csv"), (",", "c.csv"), ("|", "p.csv")]:
        p = tmp_path / name
        p.write_text(f"a{sep}b\n1{sep}x\n")
        df = read_csv(spark, str(p), sep=sep)
        assert df.columns == ["a", "b"] and df.count() == 1


def test_write_parquet_partitioned_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "A" if i % 2 else "B", float(i)) for i in range(100)],
        ["id", "seg", "v"],
    )
    out = str(tmp_path / "zoned")
    write_parquet(df, out, partition_by=["seg"])
    back = spark.read.parquet(out).filter(F.col("seg") == "A")
    assert back.count() == 50
    # partition pruning: only the seg=A directory is scanned
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(seg" in plan


def test_orc_roundtrip_partitioned_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "A" if i % 2 else "B", float(i)) for i in range(100)],
        ["id", "seg", "v"],
    )
    out = str(tmp_path / "orc_zone")
    write_orc(df, out, partition_by=["seg"])
    back = read_orc(spark, out).filter(F.col("seg") == "A")
    assert back.count() == 50
    assert {r.id for r in back.collect()} == {i for i in range(100) if i % 2}
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(seg" in plan


def test_write_parquet_coalesce_file_count(spark, tmp_path):
    df = spark.range(1000).repartition(8)
    out = str(tmp_path / "one")
    write_parquet(df, out, target_file_partitions=1)
    files = [f for f in fs.ls(spark, out, suffix=".parquet")]
    assert len(files) == 1


def test_fs_utils_roundtrip(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(10).coalesce(1).write.parquet(src)
    assert fs.exists(spark, src)
    listing = fs.ls(spark, src, suffix=".parquet")
    assert listing and all(p.endswith(".parquet") for p in listing)
    assert fs.rm(spark, src)
    assert not fs.exists(spark, src)


def test_read_json_does_not_mutate_caller_schema(spark, tmp_path):
    """read_json under PERMISSIVE appends a corrupt-record column to the
    schema it is given; it must extend a COPY — the caller's schema is
    typically another DataFrame's cached .schema object, and mutating
    it makes that DataFrame claim a column its plan doesn't have
    (regression: q122 hit exactly this)."""
    src = spark.createDataFrame([(1, "a")], "id long, v string")
    p = str(tmp_path / "j")
    src.write.json(p)
    before = src.columns[:]
    out = read_json(spark, p, schema=src.schema)
    assert src.columns == before  # caller schema untouched
    assert "_corrupt_record" in out.columns
    src.select(*src.columns).collect()  # still resolvable


def test_read_csv_does_not_mutate_caller_schema(spark, tmp_path):
    """read_csv extends a COPY of the schema it is given, as read_json
    does (q156 passes ``docs.schema`` to read_csv)."""
    src = spark.createDataFrame([(1, "a")], "id long, v string")
    p = str(tmp_path / "c")
    src.write.csv(p, header=True)
    before = src.columns[:]
    out = read_csv(spark, p, schema=src.schema)
    assert src.columns == before  # caller schema untouched
    assert "_corrupt_record" in out.columns
    src.select(*src.columns).collect()  # still resolvable


def test_events_ts_normalizes_both_vintages(spark):
    """SURVEY §8: driver testdata has shipped events.ts as BOTH
    TIMESTAMP(NANOS)-surfaced-as-long and micro TIMESTAMP_NTZ across
    rounds. _events_ts must map both encodings of the same instant to
    the identical UTC timestamp, so the next vintage drift is caught
    here, not by a red oracle run."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ingestao_dados_poli_spark import queries as Q

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    instants = [
        dt.datetime(2024, 1, 1, 0, 0, 0),
        dt.datetime(2024, 6, 15, 12, 34, 56, 789012),
        dt.datetime(2025, 12, 31, 23, 59, 59, 999999),
    ]
    nanos = spark.createDataFrame(
        [(int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) * 1000,)
         for t in instants],
        "ts long",
    )
    ntz = spark.createDataFrame(
        [(t,) for t in instants], "ts timestamp_ntz"
    )
    got_nanos = [
        r.s for r in Q._events_ts(nanos)
        .select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("s"))
        .collect()
    ]
    got_ntz = [
        r.s for r in Q._events_ts(ntz)
        .select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("s"))
        .collect()
    ]
    want = [t.strftime("%Y-%m-%d %H:%M:%S.%f") for t in instants]
    assert got_nanos == want
    assert got_ntz == want
    # already-normalized input passes through unchanged
    assert Q._events_ts(Q._events_ts(ntz)).schema["ts"].dataType.typeName() == "timestamp"


def test_stats_collect_is_metadata_only_and_correct(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from ingestao_dados_poli_spark.sources import stats as ST

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    path = str(tmp_path / "li")
    li.repartitionByRange(4, "l_shipdate").sortWithinPartitions(
        "l_shipdate"
    ).write.parquet(path)
    st = ST.collect_file_stats(spark, path, ["l_shipdate"])
    rows = st.collect()
    assert len(rows) == 4  # one row per file for the one column
    # footer stats must agree with a real scan's global min/max
    true_mn, true_mx = li.agg(
        F.min("l_shipdate"), F.max("l_shipdate")
    ).collect()[0]
    mins = [r["min_val"] for r in rows]
    maxs = [r["max_val"] for r in rows]
    assert min(mins).startswith(str(true_mn))
    assert max(maxs).startswith(str(true_mx))
    # row counts add up
    assert sum(r["num_rows"] for r in rows) == li.count()


def test_stats_pruning_skips_files(spark, sf_dir):
    from ingestao_dados_poli_spark import queries as Q
    from ingestao_dados_poli_spark.sources import stats as ST

    # q144 builds the clustered copy as a side effect
    Q.QUERIES["q144_stats_pruned_scan"](spark, sf_dir).collect()
    clustered = Q._scratch_dir("q144_cluster", sf_dir) + "/lineitem"
    stats = ST.collect_file_stats(spark, clustered, ["l_shipdate"])
    files, total = ST.prune_files(
        stats, "l_shipdate", "1997-01-01 00:00:00", "1997-01-31 23:59:59"
    )
    assert total == 8
    # one month of ~83 spans at most 2 range files (3 with boundary luck)
    assert 1 <= len(files) <= 3
    # pruning keeps files whose stats are NULL (never drops unprovable)
    from pyspark.sql import functions as F

    crippled = stats.withColumn("min_val", F.lit(None).cast("string"))
    kept_all, _ = ST.prune_files(
        crippled, "l_shipdate", "2099-01-01", "2099-12-31"
    )
    assert len(kept_all) == 8
    # an out-of-range window over real stats matches nothing -> raises
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ST.pruned_read(spark, stats, "l_shipdate", "2099-01-01", "2099-12-31")


def test_zorder_prunes_both_dimensions(spark, sf_dir):
    from ingestao_dados_poli_spark import queries as Q
    from ingestao_dados_poli_spark.sources import stats as ST

    Q.QUERIES["q146_zorder_skipping"](spark, sf_dir).collect()
    clustered = Q._scratch_dir("q146_z", sf_dir) + "/lineitem"
    stats = ST.collect_file_stats(
        spark, clustered, ["l_quantity", "l_shipdate"]
    )
    q_files, q_total = ST.prune_files(
        stats, "l_quantity", "45", "50", numeric=True
    )
    d_files, d_total = ST.prune_files(
        stats, "l_shipdate", "1995-01-01 00:00:00", "1995-06-30 23:59:59"
    )
    assert q_total == 8 and d_total == 8
    # the Z layout must let BOTH single-column predicates skip files —
    # the property 1-D range clustering cannot provide
    assert len(q_files) < 8, "quantity predicate pruned nothing"
    assert len(d_files) < 8, "ship-date predicate pruned nothing"


def test_optimize_compacts_and_clusters(spark, sf_dir):
    from ingestao_dados_poli_spark import queries as Q
    from ingestao_dados_poli_spark.sources import fs as FS

    Q.QUERIES["q147_optimize_lossless"](spark, sf_dir).collect()
    base = Q._scratch_dir("q147_opt", sf_dir)
    before = FS.file_sizes(spark, base + "/src", suffix=".parquet")
    after = FS.file_sizes(spark, base + "/opt", suffix=".parquet")
    assert len(before) == 64
    assert len(after) < 8


def test_dynamic_overwrite_touches_only_target_partition(spark, sf_dir):
    import os
    import glob

    from ingestao_dados_poli_spark import queries as Q

    Q.QUERIES["q151_dynamic_partition_overwrite"](spark, sf_dir).collect()
    base = Q._scratch_dir("q151_dpo", sf_dir) + "/events"
    days = sorted(d for d in os.listdir(base) if d.startswith("day="))
    assert len(days) > 2
    target, others = days[0], days[1:]
    t_new = max(
        os.path.getmtime(p) for p in glob.glob(f"{base}/{target}/*.parquet")
    )
    o_old = max(
        os.path.getmtime(p)
        for d in others
        for p in glob.glob(f"{base}/{d}/*.parquet")
    )
    # the corrected day was rewritten strictly after the untouched days
    assert t_new > o_old
