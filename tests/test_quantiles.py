"""Exact order statistics (operators/quantiles.py): property tests
against Spark's own ``percentile`` (bit for bit) and against q264's
oracle window formula on DuckDB, plus the three registry queries built
on the operator checked against their DuckDB oracles at sf0.001 and on
degenerate copies of it (zero rows, an all-null group, quoted keys)."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ingestao_dados_poli_spark.operators import quantiles as QS
from ingestao_dados_poli_spark.queries import ORACLES, QUERIES

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import canon  # noqa: E402

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# group keys that break string-built SQL, plus a null key
KEYS = st.sampled_from(["a", "b'c", "d\\e", "ção", "日本", None])
# small domains so ties are common; multiples of 64 sit on bucket edges
VALUES = st.one_of(
    st.none(), st.integers(-300, 300), st.integers(-5, 5).map(lambda k: 64 * k)
)
WIDTHS = st.sampled_from([None, 1, 4, 64])


@SETTINGS
@given(
    rows=st.lists(st.tuples(KEYS, VALUES), max_size=40),
    ps=st.lists(
        st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.9, 1.0]) | st.floats(0, 1),
        min_size=1,
        max_size=3,
    ),
    width=WIDTHS,
    as_double=st.booleans(),
)
@example(rows=[("a", 7)], ps=[0.5], width=4, as_double=False)
# equal neighbours: Spark returns -9.25 itself, not 0.9*v + 0.1*v
@example(rows=[("a", -37), ("a", -37)], ps=[0.1], width=4, as_double=True)
@example(rows=[("b'c", -4097), ("b'c", -5)], ps=[0.3], width=2, as_double=True)
def test_exact_percentiles_match_spark_percentile(spark, rows, ps, width, as_double):
    if as_double:  # quarter steps: non-integer values and buckets
        rows = [(k, None if v is None else v / 4) for k, v in rows]
    df = spark.createDataFrame(
        rows, f"k string, v {'double' if as_double else 'long'}"
    )
    want = {
        (r["k"],): list(r)[1:]
        for r in df.groupBy("k")
        .agg(*[F.percentile("v", F.lit(p)) for p in ps])
        .collect()
    }
    got = QS.exact_percentiles(df, ["k"], "v", ps, width)
    assert {g: p.values for g, p in got.items()} == want


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(KEYS.filter(bool), VALUES, st.integers(0, 5)), max_size=40
    ),
    width=WIDTHS,
)
@example(rows=[("a", 3, 0), ("a", -70, 0), ("a", None, 0)], width=64)
@example(rows=[("a", None, 2), ("b'c", 5, 1), ("b'c", None, 3)], width=4)
def test_weighted_median_matches_q264_oracle_formula(spark, rows, width):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE lineitem (l_returnflag VARCHAR, l_extendedprice DOUBLE,"
        " l_quantity DOUBLE)"
    )
    if rows:
        con.executemany(
            "INSERT INTO lineitem VALUES (?, ?, ?)",
            [(k, None if v is None else v / 100, w) for k, v, w in rows],
        )
    oracle = con.execute(ORACLES["q264_weighted_median"]).fetchall()
    want = {(flag,): (m, total) for flag, m, total in oracle}
    df = spark.createDataFrame(rows, "flag string, cents long, w long")
    assert QS.weighted_median(df, ["flag"], "cents", "w", width) == want


def test_histogram_bound_raises_typed_error(spark, monkeypatch):
    df = spark.createDataFrame([(v,) for v in range(10)], "v long")
    monkeypatch.setattr(QS, "MAX_HISTOGRAM_ROWS", 4)
    with pytest.raises(QS.HistogramBoundError, match="bucket_width=2 has more than 4"):
        QS.exact_percentiles(df, [], "v", [0.5], 2)  # 5 buckets
    # 3 buckets, then the 4 values of bucket 1: both collects at or under
    assert QS.exact_percentiles(df, [], "v", [0.5], 4)[()].values == [4.5]


def test_bound_guard_adds_no_job(spark, count_jobs):
    """The capped collect runs the jobs a plain collect of the same
    histogram runs: the exact-value path is one pass."""
    df = spark.createDataFrame([(i % 3, i % 7) for i in range(50)], "k long, v long")
    plain = count_jobs("qs-plain", lambda: df.groupBy("k", "v").count().collect())
    op = count_jobs(
        "qs-op", lambda: QS.exact_percentiles(df, ["k"], "v", [0.5], None)
    )
    assert op == plain


ORACLED = ["q42_percentiles", "q217_kll_quantile_merge", "q264_weighted_median"]


def _assert_matches_oracle(spark, sf_dir, name):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'")
    want = con.execute(ORACLES[name]).fetchdf()
    got = QUERIES[name](spark, sf_dir).toPandas()
    assert sorted(got.columns) == sorted(want.columns)
    assert canon(got) == canon(want)
    return got


@pytest.mark.parametrize("name", ORACLED)
def test_queries_match_oracle(spark, sf_dir, name):
    assert len(_assert_matches_oracle(spark, sf_dir, name)) > 0


# derived copies of sf0.001's lineitem (DuckDB SELECT over the original)
DEGENERATE = {
    "zero_rows": "SELECT * FROM lineitem WHERE false",
    "null_price_flag": "SELECT * REPLACE (CASE WHEN l_returnflag = 'R' THEN NULL"
    " ELSE l_extendedprice END AS l_extendedprice) FROM lineitem",
    "quoted_flag": "SELECT * REPLACE (CASE WHEN l_returnflag = 'N'"
    " THEN 'N''\\ç' ELSE l_returnflag END AS l_returnflag) FROM lineitem",
}


@pytest.mark.parametrize("fixture", sorted(DEGENERATE))
@pytest.mark.parametrize("name", ["q42_percentiles", "q264_weighted_median"])
def test_queries_on_degenerate_lineitem(spark, sf_dir, tmp_path, fixture, name):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'")
    con.execute(f"COPY ({DEGENERATE[fixture]}) TO '{tmp_path}/lineitem.parquet'")
    got = _assert_matches_oracle(spark, str(tmp_path), name)
    assert len(got) == (0 if fixture == "zero_rows" else 3)
