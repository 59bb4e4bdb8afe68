"""Property-based tests (SURVEY §5.5): the cleaning/locale layer is pure
string→string logic, so hypothesis generates the inputs. Each hypothesis
example is a BATCH (a list evaluated in one DataFrame → one Spark job),
so max_examples stays low without losing input diversity.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from ingestao_dados_poli_spark.functions.locale import parse_decimal_comma
from ingestao_dados_poli_spark.functions.text import normalize_text

BATCH_SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=80
)
TEXT_BATCH = st.lists(TEXT, min_size=1, max_size=200)


@BATCH_SETTINGS
@given(batch=TEXT_BATCH)
def test_normalize_text_idempotent(spark, batch):
    df = spark.createDataFrame([(s,) for s in batch], "t string")
    out = df.select(
        normalize_text("t").alias("once"),
        normalize_text(normalize_text("t")).alias("twice"),
    )
    assert out.filter(F.col("once") != F.col("twice")).count() == 0


@BATCH_SETTINGS
@given(batch=TEXT_BATCH)
def test_normalize_never_leaves_runs_or_edges(spark, batch):
    df = spark.createDataFrame([(s,) for s in batch], "t string")
    bad = df.select(normalize_text("t").alias("n")).filter(
        F.col("n").rlike(r"\s{2,}|^\s|\s$") | (F.col("n") != F.lower("n"))
    )
    assert bad.count() == 0


@BATCH_SETTINGS
@given(
    batch=st.lists(
        st.decimals(min_value=0, max_value=10_000_000, places=2, allow_nan=False),
        min_size=1,
        max_size=200,
    )
)
def test_parse_decimal_comma_roundtrip(spark, batch):
    rows = []
    for d in batch:
        intpart, frac = f"{d:.2f}".split(".")
        groups = []
        while intpart:  # pt-BR thousands dots: 1234567 → 1.234.567
            groups.append(intpart[-3:])
            intpart = intpart[:-3]
        ptbr = ".".join(reversed(groups)) + "," + frac
        rows.append((ptbr, float(d)))
    df = spark.createDataFrame(rows, "s string, expected double")
    bad = df.select(parse_decimal_comma("s").alias("got"), "expected").filter(
        F.abs(F.col("got") - F.col("expected")) > 1e-9
    )
    assert bad.count() == 0
