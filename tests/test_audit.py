"""Replica-fingerprint invariants: order insensitivity, duplicate
multiplicity, null canonicalization."""

from __future__ import annotations

from pyspark.sql import functions as F

from ingestao_dados_poli_spark.operators import audit as AU


def _fp(spark, rows):
    df = spark.createDataFrame(rows, ["g", "k", "v"])
    return AU.table_fingerprint(df, ["k", "v"], group_by=["g"])


def test_fingerprint_is_order_insensitive(spark):
    a = _fp(spark, [("x", 1, "p"), ("x", 2, "q"), ("y", 3, "r")])
    b = _fp(spark, [("y", 3, "r"), ("x", 2, "q"), ("x", 1, "p")])
    assert sorted(a.collect()) == sorted(b.collect())


def test_fingerprint_catches_single_row_drift(spark):
    a = _fp(spark, [("x", 1, "p"), ("x", 2, "q")]).collect()[0]
    b = _fp(spark, [("x", 1, "p"), ("x", 2, "Q")]).collect()[0]
    assert a["n_rows"] == b["n_rows"]
    assert a["xor_fp"] != b["xor_fp"] and a["sum_fp"] != b["sum_fp"]


def test_fingerprint_sum_catches_duplicate_pairs_xor_misses(spark):
    # same row twice extra: xor of the pair cancels, sum must not
    a = _fp(spark, [("x", 1, "p")])
    b = _fp(spark, [("x", 1, "p"), ("x", 1, "p"), ("x", 1, "p")])
    ra, rb = a.collect()[0], b.collect()[0]
    assert ra["xor_fp"] == rb["xor_fp"]  # the XOR blind spot, by design
    assert ra["sum_fp"] != rb["sum_fp"]
    # equal-count duplicate shuffle: (p,p,q) vs (p,q,q)
    rc = _fp(spark, [("x", 1, "p"), ("x", 1, "p"), ("x", 2, "q")]).collect()[0]
    re = _fp(spark, [("x", 1, "p"), ("x", 2, "q"), ("x", 2, "q")]).collect()[0]
    assert rc["n_rows"] == re["n_rows"] and rc["sum_fp"] != re["sum_fp"]


def test_null_vs_empty_vs_shift_distinct(spark):
    df = spark.createDataFrame(
        [(1, None, "x"), (2, "", "x"), (3, "x", None), (4, "x", "")],
        ["id", "a", "b"],
    )
    hashes = df.select(
        AU.row_fingerprint(["a", "b"]).alias("h")
    ).collect()
    assert len({r["h"] for r in hashes}) == 4


