"""k-anonymity / l-diversity audit invariants."""

from __future__ import annotations

from ingestao_dados_poli_spark.operators import privacy as PV


def _toy(spark):
    rows = (
        [("NY", "M", i) for i in range(5)]       # group of 5
        + [("NY", "F", 100)]                     # singleton -> violating
        + [("SF", "M", 7), ("SF", "M", 7)]       # group of 2, homogeneous
    )
    return spark.createDataFrame(rows, ["city", "sex", "salary"])


def test_report_counts_and_l_diversity(spark):
    df = _toy(spark)
    rep = {
        (r["city"], r["sex"]): r
        for r in PV.k_anonymity_report(
            df, ["city", "sex"], k=2, sensitive_col="salary"
        ).collect()
    }
    assert rep[("NY", "M")]["n"] == 5 and rep[("NY", "M")]["satisfies_k"]
    assert rep[("NY", "F")]["n"] == 1 and not rep[("NY", "F")]["satisfies_k"]
    # homogeneous sensitive value: k satisfied but l_div == 1 (the
    # homogeneity attack k-anonymity alone misses)
    assert rep[("SF", "M")]["satisfies_k"] and rep[("SF", "M")]["l_div"] == 1


