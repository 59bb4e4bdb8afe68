from __future__ import annotations

from ingestao_dados_poli_spark.operators import timeseries as TS


def _series(spark):
    rows = [
        # (key, ts, value) — gaps at ts 20,30 (interior), 0 (leading),
        # 50 (trailing); key "b" is all-null
        ("a", 0, None),
        ("a", 10, 1.0),
        ("a", 20, None),
        ("a", 30, None),
        ("a", 40, 4.0),
        ("a", 50, None),
        ("b", 0, None),
        ("b", 10, None),
    ]
    return spark.createDataFrame(rows, "k string, ts long, v double")


def test_linear_interpolate_gaps_and_edges(spark):
    out = {
        (r.k, r.ts): r.v
        for r in TS.linear_interpolate(
            _series(spark), "v", "ts", partition_by=["k"]
        ).collect()
    }
    # interior gap: lerp between (10, 1.0) and (40, 4.0)
    assert abs(out[("a", 20)] - 2.0) < 1e-9
    assert abs(out[("a", 30)] - 3.0) < 1e-9
    # edges: nearest-fill; all-null series stays null
    assert out[("a", 0)] == 1.0
    assert out[("a", 50)] == 4.0
    assert out[("b", 0)] is None
