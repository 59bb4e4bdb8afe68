"""Physical-layout operators: Morton (Z-order) clustering — the
table-maintenance half of a 100 TB lake (Delta/Iceberg OPTIMIZE
re-expressed as plain Spark writes)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ingestao_dados_poli_spark.partitioning import morton_code
from ingestao_dados_poli_spark.sources.writers import write_clustered


def _morton_py(x: int, y: int, bits: int = 8) -> int:
    return sum(
        (((x >> i) & 1) << (2 * i)) | (((y >> i) & 1) << (2 * i + 1))
        for i in range(bits)
    )


def test_morton_code_known_values(spark):
    rows = [(0, 0), (1, 0), (0, 1), (5, 3), (255, 255), (200, 17)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", morton_code([F.col("x"), F.col("y")], bits=8).alias("z")
        ).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _morton_py(x, y), (x, y)


def test_morton_code_three_columns(spark):
    df = spark.createDataFrame([(3, 5, 6)], "x int, y int, z int")
    (r,) = df.select(
        morton_code([F.col("x"), F.col("y"), F.col("z")], bits=3).alias("m")
    ).collect()
    expect = sum(
        (((3 >> i) & 1) << (3 * i))
        | (((5 >> i) & 1) << (3 * i + 1))
        | (((6 >> i) & 1) << (3 * i + 2))
        for i in range(3)
    )
    assert r.m == expect


def test_morton_code_guards(spark):
    import pytest

    with pytest.raises(ValueError):
        morton_code([F.col("x")], bits=8)
    with pytest.raises(ValueError):
        morton_code([F.col("x"), F.col("y")], bits=32)


def _per_file_span(spark, path: str, col: str) -> float:
    """Mean per-file (max-min) span of `col`, as a fraction of the
    global span — the proxy for min/max row-group skipping power."""
    df = spark.read.parquet(path).select(
        F.input_file_name().alias("f"), F.col(col)
    )
    per = df.groupBy("f").agg(
        (F.max(col) - F.min(col)).alias("span")
    )
    g = df.agg((F.max(col) - F.min(col)).alias("g")).collect()[0].g
    spans = [r.span for r in per.collect()]
    return (sum(spans) / len(spans)) / g


def test_write_clustered_improves_both_column_localities(spark, tmp_path):
    # pseudo-random but deterministic 2-d points; a row-order write has
    # every file spanning ~the whole range of both columns, a z-ordered
    # write shrinks the per-file span on BOTH columns at once.
    n = 20_000
    df = spark.range(n).select(
        ((F.col("id") * 2654435761) % 4096).alias("x"),
        ((F.col("id") * 40503) % 4096).alias("y"),
    )
    plain, clustered = str(tmp_path / "plain"), str(tmp_path / "zorder")
    df.repartition(8).write.parquet(plain)
    write_clustered(df, clustered, ["x", "y"], bits=8, num_files=8)

    back = spark.read.parquet(clustered)
    assert back.count() == n
    # same multiset of rows
    assert (
        back.groupBy().agg(F.sum("x"), F.sum("y")).collect()
        == df.groupBy().agg(F.sum("x"), F.sum("y")).collect()
    )
    for c in ("x", "y"):
        s_plain = _per_file_span(spark, plain, c)
        s_clustered = _per_file_span(spark, clustered, c)
        # The plain row-order write must span ~the whole range per file
        # (else the 0.65x bound below would be a hollow claim).
        assert s_plain > 0.85, (c, s_plain)
        # 8 files of a z-ordered 2-d grid cover ~sqrt(1/8) of each axis.
        # Bound set from measured variance, not the ideal: z-cut
        # boundaries come from repartitionByRange's RangePartitioner
        # sampling, which shifts with session history (full-suite runs
        # measured up to 0.6014 where isolated runs give ~0.55); 0.65
        # still pins a real >=35% per-file span cut on BOTH columns.
        assert s_clustered < 0.65 * s_plain, (c, s_clustered, s_plain)


def test_write_clustered_constant_column(spark, tmp_path):
    df = spark.range(100).select(F.lit(7).alias("x"), F.col("id").alias("y"))
    out = str(tmp_path / "const")
    write_clustered(df, out, ["x", "y"], bits=4, num_files=2)
    assert spark.read.parquet(out).count() == 100


