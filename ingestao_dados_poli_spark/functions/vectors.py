"""Vector (array<float/double>) math as column expressions.

For embedding similarity over `embeddings.parquet`. Built on
``F.zip_with``/``F.aggregate`` higher-order functions: fully JVM-side,
no Python round-trip, correct at any scale. Caveat learned by
measurement: Spark interprets higher-order lambdas per element (they
do not enter whole-stage codegen), so for signature-style bulk linear
algebra the Arrow-batched numpy kernels in operators/similarity.py and
operators/dedup.py are ~10x faster. These expressions remain the right
tool for one-off scores inside larger plans (oracle-checkable, no
worker pool needed).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(_c(a), F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    # try_divide, not `/`: a zero-norm vector makes the denominator 0,
    # which under Spark 4's default ANSI mode is a RUNTIME ERROR even
    # for doubles (verified in this build: SELECT 1e0/0e0 raises
    # DIVIDE_BY_ZERO) — one degenerate embedding row must not kill a
    # corpus-wide similarity scan. try_divide yields NULL instead,
    # which the consumers' null filters exclude (e.g. topk_bruteforce
    # pre-reduce).
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def l2_distance(a: Column | str, b: Column | str) -> Column:
    diffs = F.zip_with(_c(a), _c(b), lambda x, y: (x - y) * (x - y))
    return F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v))


def quantize_int8(a: Column | str) -> Column:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    q_i = floor(x_i/scale + 0.5) (round-half-up via floor — the form
    DuckDB/Trino reproduce bit-for-bit, unlike bankers' rounding).
    array<long> out; a zero vector quantizes to all zeros.

    4x smaller than float32 at <1% cosine error for typical embedding
    distributions — at 100 TB that is 4x less scan, shuffle, and
    broadcast for every downstream similarity op. Cosine needs NO
    dequantization: the scale cancels in the ratio, so int8_cosine
    works on the codes directly (error bounded by quantization noise,
    measured in test_similarity_multimodal)."""
    col = _c(a)
    scale = F.array_max(F.transform(col, lambda v: F.abs(v))) / F.lit(127.0)
    return F.transform(
        col,
        lambda v: F.when(scale == 0, F.lit(0))
        .otherwise(F.floor(v / scale + F.lit(0.5)))
        .cast("long"),
    )


def int8_cosine(qa: Column | str, qb: Column | str) -> Column:
    """Cosine over int8 codes: the dot and squared norms accumulate in
    LONG (exact — |q| <= 127, so a 2^37-dim vector would be needed to
    overflow), only the final ratio is float. try_divide guards the
    all-zero code vector like `cosine`."""
    def idot(x, y):
        prods = F.zip_with(_c(x), _c(y), lambda u, v: u * v)
        return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v)

    return F.try_divide(
        idot(qa, qb).cast("double"),
        F.sqrt(idot(qa, qa).cast("double")) * F.sqrt(idot(qb, qb).cast("double")),
    )
