"""String-cleaning / entity-key conforming transforms.

The reference's silver layer is ~45 lines of chained ``regexp_replace``
per dataset (etl/1-processing-banks.py:60-73, etl/2:63-77, etl/3:62-77)
plus a ``when/isin`` value remap (etl/4:36-38): string cleaning IS its
join strategy — the left join on ``nome`` (etl/4:50) only matches because
both sides were conformed by the same rules. The engine factors this into
data-driven, ordered rule tables so the rules are testable, reusable, and
compile to a single Catalyst Project (CollapseProject merges the fold).
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Ordered (pattern, replacement) rules. Order matters: e.g. the reference
# strips " SA" before deriving the fantasy name (etl/1:66,74). The LIVE
# bank-name rule table is medallion.NAME_RULES — kept there, next to the
# pipeline whose join strategy depends on it, so it cannot drift.
RuleTable = Iterable[tuple[str, str]]


def apply_rules(col: Column | str, rules: RuleTable) -> Column:
    """Fold an ordered regexp_replace rule table over one column."""
    out = F.col(col) if isinstance(col, str) else col
    for pattern, replacement in rules:
        out = F.regexp_replace(out, pattern, replacement)
    return out


def remap_values(
    df: DataFrame, col: str, mapping: Mapping[str, str], out_col: str | None = None
) -> DataFrame:
    """Exact-value conditional remap (reference etl/4:36-38 when+isin)."""
    expr: Column | None = None
    for src, dst in mapping.items():
        cond = F.col(col) == F.lit(src)
        expr = F.when(cond, F.lit(dst)) if expr is None else expr.when(cond, F.lit(dst))
    expr = expr.otherwise(F.col(col)) if expr is not None else F.col(col)
    return df.withColumn(out_col or col, expr)


def normalize_column_names(df: DataFrame) -> DataFrame:
    """Lower-case + underscore column names in ONE projection.

    Replaces the reference's per-column ``withColumnRenamed`` loop
    (etl/1:54-58 — N stacked Projects) with a single ``toDF``.
    """
    normalized = [c.strip().lower().replace(" ", "_") for c in df.columns]
    return df.toDF(*normalized)


def rename_columns(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """Bulk rename in one pass (reference P6)."""
    return df.withColumnsRenamed(dict(mapping))


def derive_split_item(
    df: DataFrame, src: str, out_col: str, sep: str = "  ", index: int = 1
) -> DataFrame:
    """``split(col, sep)[i]`` derivation (reference etl/1:74
    nome_fantasia). Uses F.get, which yields NULL past the end — the
    reference's pre-ANSI getItem behavior; callers that require non-null
    must pair this with a quality rule (SURVEY §2.10). (Spark 4 ANSI
    mode makes getItem THROW on out-of-bounds.)"""
    return df.withColumn(out_col, F.get(F.split(F.col(src), sep), index))


def align_union(dfs: list[DataFrame]) -> DataFrame:
    """Schema-drift-tolerant union.

    The reference pads missing columns with ``lit('')`` then positionally
    unions (0a:56-66); ``unionByName(allowMissingColumns=True)`` does the
    same alignment by NAME, which survives column reorder between files.
    """
    out = dfs[0]
    for other in dfs[1:]:
        out = out.unionByName(other, allowMissingColumns=True)
    return out


