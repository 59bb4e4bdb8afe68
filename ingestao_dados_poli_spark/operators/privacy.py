"""Privacy auditing for training-data release: k-anonymity and
l-diversity over quasi-identifier columns, plus salted masking.

A released dataset is k-anonymous when every combination of
quasi-identifier (QI) values is shared by >= k rows (Sweeney 2002) —
below that, a QI combination re-identifies individuals by join with
public data. l-diversity (Machanavalkshmi et al. 2007) additionally
requires >= l distinct SENSITIVE values inside each QI group, closing
the homogeneity attack k-anonymity alone permits. Complements the
regex PII scrub (`functions/text.py`, q53): scrubbing removes literal
identifiers, these audit the STATISTICAL re-identification surface.

Scale shape: the audit is one map-side-combined groupBy on the QI
columns, never a window over the full table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k_anonymity_report(
    df: DataFrame,
    qi_cols: Sequence[str],
    k: int,
    sensitive_col: str | None = None,
) -> DataFrame:
    """Per-QI-group audit: (qi..., n, satisfies_k [, l_div]). ``l_div``
    is the count of distinct ``sensitive_col`` values in the group —
    check it against your l threshold. One shuffle."""
    aggs = [
        F.count(F.lit(1)).alias("n"),
    ]
    if sensitive_col is not None:
        aggs.append(F.count_distinct(sensitive_col).alias("l_div"))
    out = df.groupBy(*qi_cols).agg(*aggs)
    return out.withColumn("satisfies_k", F.col("n") >= k)


def pseudonym_text(col, salt: str, prefix: str = "anon_"):
    """Deterministic salted pseudonym for a string column: the first 12
    hex chars (48 bits) of md5(salt || ':' || value) under a readable
    prefix. Same input + salt → same pseudonym, so masked tables still
    JOIN on the pseudonym; the salt (a pepper held outside the data)
    blocks dictionary reversal of the unsalted digest. 48 bits keeps
    accidental collision negligible up to ~10^6 distinct values
    (birthday bound ~4e-3 at 1e6); NULLs stay NULL."""
    c = F.col(col) if isinstance(col, str) else col
    digest = F.md5(F.concat(F.lit(f"{salt}:"), c.cast("string")))
    return F.concat(F.lit(prefix), F.substring(digest, 1, 12))


def pseudonym_int(col, salt: str):
    """Deterministic salted BIGINT pseudonym for a key column: the
    first 12 hex chars of the salted md5, parsed base-16 (48 uniform
    bits, always non-negative, fits bigint exactly). The numeric form
    keeps the column usable as a join/partition key after masking —
    hash-partitioning on the pseudonym distributes like the original
    key did. NULLs stay NULL."""
    c = F.col(col) if isinstance(col, str) else col
    digest = F.md5(F.concat(F.lit(f"{salt}:"), c.cast("string")))
    return F.conv(F.substring(digest, 1, 12), 16, 10).cast("bigint")


def mask_columns(df: DataFrame, spec: dict[str, str], salt: str) -> DataFrame:
    """Produce a masked VIEW of ``df``: every column in ``spec`` is
    replaced in place by a deterministic salted pseudonym (``'text'`` →
    prefixed hex string, ``'numeric'`` → 48-bit bigint), all other
    columns pass through. Complements the k-anonymity audit above: it
    measures group-level re-identification, this removes the direct
    identifiers while preserving equality (1:1 per salt), so
    distinct-counts, group-bys and joins on the masked columns return
    the same answers as on the originals.

    Scale shape: pure scan-side projection — one md5 per masked cell,
    no shuffle, no state, whole-stage-codegen friendly; at 100 TB it
    rides the existing scan for free."""
    out = df
    for name, kind in spec.items():
        if kind == "text":
            out = out.withColumn(name, pseudonym_text(name, salt))
        elif kind == "numeric":
            out = out.withColumn(name, pseudonym_int(name, salt))
        else:
            raise ValueError(f"unknown mask kind {kind!r} for {name!r}")
    return out
