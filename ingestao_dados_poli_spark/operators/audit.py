"""Order-insensitive table fingerprints for replica verification.

The anti-entropy primitive: two copies of a 100 TB table (primary vs
replica, pre- vs post-migration, engine A vs engine B) are compared by
exchanging a few hashes instead of rows. Each row canonicalizes to a
string, hashes to a 60-bit integer (md5 prefix — engine-portable,
unlike xxhash64/murmur whose seeds differ per engine), and a group
aggregates two order-insensitive digests:

- ``xor_fp``  — bit_xor of row hashes: any single-row difference flips
  it, but PAIRS of identical duplicate rows cancel;
- ``sum_fp``  — modular sum (decimal accumulate, mod 2^60): catches
  exactly the duplicate-multiplicity changes XOR misses.

Together with the row count, a mismatch in EITHER digest pinpoints a
divergent group; matching digests mean equality up to md5 collision
odds (~n²/2⁶⁰ birthday bound per group). Grouping by a partition-ish
column localizes the diff to the partitions worth re-syncing — the
Merkle-tree level-one of Cassandra/Dynamo repair, expressed as one
map-side-combined groupBy.

Float caveat: cross-ENGINE comparison requires the caller to
canonicalize floats first (round + cast to DECIMAL — double→string
formatting differs between engines; see q143). Same-engine replica
checks can fingerprint raw columns directly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_NULL_SENTINEL = "\x00null\x00"
_SEP = "\x1f"
_MOD = 2**60


def row_fingerprint(cols: Sequence[str | Column]) -> Column:
    """60-bit per-row hash: md5 over the null-safe, separator-joined
    canonical string of ``cols``. The sentinel keeps (NULL, 'x')
    distinct from ('', 'x') and from shifted splits — concat_ws alone
    silently drops nulls."""
    canon = [
        F.coalesce(
            (F.col(c) if isinstance(c, str) else c).cast("string"),
            F.lit(_NULL_SENTINEL),
        )
        for c in cols
    ]
    return F.conv(
        F.substring(F.md5(F.concat_ws(_SEP, *canon)), 1, 15), 16, 10
    ).cast("long")


def table_fingerprint(
    df: DataFrame,
    cols: Sequence[str | Column],
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Per-group (n_rows, xor_fp, sum_fp) digest of ``cols``. One
    map-side-combined shuffle on ``group_by`` (or a single row when
    empty) — digest size is O(groups), never O(rows)."""
    h = row_fingerprint(cols).alias("_h")
    base = df.select(*group_by, h)
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(_h)").alias("xor_fp"),
        (F.sum(F.col("_h").cast("decimal(38,0)")) % F.lit(_MOD))
        .cast("long")
        .alias("sum_fp"),
    ]
    if group_by:
        return base.groupBy(*group_by).agg(*aggs)
    return base.agg(*aggs)


