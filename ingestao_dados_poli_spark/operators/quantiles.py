"""Exact order statistics by bucketed selection.

Spark's ``percentile`` sorts each group's full value buffer in one task.
Here three map-side-combined passes find the values at the wanted ranks:
a histogram of ``floor(value / bucket_width)`` buckets per group, a driver
walk to the bucket holding each rank, and one filtered fetch of those
buckets' exact ``(value, weight)`` cells. Bucket ids come only from Spark,
one expression for both passes, so the driver never recomputes them.
``bucket_width=None`` histograms exact values and skips the fetch (one
job). Null values order last, as in DuckDB's ``ORDER BY``: their weight
counts in the group's total, but a rank among them is ``None``. A null
weight counts as zero.
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Most rows one histogram collect may bring to the driver; it fetches one
# more, through limit, to tell that the bound was passed.
MAX_HISTOGRAM_ROWS = 100_000


class HistogramBoundError(RuntimeError):
    """A histogram collect passed ``MAX_HISTOGRAM_ROWS``; a wider
    ``bucket_width`` makes the histogram smaller."""


class Percentiles(NamedTuple):
    values: list  # one per requested p; None when the group has no value
    extra: dict  # each extra aggregate, summed over the group


def _collect(df: DataFrame, what: str) -> list:
    rows = df.limit(MAX_HISTOGRAM_ROWS + 1).collect()
    if len(rows) > MAX_HISTOGRAM_ROWS:
        raise HistogramBoundError(f"{what} has more than {MAX_HISTOGRAM_ROWS} rows")
    return rows


def _walk(cells: list, ranks) -> dict:
    """Sorted ``(key, weight)`` cells, ascending ranks below their total
    -> ``{rank: (key, rank minus the weight before key)}``."""
    out, cum, it = {}, 0, iter(cells)
    key, w = next(it)
    for k in ranks:
        while cum + w <= k:
            cum += w
            key, w = next(it)
        out[k] = (key, k - cum)
    return out


def _order_statistics(df, keys, value, weight, ranks_of, bucket_width, extra):
    """``{group: ({rank: value}, weight, null_weight, extra_sums)}``, the
    ranks being ``ranks_of(weight, null_weight)`` over the group's
    non-null values repeated by weight (by 1 when ``weight`` is None)."""
    w = (F.count(F.lit(1)) if weight is None else F.sum(weight)).alias("_qs_w")
    b = F.col(value) if bucket_width is None else F.floor(F.col(value) / bucket_width)
    b = b.alias("_qs_b")
    what = f"histogram of {value} at bucket_width={bucket_width}"
    aggs = [w, *(a.alias(n) for n, a in extra.items())]
    nk, cells, sums = len(keys), {}, {}
    for r in _collect(df.groupBy(*keys, b).agg(*aggs), what):
        r = tuple(r)  # (*keys, bucket, weight, *extra); skips Row's by-name reads
        g = r[:nk]
        if g not in sums:
            sums[g], cells[g] = dict.fromkeys(extra, 0), []
        for name, x in zip(extra, r[nk + 2 :]):
            sums[g][name] += x
        cells[g].append((r[nk], r[nk + 1] or 0))
    out = {}
    for g, s in sums.items():
        nulls = sum(c for bk, c in cells[g] if bk is None)
        cs = sorted(c for c in cells[g] if c[0] is not None)
        n = sum(c for _, c in cs)
        ranks = sorted({k for k in ranks_of(n, nulls) if k < n})
        out[g] = (_walk(cs, ranks) if cs else {}, n, nulls, s)
    # The fetch filters on bucket ids alone, the union over groups: one
    # isin, not a per-group predicate, whose every Column op costs py4j
    # round trips. Cells of buckets a group does not need are ignored.
    wanted = {bk for at, *_ in out.values() for bk, _ in at.values()}
    in_bucket = {}
    if bucket_width is not None and wanted:
        fetch = df.select("*", b).filter(F.col("_qs_b").isin(*wanted))
        fetch = fetch.groupBy(*keys, "_qs_b", value).agg(w)
        for r in _collect(fetch, what):
            r = tuple(r)  # (*keys, bucket, value, weight)
            cell = (r[nk + 1], r[nk + 2] or 0)
            in_bucket.setdefault((r[:nk], r[nk]), []).append(cell)
    for g, (at, *_) in out.items():
        for k, (key, off) in at.items():
            if bucket_width is not None:  # key is a bucket: walk its values
                key = _walk(sorted(in_bucket[g, key]), [off])[off][0]
            at[k] = key
    return out


def exact_percentiles(
    df: DataFrame,
    keys: list[str],
    value: str,
    ps: list[float],
    bucket_width: float | None,
    extra: dict[str, Column] | None = None,
) -> dict[tuple, Percentiles]:
    """``{group: Percentiles}``: ``percentile(value, p)`` per ``p`` in
    ``ps``, bit for bit as Spark's ``Percentile.scala``: position
    ``p * (n - 1)`` over the ``n`` non-null values, interpolated between
    ranks floor and ceil. ``extra`` names additive aggregates (counts,
    conditional sums) to run in the histogram pass."""

    def ranks_of(n, _):
        return [f(p * (n - 1)) for p in ps for f in (math.floor, math.ceil)]

    def interp(at, pos):
        lo, hi = math.floor(pos), math.ceil(pos)
        if at[lo] == at[hi]:
            return float(at[lo])
        return (hi - pos) * float(at[lo]) + (pos - lo) * float(at[hi])

    stats = _order_statistics(
        df, keys, value, None, ranks_of, bucket_width, extra or {}
    )
    return {
        g: Percentiles([interp(at, p * (n - 1)) if n else None for p in ps], s)
        for g, (at, n, _, s) in stats.items()
    }


def weighted_median(
    df: DataFrame, keys: list[str], value: str, weight: str, bucket_width: float | None
) -> dict[tuple, tuple]:
    """``{group: (median, total)}``: the smallest value whose cumulative
    weight ``cw`` has ``2 * cw >= total``, the group's whole weight (null
    values included). That is the value at rank ``(total - 1) // 2``; at
    ``total == 0`` the rank is -1, the smallest value, as the rule says."""

    def rank(n, nulls):
        return (n + nulls - 1) // 2

    stats = _order_statistics(
        df, keys, value, weight, lambda n, nulls: [rank(n, nulls)], bucket_width, {}
    )
    return {
        g: (at.get(rank(n, nulls)), n + nulls)
        for g, (at, n, nulls, _) in stats.items()
    }
