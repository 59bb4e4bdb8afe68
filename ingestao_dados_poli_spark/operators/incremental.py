"""Incremental aggregate maintenance (materialized-view delta update).

At 100 TB the dominant cost of a daily dashboard/rollup is re-scanning
the unchanged base. A grouped aggregate over ALGEBRAIC measures
(count/sum/min/max — and avg, derived as sum/cnt at read time) is
mergeable: keep the aggregate STATE per group, aggregate only the new
batch, and fold the two with a group-by over states — per-refresh cost
is O(|delta| + |state|), never O(|base|). The state table itself is a
natural `sources/versioned.py` snapshot, so refreshes are atomic and
time-travelable like any other publish (same pattern as the
fingerprint delta store in `operators/dedup.py`).

Insert-only by design: counts and sums are subtractable but min/max are
NOT (retracting the current min needs the base). Handle deletes the way
warehouses do — recompute affected partitions, or drop min/max from the
measure set. The reference has no incremental machinery (coursework
full-rebuild ETL, SURVEY §2 scope note); this extends the engine the
way streaming upsert (q91) does for rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CNT = "state_cnt"


def partial_aggregate(
    df: DataFrame, keys: Sequence[str], measures: Sequence[str]
) -> DataFrame:
    """Aggregate ``df`` into mergeable per-group state: one row per key
    combination carrying (state_cnt, {m}_sum, {m}_min, {m}_max). One
    map-side-combined shuffle on ``keys`` — the same plan Spark's own
    partial/final HashAggregate pair produces, materialized so it can
    be SAVED between jobs."""
    aggs = [F.count(F.lit(1)).alias(_CNT)]
    for m in measures:
        aggs += [
            F.sum(m).alias(f"{m}_sum"),
            F.min(m).alias(f"{m}_min"),
            F.max(m).alias(f"{m}_max"),
        ]
    return df.groupBy(*keys).agg(*aggs)


def merge_aggregates(
    base_state: DataFrame,
    delta_state: DataFrame,
    keys: Sequence[str],
    measures: Sequence[str],
) -> DataFrame:
    """Fold two state tables into one: groups present in both merge
    associatively (cnt/sum add, min/max re-extremize); groups new to
    the delta appear, untouched groups pass through. Cost is one
    group-by over |base state| + |delta state| rows — the BASE TABLE is
    never read. Both inputs must carry the exact state schema produced
    by ``partial_aggregate`` (unionByName raises otherwise — schema
    drift in a state table is corruption, not evolution)."""
    u = base_state.unionByName(delta_state)
    aggs = [F.sum(_CNT).alias(_CNT)]
    for m in measures:
        aggs += [
            F.sum(f"{m}_sum").alias(f"{m}_sum"),
            F.min(f"{m}_min").alias(f"{m}_min"),
            F.max(f"{m}_max").alias(f"{m}_max"),
        ]
    return u.groupBy(*keys).agg(*aggs)


def finalize(
    state: DataFrame, measures: Sequence[str], avg_scale: int = 6
) -> DataFrame:
    """Read-time view over a state table: exposes n, per-measure
    sum/min/max and the derived avg (rounded to ``avg_scale`` so the
    division is reproducible across engines). Pure projection — no
    shuffle."""
    out = state.withColumnRenamed(_CNT, "n")
    for m in measures:
        out = out.withColumn(
            f"{m}_avg",
            F.round(F.col(f"{m}_sum") / F.col("n"), avg_scale),
        )
    return out
