"""Time-series operators over per-key series: linear interpolation of
gaps and the upper CUSUM change-point chart.

Not in the reference (batch ETL over complete tables); added because
sensor/metric feeds at scale always arrive with holes, and the repair
must happen distributed — both operators are pure window algebra (one
shuffle on the series key, linear work per partition), no UDFs, no
driver involvement, and interpolation composes with the engine's
date-spine query (q70) for grid densification.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def linear_interpolate(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    *,
    partition_by: list[str],
    out_col: str | None = None,
) -> DataFrame:
    """Linearly interpolate null values between their nearest non-null
    neighbors in event time; leading/trailing nulls fall back to the
    single available neighbor (nearest-fill) and all-null series stay
    null. ``ts_col`` must be numeric (epoch seconds/millis).

    Algebra: four window expressions — previous/next non-null value
    (last/first with ignorenulls over backward/forward frames) and the
    timestamps AT those observations (same frames over a ts-masked
    column) — then one lerp. Two sorted passes per partition, no
    self-join of observations to gaps (the naive formulation, which is
    a range join and quadratic in gap length).
    """
    out_col = out_col or value_col
    v = F.col(value_col)
    t = F.col(ts_col)
    back = (
        Window.partitionBy(*partition_by)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy(*partition_by)
        .orderBy(ts_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t_at_obs = F.when(v.isNotNull(), t)
    pv = F.last(v, ignorenulls=True).over(back)
    pt = F.last(t_at_obs, ignorenulls=True).over(back)
    nv = F.first(v, ignorenulls=True).over(fwd)
    nt = F.first(t_at_obs, ignorenulls=True).over(fwd)
    lerp = pv + (nv - pv) * (t - pt) / (nt - pt)
    interp = (
        F.when(v.isNotNull(), v)
        .when(pv.isNull(), nv)  # leading gap → nearest (next) obs
        .when(nv.isNull(), pv)  # trailing gap → nearest (prev) obs
        .when(nt == pt, pv)
        .otherwise(lerp)
    )
    return df.withColumn(out_col, interp)


def cusum_upper(
    df: DataFrame,
    value_col: str,
    order_col: str,
    target: Column,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """One-sided upper CUSUM control chart (Page 1954):
    ``s_t = max(0, s_{t-1} + x_t - target)`` — the standard
    change-point statistic for detecting a sustained upward shift in
    a metric stream. The recursion looks inherently sequential, but
    its closed form is pure window algebra:
    ``s_t = p_t - min(0, min_{j<=t} p_j)`` where ``p`` is the prefix
    sum of ``(x - target)`` — so the whole chart is two cumulative
    windows over one sorted exchange, no iteration, no UDF.

    Keep ``value_col``/``target`` in integer units (cents, counts) —
    the identity is then exact on any engine. Adds ``cusum``. With no
    ``partition_cols`` the caller must feed a POST-AGGREGATION series
    (the registry-wide global-window invariant); per-key charts pass
    the key columns and scale linearly per key.
    """
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df.withColumn("_p", F.sum(F.col(value_col) - target).over(w))
    return out.withColumn(
        "cusum", F.col("_p") - F.least(F.lit(0), F.min("_p").over(w))
    ).drop("_p")
