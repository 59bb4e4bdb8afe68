"""Relational operator surface (thin, scale-annotated wrappers).

The reference exercises inner/left equi-joins, group-by avg, positional
union, projections and renames (SURVEY §2.2-§2.5); its equi-joins are
plain ``DataFrame.join``. This module adds the operators any query
engine user expects (semi/anti joins, sort/limit/top-k, as-of and range
joins, upserts) as plain DataFrame compositions, with the scale levers
(broadcast, salting, range-join batching) made explicit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: salt the (big, skewed) left side and
    explode the (smaller) right side across ``salt_buckets`` replicas.

    Use when one join key dominates (the reference's bank-name keys are
    exactly this shape at scale). AQE's skew-join handles sort-merge
    skew automatically; salting is the explicit fallback that also works
    for shuffled-hash joins and pre-AQE clusters.

    Only left-preserving joins are valid: the right side is REPLICATED
    ``salt_buckets`` times, so any right-preserving ``how`` ('right',
    'full', …) would emit unmatched right rows once per replica —
    silently wrong row counts. Flip the sides for a right-skewed join.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "semi", "left_anti", "leftanti", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join(how={how!r}): only left-preserving joins are "
            "supported — the replicated right side would duplicate "
            "unmatched right rows. Swap the inputs instead."
        )
    salt = (F.rand(seed=42) * salt_buckets).cast("int")
    lsalted = left.withColumn("_salt", salt)
    rsalted = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = lsalted.join(rsalted, [on, "_salt"], how)
    return out.drop("_salt")


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on, "left_anti")


def top_k(
    df: DataFrame, order_by: Sequence[Column], k: int
) -> DataFrame:
    """Global top-k. Spark compiles orderBy+limit to TakeOrderedAndProject
    — each partition keeps only k rows, then the driver merges k*P rows;
    no full sort, no full shuffle. Safe at any scale for small k."""
    return df.orderBy(*order_by).limit(k)


def dedup_keep_first(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """Deterministic 'keep first row per key' (unlike dropDuplicates,
    which keeps an arbitrary row). One shuffle on ``keys``."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] = (),
    right_prefix: str = "asof_",
    slim: bool = False,
) -> DataFrame:
    """As-of (backward) join: for each left row, the latest right row with
    ``right.ts <= left.ts`` for the same key. Left rows with no prior
    right row keep nulls (LEFT ASOF semantics).

    Not a range join: both sides are tagged and UNIONed, then a single
    per-key window carries the last non-null right payload forward. One
    shuffle on (key), no quadratic candidate expansion — this is the
    formulation that survives 100 TB, unlike point-in-interval joins
    that degrade to broadcast-nested-loop.

    Payload-width trade, explicit: the default carries EVERY left
    column through the union as null-padded fields — one wide shuffle,
    and the window sorts wide rows. ``slim=True`` pushes only the
    DISTINCT (key, left_ts) probe points through the union/window and
    joins the resolved matches back onto the full left — the window
    state is timestamp-thin regardless of left's schema, at the cost
    of one extra (slim) distinct shuffle; the join-back is the same
    single wide shuffle of left the default pays, and AQE broadcasts
    the match table when it is small. Prefer ``slim=True`` when left
    is wide (tens of columns) or the payload columns are large.
    Identical results by construction: left rows sharing (key, ts)
    have the same as-of match, so resolving per distinct probe point
    loses nothing (equivalence pinned in test_relational).

    The right side must be unique per (key, ts); pre-aggregate if not
    (duplicate timestamps make any as-of result ill-defined).
    """
    if slim:
        probe = left.select(F.col(key), F.col(left_ts)).distinct()
        matches = asof_join(
            probe,
            right,
            key,
            left_ts=left_ts,
            right_ts=right_ts,
            right_cols=right_cols,
            right_prefix=right_prefix,
            slim=False,
        )
        # NULL-SAFE join-back (<=>): the default path's window groups
        # null keys/timestamps into a partition like any other value,
        # so the slim path must match them too — a plain equi-join
        # would silently drop every null-key left row's match.
        m = matches.withColumnsRenamed({key: "_mk", left_ts: "_mts"})
        return left.join(
            m,
            left[key].eqNullSafe(m["_mk"]) & left[left_ts].eqNullSafe(m["_mts"]),
            "left",
        ).drop("_mk", "_mts")
    rstruct = F.struct(
        F.col(right_ts).alias("_ts"), *[F.col(c) for c in right_cols]
    )
    r = right.select(
        F.col(key),
        F.col(right_ts).alias("_ats"),
        F.lit(0).alias("_side"),
        rstruct.alias("_payload"),
        *[F.lit(None).cast(t.dataType).alias(f"_l_{t.name}") for t in left.schema.fields],
    )
    l = left.select(
        F.col(key),
        F.col(left_ts).alias("_ats"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
        *[F.col(t.name).alias(f"_l_{t.name}") for t in left.schema.fields],
    )
    u = r.unionByName(l)
    # right rows (_side=0) sort before left rows at equal ts → a right row
    # at exactly left.ts is visible to that left row (<= semantics).
    w = (
        Window.partitionBy(key)
        .orderBy("_ats", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("_match", F.last("_payload", ignorenulls=True).over(w))
    out = carried.filter(F.col("_side") == 1).select(
        *[F.col(f"_l_{t.name}").alias(t.name) for t in left.schema.fields],
        F.col("_match._ts").alias(f"{right_prefix}{right_ts}"),
        *[F.col(f"_match.{c}").alias(f"{right_prefix}{c}") for c in right_cols],
    )
    return out


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (training-data mixing lever: e.g.
    keep 100% of rare high-quality sources, 5% of crawl). Built on
    ``sampleBy`` — one scan, no shuffle; sampling decisions are made
    per-row in the scan task, so it parallelizes trivially at any scale.
    Deterministic for a fixed seed and partitioning."""
    return df.sampleBy(stratum_col, fractions=fractions, seed=seed)


def _md5_threshold(fraction: float) -> str:
    """Hex threshold for md5-prefix sampling. 8 hex chars = 32 bits of
    the digest; 'g' sorts above every hex char, so fraction 1.0 keeps
    all rows without a 9-character comparison edge case."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction {fraction} outside [0, 1]")
    t = int(round(fraction * 16**8))
    return "g" if t >= 16**8 else format(t, "08x")


def stratified_sample_deterministic(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    fractions: dict,
    default: float = 0.0,
) -> DataFrame:
    """Reproducible per-stratum Bernoulli sampling by CONTENT, not RNG —
    the data-mixing lever (keep 100% of rare high-quality sources,
    hash-thin the crawl). A row survives iff the first 8 hex chars of
    ``md5(key)`` sort below its stratum fraction's threshold; strata
    absent from ``fractions`` get ``default``. Unlike ``sampleBy``
    (engine RNG, partitioning-sensitive), membership is a pure function
    of (stratum fraction, key bytes) — stable across reruns,
    repartitions, engines (DuckDB computes the identical md5) and
    incremental ingest. Scan-side only."""
    h = F.substring(F.md5(F.col(key_col).cast("string")), 1, 8)
    thresh = None
    for stratum, frac in fractions.items():
        cond = F.col(stratum_col) == stratum
        lit = F.lit(_md5_threshold(frac))
        thresh = F.when(cond, lit) if thresh is None else thresh.when(cond, lit)
    default_lit = F.lit(_md5_threshold(default))
    thresh = default_lit if thresh is None else thresh.otherwise(default_lit)
    return df.filter(h < thresh)


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    partition_keys: Sequence[str] = (),
) -> DataFrame:
    """Point-in-interval join. With ``partition_keys`` it stays an
    equi-join (hash on keys) + post-filter; without, Spark would
    nested-loop — callers should always supply keys at scale."""
    cond = (F.col(left_point) >= F.col(right_lo)) & (
        F.col(left_point) < F.col(right_hi)
    )
    if partition_keys:
        eq = [left[k] == right[k] for k in partition_keys]
        return left.join(right, eq + [cond], "inner")
    return left.join(right, cond, "inner")


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_col: str,
) -> DataFrame:
    """Latest-wins upsert (the batch equivalent of MERGE INTO /
    SCD-type-1): union the two sides, keep the newest row per key by
    ``order_col``; ties go to the updates side.

    One window over the union — the same single shuffle a MERGE's join
    would pay, with no table-format dependency. At scale the shuffle
    keys are the merge keys, so skew behaves exactly like the
    equivalent join; bucketed base tables co-locate it. Schemas must
    align by name (updates may omit columns — filled as nulls).
    """
    tagged_base = base.withColumn("_src_pri", F.lit(0))
    tagged_upd = updates.withColumn("_src_pri", F.lit(1))
    merged = tagged_base.unionByName(tagged_upd, allowMissingColumns=True)
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(), F.col("_src_pri").desc()
    )
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src_pri")
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot reconciliation: per-key diff of two table versions —
    ``(keys..., change_type)`` with change_type ∈ added / removed /
    changed / unchanged. The validation primitive for pipeline
    migrations and backfills ("did the rewrite change anything it
    shouldn't have?").

    Scale shape: ONE full-outer equi-join on the (hash-uniform) key
    columns; the non-key columns collapse to a single struct per side
    before the join, so the compare is one null-safe struct equality
    (no N per-column comparisons in the join output, no row
    serialization to Python). AQE handles skewed keys.
    """
    compare_cols = compare_cols or [
        c for c in old.columns if c not in keys and c in new.columns
    ]
    left = old.select(*keys, F.struct(*compare_cols).alias("_old"))
    right = new.select(*keys, F.struct(*compare_cols).alias("_new"))
    j = left.join(right, keys, "full_outer")
    change = (
        F.when(F.col("_old").isNull(), F.lit("added"))
        .when(F.col("_new").isNull(), F.lit("removed"))
        .when(F.col("_old").eqNullSafe(F.col("_new")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*keys, change.alias("change_type"))


def interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_range: tuple[str, str],
    right_range: tuple[str, str],
    bucket_width: int,
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Interval-OVERLAP join: all (left, right) pairs whose half-open
    ranges ``[start, end)`` intersect (optionally also matching
    ``extra_keys``). Range bounds are numeric (epoch seconds, positions).

    Scale shape — this is the formulation that avoids the broadcast-
    nested-loop plan Spark picks for a bare inequality join: each
    interval EXPLODES onto the fixed-width buckets it covers, the join
    is a plain hash equi-join on (extra_keys..., bucket), and the exact
    overlap predicate filters the collisions. A pair sharing several
    buckets would duplicate, so it is kept ONLY in the canonical bucket
    containing max(left.start, right.start) — an arithmetic guard, not
    a distinct (no second shuffle). Cost: rows x (range/bucket_width)
    explosion vs pairwise candidates; pick ``bucket_width`` near the
    typical interval length so each side lands in O(1) buckets.
    """
    ls, le = left_range
    rs, re_ = right_range
    keys = list(extra_keys)
    clash = (set(left.columns) & set(right.columns)) - set(keys)
    if clash:
        raise ValueError(
            f"interval_join: rename clashing non-key columns first: {sorted(clash)}"
        )

    def bucketed(df: DataFrame, s: str, e: str) -> DataFrame:
        # Empty/inverted intervals (start >= end) are dropped BEFORE
        # bucketing: a half-open [x, x) contains nothing so must match
        # nothing, and F.sequence would otherwise build a DESCENDING
        # bucket list for them — spurious rows on dirty data.
        b = F.explode(
            F.sequence(
                F.floor(F.col(s) / bucket_width),
                # half-open end: an interval ending exactly on a bucket
                # boundary does not reach into that bucket
                F.floor((F.col(e) - 1) / bucket_width),
            )
        )
        return df.filter(F.col(s) < F.col(e)).withColumn("_bucket", b)

    lb = bucketed(left, ls, le)
    rb = bucketed(right.withColumnsRenamed({rs: f"_r_{rs}", re_: f"_r_{re_}"}), f"_r_{rs}", f"_r_{re_}")
    joined = lb.join(rb, on=keys + ["_bucket"])
    overlap = (F.col(ls) < F.col(f"_r_{re_}")) & (F.col(f"_r_{rs}") < F.col(le))
    canonical = F.col("_bucket") == F.floor(
        F.greatest(F.col(ls), F.col(f"_r_{rs}")) / bucket_width
    )
    return (
        joined.filter(overlap & canonical)
        .drop("_bucket")
        .withColumnsRenamed({f"_r_{rs}": rs, f"_r_{re_}": re_})
    )


def contiguous_ids(
    df: DataFrame,
    order_cols: Sequence[str],
    id_col: str = "row_id",
) -> DataFrame:
    """Contiguous ``0..N-1`` ids following the total order of
    ``order_cols`` — WITHOUT the naive global-order window, whose
    single unpartitioned task is where 100 TB jobs go to die, and
    without ``monotonically_increasing_id`` (unique but gapped and
    partition-layout-dependent).

    Shape: range-repartition on the order keys (ordered partitions),
    rank WITHIN each partition (parallel windows), then shift each
    partition's ranks by the total count of earlier partitions — the
    offsets come from a window over the per-partition count table
    (one row per partition, trivially small) and broadcast back. Ids
    are a valid total-order extension regardless of where the range
    sampler places boundaries; pass a UNIQUE key in ``order_cols`` for
    full run-to-run determinism (ties may otherwise order arbitrarily
    across partition boundaries).
    """
    cols = [F.col(c) for c in order_cols]
    d = df.repartitionByRange(*cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("_pid").orderBy(*cols)
    d = d.withColumn("_rn", F.row_number().over(w_local))
    counts = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    # INVARIANT (pinned by test_global_windows_are_post_aggregation):
    # this unpartitioned window runs over the per-partition count table
    # — exactly one row per range partition, never over the data.
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("_pid", "_off")
    return (
        d.join(F.broadcast(offsets), "_pid")
        .withColumn(id_col, (F.col("_off") + F.col("_rn") - 1).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


def incremental_join_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on,
    how: str = "inner",
) -> DataFrame:
    """The NEW join rows contributed by the deltas — the classic
    incremental-view-maintenance delta rule for an inner join:

        delta(A join B) = dA join B_old  UNION ALL
                          A_old join dB  UNION ALL
                          dA join dB

    Maintaining a 100 TB join view on a daily delta then costs
    |delta| x join-fanout instead of re-joining two full snapshots:
    the two cross terms each stream ONE small side against one big
    side (Spark broadcasts the delta when it fits, the common case),
    and the dA x dB term is delta-sized on both sides. The caller
    unions the result onto the previous view state (or folds it into
    an aggregate the way q202 does). Only ``how='inner'`` is supported
    — outer variants need retraction semantics (anti-join tombstones),
    which is the streaming MV's job (stream_ops), not a batch delta.
    """
    if how != "inner":
        raise ValueError("incremental_join_delta supports only inner joins")
    return (
        a_delta.join(b_old, on, "inner")
        .unionByName(a_old.join(b_delta, on, "inner"))
        .unionByName(a_delta.join(b_delta, on, "inner"))
    )


def differential_skew_join(
    a: DataFrame,
    b: DataFrame,
    on_key: str,
    hot_count_threshold: int,
) -> DataFrame:
    """Inner equi-join that routes HOT keys (fact-side frequency above
    ``hot_count_threshold``) through a broadcast path and everything
    else through the normal shuffle join — the differential/two-path
    skew strategy for when ONE key owns a meaningful share of a 100 TB
    fact table and would pin a single reducer in a plain shuffle join.

    One pre-pass counts fact-side key frequencies (map-side combined,
    key-cardinality-sized); the hot-key set is assumed TINY (that's
    what "skew" means) and broadcasts three times: to split each input
    and to ship the hot slice of ``b``. The union's two legs shuffle
    disjoint key ranges, so total shuffle work is the cold keys only.
    Equivalent to the plain join row-for-row — q208's oracle is
    exactly that equivalence. Complements ``salted_join`` (which
    spreads one mega-key across reducers); differential is the right
    tool when the hot side's MATCHING rows are small enough to
    broadcast, salting when they are not."""
    freq = a.groupBy(on_key).agg(F.count(F.lit(1)).alias("_cnt"))
    hot = freq.filter(F.col("_cnt") > hot_count_threshold).select(on_key)
    a_hot = a.join(F.broadcast(hot), on_key, "left_semi")
    a_cold = a.join(F.broadcast(hot), on_key, "left_anti")
    b_hot = b.join(F.broadcast(hot), on_key, "left_semi")
    hot_path = a_hot.join(F.broadcast(b_hot), on_key, "inner")
    cold_path = a_cold.join(b, on_key, "inner")
    return hot_path.unionByName(cold_path)


def merge_into(
    base: DataFrame,
    updates: DataFrame,
    on: Sequence[str],
    *,
    update_cols: Sequence[str] | None = None,
    delete_condition: Column | None = None,
) -> DataFrame:
    """Full three-branch MERGE (the Delta/Iceberg `MERGE INTO` surface,
    table-format-free): WHEN MATCHED AND <delete_condition> THEN
    DELETE; WHEN MATCHED THEN UPDATE SET <update_cols from updates>;
    WHEN NOT MATCHED THEN INSERT. Extends `merge_upsert` (SCD-1
    latest-wins) with the delete branch and partial-column updates —
    non-updated columns keep the base row's values; inserted rows take
    every column from `updates`. ``delete_condition`` is evaluated on
    the joined row and may reference both sides via the ``b``/``u``
    aliases; NULL evaluations keep the row (no silent three-valued
    deletes — same rule as `versioned.erase_rows`).

    Scale shape: ONE full-outer shuffle join on the merge key — the
    minimum any MERGE needs — then pure in-row branch selection; with
    a small update batch Catalyst/AQE will instead broadcast it and
    the base never shuffles at all. Assumes merge keys are non-null on
    both sides (real MERGE semantics reject null keys too).
    """
    on = list(on)
    if update_cols is None:
        update_cols = [c for c in updates.columns if c not in on]
    b = base.alias("b").withColumn("_b", F.lit(1))
    u = updates.alias("u").withColumn("_u", F.lit(1))
    j = b.join(u, on, "full_outer")
    matched = F.col("_b").isNotNull() & F.col("_u").isNotNull()
    if delete_condition is not None:
        j = j.where(
            ~(matched & F.coalesce(delete_condition, F.lit(False)))
        )
    cols = [F.col(c) for c in on]
    for c in base.columns:
        if c in on:
            continue
        if c in update_cols:
            cols.append(
                F.when(matched | F.col("_b").isNull(), F.col(f"u.{c}"))
                .otherwise(F.col(f"b.{c}"))
                .alias(c)
            )
        else:
            cols.append(
                F.when(F.col("_b").isNotNull(), F.col(f"b.{c}"))
                .otherwise(F.col(f"u.{c}"))
                .alias(c)
            )
    return j.select(*cols)


def point_in_time_join(
    spine: DataFrame,
    feature_tables: Sequence[tuple],
    key: str,
    spine_ts: str = "ts",
) -> DataFrame:
    """Feature-store point-in-time (PIT) join: enrich each spine row
    (a training label/example) with, for EVERY feature table, the
    newest feature snapshot whose effective timestamp is <= the spine
    timestamp — the construction that makes training features
    leakage-free (a model may only see what was knowable at label
    time). ``feature_tables`` is a sequence of
    ``(prefix, df, ts_col, value_cols)``; each becomes one backward
    as-of join, columns landing as ``<prefix><col>``.

    Scale shape: one `asof_join(slim=True)` per feature table — the
    union/window state carries only DISTINCT (key, ts) probe points,
    never the (increasingly wide) spine payload, so chaining N feature
    tables costs N thin windows + N join-backs (AQE broadcasts each
    match table when small) instead of N ever-wider shuffles. No
    point-in-interval candidate expansion anywhere.
    """
    out = spine
    for prefix, fdf, fts, cols in feature_tables:
        out = asof_join(
            out,
            fdf,
            key,
            left_ts=spine_ts,
            right_ts=fts,
            right_cols=list(cols),
            right_prefix=prefix,
            slim=True,
        )
    return out


def scd2_from_changes(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Build a slowly-changing-dimension TYPE 2 history from a change
    stream: one version row per RUN of equal ``attr_col`` values per
    key (consecutive duplicates collapse — re-emitting an unchanged
    value is not a new version), with ``version_no``,
    ``effective_from``/``effective_to`` (half-open, ``lead``-derived)
    and ``is_current`` for the open row. The Type 1 counterpart
    (`merge_upsert`) keeps only the newest value; Type 2 keeps the
    full validity timeline, which is what point-in-time joins
    (`point_in_time_join`) need on the dimension side.

    Null-safe: an attr transition to/from NULL is a real change
    (eqNullSafe comparison), and a key's very first row always opens
    version 1. Scale shape: two window passes over the SAME
    (key)-partitioned, (ts, order_cols)-sorted exchange — Spark reuses
    the sort; per-task state is one key's stream. ``order_cols``
    breaks timestamp ties deterministically (pass the event id).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, *order_cols)
    changed = (
        df.withColumn("_prev", F.lag(attr_col).over(w))
        .withColumn("_rn", F.row_number().over(w))
        .filter(
            (F.col("_rn") == 1)
            | ~F.col(attr_col).eqNullSafe(F.col("_prev"))
        )
        .drop("_prev", "_rn")
    )
    w2 = Window.partitionBy(key_col).orderBy(ts_col, *order_cols)
    return (
        changed.withColumn("version_no", F.row_number().over(w2))
        .withColumn("effective_from", F.col(ts_col))
        .withColumn("effective_to", F.lead(ts_col).over(w2))
        .withColumn("is_current", F.col("effective_to").isNull())
    )


def allocate_largest_remainder(
    df: DataFrame,
    group_col: str,
    total_col: str,
    weight_col: str,
    order_col: str,
) -> DataFrame:
    """Largest-remainder (Hamilton) proration: split each group's
    integer ``total_col`` across its rows proportionally to
    ``weight_col``, in INTEGER units that sum back to the total
    EXACTLY — the allocation problem behind spreading an order-level
    discount/tax over its lines, a budget over cost centers, or a
    token quota over shards. Each row gets
    ``floor(total * w / W)``; the leftover cents (always < group row
    count) go one each to the rows with the largest floored-away
    remainder ``(total*w) mod W``, ties broken by ``order_col`` so
    the result is a pure function of the input. Adds ``alloc``.

    Scale shape: one shuffle on ``group_col`` feeding a sum window
    and a row_number window over the same exchange; per-task state is
    one group's rows. All arithmetic is integer — exact on any
    engine, no float drift in the invariant sum(alloc) == total.
    """
    wg = Window.partitionBy(group_col)
    num = F.col(total_col) * F.col(weight_col)
    wsum = F.sum(weight_col).over(wg)
    base = F.expr(
        f"({total_col} * {weight_col}) div _wsum"
    )
    rem = num % F.col("_wsum")
    wr = Window.partitionBy(group_col).orderBy(
        F.desc("_rem"), F.col(order_col)
    )
    out = (
        df.withColumn("_wsum", wsum)
        .withColumn("_base", base)
        .withColumn("_rem", rem)
        .withColumn("_short", F.col(total_col) - F.sum("_base").over(wg))
        .withColumn("_rk", F.row_number().over(wr))
        .withColumn(
            "alloc",
            (
                F.col("_base")
                + F.when(F.col("_rk") <= F.col("_short"), 1).otherwise(0)
            ).cast("long"),
        )
    )
    return out.drop("_wsum", "_base", "_rem", "_short", "_rk")


def pareto_frontier_2d(
    df: DataFrame,
    maximize_col: str,
    minimize_col: str,
) -> DataFrame:
    """2D Pareto frontier (skyline): the rows not dominated by any
    other — no row with a >= ``maximize_col`` AND a <
    ``minimize_col`` (nor equal max and strictly lower min). Returns
    one row per frontier value of ``maximize_col`` with its best
    ``minimize_col``.

    Scale shape: the naive skyline is a quadratic NOT-EXISTS
    self-join; this exploits the 2D structure — aggregate the best
    (min) ``minimize_col`` per ``maximize_col`` value FIRST (one
    map-side-combined shuffle that bounds everything downstream by
    the number of DISTINCT maximize values), then a single running-min
    sweep down the sorted aggregate keeps exactly the strictly
    improving points. The unpartitioned window is POST-aggregation
    (the registry-wide plan invariant); skylines also merge
    distributively — skyline(A ∪ B) = skyline(skyline(A) ∪
    skyline(B)) — so partial frontiers from shards recombine with the
    same two steps.
    """
    g = df.groupBy(maximize_col).agg(
        F.min(minimize_col).alias("_best")
    )
    w = (
        Window.orderBy(F.desc(maximize_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        g.withColumn("_prior_best", F.min("_best").over(w))
        .filter(
            F.col("_prior_best").isNull()
            | (F.col("_best") < F.col("_prior_best"))
        )
        .select(
            F.col(maximize_col),
            F.col("_best").alias(minimize_col),
        )
    )
