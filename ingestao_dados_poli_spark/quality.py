"""Data-quality suites: the reference's Great Expectations surface,
re-expressed as one-pass Spark aggregations.

The reference validates each silver table with GX (etl/1-processing-banks.py:102-186,
etl/2:105-195, etl/3:106-193): not-null checks (Q3), column-existence (Q4),
a commented-out between check (Q5), suite persistence (Q6), checkpoint run
with stored results (Q7), and report publishing (Q8). GX runs ONE Spark
job per expectation; at 100 TB that is N full scans. This module compiles
an entire suite into ONE list of exact aggregates — every column rule
becomes one `sum(violation_flag)` — evaluated in a single scan: its own
aggregation job (``validate``), or riding the action the caller already
runs (``observe_suite``; ``Pipeline.run`` observes on the sink write, as
the reference validates each table once after writing it). Either way it
emits the same JSON-serializable report. Failures are recorded, not
fatal, matching the reference's checkpoint policy (etl/1:169-175).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# Every kind but ``exists`` and ``row_count_between`` compiles to one
# exact, commutative ``sum(violation)`` aggregate, so one aggregate list
# serves both ``df.agg`` (validate) and ``df.observe`` (observe_suite).
_KINDS = (
    "not_null", "exists", "between", "row_count_between",
    "values_in_set", "matches_regex",
)


@dataclass(frozen=True)
class Rule:
    """One expectation. ``kind`` is one of ``_KINDS``; every kind but
    ``row_count_between`` names a column. An unknown kind raises here
    rather than compile to no aggregate and report success."""

    kind: str
    column: str | None = None
    lo: float | None = None
    hi: float | None = None
    values: tuple = ()
    pattern: str | None = None

    def __post_init__(self) -> None:
        if self.kind not in _KINDS:
            raise ValueError(
                f"unknown rule kind {self.kind!r}; expected one of {', '.join(_KINDS)}"
            )
        if self.kind != "row_count_between" and not self.column:
            raise ValueError(f"rule kind {self.kind!r} needs a column")

    def describe(self) -> str:
        bits = [self.kind]
        if self.column:
            bits.append(self.column)
        if self.lo is not None or self.hi is not None:
            bits.append(f"[{self.lo}, {self.hi}]")
        if self.values:
            bits.append(f"in {list(self.values)!r}")
        if self.pattern:
            bits.append(f"~ /{self.pattern}/")
        return " ".join(bits)


def not_null(column: str) -> Rule:
    """Q3 — expect_column_values_to_not_be_null (etl/1:139-142)."""
    return Rule("not_null", column)


def exists(column: str) -> Rule:
    """Q4 — expect_column_to_exist (etl/1:151)."""
    return Rule("exists", column)


def between(column: str, lo: float, hi: float) -> Rule:
    """Q5 — expect_column_values_to_be_between; commented out in the
    reference (etl/1:144-146) but clearly intended, so implemented."""
    return Rule("between", column, lo=lo, hi=hi)


def row_count_between(lo: float, hi: float = float("inf")) -> Rule:
    return Rule("row_count_between", None, lo=lo, hi=hi)


def values_in_set(column: str, values) -> Rule:
    return Rule("values_in_set", column, values=tuple(values))


def matches_regex(column: str, pattern: str) -> Rule:
    return Rule("matches_regex", column, pattern=pattern)


@dataclass
class Suite:
    """Named, persistable expectation suite (Q6: `validacao_banks` etc.,
    etl/1:129-130). ``to_json``/``from_json`` replace GX's YAML store."""

    name: str
    rules: list[Rule] = field(default_factory=list)

    def add(self, rule: Rule) -> "Suite":
        self.rules.append(rule)
        return self

    def to_json(self) -> str:
        return json.dumps(
            {"name": self.name, "rules": [vars(r) | {"values": list(r.values)} for r in self.rules]},
            ensure_ascii=False,
        )

    @staticmethod
    def from_json(payload: str) -> "Suite":
        obj = json.loads(payload)
        rules = [
            Rule(
                kind=r["kind"],
                column=r.get("column"),
                lo=r.get("lo"),
                hi=r.get("hi"),
                values=tuple(r.get("values") or ()),
                pattern=r.get("pattern"),
            )
            for r in obj["rules"]
        ]
        return Suite(obj["name"], rules)


def _violation(rule: Rule) -> Column:
    """The per-row violation flag of a column rule."""
    c = F.col(rule.column)
    if rule.kind == "not_null":
        return c.isNull()
    if rule.kind == "between":
        # try_cast: ANSI mode makes a plain cast THROW on unparseable
        # strings (killing the whole suite); try_cast yields NULL, and
        # coalesce then collapses the three-valued logic so NULL input,
        # failed cast, and out-of-range all count as violations (a bare
        # ~between() is NULL for unparseable values, which sum() would
        # silently skip — masking every bad row).
        return ~F.coalesce(c.try_cast("double").between(rule.lo, rule.hi), F.lit(False))
    if rule.kind == "values_in_set":
        return ~c.isin(*rule.values) & c.isNotNull()
    return ~c.rlike(rule.pattern) & c.isNotNull()  # matches_regex


def _aggregates(suite: Suite, cols: set[str]) -> list[Column]:
    """Compile the suite to aggregates: ``_row_count`` plus one
    ``v{idx}`` violation count per column rule whose column exists.

    Every expression is a plain aggregate over the same scan — Catalyst
    fuses them into one HashAggregate, so a 40-rule suite still costs one
    pass over the table (vs GX's one job per expectation)."""
    exprs = [F.count(F.lit(1)).alias("_row_count")]
    for idx, rule in enumerate(suite.rules):
        if rule.kind in ("exists", "row_count_between") or rule.column not in cols:
            continue  # no per-row expression, or reported as column missing
        exprs.append(F.sum(_violation(rule).cast("long")).alias(f"v{idx}"))
    return exprs


def _build_report(
    suite: Suite, cols: set[str], row: dict[str, Any], started: float
) -> dict[str, Any]:
    """Turn the one-pass aggregate row into the GX-checkpoint-shaped
    report dict shared by ``validate`` and ``observe_suite``."""
    results: list[dict[str, Any]] = []
    row_count = row["_row_count"]

    for idx, rule in enumerate(suite.rules):
        if rule.kind == "exists":
            ok = rule.column in cols
            results.append({"rule": rule.describe(), "success": ok, "unexpected_count": 0 if ok else 1})
        elif rule.kind == "row_count_between":
            hi = rule.hi if rule.hi is not None else float("inf")
            ok = (rule.lo or 0) <= row_count <= hi
            results.append({"rule": rule.describe(), "success": ok, "observed": row_count})
        elif rule.column not in cols:
            results.append({"rule": rule.describe(), "success": False, "error": "column missing"})
        else:
            bad = row[f"v{idx}"] or 0  # sum over zero rows is NULL
            results.append({"rule": rule.describe(), "success": bad == 0, "unexpected_count": int(bad)})

    success = all(r["success"] for r in results)
    return {
        "suite": suite.name,
        "success": success,
        # Every rule is exact, so the gate key equals `success`; publish
        # gates (versioned.publish, quality_gated_foreach_batch) read it.
        "certified": success,
        "row_count": int(row_count),
        "results": results,
        "duration_s": round(time.time() - started, 3),
    }


def validate(df: DataFrame, suite: Suite) -> dict[str, Any]:
    """Run a suite in ONE aggregation job; return a GX-checkpoint-shaped
    report dict (Q7, etl/1:161-186). Never raises on rule failure."""
    started = time.time()
    cols = set(df.columns)
    row = df.agg(*_aggregates(suite, cols)).collect()[0].asDict()
    return _build_report(suite, cols, row, started)


def observe_suite(df: DataFrame, suite: Suite):
    """Zero-extra-pass validation: ride the suite's aggregates on
    whatever action the caller already runs (typically the sink write)
    via ``df.observe``. ``validate`` costs one dedicated scan; this
    costs NOTHING — at 100 TB the difference is a full extra pass over
    the table per pipeline run. Same aggregates, same report.

    Returns ``(observed_df, finish)``: write/collect ``observed_df``,
    then call ``finish()`` for the report dict. Call ``finish`` only
    after that action succeeded: it waits for the observed metrics.
    """
    from pyspark.sql import Observation

    started = time.time()
    cols = set(df.columns)
    obs = Observation(f"suite_{suite.name}")
    observed = df.observe(obs, *_aggregates(suite, cols))

    def finish() -> dict[str, Any]:
        return _build_report(suite, cols, dict(obs.get), started)

    return observed, finish


def null_counts(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One-row frame of per-column null counts — the engine's primitive
    behind not_null (SURVEY Q3 maps GX to `sum(isNull)` one-pass agg)."""
    columns = columns or df.columns
    return df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls") for c in columns]
    )


def render_report_markdown(report: dict[str, Any]) -> str:
    """Human-readable data docs from a validation report — the engine's
    counterpart to the GX data-docs build the reference runs and
    publishes (etl/1-processing-banks.py:163-186, 196). Markdown rather
    than GX's HTML site: one self-contained page per checkpoint run
    that renders in any repo browser, diffs cleanly in review, and
    needs no JS assets in the bucket.

    Deterministic for a given report dict (no timestamps are invented
    here — ``duration_s`` comes from the run), so golden-file tests can
    pin the exact output."""
    verdict = "CERTIFIED" if report.get("certified") else "FAILED"
    lines = [
        f"# Data quality report — `{report['suite']}`",
        "",
        f"**Verdict: {verdict}** · {report['row_count']:,} rows · "
        f"{len(report['results'])} expectations · {report['duration_s']}s",
        "",
        "| # | expectation | status | detail |",
        "|---|---|---|---|",
    ]
    for i, res in enumerate(report["results"], start=1):
        if res.get("error"):
            status, detail = "error", res["error"]
        elif not res["success"]:
            status = "fail"
            detail = _result_detail(res)
        else:
            status, detail = "pass", _result_detail(res)
        rule = res["rule"].replace("|", "\\|")
        lines.append(f"| {i} | `{rule}` | {status} | {detail} |")
    lines += [
        "",
        "Gate on **CERTIFIED** for irreversible promotion (versioned "
        "publish).",
        "",
    ]
    return "\n".join(lines)


def _result_detail(res: dict[str, Any]) -> str:
    """One terse cell per expectation result."""
    obs = res.get("observed")
    if obs is not None:
        return f"observed={obs}"
    n = res.get("unexpected_count", 0)
    return "ok" if not n else f"{n} unexpected"


def publish_report(spark, report: dict[str, Any], dir_path: str) -> None:
    """Q8 end-to-end: write the JSON report AND its rendered markdown
    data docs under ``dir_path`` (any Hadoop-visible URI — the same
    publish surface the reference pushes GX docs to, via
    ``sources.fs`` instead of dbutils). Files are overwritten, like the
    reference's docs site rebuild."""
    from ingestao_dados_poli_spark.sources import fs

    fs.write_text(
        spark,
        f"{dir_path}/report.json",
        json.dumps(report, ensure_ascii=False, indent=2) + "\n",
        overwrite=True,
    )
    fs.write_text(
        spark,
        f"{dir_path}/report.md",
        render_report_markdown(report),
        overwrite=True,
    )


def profile_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """One-scan column profile: (column, n_nulls, n_distinct, min_value,
    max_value) per requested column — the data-quality reconnaissance
    step before writing expectation suites.

    All columns' aggregates run in ONE aggregation job (the multiple
    count_distincts expand rows ×(k+1), the standard distinct-agg plan —
    still a single scan and shuffle); the 1×(5k)-wide result is
    unpivoted with stack(), which is driver-sized by construction.
    min/max are cast to string so heterogeneous column types coexist in
    one report frame; use numeric-typed profiles per column where exact
    types matter (doubles format differently across engines).
    """
    aggs = []
    for c in columns:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"_nn_{c}"),
            F.count_distinct(c).cast("long").alias(f"_nd_{c}"),
            F.min(c).cast("string").alias(f"_mn_{c}"),
            F.max(c).cast("string").alias(f"_mx_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `_nn_{c}`, `_nd_{c}`, `_mn_{c}`, `_mx_{c}`" for c in columns
    )
    return one.selectExpr(
        f"stack({len(columns)}, {stack_args}) as "
        "(column, n_nulls, n_distinct, min_value, max_value)"
    )


def fk_violations(
    child: DataFrame,
    parent: DataFrame,
    keys: dict[str, str],
    relation: str = "fk",
) -> DataFrame:
    """Referential-integrity check (the cross-table rule the single-
    table Suite can't express): one row ``(relation, n_child,
    n_orphans)`` counting child rows whose key has no parent.

    ONE pass over the child table: left join against the parent's
    DISTINCT key set (dedup'd so key fan-out can't inflate counts;
    Catalyst broadcasts it when small, AQE handles the skewed case),
    then a single aggregate. A NULL child key counts as an orphan — a
    null FK references nothing, and the SQL twin (NOT EXISTS) agrees.

    ``keys`` maps child column → parent column, e.g.
    ``{"o_custkey": "c_custkey"}``.
    """
    pk = (
        parent.select(*[F.col(p).alias(c) for c, p in keys.items()])
        .distinct()
        .withColumn("_pk_hit", F.lit(1))
    )
    joined = child.join(pk, on=list(keys), how="left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_child"),
        F.sum(F.when(F.col("_pk_hit").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_orphans"),
    ).select(F.lit(relation).alias("relation"), "n_child", "n_orphans")


def fd_violations(
    df: DataFrame,
    lhs: list[str],
    rhs: list[str],
) -> DataFrame:
    """Functional-dependency profiling: for the candidate FD
    ``lhs -> rhs``, return every lhs key bound to MORE than one
    distinct rhs combination — the schema-discovery / conformance
    check run before declaring a key or denormalizing. Output:
    (*lhs, n_rows, n_rhs_variants) for violating keys only; an empty
    result proves the FD holds.

    Scale shape: one map-side-combined aggregation on (lhs, rhs) to
    collapse duplicates, then one on lhs — both shuffles carry keys
    only, and the second input is bounded by the number of DISTINCT
    (lhs, rhs) pairs, not rows. No window, no collect.
    """
    pair = df.groupBy(*lhs, *rhs).agg(F.count(F.lit(1)).alias("_n"))
    return (
        pair.groupBy(*lhs)
        .agg(
            F.sum("_n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_rhs_variants"),
        )
        .where(F.col("n_rhs_variants") > 1)
    )


# Benford's-law expected first-digit shares, in exact PPM literals
# (round(log10(1 + 1/d) * 1e6)). Literal integers so every engine
# scores against the identical expectation — no cross-engine log().
BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def benford_profile(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit profile against Benford's law — the
    forensic-accounting screen for fabricated or truncated numeric
    columns (naturally-occurring multiplicative data follows
    ``P(d) = log10(1 + 1/d)``; uniform or clamped data does not, and
    the per-digit deviation shows where). Values below 1 and NULLs
    are excluded (no leading significant digit in the integer part).

    Output per digit 1-9: ``n``, observed share and expected share in
    exact integer PPM (observed = ``(1e6 * n) div total``), and the
    signed deviation. One map-side-combined groupBy on a 9-value key;
    the grand total rides along via a window over the 9-row aggregate,
    so the profile is a single-shuffle job at any scale.
    """
    digit = F.substring(
        F.floor(F.col(value_col)).cast("long").cast("string"), 1, 1
    ).cast("int")
    counts = (
        df.filter(F.col(value_col) >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy()
    expected = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in BENFORD_PPM.items() for x in kv]
        ),
        F.col("digit"),
    )
    return (
        counts.withColumn("_total", F.sum("n").over(w))
        .select(
            "digit",
            "n",
            F.expr("(1000000 * n) div _total").alias("obs_ppm"),
            expected.cast("long").alias("exp_ppm"),
            (
                F.expr("(1000000 * n) div _total")
                - expected.cast("long")
            ).alias("delta_ppm"),
        )
        .orderBy("digit")
    )


def lorenz_gini(
    df: DataFrame, key_col: str, value_col: str, n_points: int = 10
) -> DataFrame:
    """Lorenz curve + Gini coefficient of value concentration across
    keys — the standard answer to "how concentrated is revenue /
    token mass / traffic over customers / sources / users", and the
    skew diagnostic you read before choosing a partitioning strategy
    (a 0.9-Gini key column WILL hot-spot a hash shuffle; cf.
    partitioning.heavy_hitters for the top-k view of the same
    question).

    Exact integer arithmetic end-to-end: keys sort by total value
    (key-tiebroken), rank-weighted sums feed the closed form
    ``G = (2*Σ i*v_i - (n+1)*S) / (n*S)`` emitted in permille via an
    exact-multiple DECIMAL(38) division (the ×1000 numerator exceeds
    int64 near 1e5 keys × 1e13 value — decimals keep it exact where a
    long would overflow under ANSI). Returns one row per Lorenz point
    (``ceil(n_points*i/n)`` buckets): n_keys, cumulative value and
    exact permille share, plus the constant gini_permille column.

    Scale shape: one map-side-combined groupBy on the key, then ALL
    windows run over the per-key aggregate (key-cardinality-sized,
    the post-aggregation invariant) — raw rows are never sorted."""
    per = df.groupBy(key_col).agg(
        F.sum(value_col).cast("long").alias("_v")
    )
    wo = Window.orderBy("_v", key_col)
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    dec = "decimal(38,0)"
    r = (
        per.withColumn("_i", F.row_number().over(wo))
        .withColumn("_cum", F.sum("_v").over(wcum))
        .withColumn("_n", F.count(F.lit(1)).over(wall))
        .withColumn("_S", F.sum("_v").over(wall))
        .withColumn(
            "_W",
            F.sum(F.col("_v").cast(dec) * F.col("_i")).over(wall),
        )
    )
    num = (
        F.lit(2).cast(dec) * F.col("_W")
        - (F.col("_n") + 1).cast(dec) * F.col("_S").cast(dec)
    ) * F.lit(1000).cast(dec)
    den = F.col("_n").cast(dec) * F.col("_S").cast(dec)
    r = (
        r.withColumn("_num", num)
        .withColumn("_den", den)
        .withColumn(
            "gini_permille",
            ((F.col("_num") - F.col("_num") % F.col("_den")) / F.col("_den"))
            .cast("long"),
        )
        .withColumn(
            "point",
            F.expr(f"({n_points} * _i + _n - 1) div _n").cast("long"),
        )
    )
    return (
        r.groupBy("point")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("_cum").cast("long").alias("cum_value"),
            F.expr("(1000 * max(_cum)) div max(_S)")
            .cast("long")
            .alias("cum_share_permille"),
            F.max("gini_permille").alias("gini_permille"),
        )
        .orderBy("point")
    )
