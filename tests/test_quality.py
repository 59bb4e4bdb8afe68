from __future__ import annotations

import json

import pytest

from ingestao_dados_poli_spark import quality as Q


def _df(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, None, 5.0), (3, "c", None)], ["id", "name", "score"]
    )


def test_suite_single_pass_pass_and_fail(spark):
    df = _df(spark)
    suite = (
        Q.Suite("t")
        .add(Q.not_null("id"))
        .add(Q.not_null("name"))
        .add(Q.exists("id"))
        .add(Q.exists("missing_col"))
        .add(Q.between("score", 0, 100))
        .add(Q.row_count_between(1, 10))
        .add(Q.values_in_set("name", ["a", "c"]))
        .add(Q.matches_regex("name", "^[a-z]$"))
    )
    report = Q.validate(df, suite)
    by_rule = {r["rule"]: r for r in report["results"]}
    assert report["row_count"] == 3
    assert by_rule["not_null id"]["success"]
    assert not by_rule["not_null name"]["success"]
    assert by_rule["not_null name"]["unexpected_count"] == 1
    assert by_rule["exists id"]["success"]
    assert not by_rule["exists missing_col"]["success"]
    # between counts the NULL score as a violation
    assert not by_rule["between score [0, 100]"]["success"]
    assert not report["success"]


def test_suite_json_roundtrip():
    suite = Q.Suite("x").add(Q.not_null("a")).add(Q.between("b", 0, 1))
    again = Q.Suite.from_json(suite.to_json())
    assert again.name == "x"
    assert again.rules == suite.rules
    json.loads(suite.to_json())  # valid JSON


@pytest.mark.parametrize("kind", ["not_nul", "unique"])
def test_unknown_rule_kind_rejected(kind):
    """A kind the suite cannot compile must not slip through as an
    aggregate-free rule that reports success."""
    with pytest.raises(ValueError, match=f"unknown rule kind '{kind}'.*not_null"):
        Q.Rule(kind, "x")
    payload = json.dumps({"name": "s", "rules": [{"kind": kind, "column": "x"}]})
    with pytest.raises(ValueError, match=f"unknown rule kind '{kind}'"):
        Q.Suite.from_json(payload)
    with pytest.raises(ValueError, match="needs a column"):
        Q.Rule("not_null")


EVERY_KIND = [
    Q.not_null("id"),
    Q.not_null("name"),
    Q.not_null("missing_col"),
    Q.exists("id"),
    Q.exists("missing_col"),
    Q.between("score", 0, 100),
    Q.between("name", 0, 1),
    Q.row_count_between(1, 10),
    Q.row_count_between(5),
    Q.values_in_set("name", ["a"]),
    Q.matches_regex("name", "^[a-z]$"),
]


@pytest.mark.parametrize("rule", EVERY_KIND, ids=[r.describe() for r in EVERY_KIND])
def test_observe_suite_equals_validate(spark, rule):
    """The write-riding evaluator and the dedicated aggregation job give
    the same report, on a frame with nulls and on a zero-row one."""
    full = _df(spark)
    for df in (full, full.where("id < 0")):
        suite = Q.Suite("eq", [rule])
        observed, finish = Q.observe_suite(df, suite)
        observed.write.format("noop").mode("overwrite").save()
        got, want = finish(), Q.validate(df, suite)
        got.pop("duration_s"), want.pop("duration_s")
        assert got == want


def test_null_counts(spark):
    out = Q.null_counts(_df(spark)).collect()[0].asDict()
    assert out == {"id_nulls": 0, "name_nulls": 1, "score_nulls": 1}


def test_profile_columns(spark):
    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 1.5), (2, None, 2.5)],
        ["id", "name", "score"],
    )
    prof = {r.column: r for r in Q.profile_columns(df, ["id", "name"]).collect()}
    assert prof["id"].n_nulls == 0 and prof["id"].n_distinct == 2
    assert prof["id"].min_value == "1" and prof["id"].max_value == "2"
    assert prof["name"].n_nulls == 1 and prof["name"].n_distinct == 2
    assert prof["name"].min_value == "a" and prof["name"].max_value == "b"


def test_observe_suite_zero_extra_pass(spark):
    suite = (
        Q.Suite("obs")
        .add(Q.not_null("a"))
        .add(Q.between("b", 0, 10))
        .add(Q.row_count_between(1, 100))
    )
    df = spark.createDataFrame(
        [(1, 5.0), (2, 50.0), (None, 3.0)], ["a", "b"]
    )
    observed, finish = Q.observe_suite(df, suite)
    # metrics ride this single action — no second scan
    assert observed.count() == 3
    report = finish()
    assert report["row_count"] == 3
    by_kind = {r["rule"].split(" ")[0]: r for r in report["results"]}
    assert not by_kind["not_null"]["success"]  # one null
    assert by_kind["not_null"]["unexpected_count"] == 1
    assert not by_kind["between"]["success"]  # 50.0 out of range
    assert report["success"] is False


def test_fk_violations_detects_orphans(spark):
    child = spark.createDataFrame(
        [(1, "a"), (2, "b"), (99, "orphan"), (None, "null-key")],
        "ck long, v string",
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    out = Q.fk_violations(child, parent, {"ck": "pk"}, "child->parent").collect()[0]
    assert out.relation == "child->parent"
    assert out.n_child == 4
    assert out.n_orphans == 2  # 99 and the NULL key

    # duplicate parent keys must NOT inflate the child count (child key 1
    # matches twice pre-distinct); orphans stay 99 + NULL
    dup_parent = spark.createDataFrame([(1,), (1,), (2,)], "pk long")
    out2 = Q.fk_violations(child, dup_parent, {"ck": "pk"}).collect()[0]
    assert out2.n_child == 4 and out2.n_orphans == 2


def test_render_report_markdown_golden(spark):
    """Golden-file render: the data-docs page for a fixed report must be
    byte-stable (duration pinned) so doc regressions show as diffs."""
    df = _df(spark)
    suite = (
        Q.Suite("docs")
        .add(Q.not_null("id"))
        .add(Q.not_null("name"))
        .add(Q.exists("missing_col"))
        .add(Q.row_count_between(1, 10))
    )
    report = Q.validate(df, suite)
    report["duration_s"] = 0.001  # pin the only run-varying field
    md = Q.render_report_markdown(report)
    assert md == (
        "# Data quality report — `docs`\n"
        "\n"
        "**Verdict: FAILED** · 3 rows · 4 expectations · 0.001s\n"
        "\n"
        "| # | expectation | status | detail |\n"
        "|---|---|---|---|\n"
        "| 1 | `not_null id` | pass | ok |\n"
        "| 2 | `not_null name` | fail | 1 unexpected |\n"
        "| 3 | `exists missing_col` | fail | 1 unexpected |\n"
        "| 4 | `row_count_between [1, 10]` | pass | observed=3 |\n"
        "\n"
        "Gate on **CERTIFIED** for irreversible promotion (versioned "
        "publish).\n"
    )


def test_publish_report_writes_json_and_md(spark, tmp_path):
    df = _df(spark)
    suite = Q.Suite("pub").add(Q.not_null("id"))
    report = Q.validate(df, suite)
    out = str(tmp_path / "docs")
    Q.publish_report(spark, report, out)
    roundtrip = json.loads((tmp_path / "docs" / "report.json").read_text())
    assert roundtrip["suite"] == "pub" and roundtrip["certified"]
    md = (tmp_path / "docs" / "report.md").read_text()
    assert md.startswith("# Data quality report — `pub`")
    assert "Verdict: CERTIFIED" in md


def test_fd_violations(spark):
    from ingestao_dados_poli_spark import quality as Q

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "c"), (2, "c"), (3, "d")],
        ["k", "v"],
    )
    out = Q.fd_violations(df, ["k"], ["v"]).collect()
    assert len(out) == 1
    assert out[0].k == 1 and out[0].n_rows == 3 and out[0].n_rhs_variants == 2
    # holds-FD: empty result
    assert Q.fd_violations(df.where("k <> 1"), ["k"], ["v"]).count() == 0
