"""Single-query drill-down (optimization round 7, guide §1/§7).

Runs one query with the noop sink in a fresh session, prints:
- wall time (2 runs: cold + warm)
- every job it launched (duration, stage breakdown)
- per-stage: tasks, executor run ms, shuffle r/w bytes, input bytes
- the .explain("formatted") plan (optionally written to a file)

Usage:
    python tools/drill_query.py q131_pagerank [--plan-out plans/r07/q131_before.txt]

The query is a full registry name or its number (``q131``).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def main() -> None:
    from bench import resolve_queries, warmup
    from ingestao_dados_poli_spark import queries as q
    from ingestao_dados_poli_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    plan_out = None
    if "--plan-out" in sys.argv:
        plan_out = sys.argv[sys.argv.index("--plan-out") + 1]
    (name,) = resolve_queries(args[:1])

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "drill",
        extra_conf={
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    warmup(spark, sf_dir)

    fn = q.QUERIES[name]
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    cold = time.time() - t0

    spark.catalog.clearCache()
    import gc

    gc.collect()
    marker = sc.parallelize([1]).count()  # job boundary marker
    sc.setJobDescription(name)
    t0 = time.time()
    df = fn(spark, sf_dir)
    build_s = time.time() - t0
    t1 = time.time()
    df.write.format("noop").mode("overwrite").save()
    warm = time.time() - t0
    sc.setJobDescription(None)
    print(f"\n=== {name}: cold {cold:.2f}s, warm {warm:.2f}s (build {build_s:.2f}s) ===")

    # capture the formatted plan of the returned DataFrame
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    if plan_out:
        os.makedirs(os.path.dirname(plan_out), exist_ok=True)
        with open(plan_out, "w") as f:
            f.write(plan)
        print(f"plan -> {plan_out}")
    n_exch = plan.count("Exchange")
    print(
        f"plan: {n_exch} Exchange, joins: "
        f"BHJ={plan.count('BroadcastHashJoin')} SMJ={plan.count('SortMergeJoin')} "
        f"SHJ={plan.count('ShuffledHashJoin')} BNLJ={plan.count('BroadcastNestedLoopJoin')} "
        f"py={plan.count('EvalPython') + plan.count('MapInPandas') + plan.count('ArrowEval')}"
    )

    ui = sc.uiWebUrl
    app = _get(f"{ui}/api/v1/applications")[0]["id"]
    jobs = _get(f"{ui}/api/v1/applications/{app}/jobs")
    stages = _get(f"{ui}/api/v1/applications/{app}/stages?status=complete")
    stage_by_id = {}
    for st in stages:
        prev = stage_by_id.get(st["stageId"])
        if prev is None or st["attemptId"] > prev["attemptId"]:
            stage_by_id[st["stageId"]] = st

    import datetime as dt

    def ms(s):
        return (
            dt.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
            .replace(tzinfo=dt.timezone.utc)
            .timestamp()
            * 1000
        )

    # jobs after the marker job (warm run only)
    warm_jobs = [j for j in jobs if j["jobId"] > marker + 0]
    warm_jobs = [
        j
        for j in warm_jobs
        if j.get("description") == name
        or (j.get("submissionTime") and ms(j["submissionTime"]) >= (t1 - 0.5) * 1000 - 1000)
    ]
    warm_jobs.sort(key=lambda j: j["jobId"])
    print(f"\n{len(warm_jobs)} jobs in warm run:")
    tot_dead = 0.0
    prev_end = None
    for j in warm_jobs:
        dur = (
            (ms(j["completionTime"]) - ms(j["submissionTime"])) / 1000
            if j.get("completionTime")
            else float("nan")
        )
        gap = ""
        if prev_end is not None and j.get("submissionTime"):
            g = (ms(j["submissionTime"]) - prev_end) / 1000
            tot_dead += max(g, 0)
            gap = f" (+{g:.2f}s gap)"
        if j.get("completionTime"):
            prev_end = ms(j["completionTime"])
        srow = []
        for sid in sorted(j["stageIds"]):
            st = stage_by_id.get(sid)
            if st:
                srow.append(
                    f"s{sid}:{st['numCompleteTasks']}t/{st['executorRunTime']}ms"
                    f"/w{st['shuffleWriteBytes'] // 1024}K"
                )
        print(f"  job {j['jobId']:5d} {dur:6.2f}s{gap:16s} {' '.join(srow)}")
    print(f"sum inter-job gaps (driver dead time): {tot_dead:.2f}s")


if __name__ == "__main__":
    main()
