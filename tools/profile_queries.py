"""Per-query structural profiler (optimization round 7, guide §1).

Runs every registry query ONCE with the noop sink (same methodology as
bench.py), labels it with setJobDescription, then harvests the Spark UI
REST API for per-query job/stage structure: job count, stage count,
task count, executor run time, shuffle read/write bytes, and Python
eval presence. Streaming queries launch jobs from stream threads (the
description is not inherited there), so jobs are ALSO attributed by
submission-time window.

Output: /tmp/profile_r07.json — a per-query dict
  {wall_s, n_jobs, n_stages, n_tasks, exec_run_ms, shuffle_read_b,
   shuffle_write_b, input_b, output_b}

Usage: python tools/profile_queries.py [query ...]

Each query is a full registry name or its number (``q30``); see
``bench.resolve_queries``. No query means the whole registry.
"""

from __future__ import annotations

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

    names = resolve_queries(sys.argv[1:]) if sys.argv[1:] else list(q.QUERIES)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "profile",
        extra_conf={
            # keep every job/stage for post-hoc attribution (default 1000
            # evicts the first ~2/3 of a 300-query run)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    warmup(spark, sf_dir)

    import gc as _gc

    windows: dict[str, tuple[float, float]] = {}
    wall: dict[str, float] = {}
    for i, name in enumerate(names):
        fn = q.QUERIES[name]
        spark.catalog.clearCache()
        _gc.collect()
        if i % 24 == 0:
            spark._jvm.System.gc()
        sc.setJobDescription(name)
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # record and move on
            print(f"ERROR {name}: {e}", file=sys.stderr)
        t1 = time.time()
        sc.setJobDescription(None)
        windows[name] = (t0 * 1000, t1 * 1000)
        wall[name] = round(t1 - t0, 3)
        print(f"{i + 1}/{len(names)} {name} {wall[name]:.2f}s", flush=True)

    ui = sc.uiWebUrl
    app = _get(f"{ui}/api/v1/applications")[0]["id"]
    jobs = _get(f"{ui}/api/v1/applications/{app}/jobs?status=succeeded")
    jobs += _get(f"{ui}/api/v1/applications/{app}/jobs?status=failed")
    stages = _get(f"{ui}/api/v1/applications/{app}/stages?status=complete")

    import datetime as dt

    def ms(s: str) -> float:
        return (
            dt.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
            .replace(tzinfo=dt.timezone.utc)
            .timestamp()
            * 1000
        )

    stage_by_id: dict[int, dict] = {}
    for st in stages:
        # keep latest attempt
        prev = stage_by_id.get(st["stageId"])
        if prev is None or st["attemptId"] > prev["attemptId"]:
            stage_by_id[st["stageId"]] = st

    prof = {
        n: {
            "wall_s": wall[n],
            "n_jobs": 0,
            "jobs_ms": 0,
            "n_stages": 0,
            "n_tasks": 0,
            "exec_run_ms": 0,
            "shuffle_read_b": 0,
            "shuffle_write_b": 0,
            "input_b": 0,
            "output_b": 0,
        }
        for n in names
    }

    def find_query(desc: str | None, sub_ms: float) -> str | None:
        if desc in prof:
            return desc
        for n, (a, b) in windows.items():
            if a <= sub_ms <= b:
                return n
        return None

    seen_stage: set[int] = set()
    for j in jobs:
        n = find_query(j.get("description"), ms(j["submissionTime"]))
        if n is None:
            continue
        p = prof[n]
        p["n_jobs"] += 1
        if j.get("completionTime"):
            p["jobs_ms"] += ms(j["completionTime"]) - ms(j["submissionTime"])
        for sid in j["stageIds"]:
            st = stage_by_id.get(sid)
            if st is None or sid in seen_stage:
                continue
            seen_stage.add(sid)
            p["n_stages"] += 1
            p["n_tasks"] += st["numCompleteTasks"]
            p["exec_run_ms"] += st["executorRunTime"]
            p["shuffle_read_b"] += st["shuffleReadBytes"]
            p["shuffle_write_b"] += st["shuffleWriteBytes"]
            p["input_b"] += st["inputBytes"]
            p["output_b"] += st["outputBytes"]

    out = "/tmp/profile_r07.json"
    with open(out, "w") as f:
        json.dump(prof, f, indent=1, sort_keys=True)
    print(f"wrote {out}")
    tot = sum(p["wall_s"] for p in prof.values())
    print(f"total wall {tot:.1f}s over {len(names)} queries")


if __name__ == "__main__":
    main()
