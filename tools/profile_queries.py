"""Per-query job and stage profile.

Runs each registry query once with the noop sink after ``bench.warmup``
(the same methodology as bench.py), under its own job group, and reads
that group's jobs and stages, micro-batch jobs of the streams it starts
included, through ``ingestao_dados_poli_spark.obs.harvest``.

Output: /tmp/profile_r07.json, a per-query dict
  {wall_s, jobs, stages, job_ms, tasks, executor_run_ms,
   shuffle_read_bytes, shuffle_write_bytes, input_bytes, output_bytes}

Given exactly one query it also prints every job's duration, the gap
before it and its stages (tasks / executor run ms / shuffle write), and
the plan's ``tools/plan_audit.audit_plan`` counts; ``--plan-out FILE``
writes the ``explain("formatted")`` plan to FILE.

Usage:
    python tools/profile_queries.py [query ...]
    python tools/profile_queries.py q131 [--plan-out plans/q131.txt]

Each query is a full registry name or its number (``q30``); see
``bench.resolve_queries``. No query means the whole registry.
"""

from __future__ import annotations

import contextlib
import gc
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def print_jobs(name: str, df, h, plan_out: str | None) -> None:
    from tools.plan_audit import audit_plan

    print(f"\n=== {name}: {len(h.jobs)} jobs ===")
    dead = 0.0
    prev_end = None
    for j in h.jobs:
        dur = (j.completed_ms - j.submitted_ms) / 1000 if j.completed_ms else float("nan")
        gap = ""
        if prev_end is not None:
            g = (j.submitted_ms - prev_end) / 1000
            dead += max(g, 0)
            gap = f" (+{g:.2f}s gap)"
        prev_end = j.completed_ms or prev_end
        stages = " ".join(
            f"s{sid}:{c['tasks']}t/{c['executor_run_ms']}ms/w{c['shuffle_write_bytes'] // 1024}K"
            for sid, c in sorted(j.stages.items())
        )
        print(f"  job {j.id:5d} {dur:6.2f}s{gap:16s} {stages}")
    print(f"sum inter-job gaps (driver dead time): {dead:.2f}s")
    print(f"plan: {audit_plan(df._jdf.queryExecution().executedPlan().toString())}")
    if plan_out:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        os.makedirs(os.path.dirname(plan_out) or ".", exist_ok=True)
        with open(plan_out, "w") as f:
            f.write(buf.getvalue())
        print(f"plan -> {plan_out}")


def main() -> None:
    from bench import resolve_queries, warmup
    from ingestao_dados_poli_spark import queries as q
    from ingestao_dados_poli_spark.obs import harvest
    from ingestao_dados_poli_spark.session import get_spark

    args = sys.argv[1:]
    plan_out = None
    if "--plan-out" in args:
        i = args.index("--plan-out")
        plan_out = args[i + 1]
        del args[i : i + 2]
    names = resolve_queries(args) if args else list(q.QUERIES)
    if plan_out and len(names) != 1:
        raise SystemExit("--plan-out takes exactly one query")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, sf_dir)

    prof: dict[str, dict] = {}
    for i, name in enumerate(names):
        spark.catalog.clearCache()
        gc.collect()
        if i % 24 == 0:
            spark._jvm.System.gc()
        df = None
        with harvest(spark, name) as h:
            t0 = time.time()
            try:
                df = q.QUERIES[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # record and move on
                print(f"ERROR {name}: {e}", file=sys.stderr)
            wall = round(time.time() - t0, 3)
        prof[name] = {"wall_s": wall, **h.totals()}
        print(f"{i + 1}/{len(names)} {name} {prof[name]['wall_s']:.2f}s", flush=True)
        if len(names) == 1 and df is not None:
            print_jobs(name, df, h, plan_out)

    out = "/tmp/profile_r07.json"
    with open(out, "w") as f:
        json.dump(prof, f, indent=1, sort_keys=True)
    print(f"wrote {out}")
    tot = sum(p["wall_s"] for p in prof.values())
    print(f"total wall {tot:.1f}s over {len(names)} queries")


if __name__ == "__main__":
    main()
