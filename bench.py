"""Benchmark harness: runs every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
COMPACT JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {top-10 slowest by best-of-2}, "cold_sum": ..., "n_queries":
N, "sf": ...}. The headline stays under ~1.5 KB at any registry size
(the driver captures only a short stdout tail — round 2's full
121-query line outgrew it and was lost); the FULL per-query map
(best-of-2 AND cold) is written to BENCH_local.json at the repo root
and committed each round.

Execution is forced with the noop sink (full computation, no collect, no
result materialization on the driver) — the honest way to time a plan.

Methodology (round 2: best-of-2; round 6: three SEPARATED full passes
over the registry, per-query min across passes). The change is noise suppression, not spin:
this host shows multi-second CPU-steal stalls that hit a contiguous
window of queries, so two back-to-back runs of one query sat in the
same stall window and its best-of-2 was still poisoned (round 6
measured three consecutive full runs each flagging a different random
cluster of 8-24 "regressions" whose --isolate times matched baseline
exactly). With the passes minutes apart the same query rarely
stalls twice, never three times; the minimum reads through to the
plan cost (interleaved A/B: single-shot swings of 3-10x, min-of-3
stable to ~10%). Both
statistics are emitted: "value"/"queries" are min-across-passes,
"cold_sum"/"cold_queries" are the pass-1 times (which include
per-query codegen compilation).

Outlier isolation: `python bench.py --isolate q131 q182` re-times just
those queries in a FRESH session with the same warmup, printing one
JSON line (no BENCH_local.json rewrite). Neighbor contention in the
full 190-query run inflates individual readings (a 26 s query was
measured doubling its neighbors' times in round 4); before optimizing
a bench outlier, re-time it isolated — if the isolated time is normal,
the "regression" is scheduling noise, not the plan.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def warmup(spark, sf_dir: str) -> None:
    """Untimed warmup: JVM JIT, codegen compilation, parquet footer reads.
    Steady-state throughput is what matters at scale, not first-query
    cold start, so charge warmup to nobody."""
    from pyspark.sql.functions import pandas_udf

    from ingestao_dados_poli_spark import queries as q

    q.QUERIES["q01_gold_flagship"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # ... and the Python UDF worker pool (Arrow serializers, numpy import)
    # so the first Pandas-UDF query isn't charged ~3 s of process spawn.

    @pandas_udf("long")
    def _warm(s):
        return s

    spark.range(1000).select(_warm("id")).write.format("noop").mode("overwrite").save()


def resolve_queries(names: list[str]) -> list[str]:
    """Registry names selected by ``names``, in registry order. Each
    entry is a full name (``q30_embedding_lsh_topk``) or the number
    prefix before its first underscore (``q30``, never q300 or q301).
    Raises ``SystemExit`` naming every entry that matches nothing."""
    from ingestao_dados_poli_spark import queries as q

    def hit(name: str, p: str) -> bool:
        return name == p or name.startswith(p + "_")

    missing = [p for p in names if not any(hit(n, p) for n in q.QUERIES)]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")
    return [n for n in q.QUERIES if any(hit(n, p) for p in names)]


def main() -> None:
    from ingestao_dados_poli_spark import queries as q
    from ingestao_dados_poli_spark.session import get_spark

    isolate: list[str] = []
    if len(sys.argv) > 1 and sys.argv[1] == "--isolate":
        if not sys.argv[2:]:
            raise SystemExit("--isolate needs at least one query name/prefix")
        isolate = resolve_queries(sys.argv[2:])

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, sf_dir)

    def run_once(fn) -> float:
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    if isolate:
        iso_best: dict[str, float] = {}
        for name in isolate:
            t1 = run_once(q.QUERIES[name])
            t2 = run_once(q.QUERIES[name])
            iso_best[name] = round(min(t1, t2), 3)
        print(
            json.dumps(
                {
                    "metric": "isolated_query_wall_seconds",
                    "queries": iso_best,
                    "unit": "sec",
                    "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                }
            )
        )
        return

    cold: dict[str, float] = {}
    best: dict[str, float] = {}
    errors: list[str] = []
    error_seconds: dict[str, float] = {}
    rerun_failed: list[str] = []
    import gc as _gc

    # Three SEPARATED full passes over the registry, per-query min
    # across passes (round 6; was two back-to-back runs per query).
    # This host's CPU-steal stalls last seconds and hit a contiguous
    # window of queries — back-to-back runs of one query sit in the
    # SAME window, so its best-of-2 was still poisoned (three round-6
    # full runs each flagged a different random cluster of 8-24
    # "regressions" whose --isolate times matched baseline exactly;
    # an interleaved A/B showed single-shot swings of 3-10x while
    # min-of-3 was stable to ~10%). Minutes apart, the same query
    # rarely stalls twice, never three times.
    for pass_i in range(3):
        for i, (name, fn) in enumerate(q.QUERIES.items()):
            # Session hygiene between queries: drop cached/checkpointed
            # blocks the previous query left behind (localCheckpoint
            # blocks only free when their Python refs are GC'd — py4j
            # delays that) and nudge the JVM every couple dozen
            # queries. Without this, ~300 queries x 2 runs accumulate
            # enough block/GC pressure that LATE queries time 3-8x
            # their isolated cost (verified with --isolate: q111 3.16s
            # in-sequence vs 0.42s isolated) — the artifact then reads
            # as per-query regressions that do not exist. Cleanup time
            # is charged to nobody, like warmup.
            if name in errors:
                continue
            spark.catalog.clearCache()
            _gc.collect()
            if i % 24 == 0:
                spark._jvm.System.gc()
            t0 = time.time()
            try:
                t = run_once(fn)
            except Exception:
                if pass_i == 0:
                    # One failing query must not abort the bench and
                    # lose the whole artifact (the exact loss mode this
                    # harness exists to prevent); record
                    # time-to-FAILURE separately, flag it, move on.
                    # Failure latency must NOT enter "value"/"cold_sum"
                    # — a fast crash would make the bench look faster.
                    errors.append(name)
                    error_seconds[name] = round(time.time() - t0, 3)
                elif name not in rerun_failed:
                    # Succeeded in pass 1 but threw on a later pass:
                    # keep the pass-1 timing (it's a real measurement)
                    # but FLAG it — a query that became flaky mid-bench
                    # must be distinguishable from a healthy one.
                    rerun_failed.append(name)
                continue
            if pass_i == 0:
                cold[name] = round(t, 3)
                best[name] = round(t, 3)
            else:
                best[name] = round(min(best.get(name, t), t), 3)

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = {
        "metric": "total_query_wall_seconds",
        "value": round(sum(best.values()), 3),
        "unit": "sec",
        "queries": best,
        "cold_sum": round(sum(cold.values()), 3),
        "cold_queries": cold,
        "n_queries": len(best),
        "errors": errors,
        "error_seconds": error_seconds,
        "rerun_failed": rerun_failed,
        "sf": sf_val,
    }
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"
    )
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")

    top10 = dict(
        sorted(best.items(), key=lambda kv: -kv[1])[:10]
    )
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": full["value"],
                "unit": "sec",
                "queries": top10,  # 10 slowest by best-of-2; full map in BENCH_local.json
                "cold_sum": full["cold_sum"],
                "n_queries": full["n_queries"],
                "errors": errors,
                "error_seconds": error_seconds,
                "rerun_failed": rerun_failed,
                "sf": sf_val,
                "full": "BENCH_local.json",
            }
        )
    )


if __name__ == "__main__":
    main()
