"""``obs.harvest`` attributes every Spark job a block starts to that block."""

from __future__ import annotations

from ingestao_dados_poli_spark import queries as Q
from ingestao_dados_poli_spark.obs import harvest


def _marker_job(spark, tag: str) -> int:
    with harvest(spark, tag) as h:
        spark.sparkContext.parallelize([1], 1).count()
    (job,) = h.jobs
    return job.id


def test_harvest_counts_every_job_of_a_stream_query(spark, sf_dir):
    """Job ids are app-wide and sequential, so the jobs the app started
    between two marker jobs are every job of the blocks run between
    them. q78 is an availableNow stream: its micro-batch jobs run under
    the stream's ``runId`` job group, which the block adopts."""
    first = _marker_job(spark, "obs-before")
    runs = {}
    for name in ("q03_agg_pricing_summary", "q78_streaming_dedup"):
        with harvest(spark, name) as h:
            Q.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs[name] = h
    last = _marker_job(spark, "obs-after")

    assert sum(len(h.jobs) for h in runs.values()) == last - first - 1
    q78 = runs["q78_streaming_dedup"]
    own_group = sum(j.group == q78.groups[0] for j in q78.jobs)
    assert len(q78.groups) > 1 and len(q78.jobs) > own_group
    totals = q78.totals()
    assert totals["jobs"] == len(q78.jobs)
    assert 0 < totals["stages"] <= totals["tasks"]
    assert totals["shuffle_write_bytes"] > 0


def test_reused_name_harvests_only_its_own_block(spark):
    """Two blocks under one name: each harvest holds only its own job."""
    runs = []
    for _ in range(2):
        with harvest(spark, "obs-same-name") as h:
            spark.sparkContext.parallelize([1], 1).count()
        runs.append(h)
    assert [len(h.jobs) for h in runs] == [1, 1]
    assert runs[0].jobs[0].id < runs[1].jobs[0].id
    assert runs[0].groups[0] != runs[1].groups[0]
