"""Per-block Spark job metrics, read from the status store by job group.

``harvest(spark, group)`` runs a block under a fresh job group
(``group-<serial>``, so a reused name never sums two blocks) and adopts
the ``runId`` group under which each stream started inside it runs its
micro-batches. The yielded ``Harvest`` then holds every job of those
groups with its non-skipped stages. The store keeps the last 1000 jobs
and stages, so a block is read as it ends. Only tools and tests import
this module.
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

STAGE_COUNTERS = ("tasks", "executor_run_ms", "shuffle_read_bytes",
                  "shuffle_write_bytes", "input_bytes", "output_bytes")
_serial = itertools.count()


@dataclass
class Job:
    id: int
    group: str
    submitted_ms: int
    completed_ms: int | None
    stages: dict = field(default_factory=dict)  # stage id -> STAGE_COUNTERS


@dataclass
class Harvest:
    groups: list                                # the block's own group, then stream runIds
    jobs: list = field(default_factory=list)

    def totals(self) -> dict:
        """Job, stage and stage-counter sums; a stage shared by two jobs counts once."""
        stages = {sid: c for j in self.jobs for sid, c in j.stages.items()}
        t = {"jobs": len(self.jobs), "stages": len(stages),
             "job_ms": sum(j.completed_ms - j.submitted_ms for j in self.jobs if j.completed_ms)}
        return t | {k: sum(c[k] for c in stages.values()) for k in STAGE_COUNTERS}


class _AdoptStreams(StreamingQueryListener):
    def __init__(self, groups: list):
        self.groups = groups

    def onQueryStarted(self, event):
        # Called before start() returns, so inside the block.
        self.groups.append(str(event.runId))

    def onQueryProgress(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


@contextmanager
def harvest(spark, group: str):
    """Run the ``with`` block under ``group``; the yielded ``Harvest`` fills when it ends."""
    sc = spark.sparkContext
    h = Harvest([f"{group}-{next(_serial)}"])
    listener = _AdoptStreams(h.groups)
    spark.streams.addListener(listener)
    sc.setJobGroup(h.groups[0], group)
    try:
        yield h
    finally:
        sc._jsc.clearJobGroup()
        spark.streams.removeListener(listener)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    for jid, g in sorted((jid, g) for g in h.groups for jid in tracker.getJobIdsForGroup(g)):
        info = tracker.getJobInfo(jid)
        if info is None:  # evicted from the store
            continue
        data = store.job(jid)
        done = data.completionTime()  # a scala Option[Date]
        job = Job(jid, g, data.submissionTime().get().getTime(),
                  done.get().getTime() if done.isDefined() else None)
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError as e:
                if e.java_exception.getClass().getName() != "java.util.NoSuchElementException":
                    raise
                continue  # evicted: skipped stages go first, then the oldest
            if st.status().toString() != "SKIPPED":
                job.stages[sid] = dict(zip(STAGE_COUNTERS, (
                    st.numCompleteTasks(), st.executorRunTime(), st.shuffleReadBytes(),
                    st.shuffleWriteBytes(), st.inputBytes(), st.outputBytes())))
        h.jobs.append(job)
