"""Tracing for the benchmark's traced passes.

A ``Tracer`` records spans around the benchmark's calls into the
program. Every span runs under its own Spark job group, so after an item
ends the tracer can read the stages that span launched from Spark's
status store (which keeps only the last 1000 stages, hence the read per
item). ``patched`` rebinds the medallion-layer module attributes for the
duration of one traced pass, so untraced passes run the program as is.
A ``BatchListener`` collects micro-batch progress from streaming queries.
A streaming query runs its micro-batches under a job group of its own,
its ``runId``; the listener hands that group to the span that was open
when the query started, so those jobs count there too.
Spans stay in memory; the run writes them out when it ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

STAGE_COUNTERS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                  "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "input_records")


@dataclass
class Span:
    name: str
    trace: str            # "<run>/<pass>/<item>"
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    groups: list = field(default_factory=list)   # streaming runIds started inside

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.trace = ""
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    def _group(self, s: Span) -> str:
        return f"{self.run_id}-{s.span_id}"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.trace, next(self._ids), parent.span_id if parent else None,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self._group(s), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent), parent.name)
            else:
                self.sc._jsc.clearJobGroup()

    def adopt_group(self, group: str) -> None:
        """Count the jobs of ``group`` in the innermost open span."""
        if self._stack:
            self._stack[-1].groups.append(group)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def harvest(self, spans: list[Span]) -> None:
        """Attach the stage counters of each span's job group to the span."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), self.sc._jsc.sc().statusStore()
        for s in spans:
            c = dict.fromkeys(STAGE_COUNTERS, 0)
            jobs = [j for g in (self._group(s), *s.groups) for j in tracker.getJobIdsForGroup(g)]
            for job in jobs:
                c["jobs"] += 1
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numCompleteTasks()
                    c["executor_run_ms"] += st.executorRunTime()
                    c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                    c["gc_ms"] += st.jvmGcTime()
                    c["shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["input_records"] += st.inputRecords()
            s.counters.update(c)

    @contextmanager
    def patched(self):
        """Rebind the medallion-layer entry points to traced wrappers."""
        from ingestao_dados_poli_spark import medallion, quality
        from ingestao_dados_poli_spark.plans import pipeline
        from ingestao_dados_poli_spark.sources import readers, writers

        targets = [
            (pipeline.Pipeline, "run", "pipeline.run"),
            (quality, "validate", "quality.validate"),
            (readers, "read_csv", "sources.read_csv"),
            (medallion, "build_banks_silver", "medallion.build_banks_silver"),
            (medallion, "build_claims_silver", "medallion.build_claims_silver"),
            (medallion, "build_employees_silver", "medallion.build_employees_silver"),
            (medallion, "build_gold", "medallion.build_gold"),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
        for obj, attr, name in targets:
            setattr(obj, attr, self.wrap(getattr(obj, attr), name))
        write = writers.write_parquet

        def write_parquet(df, path, *args, **kwargs):
            with self.span("sources.write_parquet") as s:
                write(df, path, *args, **kwargs)
                files = [os.path.join(d, f) for d, _, fs in os.walk(path)
                         for f in fs if not f.startswith(("_", "."))]
                s.counters["files_written"] = len(files)
                s.counters["bytes_written"] = sum(os.path.getsize(f) for f in files)

        saved.append((writers, "write_parquet", write))
        writers.write_parquet = write_parquet
        try:
            yield
        finally:
            for obj, attr, fn in saved:
                setattr(obj, attr, fn)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


class BatchListener(StreamingQueryListener):
    """Collects the progress of every micro-batch while registered, and
    tells the tracer the job group of every query that starts."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        # Called before start() returns, while the starting span is open.
        self.tracer.adopt_group(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append({
            "query": str(p.runId),
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
            "state_memory_bytes": sum(o.memoryUsedBytes for o in p.stateOperators),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
