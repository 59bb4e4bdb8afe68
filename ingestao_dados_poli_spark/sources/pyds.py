"""Spark 4 Python DataSource connectors.

The reference moves external data with a single-machine bulk copy
(gerenciando-dados-externos/0b-Moving-data-cloud-storage-to-dbfs.py:8
runs one ``dbutils.fs.cp`` of the whole bucket) — a pattern that caps
ingest at one machine's bandwidth. The Spark 4 Python DataSource API
is the idiomatic replacement: the source declares PARTITIONS, every
executor fetches/generates its own slice in parallel, and filter
pushdown prunes slices before any row is produced. This module ships
two connectors built on that API:

- ``synthdocs`` (reader): a deterministic synthetic-corpus generator —
  partitioned, seeded, Arrow-batched, with doc_id range/equality
  pushdown that prunes whole partitions. Stands in for any
  external-API reader: swap the generator for an HTTP/page fetch and
  the partition planning, pushdown, and Arrow batching carry over.
- ``jsonlsink`` (writer): a partition-parallel JSONL sink with
  task-level files and a commit manifest — the minimal exactly-once
  file-sink shape (tasks write, the driver commits a manifest; readers
  that honor the manifest never see uncommitted files; abort removes
  partial output).

Scale notes: nothing touches the driver except partition PLANNING
(a list of (start, end) ranges) and the commit manifest; row
generation and IO are per-executor. Arrow RecordBatch output keeps
the Python→JVM hop columnar (one batch per ~64k rows), not per-row
pickled tuples.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Any, Iterable, Iterator

import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    SimpleDataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import Row, StructType

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join filter shuffle"
).split()

_BATCH_ROWS = 65536


@dataclass
class _Range(InputPartition):
    start: int
    end: int  # exclusive


def _doc_text(doc_id: int, seed: int) -> str:
    # Deterministic per-id content: a multiplicative hash walks the
    # word list. No RNG state → any partition of the id space yields
    # identical rows, which is what makes pushdown-pruned reads
    # consistent with full reads.
    h = (doc_id * 2654435761 + seed) & 0xFFFFFFFF
    n = 8 + h % 24
    out = []
    for i in range(n):
        h = (h * 1103515245 + 12345) & 0xFFFFFFFF
        out.append(_WORDS[h % len(_WORDS)])
    return " ".join(out)


class _SynthDocsReader(DataSourceReader):
    def __init__(self, options: dict[str, str]) -> None:
        self.rows = int(options.get("rows", "1000"))
        self.n_parts = int(options.get("partitions", "4"))
        self.seed = int(options.get("seed", "0"))
        self.lo = 0  # inclusive doc_id lower bound after pushdown
        self.hi = self.rows  # exclusive upper bound after pushdown

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        # Accept doc_id range/equality predicates by shrinking the
        # generation interval; everything else is returned for Spark to
        # evaluate post-scan. Pushdown here prunes whole partitions
        # before a single row is generated.
        supported = (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )
        for f in filters:
            col = getattr(f, "attribute", None)
            if col != ("doc_id",) or not isinstance(f, supported):
                yield f  # e.g. IsNotNull, or predicates on other columns
                continue
            v = f.value
            if isinstance(f, EqualTo):
                self.lo = max(self.lo, v)
                self.hi = min(self.hi, v + 1)
            elif isinstance(f, GreaterThan):
                self.lo = max(self.lo, v + 1)
            elif isinstance(f, GreaterThanOrEqual):
                self.lo = max(self.lo, v)
            elif isinstance(f, LessThan):
                self.hi = min(self.hi, v)
            elif isinstance(f, LessThanOrEqual):
                self.hi = min(self.hi, v + 1)

    def partitions(self) -> list[_Range]:
        lo, hi = self.lo, max(self.lo, self.hi)
        total = hi - lo
        if total <= 0:
            return [_Range(lo, lo)]
        per = -(-total // self.n_parts)
        return [
            _Range(lo + i * per, min(lo + (i + 1) * per, hi))
            for i in range(self.n_parts)
            if lo + i * per < hi
        ]

    def read(self, partition: _Range) -> Iterator[pa.RecordBatch]:
        seed = self.seed
        for b0 in range(partition.start, partition.end, _BATCH_ROWS):
            b1 = min(b0 + _BATCH_ROWS, partition.end)
            ids = list(range(b0, b1))
            texts = [_doc_text(i, seed) for i in ids]
            yield pa.record_batch(
                [
                    pa.array(ids, pa.int64()),
                    pa.array([f"src_{i % 5}" for i in ids], pa.string()),
                    pa.array(texts, pa.string()),
                    pa.array([len(t) for t in texts], pa.int64()),
                ],
                names=["doc_id", "source", "text", "n_chars"],
            )


@dataclass
class _PartFile(WriterCommitMessage):
    path: str
    rows: int


class _JsonlWriter(DataSourceWriter):
    def __init__(self, options: dict[str, str]) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("jsonlsink requires a path option")
        self.path = path

    def write(self, rows: Iterator[Row]) -> _PartFile:
        os.makedirs(self.path, exist_ok=True)
        # Task-unique file: concurrent attempts never collide, and only
        # files named in the commit manifest are part of the dataset.
        out = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(out, "w", encoding="utf-8") as fh:
            for row in rows:
                fh.write(json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _PartFile(path=out, rows=n)

    def commit(self, messages: list[_PartFile]) -> None:
        manifest = {
            "files": [m.path for m in messages],
            "rows": sum(m.rows for m in messages),
        }
        with open(os.path.join(self.path, "_MANIFEST"), "w") as fh:
            json.dump(manifest, fh)

    def abort(self, messages: list[_PartFile]) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class SynthDocsDataSource(DataSource):
    """``spark.read.format("synthdocs")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "synthdocs"

    def schema(self) -> str:
        return "doc_id long, source string, text string, n_chars long"

    def reader(self, schema: StructType) -> _SynthDocsReader:
        return _SynthDocsReader(self.options)


class _SynthEventsStreamReader(SimpleDataSourceStreamReader):
    """Bounded deterministic micro-batch stream: each ``read(start)``
    emits ``rows_per_batch`` synthetic events and advances the offset,
    until ``max_rows`` is reached — after that it reports no new data
    (empty batch, unchanged offset), so ``processAllAvailable`` and a
    drained run (``stream_ops.drain``) terminate. Offsets are plain row
    counters, which makes replay after failure exact:
    ``readBetweenOffsets`` regenerates the same rows from the same
    seeded formula.

    The Simple variant generates rows DRIVER-side (fine for a control
    stream / demo source); a partition-parallel executor-side stream
    needs the full ``DataSourceStreamReader`` with ``partitions()`` —
    the batch reader above shows that planning shape.
    """

    def __init__(self, options: dict[str, str]) -> None:
        self.rows_per_batch = int(options.get("rowsperbatch", "100"))
        self.max_rows = int(options.get("maxrows", "1000"))
        self.seed = int(options.get("seed", "42"))

    def initialOffset(self) -> dict:
        return {"row": 0}

    def _rows(self, lo: int, hi: int) -> list[tuple]:
        out = []
        for i in range(lo, hi):
            h = (i * 2654435761 + self.seed) & 0x7FFFFFFF
            out.append((i, h % 97, float(h % 1000) / 10.0))
        return out

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        lo = start["row"]
        hi = min(lo + self.rows_per_batch, self.max_rows)
        return iter(self._rows(lo, hi)), {"row": hi}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return iter(self._rows(start["row"], end["row"]))


class SynthEventsStreamDataSource(DataSource):
    """``spark.readStream.format("syntheventstream")`` — bounded
    deterministic event stream for exercising streaming plans without
    file fixtures."""

    @classmethod
    def name(cls) -> str:
        return "syntheventstream"

    def schema(self) -> str:
        return "event_id long, user_id long, value double"

    def simpleStreamReader(self, schema: StructType) -> _SynthEventsStreamReader:
        return _SynthEventsStreamReader(self.options)


class _JsonlStreamWriter(DataSourceStreamWriter):
    """Streaming twin of ``_JsonlWriter``: tasks write task-unique
    part files; the driver appends one manifest line PER MICRO-BATCH
    (``_MANIFEST.jsonl``: batch id + files + row count), which is the
    minimal exactly-once streaming file-sink contract — a reader that
    honors the manifest never sees uncommitted or replayed-then-aborted
    batch output, and a restarted query that re-runs batch N just
    overwrites N's manifest line semantics (last write wins per id)."""

    def __init__(self, options: dict[str, str]) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("jsonlsink requires a path option")
        self.path = path

    def write(self, rows: Iterator[Row]) -> _PartFile:
        os.makedirs(self.path, exist_ok=True)
        out = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(out, "w", encoding="utf-8") as fh:
            for row in rows:
                fh.write(json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _PartFile(path=out, rows=n)

    def commit(self, messages: list[_PartFile | None], batchId: int) -> None:
        entry = {
            "batch": batchId,
            "files": [m.path for m in messages if m is not None],
            "rows": sum(m.rows for m in messages if m is not None),
        }
        with open(os.path.join(self.path, "_MANIFEST.jsonl"), "a") as fh:
            fh.write(json.dumps(entry) + "\n")

    def abort(self, messages: list[_PartFile | None], batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class JsonlSinkDataSource(DataSource):
    """``df.write.format("jsonlsink").option("path", ...)`` (batch) and
    ``df.writeStream.format("jsonlsink")`` (per-micro-batch manifest) —
    see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "jsonlsink"

    def schema(self) -> str:  # pragma: no cover - sink-only source
        return "value string"

    def writer(self, schema: StructType, overwrite: bool) -> _JsonlWriter:
        return _JsonlWriter(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool) -> _JsonlStreamWriter:
        return _JsonlStreamWriter(self.options)


def register(spark: Any) -> None:
    """Register both connectors on a session (idempotent)."""
    # Python-source filter pushdown ships disabled by default in 4.x;
    # without it Spark refuses any reader that implements pushFilters.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SynthDocsDataSource)
    spark.dataSource.register(JsonlSinkDataSource)
    spark.dataSource.register(SynthEventsStreamDataSource)
