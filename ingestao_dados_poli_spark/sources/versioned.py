"""Atomic versioned snapshot publishing — table-format-free time travel.

The reference publishes its gold table by overwriting in place
(etl/4-generate-final-table-gold.py:96): a writer that dies mid-write
leaves readers a half-table, and yesterday's snapshot is gone the
moment today's starts. This module is the minimal safe-publish
protocol on plain parquet directories, no Delta/Iceberg runtime:

- every publish writes a FRESH ``v=<n>`` directory (never in place);
- a version becomes visible by CREATING a ``_COMMITTED`` marker file
  inside its own directory — one atomic file create, no shared
  pointer file is ever deleted or renamed, so there is NO window in
  which the table has no live version (an earlier design flipped a
  ``_LATEST`` pointer via rm+rename; the gap between the two ops
  could strand readers, so markers replaced it);
- readers resolve "latest" as the max committed version
  (``read_latest``) or pin one (``read_version`` — reproducibility: a
  training run records the snapshot version it read, and reruns read
  the same bytes); uncommitted directories — crashed publishes — are
  invisible;
- ``vacuum`` deletes all but the newest ``keep`` committed snapshots,
  plus abandoned uncommitted directories older than the newest
  committed one (don't run vacuum concurrently with a publish).

Pairs with ``operators.relational.snapshot_diff`` for version-to-
version change capture, and with ``quality.validate`` as the publish
gate (validate the DataFrame, publish only on green — q132 exercises
the full protocol inside the oracle gate). Gate on the report's
``certified`` flag: a publish is an irreversible promotion.

Scale notes: the protocol costs ONE extra driver metadata op per
publish (the marker create) over a plain write; data movement is
identical. Snapshot dirs are immutable so caches/manifest listings
stay valid; vacuum bounds storage at keep x table size.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ingestao_dados_poli_spark.sources import fs

_MARKER = "_COMMITTED"
_VDIR = re.compile(r".*/v=(\d+)/?$")


class SchemaDriftError(ValueError):
    """A candidate snapshot's schema is incompatible with the table's
    committed schema. Raised DRIVER-SIDE, before any write job starts —
    a schema-drifted publish would silently break every pinned-vs-live
    reader downstream (the reference's silver stage exists to enforce
    schema conformance, etl/1-processing-banks.py:54-74)."""


def _version_dirs(spark: SparkSession, path: str) -> list[int]:
    """All v=N directories, committed or not."""
    if not fs.exists(spark, path):
        return []
    out = []
    for p in fs.ls(spark, path):
        m = _VDIR.match(p)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _committed(spark: SparkSession, path: str) -> list[int]:
    return [
        v
        for v in _version_dirs(spark, path)
        if fs.exists(spark, f"{path}/v={v}/{_MARKER}")
    ]


def latest_version(spark: SparkSession, path: str) -> int | None:
    """Highest committed version; None when nothing is published."""
    committed = _committed(spark, path)
    return committed[-1] if committed else None


def committed_versions(spark: SparkSession, path: str) -> list[int]:
    """All committed versions, ascending. The public listing for
    delta-style tables whose readers union every committed snapshot
    (e.g. the incremental-dedup fingerprint store) rather than reading
    only the latest."""
    return _committed(spark, path)


def _schema_fields(schema: StructType) -> dict[str, str]:
    """name → type map used for compatibility checks. Nullability and
    column ORDER are intentionally ignored: parquet reads are by-name,
    so reordered columns don't break readers, but a renamed column or
    a changed type does."""
    return {f.name: f.dataType.simpleString() for f in schema.fields}


def snapshot_schema(spark: SparkSession, path: str, version: int) -> StructType | None:
    """The schema recorded in a committed version's marker, or None for
    markers written before the schema contract existed (legacy
    ``committed`` one-liners)."""
    marker = f"{path}/v={version}/{_MARKER}"
    if not fs.exists(spark, marker):
        raise FileNotFoundError(
            f"version {version} under {path} is absent or uncommitted"
        )
    try:
        payload = json.loads(fs.read_text(spark, marker))
        return StructType.fromJson(payload["schema"])
    except (ValueError, KeyError, TypeError):
        return None


def snapshot_partitioning(
    spark: SparkSession, path: str, version: int
) -> list[str] | None:
    """The hive ``partition_by`` layout recorded in a committed
    version's marker, or None when the snapshot was published
    unpartitioned (or before the layout contract existed)."""
    marker = f"{path}/v={version}/{_MARKER}"
    if not fs.exists(spark, marker):
        raise FileNotFoundError(
            f"version {version} under {path} is absent or uncommitted"
        )
    try:
        payload = json.loads(fs.read_text(spark, marker))
        cols = payload.get("partition_by")
        return list(cols) if cols else None
    except (ValueError, AttributeError, TypeError):
        return None


def publish(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    allow_schema_change: bool = False,
    partition_by: list[str] | None = None,
    **writer_options: str,
) -> int:
    """Write ``df`` as the next snapshot version and commit it with an
    atomic marker create. Returns the published version number. A
    crash mid-write leaves an UNCOMMITTED (invisible) ``v=<n>`` dir
    for vacuum — never a half-published table, and the previously
    committed version stays live throughout.

    Schema contract: every commit marker records the snapshot's schema
    (JSON). A candidate whose columns/types don't match the latest
    committed schema is REFUSED driver-side with ``SchemaDriftError``
    BEFORE any write job launches (no executor work, no abandoned
    ``v=<n>`` dir, no 100-TB write wasted on a doomed publish).
    Intentional evolution is ``allow_schema_change=True``; the new
    schema is then recorded and becomes the contract for later
    publishes. Nullability and column order are not drift — parquet
    reads are by-name."""
    committed = _committed(spark, path)
    if committed and not allow_schema_change:
        prev = snapshot_schema(spark, path, committed[-1])
        if prev is not None:
            want, got = _schema_fields(prev), _schema_fields(df.schema)
            if want != got:
                missing = sorted(set(want) - set(got))
                added = sorted(set(got) - set(want))
                retyped = sorted(
                    c for c in set(want) & set(got) if want[c] != got[c]
                )
                raise SchemaDriftError(
                    f"candidate schema drifts from committed v={committed[-1]} "
                    f"of {path}: missing={missing} added={added} "
                    f"retyped={[(c, want[c], got[c]) for c in retyped]}; "
                    "pass allow_schema_change=True for intentional evolution"
                )
    existing = _version_dirs(spark, path)
    n = (existing[-1] if existing else 0) + 1
    vdir = f"{path}/v={n}"
    writer = df.write.mode("error")
    if partition_by:
        # hive-layout snapshot: readers of this version partition-prune
        # (schema contract unaffected — parquet reads are by-name and
        # the partition columns reappear on read)
        writer = writer.partitionBy(*partition_by)
    for k, v in writer_options.items():
        writer = writer.option(k, v)
    writer.parquet(vdir)
    payload = {"version": n, "schema": json.loads(df.schema.json())}
    if partition_by:
        # layout contract: record the hive layout so maintenance
        # rewrites (erase_rows, compaction) can republish with the SAME
        # partitioning instead of silently flattening the table
        payload["partition_by"] = list(partition_by)
    marker = json.dumps(payload, ensure_ascii=False)
    # atomic create, no overwrite — the commit point
    fs.write_text(spark, f"{vdir}/{_MARKER}", marker + "\n", overwrite=False)
    return n


def read_version(spark: SparkSession, path: str, version: int) -> DataFrame:
    """Pin a snapshot — the reproducibility contract: same version,
    same bytes, regardless of later publishes. Refuses uncommitted
    (crashed-publish) directories."""
    if not fs.exists(spark, f"{path}/v={version}/{_MARKER}"):
        raise FileNotFoundError(
            f"version {version} under {path} is absent or uncommitted"
        )
    return spark.read.parquet(f"{path}/v={version}")


def read_latest(spark: SparkSession, path: str) -> DataFrame:
    n = latest_version(spark, path)
    if n is None:
        raise FileNotFoundError(f"no published version under {path}")
    return read_version(spark, path, n)


def vacuum(spark: SparkSession, path: str, keep: int = 2) -> list[int]:
    """Delete all but the newest ``keep`` committed snapshots, plus
    abandoned uncommitted dirs older than the newest committed one.
    Returns deleted versions. Not safe to run concurrently with a
    publish (an in-flight publish looks abandoned)."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    committed = _committed(spark, path)
    keep_set = set(committed[-keep:])
    newest = committed[-1] if committed else -1
    victims = [
        v
        for v in _version_dirs(spark, path)
        if v not in keep_set and (v in committed or v < newest)
    ]
    for v in victims:
        fs.rm(spark, f"{path}/v={v}")
    return victims


def erase_rows(
    spark: SparkSession,
    path: str,
    predicate,
) -> int:
    """Compliance erasure (GDPR/CCPA right-to-be-forgotten) on a
    versioned table: publish a new snapshot WITHOUT the rows matching
    ``predicate`` (a Column). The live read no longer serves them
    immediately and atomically; prior snapshots still do — pinned
    reproducibility and erasure pull in opposite directions, so
    completing the erasure REQUIRES `vacuum(keep=...)` down to
    post-erasure versions (and the caller's retention policy decides
    when). Returns the new version. Cost is one filtered rewrite of
    the live snapshot — at 100 TB, partition/cluster the table by the
    erasure key so the rewrite prunes to affected files (cf.
    sources/stats.py).

    Three-valued logic: a row where ``predicate`` evaluates to NULL
    (e.g. ``col('email') == 'x'`` with a NULL email) must be KEPT —
    erasure removes exactly the rows that provably match. A bare
    ``filter(~predicate)`` would silently drop them (``~NULL`` is
    NULL), deleting unrelated rows in a compliance operation; the
    coalesce pins NULL to "not erased". The republish reuses the
    layout recorded in the live snapshot's commit marker, so an
    erasure pass never flattens a partitioned table."""
    n = latest_version(spark, path)
    if n is None:
        raise FileNotFoundError(f"no published version under {path}")
    live = read_version(spark, path, n)
    keep = live.filter(~F.coalesce(predicate, F.lit(False)))
    return publish(
        spark, keep, path, partition_by=snapshot_partitioning(spark, path, n)
    )
