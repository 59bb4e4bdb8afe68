"""Atomic snapshot publishing: pointer semantics, pinned reads,
vacuum safety."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ingestao_dados_poli_spark.sources import fs, versioned as V


def _df(spark, tag: str, n: int = 5):
    return spark.range(n).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def test_publish_read_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tbl")
    assert V.latest_version(spark, path) is None
    v1 = V.publish(spark, _df(spark, "a"), path)
    v2 = V.publish(spark, _df(spark, "b", 7), path)
    assert (v1, v2) == (1, 2)
    assert V.latest_version(spark, path) == 2
    assert V.read_latest(spark, path).count() == 7
    # pinned read is unaffected by later publishes (reproducibility)
    pinned = V.read_version(spark, path, 1)
    V.publish(spark, _df(spark, "c", 9), path)
    assert pinned.count() == 5
    assert {r.tag for r in pinned.collect()} == {"a"}
    assert V.read_latest(spark, path).count() == 9


def test_failed_write_leaves_previous_version_live(spark, tmp_path):
    path = str(tmp_path / "tbl")
    V.publish(spark, _df(spark, "good"), path)
    # a write that explodes mid-job must stay invisible (no marker);
    # schema matches the committed one so the failure happens IN the
    # write, past the driver-side drift gate
    @F.udf("long")
    def boom(x):
        raise RuntimeError("mid-write failure")

    bad = spark.range(3).select(
        boom("id").alias("id"), F.lit("bad").alias("tag")
    )
    with pytest.raises(Exception):
        V.publish(spark, bad, path)
    assert V.latest_version(spark, path) == 1
    assert {r.tag for r in V.read_latest(spark, path).collect()} == {"good"}
    # the crashed dir is invisible to pinned reads and reaped by vacuum
    with pytest.raises(FileNotFoundError):
        V.read_version(spark, path, 2)
    V.publish(spark, _df(spark, "next"), path)
    assert V.latest_version(spark, path) == 3
    assert 2 in V.vacuum(spark, path, keep=2)


def test_vacuum_keeps_newest_and_pointed(spark, tmp_path):
    path = str(tmp_path / "tbl")
    for tag in "abcd":
        V.publish(spark, _df(spark, tag), path)
    deleted = V.vacuum(spark, path, keep=2)
    assert deleted == [1, 2]
    assert V._version_dirs(spark, path) == [3, 4]
    assert V.read_latest(spark, path).count() == 5
    # pointed-to version survives even when older than the keep window
    with pytest.raises(Exception):
        V.read_version(spark, path, 1).count()


def test_schema_contract_refuses_drift_driver_side(spark, tmp_path):
    """A drifted candidate is refused BEFORE any write job: no new
    v-dir (committed or not) may appear."""
    path = str(tmp_path / "tbl")
    V.publish(spark, _df(spark, "a"), path)

    # missing column
    with pytest.raises(V.SchemaDriftError, match="missing=\\['tag'\\]"):
        V.publish(spark, spark.range(3), path)
    # added column
    with pytest.raises(V.SchemaDriftError, match="added=\\['extra'\\]"):
        V.publish(spark, _df(spark, "b").withColumn("extra", F.lit(1)), path)
    # retyped column
    with pytest.raises(V.SchemaDriftError, match="retyped"):
        V.publish(
            spark,
            _df(spark, "c").withColumn("id", F.col("id").cast("string")),
            path,
        )
    # refusal happened driver-side: not even an uncommitted dir exists
    assert V._version_dirs(spark, path) == [1]

    # column REORDER and nullability are not drift (parquet is by-name)
    v2 = V.publish(spark, _df(spark, "d").select("tag", "id"), path)
    assert v2 == 2


def test_schema_contract_evolution_and_recorded_schema(spark, tmp_path):
    path = str(tmp_path / "tbl")
    V.publish(spark, _df(spark, "a"), path)
    rec = V.snapshot_schema(spark, path, 1)
    assert rec is not None
    assert {f.name: f.dataType.simpleString() for f in rec.fields} == {
        "id": "bigint",
        "tag": "string",
    }
    # intentional evolution: opt in, then the NEW schema is the contract
    evolved = _df(spark, "b").withColumn("extra", F.lit(1))
    v2 = V.publish(spark, evolved, path, allow_schema_change=True)
    assert v2 == 2
    with pytest.raises(V.SchemaDriftError):
        V.publish(spark, _df(spark, "c"), path)  # old shape now drifts
    assert V.publish(spark, evolved, path) == 3


def test_schema_contract_tolerates_legacy_markers(spark, tmp_path):
    """Markers written before the contract (plain 'committed') have no
    recorded schema: reads work and the next publish is allowed."""
    from ingestao_dados_poli_spark.sources import fs

    path = str(tmp_path / "tbl")
    _df(spark, "a").write.parquet(f"{path}/v=1")
    fs.write_text(spark, f"{path}/v=1/_COMMITTED", "committed\n")
    assert V.latest_version(spark, path) == 1
    assert V.snapshot_schema(spark, path, 1) is None
    assert V.read_latest(spark, path).count() == 5
    # no recorded schema → nothing to drift from; publish proceeds and
    # RECORDS a schema, upgrading the table to the contract
    assert V.publish(spark, spark.range(2), path) == 2
    assert V.snapshot_schema(spark, path, 2) is not None


def test_publish_gate_with_quality(spark, tmp_path):
    """The intended composition: validate the CANDIDATE, flip only on
    green — a red suite must leave the pointer untouched."""
    from ingestao_dados_poli_spark.quality import Rule, Suite, validate

    path = str(tmp_path / "tbl")
    V.publish(spark, _df(spark, "v1"), path)
    candidate = _df(spark, "v2").withColumn(
        "id", F.when(F.col("id") == 0, None).otherwise(F.col("id"))
    )
    suite = Suite("gate", [Rule("not_null", "id")])
    report = validate(candidate, suite)
    # gate on `certified`, the key every publish gate reads
    assert not report["certified"]
    if report["certified"]:  # pragma: no cover - the red path is the test
        V.publish(spark, candidate, path)
    assert V.latest_version(spark, path) == 1


def test_schema_evolution_pinned_vs_live_columns(spark, sf_dir, tmp_path):
    """Evolution contract around q150: pinned v=1 keeps the old column
    set; the live read serves the evolved one; drift without intent
    still raises AFTER an intentional evolution (the NEW schema is the
    contract now)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from ingestao_dados_poli_spark.sources import versioned as V

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    path = str(tmp_path / "evo")
    V.publish(spark, docs, path)
    V.publish(
        spark,
        docs.withColumn("quality", F.lit(1.0)),
        path,
        allow_schema_change=True,
    )
    assert "quality" not in V.read_version(spark, path, 1).columns
    assert "quality" in V.read_latest(spark, path).columns
    # the evolved schema is now the contract: both the OLD shape and a
    # fresh drift are refused without intent
    with _pytest.raises(V.SchemaDriftError):
        V.publish(spark, docs, path)
    with _pytest.raises(V.SchemaDriftError):
        V.publish(spark, docs.withColumn("other", F.lit(1)), path)


def test_erasure_completes_only_after_vacuum(spark, sf_dir, tmp_path):
    """The reproducibility/erasure tension, pinned: after erase_rows
    the LIVE read is clean but the pinned prior snapshot still serves
    the erased rows; vacuum retires it and only then is the data
    gone."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from ingestao_dados_poli_spark.sources import versioned as V

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id"
    )
    path = str(tmp_path / "gdpr")
    V.publish(spark, ev, path)
    V.erase_rows(spark, path, F.col("user_id") == 0)
    assert V.read_latest(spark, path).filter("user_id = 0").count() == 0
    # pinned v1 still has them — erasure NOT yet complete
    assert V.read_version(spark, path, 1).filter("user_id = 0").count() > 0
    V.vacuum(spark, path, keep=1)
    with _pytest.raises(FileNotFoundError):
        V.read_version(spark, path, 1)
    assert V.read_latest(spark, path).filter("user_id = 0").count() == 0


def test_erase_rows_null_predicate_keeps_rows_and_layout(spark, tmp_path):
    """Three-valued logic in compliance erasure: rows where the erase
    predicate evaluates to NULL (NULL email here) must SURVIVE — a bare
    filter(~pred) would silently delete them. And the republish must
    reuse the recorded hive layout instead of flattening the table."""
    import os

    from pyspark.sql import functions as F

    from ingestao_dados_poli_spark.sources import versioned as V

    df = spark.createDataFrame(
        [(1, "a@x", "br"), (2, None, "br"), (3, "gone@x", "us"), (4, None, "us")],
        "uid: bigint, email: string, region: string",
    )
    path = str(tmp_path / "gdpr_nulls")
    V.publish(spark, df, path, partition_by=["region"])
    assert V.snapshot_partitioning(spark, path, 1) == ["region"]
    v2 = V.erase_rows(spark, path, F.col("email") == "gone@x")
    live = V.read_latest(spark, path)
    assert sorted(r.uid for r in live.collect()) == [1, 2, 4]  # NULLs kept
    # layout threaded through: the new snapshot is hive-partitioned too
    assert V.snapshot_partitioning(spark, path, v2) == ["region"]
    assert os.path.isdir(os.path.join(path, f"v={v2}", "region=br"))
