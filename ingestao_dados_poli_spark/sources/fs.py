"""Filesystem utilities via Hadoop FileSystem (no Databricks dbutils).

Replaces the reference's ``dbutils.fs.ls`` calls
(etl/1-processing-banks.py:91-97,196) with the Hadoop FileSystem API,
which works identically on local, HDFS, S3A and GCS paths —
executor-free driver metadata ops.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jpath, jvm


def ls(spark: SparkSession, path: str, suffix: str | None = None) -> list[str]:
    """List a directory (reference etl/1:91-97 dbutils.fs.ls + suffix filter)."""
    fs, jpath, _ = _fs(spark, path)
    out = [str(s.getPath().toString()) for s in fs.listStatus(jpath)]
    if suffix is not None:
        out = [p for p in out if p.endswith(suffix)]
    return out


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath, _ = _fs(spark, path)
    return bool(fs.exists(jpath))


def read_text(spark: SparkSession, path: str) -> str:
    """Read a SMALL control file (commit marker, manifest) as UTF-8.
    Driver-side via the Hadoop FS API — works on local/HDFS/S3A alike
    and never launches a Spark job. For data files use spark.read."""
    fs, jpath, jvm = _fs(spark, path)
    stream = fs.open(jpath)
    try:
        # commons-io ships on Spark's classpath; one JVM call, no
        # per-byte py4j round trips
        return str(jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))
    finally:
        stream.close()


def write_text(spark: SparkSession, path: str, content: str, overwrite: bool = False) -> None:
    """Atomically create a SMALL control file with the given UTF-8
    content (create-no-overwrite by default — the commit-marker
    primitive: the create either fully succeeds or fully fails)."""
    fs, jpath, _ = _fs(spark, path)
    stream = fs.create(jpath, overwrite)
    try:
        stream.write(bytearray(content.encode("utf-8")))
    finally:
        stream.close()


def rm(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, jpath, _ = _fs(spark, path)
    return bool(fs.delete(jpath, recursive))


def file_sizes(
    spark: SparkSession, path: str, suffix: str | None = None
) -> list[tuple[str, int]]:
    """Recursive (path, bytes) listing of data files under ``path`` —
    the input to compaction planning. Driver-side metadata only; on
    HDFS/S3A this is one listing RPC stream, never a data read."""
    fs, jpath, _ = _fs(spark, path)
    out: list[tuple[str, int]] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        p = str(st.getPath().toString())
        if suffix is None or p.endswith(suffix):
            out.append((p, int(st.getLen())))
    return out
