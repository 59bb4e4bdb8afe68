"""Zone sinks: Parquet writes with modes, partitioning, bucketing.

Reference writes are plain overwrite-parquet with no partitioning
(gerenciando-dados-externos/0a:28,40,69; etl/1:79; etl/4:96). At 100 TB a
zone table must be partitioned (partition pruning on reads) and optionally
bucketed (shuffle-free joins on the bucket key), so the writer takes both.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ingestao_dados_poli_spark.partitioning import morton_code
from ingestao_dados_poli_spark.sources import fs as FS


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    target_file_partitions: int | None = None,
) -> None:
    """Write a zone table.

    ``partition_by``: hive-style directory partitioning → readers prune.
    ``max_records_per_file``: bound file sizes without an extra shuffle.
    ``target_file_partitions``: optional coalesce for small outputs (gold
    tables) so a 32-task local run doesn't emit 32 tiny files.
    """
    out = df
    if target_file_partitions is not None:
        out = out.coalesce(target_file_partitions)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC zone write with the same partition-pruning contract as
    ``write_parquet``."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    bits: int = 8,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet write: bucket each cluster column to
    ``2**bits`` uniform bins over its [min, max], Morton-interleave the
    bin ids, then ``repartitionByRange`` + ``sortWithinPartitions`` on
    the z-value before writing.

    Rows nearby in EVERY cluster column land in the same files, so
    parquet min/max row-group stats prune scans filtered on ANY of the
    columns — the multi-dimensional data-skipping layout a 100 TB fact
    table needs when queries filter on more than the partition key.
    Cost is one tiny pre-pass (a single min/max agg row collected) plus
    ONE range shuffle; the z-math itself is flat codegen integer ops
    (`morton_code`). Uniform bins keep the pre-pass O(1); heavily
    skewed columns trade some skipping power for that — quantile-edged
    bins would need an approxQuantile pre-pass instead.
    """
    aggs = []
    for c in cluster_cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    b = df.agg(*aggs).collect()[0]
    buckets = []
    for c in cluster_cols:
        mn, mx = float(b[f"_mn_{c}"]), float(b[f"_mx_{c}"])
        if mx <= mn:  # constant column: one bin
            buckets.append(F.lit(0))
            continue
        # width_bucket returns 1..n in range (n+1 at the max edge);
        # shift to 0-based and clamp so max lands in the top bin.
        wb = F.width_bucket(F.col(c), F.lit(mn), F.lit(mx), F.lit(2**bits))
        buckets.append(F.least(wb - 1, F.lit(2**bits - 1)))
    z = morton_code(buckets, bits=bits)
    out = df.withColumn("_z", z)
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        out.repartitionByRange(n, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed table: joins/aggs on ``bucket_cols`` skip the shuffle
    entirely when both sides are bucketed the same way — the main lever
    for repeated 100 TB fact-to-fact joins. ``sort_cols`` additionally
    pre-sorts each bucket file so sort-merge joins skip the sort too.
    ``path`` makes it EXTERNAL (data at ``path``, only metadata in the
    catalog) — the layout an object-store lakehouse uses; omitted, the
    table is managed under the warehouse dir."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table_name)


def optimize_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    cluster_cols: list[str],
    bits: int = 8,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Lakehouse OPTIMIZE: rewrite a parquet directory compacted to
    ~``target_file_bytes`` files AND Z-order-clustered on
    ``cluster_cols`` in one pass — small-file compaction and
    clustering (`write_clustered`) are the same shuffle, so doing them
    together halves the rewrite cost. The result is the layout the
    scan-side levers need: big files amortize open/footer overhead,
    clustering makes footer min/max stats tight so `sources/stats.py`
    file pruning and row-group skipping bite.

    OPTIMIZE must be LOSSLESS — same rows, any order. Verify with
    `operators/audit.table_fingerprint` on src vs dst (q147 does, per
    group, cross-engine). Returns {files_before, files_after, bytes}.

    Rewrites to a NEW directory: at scale the swap is a table-pointer
    commit (versioned.publish of dst), never an in-place mutation.
    """
    sizes = FS.file_sizes(spark, src_path, suffix=".parquet")
    total = sum(s for _, s in sizes)
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src_path)
    if len(cluster_cols) == 1:
        # one dimension: plain range clustering IS the optimal layout
        # (tightest possible per-file min/max); Morton needs >= 2 dims
        c = cluster_cols[0]
        (
            df.repartitionByRange(n, c)
            .sortWithinPartitions(c)
            .write.mode("overwrite")
            .parquet(dst_path)
        )
    else:
        write_clustered(df, dst_path, cluster_cols, bits=bits, num_files=n)
    after = FS.file_sizes(spark, dst_path, suffix=".parquet")
    return {
        "files_before": len(sizes),
        "files_after": len(after),
        "bytes": total,
    }


def overwrite_partitions_dynamic(
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> None:
    """Partition-scoped overwrite (lakehouse 'replaceWhere'-light):
    with partitionOverwriteMode=dynamic, an overwrite write replaces
    ONLY the hive partitions present in ``df`` — untouched partitions'
    files are never rewritten or deleted. The correction/backfill
    primitive at 100 TB: re-deriving one bad day must not cost (or
    risk) the other 3 649 days. Static mode (Spark's default) would
    truncate the WHOLE table first — the conf is scoped to this write.
    """
    from ingestao_dados_poli_spark.session import scoped_conf

    spark = df.sparkSession
    with scoped_conf(
        spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"
    ):
        (
            df.write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(path)
        )
