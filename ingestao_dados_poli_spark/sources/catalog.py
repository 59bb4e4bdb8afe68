"""Path-based table catalog (directory-as-table, generalized).

The reference hard-codes zone paths like ``gs://pece-poli-de/landing/...``
(reference: gerenciando-dados-externos/0a-moving-from-land-to-bucket-to-parquet.py:7-16);
the engine replaces that with a small registry mapping logical table names
to storage paths + formats, so the same pipeline runs on GCS, S3, HDFS or
local files unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class Catalog:
    """Logical-name → (path, format) registry with zone conventions."""

    root: str
    fmt: str = "parquet"
    tables: dict[str, str] = field(default_factory=dict)

    def path(self, name: str) -> str:
        return self.tables.get(name, f"{self.root}/{name}.{self.fmt}")

    def register(self, name: str, path: str) -> None:
        self.tables[name] = path

    def load(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.format(self.fmt).load(self.path(name))

    def register_views(self, spark: SparkSession, names=TPCH_TABLES) -> None:
        """Expose every table as a SQL temp view (shared Catalyst plan)."""
        for name in names:
            self.load(spark, name).createOrReplaceTempView(name)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
