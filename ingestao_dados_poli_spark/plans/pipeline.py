"""Declarative medallion pipeline: source → transforms → sink, with the
quality suite observed on the sink write.

The reference hard-codes each zone hop as a notebook (etl/1-processing-banks.py
reads bronze at :44, transforms at :54-74, writes silver at :79, validates
at :102-186). The engine factors that shape into a data-described Pipeline
object so a zone hop is configuration, not code — the same executor runs
banks, claims, employees, or any new dataset.

Each step is pure-declarative and compiles to DataFrame calls lazily;
Catalyst sees the WHOLE chain (source through sink) as one plan, so
projection pruning and filter pushdown cross step boundaries — something
the reference's cell-by-cell assignment already got for free but its
per-expectation GX jobs did not.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from ingestao_dados_poli_spark import quality as Q
from ingestao_dados_poli_spark.sources import readers, writers

Transform = Callable[[DataFrame], DataFrame]


@dataclass
class Source:
    path: str
    fmt: str = "parquet"
    options: dict[str, Any] = field(default_factory=dict)
    schema: Any = None

    def load(self, spark: SparkSession) -> DataFrame:
        if self.fmt == "parquet":
            return readers.read_parquet(spark, self.path)
        if self.fmt == "csv":
            return readers.read_csv(spark, self.path, schema=self.schema, **self.options)
        if self.fmt == "json":
            return readers.read_json(spark, self.path, schema=self.schema)
        raise ValueError(f"unknown source format {self.fmt!r}")


@dataclass
class Sink:
    path: str
    mode: str = "overwrite"
    partition_by: list[str] | None = None
    target_file_partitions: int | None = None

    def save(self, df: DataFrame) -> None:
        writers.write_parquet(
            df,
            self.path,
            mode=self.mode,
            partition_by=self.partition_by,
            target_file_partitions=self.target_file_partitions,
        )


@dataclass
class Pipeline:
    """One zone hop. ``transforms`` apply in order; ``suite`` validates
    the OUTPUT frame once, as the reference validates each silver table
    after its write (etl/1:102-186). The suite's aggregates ride the
    sink write itself (``quality.observe_suite``), so the hop is one
    pass: nothing is persisted, read back or scanned a second time for
    validation. The report is returned, never fatal."""

    name: str
    source: Source
    sink: Sink
    suite: Q.Suite
    transforms: list[Transform] = field(default_factory=list)

    def build(self, spark: SparkSession) -> DataFrame:
        df = self.source.load(spark)
        for t in self.transforms:
            df = t(df)
        return df

    def run(self, spark: SparkSession) -> dict[str, Any]:
        observed, finish = Q.observe_suite(self.build(spark), self.suite)
        self.sink.save(observed)
        return {"pipeline": self.name, "validation": finish(), "written_to": self.sink.path}
