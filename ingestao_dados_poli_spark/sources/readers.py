"""Typed source readers (CSV/TSV/pipe, Parquet, ORC, JSON).

Re-expresses the reference's landing-zone ingestion (reference:
gerenciando-dados-externos/0a-moving-from-land-to-bucket-to-parquet.py:26,38,52-53
— tab/comma/pipe CSV reads with ``header=True`` and *no schema*, yielding
all-string frames) as schema-first readers: every dataset declares a
``StructType`` so numeric/date columns are typed at ingest, filters can
push down, and bad records are kept in a corrupt-record column instead
of being silently coerced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _with_corrupt_col(reader, schema: StructType, mode: str, corrupt_col: str):
    """Give ``reader`` the schema, plus ``corrupt_col`` under PERMISSIVE."""
    if mode == "PERMISSIVE" and corrupt_col not in schema.fieldNames():
        # COPY before extending: StructType.add mutates in place, and
        # the caller's schema is often another DataFrame's cached
        # .schema object — mutating it would make that DataFrame
        # claim a corrupt-record column it doesn't have.
        schema = StructType(list(schema.fields)).add(corrupt_col, "string")
    # Spark writes malformed rows ONLY to the column named by this
    # option (default '_corrupt_record'); without it a custom
    # corrupt_col would stay all-NULL and bad rows would pass as
    # null-padded clean rows.
    return reader.schema(schema).option("columnNameOfCorruptRecord", corrupt_col)


def read_csv(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType | None = None,
    sep: str = ",",
    header: bool = True,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
    **options,
) -> DataFrame:
    """CSV/TSV/pipe reader (reference 0a:26 sep='\\t', 0a:38 ',', 0a:52 '|').

    With an explicit ``schema`` Spark skips the inference pass (one full
    read saved at scale) and parses columns to their declared types;
    unparseable rows land in ``corrupt_col`` under PERMISSIVE mode.
    """
    reader = (
        spark.read.option("header", str(header).lower())
        .option("sep", sep)
        .option("mode", mode)
        .options(**options)
    )
    if schema is not None:
        reader = _with_corrupt_col(reader, schema, mode, corrupt_col)
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Parquet scan (reference etl/1-processing-banks.py:44, etl/4:7-9)."""
    if isinstance(path, list):
        return spark.read.parquet(*path)
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning contract as parquet
    (predicate pushdown, column projection, partition discovery); kept
    for zones that standardize on ORC."""
    if isinstance(path, list):
        return spark.read.orc(*path)
    return spark.read.orc(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
    **options,
) -> DataFrame:
    """JSON-lines reader with the same quarantine contract as
    ``read_csv``: under PERMISSIVE mode with an explicit schema,
    malformed lines land whole in ``corrupt_col`` (routed via
    ``columnNameOfCorruptRecord``) for the caller to split out,
    instead of being dropped (DROPMALFORMED) or failing the job
    (FAILFAST)."""
    reader = spark.read.option("mode", mode).options(**options)
    if schema is not None:
        reader = _with_corrupt_col(reader, schema, mode, corrupt_col)
    return reader.json(path)


