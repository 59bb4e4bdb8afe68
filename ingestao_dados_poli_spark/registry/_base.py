"""Shared registry infrastructure: the QUERIES/ORACLES dicts, the
`q` registration decorator, table readers (`_t`, `_events_ts`) and
the cross-domain oracle constants. Domain modules star-import this
(underscore names included via the explicit __all__), register their
queries into the SAME dict objects, and `queries.py` re-exports the
assembled registry.
"""


from __future__ import annotations


import atexit
import functools
import hashlib
import os
import shutil
import tempfile

from collections.abc import Callable
from contextlib import contextmanager


from pyspark.sql import DataFrame, SparkSession, Window

from pyspark.sql import functions as F


from ingestao_dados_poli_spark.functions import text as TX

from ingestao_dados_poli_spark.functions.cleaning import align_union

from ingestao_dados_poli_spark.functions.locale import (
    compat_int_index,
    parse_decimal_comma,
)

from ingestao_dados_poli_spark.functions.vectors import cosine

from ingestao_dados_poli_spark.operators import corpus as CO

from ingestao_dados_poli_spark.operators import dedup as DD

from ingestao_dados_poli_spark.operators import fuzzy as FZ

from ingestao_dados_poli_spark.operators import graph as G

from ingestao_dados_poli_spark.operators import multimodal as MM

from ingestao_dados_poli_spark.operators import relational as R

from ingestao_dados_poli_spark.operators import similarity as SIM

from ingestao_dados_poli_spark.partitioning import fan_out, shuffle_partitions

from ingestao_dados_poli_spark.session import scoped_conf

from ingestao_dados_poli_spark import quality as Q

from ingestao_dados_poli_spark.quality import null_counts


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

ORACLES: dict[str, str] = {}



def _events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TIMESTAMP (UTC instant) across testdata
    vintages. Older driver data wrote TIMESTAMP(NANOS), which Spark's
    parquet reader only surfaces as long (``nanosAsLong``); newer data
    writes micro-precision naive timestamps that arrive as TIMESTAMP_NTZ.
    Works on batch and streaming DataFrames alike (dtype branch happens
    at plan-build time, not per row).
    """
    dt = df.schema["ts"].dataType.typeName()
    if dt == "long":
        # integer div — a double division here loses microsecond precision
        # on 1.7e18-scale nano values (52-bit mantissa).
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        # session tz is pinned UTC, so the naive wall-clock maps to the
        # identical instant the DuckDB oracle computes on.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df



@functools.cache
def _scratch_root() -> str:
    """This process's scratch root: one mkdtemp, removed at exit.
    Several queries return DataFrames that lazily read files they wrote
    here at driver collect time, so in-function rmtree would pull the
    bytes out from under the result; process exit is the earliest safe
    point, and it leaves nothing behind in the temp dir. mkdtemp (not a
    pid-suffixed fixed path) also keeps two concurrent drivers — or a
    recycled pid — from ever sharing a stateful store."""
    d = tempfile.mkdtemp(prefix="poli_scratch_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _scratch(prefix: str) -> str:
    """A fresh directory under the scratch root, one per call."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())


def _scratch_dir(name: str, sf_dir: str) -> str:
    """The directory query ``name`` keeps files derived from ``sf_dir``
    in: the same path on every call in this process, a different one
    per dataset, so a copy written once per process is never served
    for another ``sf_dir``. Neither created nor cleared here — a query
    that rebuilds on every call clears it on entry."""
    key = hashlib.sha1(os.path.realpath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(_scratch_root(), f"{name}_{key}")


def _lit_df(spark: SparkSession, schema_ddl, rows: list[tuple]) -> DataFrame:
    """Tiny driver-known DataFrame built as a pure-JVM literal plan
    (``range(1)`` + ``inline(array(struct...))``), NOT
    ``createDataFrame``: a parallelize-backed frame routes every
    execution through a Python-RDD scan, and on this box a parquet/sink
    write of such a frame measures an erratic 0.5-6 s PER WRITE (the
    q290 sentinel — two rows — was the bench's single biggest line item
    at ~5 s) while the identical literal plan writes in ~0.2 s flat.
    The literal plan only wins while it stays SMALL: Catalyst analysis
    cost grows with the struct-literal count (a 8k-cell CMS partial
    merge measured 27 s as literals vs 2 s parallelized), so above
    ~200 rows this falls back to createDataFrame — there the one-off
    Python scan cost is amortized over real row volume anyway."""
    from pyspark.sql.types import StructType

    schema = (
        schema_ddl
        if isinstance(schema_ddl, StructType)
        else StructType.fromDDL(schema_ddl)
    )
    if not rows or len(rows) > 200:
        return spark.createDataFrame(rows, schema)
    fields = schema.fields
    for row in rows:
        # zip() would silently truncate a row/schema arity mismatch
        # where createDataFrame raises — keep the loud failure
        if len(row) != len(fields):
            raise ValueError(
                f"_lit_df row has {len(row)} values for {len(fields)} "
                f"schema fields: {row!r}"
            )
    # Fast path (r08): render the whole literal table as ONE SQL string
    # (inline(array(named_struct(...)))) — a single py4j round trip —
    # instead of rows x fields F.lit/cast/alias Column objects, each of
    # which is ~3 gateway round trips (measured: q279's 66-row result
    # spent 1.5 s here, 60% of its warm build). Values outside the safe
    # primitive set fall back to the Column path below; parsed literals
    # are bit-identical (ints/bools/strings exact; doubles rendered via
    # repr, the shortest string that round-trips IEEE-exactly, with the
    # D suffix forcing a parseDouble literal).
    def _sql_val(v, f) -> str:
        t = f.dataType.simpleString()
        if v is None:
            return f"CAST(NULL AS {t.upper()})"
        if t == "boolean":
            return "true" if v else "false"
        if t in ("tinyint", "smallint", "int", "bigint"):
            return f"CAST({int(v)} AS {t.upper()})"
        if t in ("double", "float"):
            fl = float(v)
            if fl != fl or fl in (float("inf"), float("-inf")):
                raise ValueError("non-finite")
            return f"CAST({fl!r}D AS {t.upper()})"
        if t == "string":
            s = str(v).replace("\\", "\\\\").replace("'", "\\'")
            return f"'{s}'"
        if t == "date":
            import datetime

            if isinstance(v, (datetime.date, datetime.datetime)):
                # typed literal, not CAST(string): a string cast is
                # nullable-by-construction and would drift the schema's
                # nullability from the lit() path
                return f"DATE '{v.isoformat()[:10]}'"
        raise ValueError(f"no SQL literal rendering for {t}")

    try:
        structs_sql = ", ".join(
            "named_struct({})".format(
                ", ".join(
                    f"'{f.name}', {_sql_val(v, f)}"
                    for v, f in zip(row, fields)
                )
            )
            for row in rows
        )
        return spark.range(1).select(
            F.expr(f"inline(array({structs_sql}))")
        )
    except ValueError:
        pass
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, fields)
            ]
        )
        for row in rows
    ]
    return spark.range(1).select(F.inline(F.array(*structs)))


def _is_nanos_schema_error(e: Exception) -> bool:
    """True iff ``e`` is the parquet schema-conversion failure the
    TIMESTAMP(NANOS) testdata vintage raises at read.parquet. Anything
    else (missing file, corrupt footer, permissions) must NOT trigger
    the legacy-flag retry — that would mask the real error behind a
    confusing second failure."""
    msg = str(e)
    return "TIMESTAMP(NANOS" in msg or "Illegal Parquet type" in msg


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # UTC pinning lives in the `q` decorator (scoped around the whole
    # query build), NOT here: a set at read time would leak past the
    # query into a host session the driver owns.
    if name == "events":
        # Read NATIVELY first: the nanosAsLong legacy flag costs a
        # measured 1.7x on every events scan (it drops the vectorized
        # timestamp reader) and flipping any conf invalidates session
        # caches (~0.3-0.5 s/query) — so the flag is applied, scoped,
        # ONLY when the footer actually carries TIMESTAMP(NANOS) (the
        # old testdata vintage), which surfaces eagerly as a schema
        # error at read.parquet.
        path = f"{sf_dir}/events.parquet"
        try:
            df = spark.read.parquet(path)
        except Exception as e:
            if not _is_nanos_schema_error(e):
                raise
            with scoped_conf(
                spark, "spark.sql.legacy.parquet.nanosAsLong", "true"
            ):
                df = spark.read.parquet(path)
        return _events_ts(df)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@contextmanager
def events_compat(spark: SparkSession, sf_dir: str):
    """Scope the nanosAsLong legacy reader flag around a block ONLY if
    ``events.parquet`` actually needs it (TIMESTAMP(NANOS) vintage —
    probed by one footer read, which fails eagerly on that type).
    Streaming queries wrap their whole body because the file source
    re-reads events per micro-batch; on modern micro-precision data
    this is a NO-OP, because the flag costs a measured 1.7x on every
    events scan (it drops the vectorized timestamp reader) and each
    conf flip invalidates session caches (~0.3-0.5 s/query)."""
    path = f"{sf_dir}/events.parquet"
    try:
        spark.read.parquet(path)
        needs = False
    except Exception as e:
        if not _is_nanos_schema_error(e):
            raise
        needs = True
    if needs:
        with scoped_conf(
            spark, "spark.sql.legacy.parquet.nanosAsLong", "true"
        ):
            yield
    else:
        yield



def q(name: str, oracle: str | None = None):
    def deco(fn):
        # Every registered query runs its BUILD under session-timezone
        # UTC: date_trunc/year/cast-to-string on timestamps convert
        # through the session timezone, while the DuckDB oracle
        # computes on naive (UTC-equivalent) timestamps. Timezone-aware
        # expressions bind their zone at ANALYSIS time (which PySpark
        # runs eagerly as each DataFrame is built inside fn), so the
        # scope covers everything that matters and the host session's
        # own timezone is restored before the driver collects.
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str, *a, **k):
            with scoped_conf(spark, "spark.sql.session.timeZone", "UTC"):
                return fn(spark, sf_dir, *a, **k)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco



# ------------------------------------- 13. rows-only (non-SQL-expressible)

# Shared CTE fragment: word 5-shingle SETS of normalized text, as
# DuckDB SQL — the string-side mirror of the engine's hashed-shingle
# pipeline (shingle_hashes_udf). Docs shorter than 5 tokens yield one
# shingle over all tokens, mirroring shingles()' fallback.
_SHINGLE5_SQL = """
         tok AS (SELECT doc_id,
                        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
                 FROM u),
         sh AS (SELECT doc_id,
                       list_distinct(list_transform(
                         range(1, greatest(len(toks) - 4, 1) + 1),
                         i -> array_to_string(toks[i:i+4], ' '))) AS ss
                FROM tok)
"""



# --------------------------------------------- 15. language ID / tokens

# Derived from the ENGINE's marker lists so oracle and Spark can never
# drift; construction mirrors text.stopword_count's rf"\b({words})\b".
_LANG_RE = {
    lang: r"\b(" + "|".join(words) + r")\b"
    for lang, words in TX._LANG_MARKERS.items()
}



# ------------------------------------------------ 20. IVF quantization

# 4 deterministic orthogonal-block centroids over the 64-dim space:
# centroid c is 1.0 on dims [16c, 16c+16). Shared by Spark and the SQL
# oracle below.
_CENTROIDS = [
    [1.0 if 16 * c <= i < 16 * (c + 1) else 0.0 for i in range(64)] for c in range(4)
]

_CENTROID_SQL = ", ".join(
    f"round(list_cosine_similarity(embedding::DOUBLE[], {c}::DOUBLE[]), 6)"
    for c in _CENTROIDS
)



# The data-mixing recipe is CONFIGURATION (known ahead of any run), not
# something derived by scanning the corpus: discovering strata with a
# distinct().collect() would add a full extra scan plus a driver
# round-trip per run at 100 TB. Strata absent from the table are simply
# never sampled; strata absent from the dict default to fraction 0.
Q49_MIX_FRACTIONS = {
    # src0 plays the rare high-quality source: keep everything; the
    # rest (testdata has src0..src19) are thinned to 25%.
    "src0": 1.0,
    **{f"src{i}": 0.25 for i in range(1, 20)},
}



_STOPWORDS = ["the", "of", "and", "to", "in", "a", "is"]



# ----------------------- 31. SQL interface / streaming sliding / IVF search

_Q74_SQL = """
    WITH ranked AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM {table})
    SELECT o_orderpriority, o_orderkey,
           CAST(round(o_totalprice, 2) AS DOUBLE) AS top_price
    FROM ranked WHERE rn <= 3
"""



_PSI_PRIO_A = "1-URGENT"

_PSI_PRIO_B = "5-LOW"

_PSI_BINS = 10

_PSI_WIDTH = 60000.0



# --------------------- 78. bucketed co-located join (zero-exchange fact⋈fact)

def q136_table_names() -> tuple[str, str]:
    """(orders_table, lineitem_table) — pid-scoped so parallel
    test/driver processes never collide in the shared session catalog.
    Exposed so the plan test can rebuild the join on the registered
    tables."""
    pid = os.getpid()
    return f"q136_orders_b{pid}", f"q136_lineitem_b{pid}"


__all__ = [
    "Callable",
    "DataFrame",
    "SparkSession",
    "Window",
    "F",
    "TX",
    "align_union",
    "compat_int_index",
    "parse_decimal_comma",
    "cosine",
    "CO",
    "DD",
    "FZ",
    "G",
    "MM",
    "R",
    "SIM",
    "fan_out",
    "shuffle_partitions",
    "scoped_conf",
    "Q",
    "null_counts",
    "QUERIES",
    "ORACLES",
    "_events_ts",
    "_lit_df",
    "_scratch",
    "_scratch_dir",
    "_t",
    "events_compat",
    "q",
    "_SHINGLE5_SQL",
    "_LANG_RE",
    "_CENTROIDS",
    "_CENTROID_SQL",
    "Q49_MIX_FRACTIONS",
    "_STOPWORDS",
    "_Q74_SQL",
    "_PSI_PRIO_A",
    "_PSI_PRIO_B",
    "_PSI_BINS",
    "_PSI_WIDTH",
    "q136_table_names",
]
