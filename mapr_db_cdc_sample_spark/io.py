"""Table loading for the driver-generated parquet testdata (TESTDATA.md).

All scans go through here so predicate pushdown / column pruning are
verified in one place: `spark.read.parquet` + lazy DataFrames keep filters
and projections in Catalyst where they reach the parquet reader
(PushedFilters / ReadSchema in `.explain`).

A schema-less `spark.read.parquet` starts one schema-inference job per
file, even for a single file, so a new session's `load_tables` would
start ten jobs. Spark's inferred schema is kept per table file for the
life of the process (`_SCHEMAS`), keyed by the file's real path, size
and mtime: a later session reads an unchanged file with that schema and
starts no job, and a rewritten file is inferred again. This holds only
because every engine session infers under the same parquet-reading
confs, which `session.tune` sets (`nanosAsLong` and the rest).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import tune

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: DataFrame memo per (session, sf_dir, table): reusing the lazy scan
#: object keeps one InMemoryFileIndex/schema per table per session instead
#: of re-listing on every query invocation.
_CACHE: dict[tuple[int, str, str], DataFrame] = {}

#: The SparkContext whose sessions `_CACHE` and `_VIEWS` hold. A session of
#: another context (the old one was stopped and a new session built, as
#: bench.time_queries and perfbench do) empties both, so a stopped session
#: and its scans do not stay reachable for the life of the process.
_context = None


def _own(spark: SparkSession) -> None:
    global _context
    if spark.sparkContext is not _context:
        _CACHE.clear()
        _VIEWS.clear()
        _context = spark.sparkContext


#: Spark's inferred schema per table file, keyed by (real path, st_size,
#: st_mtime_ns). Valid across sessions only while every session infers
#: under the same parquet confs from `session.tune`
#: (`spark.sql.legacy.parquet.nanosAsLong` decides events.ts's type).
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _read(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)`, with the schema Spark inferred for the
    same unchanged file earlier in this process, so it starts no job.
    A path that is not a local regular file is inferred every time."""
    if not os.path.isfile(path):  # a URI, a directory or a missing path
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (os.path.realpath(path), st.st_size, st.st_mtime_ns)
    if key in _SCHEMAS:
        return spark.read.schema(_SCHEMAS[key]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One parquet table as a DataFrame (lazy scan, memoized)."""
    _own(spark)
    key = (id(spark), sf_dir, name)
    if key in _CACHE:
        return _CACHE[key]
    df = _read(spark, os.path.join(sf_dir, f"{name}.parquet"))
    ts_type = dict(df.dtypes).get("ts") if name == "events" else None
    if ts_type == "bigint":
        # nanosAsLong read (see session.RUNTIME_CONFS): ns → µs timestamp,
        # truncating exactly like DuckDB does for the same parquet.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        # Parquet timestamp[us] without UTC adjustment reads as
        # TIMESTAMP_NTZ, which withWatermark rejects. Cast to LTZ —
        # identical wall clock under the UTC session timezone, and the
        # type every streaming/event query was validated against.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _CACHE[key] = df
    return df


#: sf_dir each session's temp views point at, keyed by id(spark) like
#: _CACHE: registering the ten views costs ~100 ms, and only the
#: spark.sql queries read them.
_VIEWS: dict[int, str] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All tables; also registers each as a temp view for spark.sql use
    (again only when the session's views point at another sf_dir)."""
    tune(spark)
    out = {name: table(spark, sf_dir, name) for name in TABLES}
    if _VIEWS.get(id(spark)) != sf_dir:
        for name, df in out.items():
            df.createOrReplaceTempView(name)
        _VIEWS[id(spark)] = sf_dir
    return out
