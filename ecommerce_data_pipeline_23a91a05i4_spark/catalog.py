"""Table catalog over the driver-provided parquet testdata.

Mirrors the reference's table-scan surface (SURVEY.md §2.1 S1-S3): the
reference reads whole tables from PostgreSQL/CSV into pandas; here tables are
parquet directories read lazily so Catalyst can push filters and prune
columns down to the scan.

Schema cache: a schema-less ``spark.read.parquet`` runs one Spark job to
infer the schema from the file footers, and the reference's q1-q10 pass
reads 20 tables.  :func:`read_parquet` keeps, per session, one entry per
path: the inferred schema, keyed on the path's file signature (every file's
relative name, size and mtime, plus its inode on a local filesystem; see
``sources/fs.py``) and the values the session sets for ``SCHEMA_CONFS``.
When both match, the read passes the cached schema and launches no job.
When either differs (files added, removed or rewritten, or a
schema-affecting setting changed), the read infers as before and its schema
replaces the entry.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .sources.fs import filesystem_for

TABLE_NAMES = (
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

# Dimension-sized tables that should always be broadcast in joins at any
# realistic scale factor (region/nation are bounded; part/supplier grow with
# SF but stay far below fact tables -- Spark's own threshold decides those).
ALWAYS_BROADCAST = {"region", "nation"}

#: Session settings that change the schema Spark infers from the same files.
SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

#: session -> path -> ((file signature, SCHEMA_CONFS values), schema); a
#: lost race between two readers stores an equally valid entry
_schemas: weakref.WeakKeyDictionary[
    SparkSession, dict[str, tuple[tuple, StructType]]
] = weakref.WeakKeyDictionary()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when the
    path's files or the schema-affecting settings changed since the
    last read (see the module docstring)."""
    key = (
        filesystem_for(spark, path).signature(path),
        tuple(spark.conf.get(k, None) for k in SCHEMA_CONFS),
    )
    cache = _schemas.setdefault(spark, {})
    hit = cache.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    cache[path] = (key, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _events(spark, path)
    return read_parquet(spark, path)


def _events(spark: SparkSession, path: str) -> DataFrame:
    """Normalize events.ts to a session-TZ TIMESTAMP whatever physical
    type the parquet stored, branching on the *read* dtype:

    - parquet timestamp[us] (the driver testdata; isAdjustedToUTC=false) is
      read by Spark as TIMESTAMP_NTZ -> cast to TIMESTAMP.  Under the UTC
      session (session.get_spark) the cast is instant-preserving and the
      values match a naive-timestamp oracle (DuckDB) bit-for-bit.
    - nanos-as-long (a session with spark.sql.legacy.parquet.nanosAsLong
      set, reading TIMESTAMP(NANOS) parquet) -> truncate to micros with
      integer division (DIV, not float: ns-since-epoch exceeds 2^53).
    - already TIMESTAMP -> pass through.

    The reader never mutates session conf; timezone/legacy settings belong
    to the session factory (session.py) / entry boundary.
    """
    df = read_parquet(spark, path)
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    wanted = names or TABLE_NAMES
    return {n: table(spark, sf_dir, n) for n in wanted}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register each table as a temp view so ``spark.sql`` works verbatim."""
    for n, df in tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
