"""SparkSession factory.

The reference pipeline delegates all execution to PostgreSQL over a single
client connection (see SURVEY.md §3); here one SparkSession replaces both the
client and the server.  Configuration choices are made for large-cluster
behavior even though tests run on ``local[*]``:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
- ``spark.sql.session.timeZone=UTC`` so timestamp semantics are deterministic
  and match a naive-timestamp oracle (DuckDB) reading the same parquet.
- Arrow enabled for the (rare) pandas-UDF paths — dedup/similarity operators.
- Shuffle partitions sized from the available cores for local runs; a real
  cluster deployment would size this from executor count x cores (or rely on
  AQE coalescing from a higher initial value).
- Spark's cache of compiled generated classes holds ``CODEGEN_CACHE_ENTRIES``
  (Spark's default is 100).  One q1-q10 pass generates about 160 distinct
  classes and one TxTable change-feed cycle about 120, so under the default
  every repeat of either recompiles nearly all of them with Janino.  The setting is static: it
  applies only when :func:`get_spark` creates the session; a caller-owned
  session handed to ``entry(spark)`` keeps whatever it was started with.
- ``spark.executorEnv.PYTHONPATH`` carries the directory holding this
  package, so Python workers (UDFs, the change-feed Python data source)
  import it from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Compiled-class cache size: the measured working sets (about 160 classes
#: per q1-q10 pass, 120 per change-feed cycle) with headroom for a session
#: that mixes them with other gates.
CODEGEN_CACHE_ENTRIES = 1024

#: The directory that holds this package, i.e. what a Python worker needs
#: on its path to import it.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "ecommerce-data-pipeline-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    Idempotent: ``getOrCreate`` reuses an existing session, so tests, bench
    and the driver share one warm JVM.
    """
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Normalize a caller-owned session once at the entry boundary.

    The testdata timestamps are tz-naive; plans render instants in the
    session timezone, so a non-UTC caller session would shift
    year()/date_trunc()/casts away from the naive-timestamp oracle.
    Sessions built by :func:`get_spark` are already UTC; for foreign
    sessions (the driver hands ``entry(spark)`` its own) this pins it.
    Readers/plans themselves never mutate conf — this is the single
    sanctioned place, and it is a no-op when already normalized.
    """
    if spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
