"""SparkSession factory.

Local testing runs on ``local[N]`` (one JVM), but every config here is
chosen to also be the right default on a large cluster:

* AQE on (runtime re-planning, partition coalescing, skew-join splitting)
  so plans adapt when the 100x-scale data distribution differs from test.
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalescing makes the initial number mostly moot.
* ``QUERY_CONF``, the query-session policy: UTC session timezone
  (required for DuckDB-oracle comparability and the only sane choice for
  a multi-region corpus) and parquet nanos read as int64. ``get_spark``
  builds with it; the registry (``__spark_entry__``) and the public
  facades re-pin it with ``apply_query_conf`` on whatever session they
  are handed, so operator code never calls ``spark.conf.set``.
* Arrow enabled — all pandas-UDF paths (xlsx source, multimodal, ANN)
  transfer columnar batches, not pickled rows.
* Python workers fork from ``worker_daemon``, which stops every task
  from re-reading the Spark zips' directories, and get the package
  root on their path, so they import the package from any working
  directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime confs every query builds and runs under: UTC rendering and
# events.ts TIMESTAMP(NANOS) read as int64 (tables._normalize_ts).
QUERY_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def apply_query_conf(spark: SparkSession) -> None:
    """Pin ``QUERY_CONF`` on ``spark`` (the driver's session is not
    guaranteed to carry it). Left set afterwards: Arrow/pandas nodes
    read the session zone when the plan executes, not when it builds."""
    for key, value in QUERY_CONF.items():
        spark.conf.set(key, value)


def get_spark(app_name: str = "catme_etl_j_spark", cpus: str | None = None) -> SparkSession:
    """Return (or create) the singleton SparkSession with engine defaults."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "catme_etl_j_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # static conf: bucketed-table home (operators/scale.py)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/catme_spark_warehouse"),
        )
        .config(map=QUERY_CONF)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
