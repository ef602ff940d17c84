"""Loaders for the driver-generated parquet tables (TESTDATA.md).

Parquet scans are the engine's canonical source: columnar, splittable,
predicate-pushdown- and column-pruning-friendly. At 100 TB these same
calls fan out across executors; nothing here is local-mode-specific.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


def spread_small_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Guide §2.5 input-parallelism guard: when a scan arrives as fewer
    splits than the session has cores (locally: one small parquet file;
    in production: a handful of giant unsplittable files), everything
    fused into the scan stage runs on those few tasks however many
    cores exist. Round-robin repartition to the session parallelism in
    that case; at real scale (many input files) the condition is false
    and NO exchange is added.

    Use ONLY in front of scan-stage compute that dominates the operator
    (gram/shingle generation, md5 fingerprint maps, Arrow passes) whose
    output is reshuffled or reduced afterwards — the winnow_pairs
    precedent (measured 3.0 → 0.77 s). A payload-heavy frame whose
    consumers reshuffle by key anyway gets strictly SLOWER from the
    extra exchange (the r12 _prescaled negative result: ann_nn 0.58 →
    0.93 s — see similarity.py).

    Precondition: ``df`` is a raw scan (``load_table`` output, at most
    projected/filtered). The partition probe goes through ``.rdd``,
    which plans the frame and materializes any upstream AQE query
    stages (shuffles, broadcasts) it contains — a hidden extra job in
    front of anything but a leaf scan."""
    n_par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n_par:
        return df.repartition(n_par)
    return df


# Session confs that change the schema parquet inference returns:
# nanosAsLong turns a TIMESTAMP(NANOS) ts into long (with it off Spark
# cannot read that column at all), and inferTimestampNTZ.enabled picks
# TIMESTAMP_NTZ or TIMESTAMP for the current TIMESTAMP(MICROS) ts. So a
# session under QUERY_CONF and a vanilla one never share a memo entry.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

# (path, inode, size, mtime_ns, *conf values) -> inferred schema.
_schemas: dict[tuple, StructType] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """Memo key of ``path``, or None when it is not a regular local file
    (a directory, a glob, a remote URI). The stat part makes a rewrite
    of the file, even at the same path, a new entry."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    confs = tuple(spark.conf.get(c) for c in _SCHEMA_CONFS)
    return (path, st.st_ino, st.st_size, st.st_mtime_ns, *confs)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a file's schema once.

    Without a schema every read starts a 1-task schema-inference job
    (~110 ms at sf0.01); with the memoized one it starts none. Only
    regular local files are memoized; anything else is read exactly as
    ``spark.read.parquet`` reads it. No lock: two threads racing on one
    key both infer and store the same schema."""
    key = _schema_key(spark, path)
    schema = None if key is None else _schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _schemas[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize events.ts to TimestampType regardless of how the driver
    generated the parquet. Two encodings have been observed across
    rounds: TIMESTAMP(NANOS) (rejected by Spark's vectorized reader —
    read nanos as int64, integer-divide to micros; `div`, not `/`,
    because float division loses precision above 2^53) and plain
    TIMESTAMP(MICROS) isAdjustedToUTC=false (reads as TIMESTAMP_NTZ —
    cast to TimestampType; identity on the stored micros because every
    query runs under ``session.QUERY_CONF``, which pins the session zone
    to UTC and turns on nanos-as-long). DuckDB applies the same ns->us
    floor truncation, so parity holds."""
    df = read_parquet(spark, f"{sf_dir}/events.parquet")
    return _normalize_ts(df)


def _normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):  # legacy nanos-as-long
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}
