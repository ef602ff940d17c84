"""The parquet schema memo behind ``load_table``: a file's schema is
inferred once per (file state, schema confs), so later reads start no
Spark job, a rewritten file is re-inferred, and a session conf that
changes inference gets its own entry."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import types as T

import __spark_entry__ as entry_mod
from catme_etl_j_spark.sources import tables
from catme_etl_j_spark.sources.tables import load_table, read_parquet


def _jobs_in_group(spark, group: str) -> int:
    """Jobs the status tracker holds for ``group``, after every job
    submitted so far has reached it: the listener bus is FIFO, so once a
    marker job submitted now is visible, so is every earlier one."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    marker = f"{group}-marker"
    sc.setJobGroup(marker, marker)
    spark.range(1).count()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reached the tracker"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_second_construction_schedules_no_jobs(spark, sf_dir):
    """q03's first construction infers its three tables' schemas (one
    job each); the second reads them from the memo and starts none."""
    q03 = entry_mod.queries()["q03_shipping_priority"]
    sc = spark.sparkContext
    tables._schemas.clear()
    try:
        sc.setJobGroup("memo-first", "q03 construct 1")
        q03(spark, sf_dir)
        sc.setJobGroup("memo-second", "q03 construct 2")
        q03(spark, sf_dir)
        assert _jobs_in_group(spark, "memo-first") >= 1
        assert _jobs_in_group(spark, "memo-second") == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_rewritten_file_is_reinferred(spark, tmp_path):
    """A file rewritten at the same path with another schema is a new
    memo key (inode/size/mtime), so the next read sees the new schema."""
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["a"]
    assert load_table(spark, str(tmp_path), "region").columns == ["a"]  # memo hit
    pq.write_table(pa.table({"b": ["x", "y"], "c": [1.5, 2.5]}), path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["b", "c"]
    assert sorted(tuple(r) for r in df.collect()) == [("x", 1.5), ("y", 2.5)]


def _with_conf(spark, key: str, value: str):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    return old


def test_schema_confs_key_the_memo(spark, sf_dir, tmp_path):
    """Read the same events file under two values of a conf that changes
    inference: each read gets its own schema, and ``_normalize_ts``
    turns every one into TimestampType with the same instants.

    * TIMESTAMP(NANOS) (an earlier encoding of the tables): nanosAsLong=true
      infers ``long``; with it false Spark 4.1 cannot read the column
      at all, and the memoized ``long`` schema must not paper over that.
    * TIMESTAMP(MICROS) isAdjustedToUTC=false (the current encoding):
      inferTimestampNTZ on infers TIMESTAMP_NTZ, off infers TIMESTAMP.
    """
    src = pq.read_table(f"{sf_dir}/events.parquet")
    nanos, micros = tmp_path / "nanos", tmp_path / "micros"
    nanos.mkdir()
    micros.mkdir()
    pq.write_table(
        src.set_column(1, "ts", src.column("ts").cast(pa.timestamp("ns"))),
        nanos / "events.parquet",
    )
    pq.write_table(src, micros / "events.parquet")

    def first_ts(d):
        return load_table(spark, str(d), "events").agg({"ts": "min"}).first()[0]

    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = _with_conf(spark, key, "true")
    try:
        raw = read_parquet(spark, str(nanos / "events.parquet")).schema["ts"].dataType
        assert isinstance(raw, T.LongType)
        assert isinstance(load_table(spark, str(nanos), "events").schema["ts"].dataType, T.TimestampType)
        want = first_ts(nanos)
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL|Illegal Parquet type"):
            load_table(spark, str(nanos), "events").collect()
    finally:
        spark.conf.set(key, old)

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    seen = []
    old = _with_conf(spark, key, "true")
    try:
        for value in ("true", "false"):
            spark.conf.set(key, value)
            path = str(micros / "events.parquet")
            seen.append(type(read_parquet(spark, path).schema["ts"].dataType))
            assert isinstance(load_table(spark, str(micros), "events").schema["ts"].dataType, T.TimestampType)
            assert first_ts(micros) == want
    finally:
        spark.conf.set(key, old)
    assert seen == [T.TimestampNTZType, T.TimestampType]
