"""Structured Streaming helpers over the events table (SURVEY.md §7.6).

The reference is single-pass batch with no streaming analog
(SURVEY.md §2.4); streaming is the North-Star extension. The
streaming queries themselves are the registered ``stream_*`` entries
in operators/streamq.py, each hash-checked against a DuckDB oracle.
This module holds what they share: the file source over the events
parquet (``read_event_stream``) and the one drain into a memory
table (``run_to_memory``), which returns the snapshot as a frame and
leaves no view behind.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

WATERMARK = "10 minutes"

_seq = itertools.count()


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
    glob: str | None = None,
) -> DataFrame:
    """File-based streaming source over events parquet files.

    ``path`` must be a directory (streaming-source requirement); pass
    ``glob`` to restrict to matching files within it.

    Streaming sources require an explicit schema, but the driver has
    shipped events.parquet with two different physical ts encodings
    across rounds (TIMESTAMP(NANOS) → long, TIMESTAMP(MICROS) → ntz),
    so the schema is inferred from a one-file batch read of the same
    path (footer-only, no data scan) and ts is normalized to
    TimestampType exactly as the batch loader does (tables._normalize_ts).
    That read goes through the batch loader's schema memo
    (tables.read_parquet), so when ``glob`` names one file it starts no
    job after the file's first read in the session.
    """
    from pyspark.sql import types as T
    from pyspark.sql.utils import AnalysisException

    from catme_etl_j_spark.sources.tables import _normalize_ts, read_parquet

    try:
        schema = read_parquet(spark, f"{path}/{glob}" if glob else path).schema
    except AnalysisException:
        # Directory exists but holds no matching files yet (producer
        # drops them after the stream starts — the normal file-stream
        # deployment). Fall back to the static schema of the current
        # driver encoding (timestamp[us] -> TIMESTAMP_NTZ); the
        # normalizer handles it identically.
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampNTZType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return _normalize_ts(reader.parquet(path))


def run_to_memory(
    stream_df: DataFrame,
    prefix: str,
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> tuple[DataFrame, StreamingQuery]:
    """Drain a streaming frame into a fresh in-memory table (availableNow
    trigger) and return ``(snapshot, query)``: the sink's rows as a
    DataFrame, and the stopped StreamingQuery (for its progress).

    The memory sink registers its table as a temp view named after the
    query. The snapshot frame is resolved against that view and the view
    is dropped before returning: the frame's plan holds the sink itself,
    so the rows live exactly as long as the caller keeps the frame, and
    the session's catalog keeps no ``<prefix>_<n>`` view. No job runs.

    The counter appended to ``prefix`` makes every table name unique,
    so queries built from several threads at once never share a sink.
    ``checkpoint`` sets ``checkpointLocation``, so a second run over the
    same path resumes from the first run's offsets and state.
    """
    writer = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(f"{prefix}_{next(_seq)}")
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.processAllAvailable()
    q.stop()
    spark = stream_df.sparkSession
    snapshot = spark.table(q.name)
    spark.catalog.dropTempView(q.name)
    return snapshot, q
