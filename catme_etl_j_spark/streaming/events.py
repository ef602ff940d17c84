"""Structured Streaming slice over the events table (SURVEY.md §7.6).

The reference is single-pass batch with no streaming analog
(SURVEY.md §2.4); this module is the North-Star extension. Each
builder takes a *streaming* DataFrame (``spark.readStream``) and
returns the transformed streaming frame, so the same logic serves
any source (files here; Kafka in production) and any sink via
``writeStream`` / ``foreachBatch``.

Batch twins of these queries live in operators/events.py and are
DuckDB-oracle checked; the streaming tests (tests/test_streaming.py)
drive these through the memory sink with ``processAllAvailable`` and
assert against the batch results — semantics parity is the test.

Scale notes: watermarks bound state (late data beyond 10 min is
dropped); ``dropDuplicatesWithinWatermark`` keeps the dedup state
window-bounded; aggregations run as incremental stateful operators
sharded by group key across executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from catme_etl_j_spark.functions.numeric import dec2, money2

WATERMARK = "10 minutes"

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
    """
    from pyspark.sql import types as T
    from pyspark.sql.utils import AnalysisException

    from catme_etl_j_spark.sources.tables import _normalize_ts

    batch = spark.read
    if glob:
        batch = batch.option("pathGlobFilter", glob)
    try:
        schema = batch.parquet(path).schema
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


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Hourly tumbling counts/sums per event type, late data bounded by
    the watermark (append-mode emits a window once it's closed)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        # decimal-sum convention (functions/numeric.py): float sums are
        # partition-order dependent and can flip a half-boundary
        .agg(F.count("*").alias("n"), money2(F.sum(dec2("value"))).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (the streaming twin of the batch
    lag+cumsum sessionization in operators/events.py)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Stateful exact-once dedup by event_id, state bounded by the
    watermark window."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(["event_id"])


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user event count / value sum, carried across micro-batches in
    explicit GroupState (the ladder's rung (b) — used when built-in
    streaming aggs can't express the state machine; here the state is
    simple so the test can verify against the batch groupBy).

    State is sharded by user_id across executors; each micro-batch
    updates only the touched keys and emits their new totals.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_events long, sum_value double"
    state_schema = "n long, s double"

    def update(key, pdfs, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def write_stream_exactly_once(stream_df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Exactly-once file sink via foreachBatch: each micro-batch writes
    to an epoch-named subdirectory, so replays after failure overwrite
    instead of duplicating (idempotent per epoch), and the checkpoint
    guarantees each epoch is committed once.
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming frame to completion into an in-memory table;
    returns the StreamingQuery (stopped). Test/smoke harness."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q
