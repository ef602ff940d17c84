"""Oracle-checked Structured Streaming query.

``stream_tumbling_window`` runs a REAL streaming pipeline — file
source -> event-time tumbling aggregation -> memory sink, complete
mode, availableNow trigger — and returns the final snapshot. Because
complete mode emits every window and the trigger drains the finite
input, the result is deterministic and equals the batch aggregation,
so the DuckDB oracle is the SAME SQL as the batch twin
(operators/events.py events_tumbling_window). That puts the streaming
engine itself on the driver's hash-compare gate: the strongest check
that stream and batch semantics agree.

The decimal-sum convention applies unchanged: the aggregation runs
JVM-side through DECIMAL(18,2), so micro-batch accumulation order
cannot flip a half-boundary.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from catme_etl_j_spark.functions.numeric import dec2, money2
from catme_etl_j_spark.operators.events import _SLIDING_SQL, _TS_FMT, _TUMBLING_SQL
from catme_etl_j_spark.session import apply_query_conf
from catme_etl_j_spark.streaming.events import WATERMARK, read_event_stream, run_to_memory


def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling counts/sums per event type, computed by the
    streaming engine (complete mode) over the events files."""
    ev = read_event_stream(spark, sf_dir, glob="events.parquet")
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        money2(F.sum(dec2("value"))).alias("sum_value"), F.count("*").alias("n")
    )
    snap, _ = run_to_memory(agg, "streamq_tumbling", "complete")
    return snap.select(
        F.date_format("w.start", _TS_FMT).alias("window_start"),
        "event_type",
        "sum_value",
        "n",
    )


def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min windows sliding every 15 min, computed by the streaming
    engine (complete mode, availableNow) — same oracle as the batch
    twin events_sliding_window."""
    ev = read_event_stream(spark, sf_dir, glob="events.parquet")
    agg = ev.groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w")).agg(
        F.count("*").alias("n"), money2(F.sum(dec2("value"))).alias("sum_value")
    )
    snap, _ = run_to_memory(agg, "streamq_sliding", "complete")
    return snap.select(
        F.date_format("w.start", _TS_FMT).alias("window_start"), "n", "sum_value"
    )


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap) per user, computed by the
    streaming engine in complete mode. Spark's session window spans
    [first_ts, last_ts + gap), so ``session_end`` is recovered as
    ``w.end - gap`` — after which the result must equal the batch
    lag+cumsum sessionization (events_sessionize semantics), making
    this a cross-paradigm AND cross-engine check in one row.

    Boundary note: an inter-event gap of EXACTLY 30 min would merge in
    the batch twin (``> gap`` starts a session) and split in the
    streaming one (half-open window) — with nanosecond event times an
    exact 1800.000000000s delta does not occur in the data.
    """
    ev = read_event_stream(spark, sf_dir, glob="events.parquet")
    agg = ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id").agg(
        F.count("*").alias("n_events"),
        money2(F.sum(dec2("value"))).alias("sum_value"),
    )
    snap, _ = run_to_memory(agg, "streamq_session", "complete")
    return snap.select(
        "user_id",
        F.date_format("w.start", _TS_FMT).alias("session_start"),
        F.date_format(
            F.col("w.end") - F.expr("INTERVAL 30 MINUTES"), _TS_FMT
        ).alias("session_end"),
        "n_events",
        "sum_value",
    )


# The batch sessionize CTE minus the session_id projection (streaming
# session windows have no running id; identity is (user, start)).
_STREAM_SESSION_SQL = """
WITH marked AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN LAG(epoch(ts)) OVER w IS NULL
                   OR epoch(ts) - LAG(epoch(ts)) OVER w > 1800 THEN 1
              ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id,
       min(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS session_start,
       max(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS session_end,
       COUNT(*) AS n_events,
       CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
FROM sess
GROUP BY user_id, session_id
"""


def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator on the gate: per-user running totals via
    ``applyInPandasWithState`` (explicit GroupState carried across
    micro-batches — the custom-operator ladder's rung for state machines
    built-in aggs can't express). With availableNow over the finite
    input, every user's FINAL emission equals the batch groupBy, so the
    DuckDB twin is plain SQL.

    Determinism: state accumulates EXACT integer cents
    (``floor(v*100 + 0.5)`` per element — the rdet convention; all
    event values are positive so this equals DECIMAL(18,2) rounding),
    making the sum independent of arrival order; the only float op is
    one final cents/100 division, identical IEEE on both engines.
    """
    return _stateful_totals(read_event_stream(spark, sf_dir, glob="events.parquet"))


def _stateful_totals(ev: DataFrame) -> DataFrame:
    """Drain ``ev`` through the per-user state machine and return each
    user's final totals. One emission per user per touched micro-batch;
    the final state has the max running n_events (monotone), so
    max(struct) picks it however many batches the source splits into."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import numpy as np

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(
                np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).astype("int64").sum()
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [cents / 100.0]}
        )

    agg = ev.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id long, n_events long, sum_value double",
        "n long, cents long",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    snap, _ = run_to_memory(agg, "streamq_stateful", "update")
    return (
        snap.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "sum_value")).alias("m"))
        .select("user_id", F.col("m.n_events").alias("n_events"), F.col("m.sum_value").alias("sum_value"))
    )


_STATEFUL_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM events GROUP BY user_id
"""


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join on the gate: each purchase joined to the
    same user's clicks in the preceding 30 minutes, both sides REAL
    streaming sources with watermarks (the state-cleanup contract a
    production deployment needs — without the time-range condition the
    join state would grow unboundedly at 100 TB/day).

    Inner stream-stream matches emit as both sides arrive, so with
    availableNow draining the finite input the joined set equals the
    batch join and the DuckDB twin is plain SQL. The snapshot is then
    aggregated per purchase (n preceding clicks, last click time) —
    that final rollup runs in batch on the sink table, keeping the
    streaming part exactly the join under test.
    """
    clicks = (
        read_event_stream(spark, sf_dir, glob="events.parquet")
        .filter("event_type = 'click'")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_event_stream(spark, sf_dir, glob="events.parquet")
        .filter("event_type = 'purchase'")
        .select("event_id", "user_id", "ts", "value")
        .withWatermark("ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "user_id = c_user AND click_ts <= ts"
            " AND click_ts >= ts - INTERVAL 30 MINUTES"
        ),
    )
    snap, _ = run_to_memory(joined, "streamq_ssjoin", "append")
    return (
        snap.groupBy("event_id", "user_id", "ts")
        .agg(
            F.count("*").alias("n_clicks_30m"),
            F.max("click_ts").alias("last_click"),
        )
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", _TS_FMT).alias("purchase_ts"),
            "n_clicks_30m",
            F.date_format("last_click", _TS_FMT).alias("last_click_ts"),
        )
    )


_SSJOIN_SQL = """
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       COUNT(*) AS n_clicks_30m,
       strftime(max(c.ts), '%Y-%m-%d %H:%M:%S') AS last_click_ts
FROM events p
JOIN events c
  ON c.event_type = 'click' AND p.event_type = 'purchase'
 AND c.user_id = p.user_id
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
GROUP BY p.event_id, p.user_id, p.ts
"""


def stream_dedup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on the gate: the events file is read by
    TWO independent streaming sources and unioned, so every event_id
    arrives exactly twice; ``dropDuplicatesWithinWatermark`` must
    collapse the pairs back to one row each. The deduped stream lands
    in the sink and a batch rollup per event type follows (the
    streaming part under test is the union + stateful dedup, exactly
    like stream_stream_join isolates the join). With duplicates fully
    removed the totals equal plain aggregation over the source file, so
    the DuckDB twin is one GROUP BY.

    At scale this is the exactly-once repair step for an at-least-once
    ingest (Kafka replays, file re-drops): state is sharded by
    event_id and bounded by the watermark window.
    """
    s1 = read_event_stream(spark, sf_dir, glob="events.parquet")
    s2 = read_event_stream(spark, sf_dir, glob="events.parquet")
    deduped = (
        s1.unionByName(s2)
        .withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    snap, _ = run_to_memory(deduped, "streamq_dedup", "append")
    return (
        snap.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            money2(F.sum(dec2("value"))).alias("sum_value"),
        )
    )


_STREAM_DEDUP_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


# --- Watermarked late-data policy, oracle-pinned -------------------------
# Two deterministic micro-batches: batch 1 = events from LATE_SPLIT on
# (the "on-time" half, containing the global max ts), batch 2 =
# everything earlier (every row at least two weeks below batch 1's
# watermark — unambiguously late).
#
# OBSERVED Spark 4.1 semantics, pinned by this entry (probed directly;
# the classic "input older than watermark is dropped" filter is ABSENT
# from the physical plan — only `isnotnull(ts)` guards the aggregation,
# and numRowsDroppedByWatermark stays 0 for aggregation, deduplication
# AND stream-stream join on this build): late input is NOT discarded.
# Instead the watermark governs EMISSION — a window emits (and its
# state evicts) once the watermark passes its end, so batch-2's late
# windows are admitted, then immediately finalized and emitted at the
# end of batch 2, while on-time windows within LATE_WATERMARK_H of the
# global max never emit. The final append snapshot is therefore exactly
# "all events, restricted to windows ending at or below max(ts) -
# LATE_WATERMARK_H" — plain SQL for DuckDB. LATE_SPLIT is aligned to an
# hour boundary so no window spans both batches (a split window would
# emit two partial rows — the per-batch-eviction semantics made
# visible; keeping batches window-disjoint keeps the snapshot
# batch-count-invariant).
LATE_SPLIT = "2024-01-15 00:00:00"
LATE_WATERMARK_H = 2


def _split_fixture_dir(
    sf_dir: str, name: str, cols: str, *, early_first: bool
) -> str:
    """Split events.parquet at LATE_SPLIT into two single-file
    micro-batches under /tmp (testdata is read-only), mtime-ordered
    (FileStreamSource processes oldest-mtime first). Built once per
    (sf_dir, name); the build dir is pid-unique and published via
    rename, so a concurrent build loses the race harmlessly."""
    import os
    import shutil

    import duckdb

    tag = os.path.basename(sf_dir.rstrip("/"))
    d = f"/tmp/catme_stream_{name}_{tag}"
    if not os.path.isdir(d):
        tmp = f"{d}.tmp.{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        con = duckdb.connect()
        base = f"SELECT {cols} FROM '{sf_dir}/events.parquet'"
        early = f"{base} WHERE ts < TIMESTAMP '{LATE_SPLIT}' ORDER BY event_id"
        late = f"{base} WHERE ts >= TIMESTAMP '{LATE_SPLIT}' ORDER BY event_id"
        first, second = (early, late) if early_first else (late, early)
        con.execute(f"COPY ({first}) TO '{tmp}/a_first.parquet' (FORMAT PARQUET)")
        con.execute(f"COPY ({second}) TO '{tmp}/b_second.parquet' (FORMAT PARQUET)")
        con.close()
        os.utime(f"{tmp}/a_first.parquet", (1_000_000_000, 1_000_000_000))
        os.utime(f"{tmp}/b_second.parquet", (1_000_000_100, 1_000_000_100))
        try:
            os.rename(tmp, d)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return d


def _late_fixture_dir(sf_dir: str) -> str:
    """Two micro-batches for the late-data policy: batch 1 = the
    on-time half (holds the global max ts), batch 2 = everything
    earlier (unambiguously late)."""
    return _split_fixture_dir(
        sf_dir,
        "late",
        "event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value",
        early_first=False,
    )


def run_late_stream(spark: SparkSession, sf_dir: str):
    """Drive the two-batch late-data stream; returns (snapshot DF, the
    stopped StreamingQuery) so tests can also assert the state-store
    drop metrics."""
    from pyspark.sql import types as T

    d = _late_fixture_dir(sf_dir)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        ev.withWatermark("ts", f"{LATE_WATERMARK_H} hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), money2(F.sum(dec2("value"))).alias("sum_value"))
    )
    snap, q = run_to_memory(agg, "streamq_late", "append")
    out = snap.select(
        F.date_format("w.start", _TS_FMT).alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )
    return out, q


def stream_late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode tumbling aggregation where the second micro-batch is
    entirely late data: the snapshot pins the engine's late policy —
    late windows evict-and-emit, emission is bounded by the final
    watermark (see the block comment above)."""
    out, _ = run_late_stream(spark, sf_dir)
    return out


_STREAM_LATE_SQL = f"""
WITH wm AS (
  SELECT MAX(ts) - INTERVAL {LATE_WATERMARK_H} HOUR AS w FROM events)
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
FROM events, wm
WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR <= wm.w
GROUP BY 1, 2
"""


# --- foreachBatch incremental upsert (the lakehouse MERGE pattern) ------


def _upsert_fixture_dir(sf_dir: str) -> str:
    """Two micro-batches of events WITH user_id (the late fixture
    drops it), chronological order."""
    return _split_fixture_dir(
        sf_dir,
        "upsert",
        "event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value",
        early_first=True,
    )


def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert via ``foreachBatch`` — the production pattern
    for maintaining a keyed snapshot table from a stream when the sink
    has no native MERGE: each micro-batch is pre-aggregated per key,
    merged with the current snapshot (sum the counts, keep the
    (ts, event_id)-max last event), and the snapshot is atomically
    republished. Two file-source micro-batches drive two real merge
    rounds, so the gate equality against the one-shot batch SQL proves
    the incremental path is exactly the batch recompute.

    At 100 TB the per-batch merge is a co-partitioned join on the key
    (bucket both sides by user_id) and the republish is a transactional
    table commit (Delta/Iceberg MERGE); the parquet-swap here is the
    same dataflow with the txn log swapped out. State never exceeds
    |distinct keys| — the map-side pre-aggregation keeps each batch's
    shuffle proportional to its own key count.
    """
    import os
    import shutil

    from pyspark.sql import types as T

    src = _upsert_fixture_dir(sf_dir)
    state_root = tempfile.mkdtemp(prefix="catme_upsert_state_")
    cur = f"{state_root}/cur"
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        batch_agg = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.max(F.struct("ts", "event_id", "event_type")).alias("last"),
        )
        if os.path.isdir(cur):
            merged = (
                sess.read.parquet(cur)
                .unionByName(batch_agg)
                .groupBy("user_id")
                .agg(F.sum("n").alias("n"), F.max("last").alias("last"))
            )
        else:
            merged = batch_agg
        nxt = f"{state_root}/v{batch_id}"
        merged.write.mode("overwrite").parquet(nxt)
        old = f"{state_root}/old{batch_id}"
        if os.path.isdir(cur):
            os.rename(cur, old)
        os.rename(nxt, cur)
        shutil.rmtree(old, ignore_errors=True)

    q = (
        ev.writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.read.parquet(cur).select(
        "user_id",
        F.col("n").alias("n_events"),
        F.date_format("last.ts", _TS_FMT).alias("last_ts"),
        F.col("last.event_type").alias("last_event_type"),
    )
    # Materialize before the state dir is cleaned: the returned DF must
    # outlive the temp snapshot files.
    out = out.localCheckpoint()
    shutil.rmtree(state_root, ignore_errors=True)
    return out


_FOREACHBATCH_UPSERT_SQL = """
WITH ranked AS (
  SELECT user_id, ts, event_type, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_events
  FROM events)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       event_type AS last_event_type
FROM ranked WHERE rn = 1
"""


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joined to the
    (batch) customer dimension per micro-batch, then aggregated by
    the dim's attribute — the canonical lookup-join every streaming
    pipeline starts with.

    In Structured Streaming a static side is re-planned per
    micro-batch and needs NO watermark or state store; Spark
    broadcasts the small dim under the hash-join threshold, so the
    stream side never shuffles for the join. Complete-mode snapshot
    over the drained finite input == the batch join, so the DuckDB
    twin is the plain SQL join — the streaming engine itself sits on
    the hash gate.
    """
    from catme_etl_j_spark.sources.tables import load_table

    ev = read_event_stream(spark, sf_dir, glob="events.parquet")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        ev.join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n"),
            money2(F.sum(dec2("value"))).alias("sum_value"),
        )
    )
    snap, _ = run_to_memory(agg, "streamq_enrich", "complete")
    return snap.select(
        "c_mktsegment", "event_type", "n", "sum_value"
    )


_STATIC_ENRICH_SQL = """
SELECT c.c_mktsegment, e.event_type,
       COUNT(*) AS n,
       CAST(round(SUM(CAST(e.value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
"""


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def stream_rocksdb_daily_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregation with the ROCKSDB state store provider —
    the state backend that matters at 100 TB: the default HDFS-backed
    store keeps every key in executor heap, while RocksDB spills state
    to local disk with incremental checkpointing, so watermarked state
    can exceed memory. Same complete-mode-equals-batch determinism as
    the other stream_* queries; the provider is set on a child session
    (``newSession``: shared context, own conf), so the caller's session
    — and any query running on it concurrently — keeps its provider.

    Per (day, event_type): count + exact DECIMAL sum; the oracle is
    the plain batch SQL — equality proves the state backend swap
    changes storage only, never semantics.
    """
    child = spark.newSession()
    apply_query_conf(child)
    child.conf.set("spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER)
    ev = read_event_stream(child, sf_dir, glob="events.parquet")
    agg = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        money2(F.sum(dec2("value"))).alias("sum_value"),
    )
    snap, _ = run_to_memory(agg, "streamq_rocksdb", "complete")
    return snap.select("day", "event_type", "n", "sum_value")


_ROCKSDB_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n,
       CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint RECOVERY on the gate: a streaming aggregation runs
    over micro-batch A, STOPS, the process's second query — same plan,
    same checkpointLocation — resumes after micro-batch B lands, and
    the final complete-mode snapshot must equal the one-shot batch
    aggregate over A∪B, AND the second run's progress metrics must
    show it ingested ONLY B (gate equality alone cannot distinguish
    recovery from a silent full reprocess; the in-query assertion on
    numInputRows can, so a recovery regression fails loudly).
    This is the operational property every nightly-restart pipeline
    stands on; availableNow + checkpoint is exactly the incremental
    batch pattern Spark docs recommend.

    Fixture: per-invocation /tmp copies of the two chronological event
    files; fresh checkpoint per call so each run exercises a cold
    start + one real recovery.
    """
    import os
    import shutil

    from pyspark.sql import types as T

    fixture = _upsert_fixture_dir(sf_dir)
    root = tempfile.mkdtemp(prefix=f"catme_ckpt_{os.path.basename(sf_dir.rstrip('/'))}_")
    src, cp = f"{root}/src", f"{root}/cp"
    os.makedirs(src)
    shutil.copy(f"{fixture}/a_first.parquet", f"{src}/a_first.parquet")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def run_once() -> tuple[int, DataFrame]:
        ev = spark.readStream.schema(schema).parquet(src)
        agg = ev.groupBy("event_type").agg(
            F.count("*").alias("n"),
            money2(F.sum(dec2("value"))).alias("sum_value"),
        )
        snap, q = run_to_memory(agg, "streamq_ckpt", "complete", checkpoint=cp)
        return sum(int(p["numInputRows"]) for p in q.recentProgress), snap

    rows_a, _ = run_once()  # batch A, then STOP
    shutil.copy(f"{fixture}/b_second.parquet", f"{src}/b_second.parquet")
    rows_b, final = run_once()  # recovery: offsets + state restored, B only
    out = final.select("event_type", "n", "sum_value")
    result = out.collect()
    shutil.rmtree(root, ignore_errors=True)
    total = sum(r["n"] for r in result)
    # Oracle equality alone cannot distinguish recovery from a full
    # reprocess (both yield the A∪B aggregate); the progress metrics
    # can. A double-processing regression fails HERE, not at the gate.
    if rows_a + rows_b != total or rows_b >= total:
        raise AssertionError(
            f"checkpoint recovery broken: run1={rows_a} run2={rows_b} total={total}"
        )
    return spark.createDataFrame(result, out.schema)


_CKPT_RESUME_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
"""


QUERIES = {
    "stream_tumbling_window": stream_tumbling_window,
    "stream_checkpoint_resume": stream_checkpoint_resume,
    "stream_rocksdb_daily_totals": stream_rocksdb_daily_totals,
    "stream_static_enrich": stream_static_enrich,
    "stream_late_data_policy": stream_late_data_policy,
    "stream_dedup_totals": stream_dedup_totals,
    "stream_sliding_window": stream_sliding_window,
    "stream_session_window": stream_session_window,
    "stream_stateful_totals": stream_stateful_totals,
    "stream_stream_join": stream_stream_join,
    "stream_foreachbatch_upsert": stream_foreachbatch_upsert,
}

ORACLES = {
    "stream_late_data_policy": _STREAM_LATE_SQL,
    "stream_static_enrich": _STATIC_ENRICH_SQL,
    "stream_rocksdb_daily_totals": _ROCKSDB_SQL,
    "stream_checkpoint_resume": _CKPT_RESUME_SQL,
    "stream_stream_join": _SSJOIN_SQL,
    "stream_dedup_totals": _STREAM_DEDUP_SQL,
    "stream_stateful_totals": _STATEFUL_SQL,
    "stream_tumbling_window": _TUMBLING_SQL,
    "stream_sliding_window": _SLIDING_SQL,
    "stream_session_window": _STREAM_SESSION_SQL,
    "stream_foreachbatch_upsert": _FOREACHBATCH_UPSERT_SQL,
}
