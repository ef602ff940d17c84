"""Event-stream analytics over the ``events`` table (batch surface).

These are the batch twins of the Structured Streaming slice
(catme_etl_j_spark/streaming/): same windowing/dedup/sessionization
semantics, expressed on a bounded DataFrame so they are DuckDB-oracle
checkable. The streaming module reuses the same logic with
``readStream`` + watermarks.

Determinism notes:
* tumbling windows — ``F.window`` start rendered as a string; DuckDB
  twin is ``time_bucket``.
* sessionization — gap > 1800 s on *microsecond-exact* epoch doubles
  (``ts.cast(double)`` == DuckDB ``epoch(ts)``), then the classic
  lag/cumsum session-id assignment, which is pure window algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from catme_etl_j_spark.functions.numeric import dec2, money2, rdet, rdet_sql
from catme_etl_j_spark.sources.tables import load_table

SESSION_GAP_S = 1800.0
_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window counts and value sums per event type."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(money2(F.sum(dec2("value"))).alias("sum_value"), F.count("*").alias("n"))
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "event_type",
            "sum_value",
            "n",
        )
    )


_TUMBLING_SQL = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2
"""


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute windows sliding every 15 minutes (each event lands in 2)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"), money2(F.sum(dec2("value"))).alias("sum_value"))
        .select(F.date_format("w.start", _TS_FMT).alias("window_start"), "n", "sum_value")
    )


# A sliding window is the union of per-offset tumbling bucketings.
_SLIDING_SQL = """
WITH slid AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts, INTERVAL '15 minutes') AS ws, value FROM events
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n,
       CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
FROM slid
GROUP BY 1
"""


def events_dedup_earliest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-dedup batch analog: first event per (user, type)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.date_format("ts", _TS_FMT).alias("first_ts"),
        )
    )


_DEDUP_EARLIEST_SQL = """
SELECT user_id, event_type, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events) t
WHERE rn = 1
"""


def with_session_ids(ev: DataFrame) -> DataFrame:
    """THE 30-min-gap sessionization: adds ``session_id`` (cumulative
    count of gap-breaks per user, ordered by (ts, event_id)). Single
    definition shared by every session consumer (sessionize, peak
    concurrency, the session-vs-peak interval join) so the boundary
    semantics — gap STRICTLY greater than SESSION_GAP_S starts a new
    session — can never silently diverge between them."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("double")
    prev = F.lag(epoch).over(w)
    is_new = F.when(prev.isNull() | ((epoch - prev) > SESSION_GAP_S), 1).otherwise(0)
    wc = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return ev.withColumn("session_id", F.sum(is_new).over(wc))


def session_sql_ctes(cols: str = "") -> str:
    """DuckDB twin of :func:`with_session_ids` as a CTE chain
    ``marked -> sess``; ``cols`` appends extra passthrough columns
    (e.g. ', value'). Splice as ``WITH {session_sql_ctes(...)}, ...``."""
    return f"""marked AS (
  SELECT user_id, event_id, ts{cols},
         CASE WHEN LAG(epoch(ts)) OVER w IS NULL
                   OR epoch(ts) - LAG(epoch(ts)) OVER w > {SESSION_GAP_S} THEN 1
              ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts{cols},
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM marked
)"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): lag + cumulative session ids."""
    ev = load_table(spark, sf_dir, "events")
    with_sess = with_session_ids(ev)
    return with_sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min(F.date_format("ts", _TS_FMT)).alias("session_start"),
        F.max(F.date_format("ts", _TS_FMT)).alias("session_end"),
        money2(F.sum(dec2("value"))).alias("sum_value"),
    )


_SESSIONIZE_SQL = f"""
WITH {session_sql_ctes(', value')}
SELECT user_id, session_id, COUNT(*) AS n_events,
       min(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS session_start,
       max(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS session_end,
       CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
FROM sess
GROUP BY user_id, session_id
"""


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction + per-key aggregation."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# Malformed/empty props: Spark's get_json_object returns NULL while
# DuckDB's ->> THROWS (degenerate-probe find) — gate extraction behind
# json_valid so both engines treat broken payloads as NULL.
_JSON_SQL = """
WITH kv AS (
  SELECT event_type,
         CASE WHEN json_valid(props)
              THEN CAST(props->>'$.k' AS BIGINT) END AS k
  FROM events)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       min(k) AS min_k,
       max(k) AS max_k
FROM kv
GROUP BY event_type
"""


FUNNEL_STEPS = ("signup", "click", "purchase")


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: how many users performed signup, then a
    click strictly after it, then a purchase strictly after that.

    Greedy earliest-first matching (take the MIN qualifying timestamp
    at each step) is optimal for subsequence existence and fully
    deterministic on microsecond timestamps. Each stage is one filtered
    aggregate joined on user_id — a co-partitioned chain at scale, no
    self-join of the full event stream. Output: one row per step with
    users reached and percent of step-1 users (2 decimals, exact-int
    division).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = None
    for i, s in enumerate((s1, s2, s3)):
        c = s.agg(F.count("*").alias("n_users")).select(
            F.lit(i + 1).cast("int").alias("step"),
            F.lit(FUNNEL_STEPS[i]).alias("event_type"),
            "n_users",
        )
        counts = c if counts is None else counts.unionByName(c)
    first = counts.filter("step = 1").select(F.col("n_users").alias("n1"))
    return counts.crossJoin(F.broadcast(first)).select(
        "step",
        "event_type",
        "n_users",
        F.expr(
            "CAST(floor(CAST(n_users AS DOUBLE) / CAST(n1 AS DOUBLE)"
            " * 100.0 * 100.0 + 0.5) / 100.0 AS DOUBLE)"
        ).alias("conv_pct"),
    )


_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
counts AS (
  SELECT CAST(1 AS INT) AS step, 'signup' AS event_type, COUNT(*)::BIGINT AS n_users FROM s1
  UNION ALL
  SELECT CAST(2 AS INT), 'click', COUNT(*)::BIGINT FROM s2
  UNION ALL
  SELECT CAST(3 AS INT), 'purchase', COUNT(*)::BIGINT FROM s3),
first AS (SELECT n_users AS n1 FROM counts WHERE step = 1)
SELECT step, event_type, n_users,
       CAST(floor(CAST(n_users AS DOUBLE) / CAST(n1 AS DOUBLE)
            * 100.0 * 100.0 + 0.5) / 100.0 AS DOUBLE) AS conv_pct
FROM counts, first
"""


FUNNEL_WINDOW_S = 86400.0  # max gap between consecutive funnel steps


def events_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel: signup -> click -> purchase where each step
    must land within FUNNEL_WINDOW_S of the previous one (the product
    question is "did they convert promptly", not "ever").

    Semantics are the documented greedy-earliest chain: t1 = first
    signup, t2 = first click in (t1, t1+W], t3 = first purchase in
    (t2, t2+W] — deterministic and O(1) state per user; an exhaustive
    any-chain match would need per-event backtracking for marginal
    recall. Same co-partitioned aggregate-join chain as events_funnel
    (no self-join of the full stream); the added mean time-to-convert
    is exact microsecond arithmetic under the fixed-point convention.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # s1/s2/s3 cached (r11, convention #12): each step frame feeds both
    # the next step's join and its own counts row — uncached, the
    # chained lineage re-expanded the events scan 6x in the static plan
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .cache()
    )
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts").cast("double") - F.col("t1").cast("double") <= FUNNEL_WINDOW_S)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.first("t1").alias("t1"))
        .cache()
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts").cast("double") - F.col("t2").cast("double") <= FUNNEL_WINDOW_S)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.first("t1").alias("t1"))
        .cache()
    )
    counts = None
    specs = (
        (1, FUNNEL_STEPS[0], s1, None),
        (2, FUNNEL_STEPS[1], s2, None),
        (3, FUNNEL_STEPS[2], s3, "t3"),
    )
    for step, etype, s, tcol in specs:
        aggs = [F.count("*").alias("n_users")]
        if tcol:
            # Mean seconds signup->completion: exact int64 microsecond
            # sum (order-free), ONE float division chain, 2dp fixed —
            # avg(double) would be summation-order-dependent.
            aggs.append(
                F.expr(
                    "CAST(floor(CAST(sum(unix_micros(t3) - unix_micros(t1)) AS DOUBLE)"
                    " / count(1) / 1000000.0 * 100.0 + 0.5) / 100.0 AS DOUBLE)"
                ).alias("mean_s_to_convert")
            )
        c = s.agg(*aggs)
        if not tcol:
            c = c.withColumn("mean_s_to_convert", F.lit(None).cast("double"))
        c = c.select(
            F.lit(step).cast("int").alias("step"),
            F.lit(etype).alias("event_type"),
            "n_users",
            "mean_s_to_convert",
        )
        counts = c if counts is None else counts.unionByName(c)
    return counts


_WINDOWED_FUNNEL_SQL = f"""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2, MIN(s1.t1) AS t1
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > s1.t1
    AND epoch(e.ts) - epoch(s1.t1) <= {FUNNEL_WINDOW_S}
  GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3, MIN(s2.t1) AS t1
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > s2.t2
    AND epoch(e.ts) - epoch(s2.t2) <= {FUNNEL_WINDOW_S}
  GROUP BY e.user_id)
SELECT CAST(1 AS INT) AS step, '{FUNNEL_STEPS[0]}' AS event_type,
       COUNT(*)::BIGINT AS n_users, CAST(NULL AS DOUBLE) AS mean_s_to_convert
FROM s1
UNION ALL
SELECT CAST(2 AS INT), '{FUNNEL_STEPS[1]}', COUNT(*)::BIGINT, CAST(NULL AS DOUBLE)
FROM s2
UNION ALL
SELECT CAST(3 AS INT), '{FUNNEL_STEPS[2]}', COUNT(*)::BIGINT,
       CAST(floor(CAST(SUM(epoch_us(t3) - epoch_us(t1)) AS DOUBLE)
            / COUNT(*) / 1000000.0 * 100.0 + 0.5) / 100.0 AS DOUBLE)
FROM s3
"""


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their first
    event (weeks counted from the global earliest event — a pure
    function of the data, no calendar/locale dependence), with one row
    per (cohort_week, week_offset) counting distinct users active that
    week. Retention percent is against the cohort's own size.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    t0 = ev.agg(F.min(F.col("ts").cast("double")).alias("e0"))
    wk = (
        ev.crossJoin(F.broadcast(t0))
        .select(
            "user_id",
            F.expr("CAST(floor((CAST(ts AS DOUBLE) - e0) / 604800.0) AS BIGINT)").alias(
                "week"
            ),
        )
        .distinct()
        # cached (r11, convention #12): wk feeds the cohort aggregate
        # AND the activity join, and cohort feeds sizes AND the same
        # join — uncached, the events scan (plus its min-ts crossJoin)
        # re-expanded 6x in the static plan
        .cache()
    )
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week")).cache()
    sizes = cohort.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    active = (
        wk.join(cohort, "user_id")
        .groupBy("cohort_week", F.expr("week - cohort_week").alias("week_offset"))
        .agg(F.count("*").alias("n_active"))
    )
    return active.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        F.expr(
            "CAST(floor(CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE)"
            " * 100.0 * 100.0 + 0.5) / 100.0 AS DOUBLE)"
        ).alias("retention_pct"),
    )


_RETENTION_SQL = """
WITH t0 AS (SELECT MIN(epoch(ts)) AS e0 FROM events),
wk AS (
  SELECT DISTINCT user_id,
         CAST(floor((epoch(ts) - t0.e0) / 604800.0) AS BIGINT) AS week
  FROM events, t0),
cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY user_id),
sizes AS (SELECT cohort_week, COUNT(*)::BIGINT AS cohort_size
          FROM cohort GROUP BY cohort_week),
active AS (
  SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
         COUNT(*)::BIGINT AS n_active
  FROM wk w JOIN cohort c ON w.user_id = c.user_id
  GROUP BY c.cohort_week, w.week - c.cohort_week)
SELECT a.cohort_week, a.week_offset, a.n_active, s.cohort_size,
       CAST(floor(CAST(a.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
            * 100.0 * 100.0 + 0.5) / 100.0 AS DOUBLE) AS retention_pct
FROM active a JOIN sizes s ON a.cohort_week = s.cohort_week
"""


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each (src, dst) event-type pair, the transition
    count and probability P(dst | src).

    One window pass (lead over the per-user time order, deterministic
    (ts, event_id) tie-break) + one count aggregate. The per-src
    totals table is bounded by the number of event TYPES (tiny at any
    corpus size), so the probability join broadcasts. Probability is a
    single exact-int division rounded with rdet.
    """
    from catme_etl_j_spark.functions.numeric import rdet

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("dst_type", F.lead("event_type").over(w))
        .filter(F.col("dst_type").isNotNull())
        .select(F.col("event_type").alias("src_type"), "dst_type")
    )
    counts = pairs.groupBy("src_type", "dst_type").agg(F.count("*").alias("n"))
    totals = counts.groupBy("src_type").agg(F.sum("n").alias("total"))
    return counts.join(F.broadcast(totals), "src_type").select(
        "src_type",
        "dst_type",
        "n",
        rdet(F.col("n").cast("double") / F.col("total").cast("double"), 4).alias("p"),
    )


_TRANSITION_SQL = """
WITH pairs AS (
  SELECT event_type AS src_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst_type
  FROM events),
counts AS (
  SELECT src_type, dst_type, COUNT(*) AS n
  FROM pairs WHERE dst_type IS NOT NULL
  GROUP BY src_type, dst_type),
totals AS (SELECT src_type, CAST(SUM(n) AS BIGINT) AS total FROM counts GROUP BY src_type)
SELECT c.src_type, c.dst_type, c.n,
       floor(CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS p
FROM counts c JOIN totals t ON c.src_type = t.src_type
"""


def events_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resample + gap-fill per user: one row per (user, day) over
    the user's own [first, last] activity span, with that day's event
    count and the last observed ``value`` carried forward (LOCF) across
    gap days — the standard time-series regularization step before
    feature windows.

    Scale shape: per-(user, day) aggregate (map-side combines), a
    per-user sequence() generate for the day grid (fan-out bounded by
    each user's own span, not the global calendar), and ONE window pass
    for the carry-forward — all keyed on user_id, no self-joins. Days
    are exact integer epoch-day indexes; the LOCF value picks the
    day's last event by the deterministic (ts, event_id) order.
    """
    from catme_etl_j_spark.functions.numeric import rdet

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value", "event_id")
    # exact integer day index: floor(epoch_seconds / 86400)
    day = F.expr("CAST(floor(CAST(ts AS DOUBLE) / 86400.0) AS BIGINT)")
    w_last = W.partitionBy("user_id", "day").orderBy(F.desc("ts"), F.desc("event_id"))
    per_day = (
        ev.withColumn("day", day)
        .withColumn("rn", F.row_number().over(w_last))
        .groupBy("user_id", "day")
        .agg(
            F.count("*").alias("n_events"),
            F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("day_last"),
        )
    )
    grid = (
        per_day.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("user_id", F.explode(F.expr("sequence(d0, d1)")).alias("day"))
    )
    joined = grid.join(per_day, ["user_id", "day"], "left")
    w_locf = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        rdet(F.last("day_last", ignorenulls=True).over(w_locf), 2).alias("locf_value"),
    )


_RESAMPLE_SQL = """
WITH pd AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
         COUNT(*) AS n_events,
         MAX(CASE WHEN rn = 1 THEN value END) AS day_last
  FROM (SELECT user_id, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id,
                                  CAST(floor(epoch(ts) / 86400.0) AS BIGINT)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t
  GROUP BY 1, 2),
grid AS (
  SELECT user_id, unnest(range(d0, d1 + 1)) AS day
  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM pd GROUP BY user_id) s)
SELECT g.user_id, g.day,
       CAST(COALESCE(pd.n_events, 0) AS BIGINT) AS n_events,
       floor(last_value(pd.day_last IGNORE NULLS)
             OVER (PARTITION BY g.user_id ORDER BY g.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100.0 + 0.5) / 100.0
         AS locf_value
FROM grid g LEFT JOIN pd ON g.user_id = pd.user_id AND g.day = pd.day
"""


CUSUM_BASE_DAYS = 14  # baseline window establishing the target mean
CUSUM_MIN_DAYS = 21   # need a week past baseline to score
CUSUM_H_BASESUMS = 3  # alarm when scaled CUSUM >= 3 x base_sum (3 x 14 x mean)


def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upward-drift changepoint detection on daily event volume via
    one-sided CUSUM — the sequential sibling of events_anomaly_zscore
    (z-scores flag single outlier days; CUSUM accumulates small
    sustained shifts until they cross a decision threshold, the
    monitoring shape for slow ingest regressions).

    PURE-INT plumbing via the prefix identity: the textbook recursion
    S_t = max(0, S_{t-1} + (x_t - target)) is not window-expressible,
    but S_t = P_t - least(min_{j<=t} P_j, 0) is, where P is the
    running sum of deviations. Deviations are scaled by the 14-day
    baseline count (dev = 14*x_t - base_sum) so the target mean never
    becomes a float; the alarm threshold 3*base_sum is 3x the daily
    mean in the same scaling. Exact int64 end to end — no float enters
    the query at all.

    Scale shape: one (type, day) count aggregate, then three window
    passes all PARTITIONed BY event_type ORDER BY day — one shuffle,
    one sort, reused by rank/prefix-sum/running-min; per-type stats
    broadcast back (bounded type key). Days with zero events simply
    don't appear — CUSUM runs over observed days, identically on both
    engines.

    ``alarm_epoch_day`` is the ABSOLUTE epoch-day number
    (floor(epoch/86400)) of the first threshold crossing, not an
    offset into the per-type day series (ADVICE r6: the former
    ``alarm_day_idx`` name invited that misreading).
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    day = F.expr("CAST(floor(CAST(ts AS DOUBLE) / 86400.0) AS BIGINT)")
    daily = (
        ev.withColumn("day", day)
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("event_type").orderBy("day")
    ranked = daily.withColumn("rn", F.row_number().over(w))
    stats = ranked.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum(F.when(F.col("rn") <= CUSUM_BASE_DAYS, F.col("n")).otherwise(0))
        .cast("long")
        .alias("base_sum"),
    ).filter(F.col("n_days") >= CUSUM_MIN_DAYS)
    dev = ranked.join(F.broadcast(stats), "event_type").withColumn(
        "dev", F.expr(f"{CUSUM_BASE_DAYS} * n - base_sum")
    )
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    cur = (
        dev.withColumn("p", F.sum("dev").over(wrun))
        .withColumn("s", F.expr("p - least(0, min(p) OVER "
                                "(PARTITION BY event_type ORDER BY day "
                                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"))
    )
    thr = F.expr(f"{CUSUM_H_BASESUMS} * base_sum")
    return (
        cur.groupBy("event_type")
        .agg(
            F.max("n_days").alias("n_days"),
            F.max("base_sum").alias("base_sum"),
            F.max("s").cast("long").alias("max_cusum"),
            F.min(F.when(F.col("s") >= thr, F.col("day"))).alias("alarm_epoch_day"),
            F.max((F.col("s") >= thr).cast("int")).alias("alarmed"),
        )
        .orderBy("event_type")
    )


_CUSUM_SQL = f"""
WITH daily AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT event_type, day, n,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily),
stats AS (
  SELECT event_type, COUNT(*) AS n_days,
         CAST(SUM(CASE WHEN rn <= {CUSUM_BASE_DAYS} THEN n ELSE 0 END) AS BIGINT) AS base_sum
  FROM ranked GROUP BY event_type
  HAVING COUNT(*) >= {CUSUM_MIN_DAYS}),
dev AS (
  SELECT r.event_type, r.day, s.n_days, s.base_sum,
         {CUSUM_BASE_DAYS} * r.n - s.base_sum AS dev
  FROM ranked r JOIN stats s ON r.event_type = s.event_type),
cum1 AS (
  SELECT event_type, day, n_days, base_sum,
         SUM(dev) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM dev),
cum AS (
  SELECT event_type, day, n_days, base_sum,
         p - least(0, MIN(p) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
  FROM cum1)
SELECT event_type,
       CAST(MAX(n_days) AS BIGINT) AS n_days,
       MAX(base_sum) AS base_sum,
       CAST(MAX(s) AS BIGINT) AS max_cusum,
       CAST(MIN(CASE WHEN s >= {CUSUM_H_BASESUMS} * base_sum THEN day END) AS BIGINT) AS alarm_epoch_day,
       CAST(MAX(CASE WHEN s >= {CUSUM_H_BASESUMS} * base_sum THEN 1 ELSE 0 END) AS INT) AS alarmed
FROM cum
GROUP BY event_type
ORDER BY event_type
"""


ANOMALY_Z = 2.0  # |z| flag threshold


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: z-score of each (event_type, day)
    count against that type's own daily distribution, with an
    ``anomalous`` flag at |z| >= 2 — the monitoring query a pipeline
    runs over its ingest stream.

    Counts are exact ints; mean/var follow the exact-sums convention
    (sum, sum of squares -> identical IEEE arithmetic on both engines,
    see agg_stats_exact); z is a single division under rdet. Two keyed
    aggregations (per-(type, day), then per-type) joined back on the
    bounded type key — map-side combining everywhere.
    """
    from catme_etl_j_spark.functions.numeric import rdet

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    day = F.expr("CAST(floor(CAST(ts AS DOUBLE) / 86400.0) AS BIGINT)")
    daily = (
        ev.withColumn("day", day)
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("sq"),
    )
    s_d = F.col("s").cast("double")
    sq_d = F.col("sq").cast("double")
    nd = F.col("n_days")
    # greatest(var, 0): float cancellation can drive the exact-sums
    # variance epsilon-negative, and DuckDB's sqrt() THROWS on negatives
    # while Spark returns NaN (ADVICE r4). Guarded identically in the
    # oracle.
    var = F.greatest((sq_d - s_d * (s_d / nd)) / (nd - 1), F.lit(0.0))
    # n_days > 1 and std_n > 0: a type seen on a single day (or with
    # constant daily counts) has no distribution to score against —
    # Spark 0/0 gives NaN where DuckDB gives NULL, a guaranteed oracle
    # mismatch. Drop those types on BOTH sides.
    enriched = stats.filter(nd > 1).select(
        "event_type",
        (s_d / nd).alias("mean_n"),
        F.sqrt(var).alias("std_n"),
    ).filter(F.col("std_n") > 0)
    z = (F.col("n").cast("double") - F.col("mean_n")) / F.col("std_n")
    return daily.join(F.broadcast(enriched), "event_type").select(
        "event_type",
        "day",
        "n",
        rdet(F.col("mean_n"), 2).alias("mean_n"),
        rdet(z, 4).alias("z"),
        (F.abs(z) >= ANOMALY_Z).cast("int").alias("anomalous"),
    )


_ANOMALY_SQL = f"""
WITH daily AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type, COUNT(*) AS n_days,
         CAST(SUM(n) AS DOUBLE) AS s_d,
         CAST(SUM(n * n) AS DOUBLE) AS sq_d
  FROM daily GROUP BY event_type),
enr AS (
  SELECT event_type,
         s_d / n_days AS mean_n,
         sqrt(greatest((sq_d - s_d * (s_d / n_days)) / (n_days - 1), 0)) AS std_n
  FROM stats
  WHERE n_days > 1)
SELECT d.event_type, d.day, d.n,
       floor(e.mean_n * 100.0 + 0.5) / 100.0 AS mean_n,
       floor((CAST(d.n AS DOUBLE) - e.mean_n) / e.std_n * 10000.0 + 0.5) / 10000.0 AS z,
       CAST(CASE WHEN abs((CAST(d.n AS DOUBLE) - e.mean_n) / e.std_n) >= {ANOMALY_Z}
                 THEN 1 ELSE 0 END AS INT) AS anomalous
FROM daily d JOIN enr e ON d.event_type = e.event_type
WHERE e.std_n > 0
"""


TOP_PATHS = 10


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 onboarding paths: each user's FIRST three event types (in
    deterministic (ts, event_id) order) joined into a ``a>b>c`` path
    string, counted across users — the "what do users actually do
    first" query behind funnel design.

    One window pass keyed on user_id, one per-user rollup (the ordered
    concat uses array_sort over (rn, type) structs — no
    collect_list-order dependence), one count; top-10 with path
    tie-break.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    first3 = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    paths = first3.groupBy("user_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(rn, event_type))),"
            " s -> s.event_type), '>')"
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(TOP_PATHS)
    )


_TOP_PATHS_SQL = f"""
WITH r AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
p AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM r WHERE rn <= 3 GROUP BY user_id)
SELECT path, COUNT(*) AS n_users
FROM p GROUP BY path
ORDER BY n_users DESC, path ASC
LIMIT {TOP_PATHS}
"""


def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) user segmentation — the
    marketing-analytics staple. Recency is measured from the global max
    event time (a pure function of the data, no wall clock); frequency
    and monetary thresholds are relative to the corpus averages so the
    scoring adapts to any SF without magic constants.

    Determinism: all scores come from exact-int / exact-decimal
    comparisons against double averages computed from exact sums —
    deterministic IEEE on both engines. One shuffle (per-user agg);
    the global scalars broadcast.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.col("ts").cast("double")).alias("last_e"),
        F.count("*").alias("n_events"),
        F.sum(dec2("value")).alias("mon_d"),
    )
    glob = per_user.agg(
        F.max("last_e").alias("emax"),
        F.sum("n_events").alias("tot_ev"),
        F.count("*").alias("n_users"),
        F.sum("mon_d").alias("tot_mon"),
    )
    j = per_user.crossJoin(F.broadcast(glob))
    r_days = F.expr("CAST(floor((emax - last_e) / 86400.0) AS BIGINT)")
    f_avg = F.expr("CAST(tot_ev AS DOUBLE) / n_users")
    m_avg = F.expr("CAST(tot_mon AS DOUBLE) / n_users")
    mon = F.col("mon_d").cast("double")
    r_score = (
        F.when(r_days <= 7, 4)
        .when(r_days <= 30, 3)
        .when(r_days <= 90, 2)
        .otherwise(1)
        .cast("int")
    )
    f_score = (
        F.when(F.col("n_events") >= 2 * f_avg, 4)
        .when(F.col("n_events") >= f_avg, 3)
        .when(F.col("n_events") * 2 >= f_avg, 2)
        .otherwise(1)
        .cast("int")
    )
    m_score = (
        F.when(mon >= 2 * m_avg, 4)
        .when(mon >= m_avg, 3)
        .when(mon * 2 >= m_avg, 2)
        .otherwise(1)
        .cast("int")
    )
    staged = j.select(
        "user_id",
        r_days.alias("r_days"),
        "n_events",
        money2(F.col("mon_d")).alias("monetary"),
        r_score.alias("r_score"),
        f_score.alias("f_score"),
        m_score.alias("m_score"),
    )
    segment = (
        F.when((F.col("r_score") >= 3) & (F.col("f_score") >= 3), "champion")
        .when(F.col("r_score") >= 3, "recent")
        .when(F.col("f_score") >= 3, "loyal_lapsing")
        .otherwise("at_risk")
    )
    return staged.withColumn("segment", segment)


_RFM_SQL = """
WITH per_user AS (
  SELECT user_id,
         MAX(epoch(ts)) AS last_e,
         COUNT(*) AS n_events,
         SUM(CAST(value AS DECIMAL(18,2))) AS mon_d
  FROM events GROUP BY user_id),
g AS (
  SELECT MAX(last_e) AS emax,
         CAST(SUM(n_events) AS BIGINT) AS tot_ev,
         COUNT(*) AS n_users,
         SUM(mon_d) AS tot_mon
  FROM per_user),
staged AS (
  SELECT user_id,
         CAST(floor((emax - last_e) / 86400.0) AS BIGINT) AS r_days,
         n_events,
         CAST(round(mon_d, 2) AS DOUBLE) AS monetary,
         CAST(CASE WHEN CAST(floor((emax - last_e) / 86400.0) AS BIGINT) <= 7 THEN 4
                   WHEN CAST(floor((emax - last_e) / 86400.0) AS BIGINT) <= 30 THEN 3
                   WHEN CAST(floor((emax - last_e) / 86400.0) AS BIGINT) <= 90 THEN 2
                   ELSE 1 END AS INT) AS r_score,
         CAST(CASE WHEN n_events >= 2 * (CAST(tot_ev AS DOUBLE) / n_users) THEN 4
                   WHEN n_events >= (CAST(tot_ev AS DOUBLE) / n_users) THEN 3
                   WHEN n_events * 2 >= (CAST(tot_ev AS DOUBLE) / n_users) THEN 2
                   ELSE 1 END AS INT) AS f_score,
         CAST(CASE WHEN CAST(mon_d AS DOUBLE) >= 2 * (CAST(tot_mon AS DOUBLE) / n_users) THEN 4
                   WHEN CAST(mon_d AS DOUBLE) >= (CAST(tot_mon AS DOUBLE) / n_users) THEN 3
                   WHEN CAST(mon_d AS DOUBLE) * 2 >= (CAST(tot_mon AS DOUBLE) / n_users) THEN 2
                   ELSE 1 END AS INT) AS m_score
  FROM per_user, g)
SELECT user_id, r_days, n_events, monetary, r_score, f_score, m_score,
       CASE WHEN r_score >= 3 AND f_score >= 3 THEN 'champion'
            WHEN r_score >= 3 THEN 'recent'
            WHEN f_score >= 3 THEN 'loyal_lapsing'
            ELSE 'at_risk' END AS segment
FROM staged
"""


def events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (the TWAP/telemetry-integral
    aggregation): each event's value is held until the next event, so
    the average weights values by their holding interval, not their
    count.

    Determinism: the integral is an EXACT sum — timestamps as int64
    microseconds (``unix_micros``/``epoch_us``), values as fixed-point
    cents (``floor(v*100+0.5)``), products carried in DECIMAL(38,0) so
    the reduction is associative and partitioning-invariant (a double
    sum here would be order-dependent). Only the final division is
    floating, rounded rdet(4).

    Scale shape: one user-partitioned window (lead) + one per-user
    aggregate — the sessionize profile, co-partitioned end to end.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    staged = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        F.lead(F.unix_micros("ts")).over(w).alias("lead_us"),
    )
    agg = staged.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.expr(
                "CAST(CASE WHEN lead_us IS NULL THEN 0 "
                "ELSE CAST(cents AS DECIMAL(38,0)) * (lead_us - us) END AS DECIMAL(38,0))"
            )
        ).alias("integral"),
        (F.max("us") - F.min("us")).alias("span_us"),
    )
    twap = rdet(
        F.expr("CAST(integral AS DOUBLE) / 100.0 / CAST(span_us AS DOUBLE)"), 4
    )
    return (
        agg.filter(F.col("span_us") > 0)
        .select("user_id", "n_events", twap.alias("twap"))
    )


_TWAP_SQL = f"""
WITH staged AS (
  SELECT user_id,
         epoch_us(ts) AS us,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lead_us
  FROM events),
agg AS (
  SELECT user_id, COUNT(*) AS n_events,
         SUM(CAST(CASE WHEN lead_us IS NULL THEN 0
                  ELSE CAST(cents AS DECIMAL(38,0)) * (lead_us - us) END AS DECIMAL(38,0))) AS integral,
         MAX(us) - MIN(us) AS span_us
  FROM staged GROUP BY user_id)
SELECT user_id, n_events,
       {rdet_sql("CAST(integral AS DOUBLE) / 100.0 / CAST(span_us AS DOUBLE)", 4)} AS twap
FROM agg WHERE span_us > 0
"""


ATTR_WINDOW_S = 7 * 86400  # attribution lookback


def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase's value is split
    EQUALLY across the user's view events in the 7 days before it
    (inclusive of the purchase instant); per-user totals of attributed
    credit. The marketing-analytics allocation archetype.

    Determinism: credit is integer micro-cents — ``(cents * 10000)
    DIV n_touches`` per (purchase, view) pair, summed as exact int64
    (a double value/n sum would be accumulation-order dependent); the
    consistent remainder drop is part of the pinned semantics.

    Scale shape: purchases x their-own-user's recent views is a
    user-co-partitioned range join (bounded by the 7-day window),
    never a cross product.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter("event_type = 'purchase'").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("double").alias("pt"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    views = ev.filter("event_type = 'view'").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").cast("double").alias("vt"),
    )
    pairs = purchases.join(views, "user_id").filter(
        (F.col("vt") <= F.col("pt")) & (F.col("vt") > F.col("pt") - ATTR_WINDOW_S)
    )
    touched = pairs.groupBy("user_id", "purchase_id", "cents").agg(
        F.count("*").alias("n_touches")
    )
    credited = touched.join(
        pairs.select("purchase_id", "view_id"), "purchase_id"
    ).select(
        "user_id",
        "view_id",
        F.expr("CAST(cents * 10000 AS BIGINT) DIV n_touches").alias("credit_ucents"),
    )
    return (
        credited.groupBy("user_id")
        .agg(
            F.countDistinct("view_id").alias("n_views_credited"),
            F.sum("credit_ucents").cast("long").alias("credit_ucents"),
        )
        .orderBy("user_id")
    )


_ATTRIBUTION_SQL = f"""
WITH purchases AS (
  SELECT user_id, event_id AS purchase_id, epoch(ts) AS pt,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
views AS (
  SELECT user_id, event_id AS view_id, epoch(ts) AS vt
  FROM events WHERE event_type = 'view'),
pairs AS (
  SELECT p.user_id, p.purchase_id, p.cents, v.view_id
  FROM purchases p JOIN views v
    ON p.user_id = v.user_id
   AND v.vt <= p.pt AND v.vt > p.pt - {ATTR_WINDOW_S}),
touched AS (
  SELECT user_id, purchase_id, cents, COUNT(*) AS n_touches
  FROM pairs GROUP BY user_id, purchase_id, cents),
credited AS (
  SELECT t.user_id, p.view_id,
         CAST(t.cents * 10000 // t.n_touches AS BIGINT) AS credit_ucents
  FROM touched t JOIN pairs p ON t.purchase_id = p.purchase_id)
SELECT user_id,
       CAST(COUNT(DISTINCT view_id) AS BIGINT) AS n_views_credited,
       CAST(SUM(credit_ucents) AS BIGINT) AS credit_ucents
FROM credited GROUP BY user_id ORDER BY user_id
"""


def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning query.
    Sessions come from the same 30-min-gap logic as
    ``events_sessionize``; each session is clipped to day boundaries
    (so the sweep WINDOW PARTITIONS BY DAY — the global interval sweep
    would serialize at scale), then the classic +1/-1 boundary walk:
    running sum ordered by (ts, +1-before--1), max per day.

    Tie policy: a session starting exactly when another ends counts as
    overlapping (+1 sorts first) — pinned identically in the oracle.
    Pure int arithmetic end to end.
    """
    ev = load_table(spark, sf_dir, "events")
    sess = (
        with_session_ids(ev)
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    # clip to day boundaries: one row per (session, day-it-touches)
    clipped = sess.select(
        "user_id",
        "session_id",
        F.explode(
            F.expr("sequence(to_date(s), to_date(e), interval 1 day)")
        ).alias("day"),
        "s",
        "e",
    ).select(
        "user_id",
        "session_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.greatest(F.col("s"), F.col("day").cast("timestamp")).alias("cs"),
        F.least(
            F.col("e"),
            F.expr("to_timestamp(day) + interval 1 day - interval 1 microsecond"),
        ).alias("ce"),
    )
    bounds = clipped.select(
        "day", F.col("cs").alias("t"), F.lit(1).alias("delta"), "user_id", "session_id"
    ).unionByName(
        clipped.select(
            "day", F.col("ce").alias("t"), F.lit(-1).alias("delta"), "user_id", "session_id"
        )
    )
    ws = (
        W.partitionBy("day")
        .orderBy("t", F.desc("delta"), "user_id", "session_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running = bounds.withColumn("c", F.sum("delta").over(ws))
    return (
        running.groupBy("day")
        .agg(
            F.max("c").cast("long").alias("peak_concurrent"),
            (F.count("*") / 2).cast("long").alias("n_sessions"),
        )
        .orderBy("day")
    )


_PEAK_SQL = f"""
WITH {session_sql_ctes()},
intervals AS (
  SELECT user_id, session_id, MIN(ts) AS s, MAX(ts) AS e
  FROM sess GROUP BY user_id, session_id),
clipped AS (
  SELECT user_id, session_id,
         strftime(d, '%Y-%m-%d') AS day,
         greatest(s, CAST(d AS TIMESTAMP)) AS cs,
         least(e, CAST(d AS TIMESTAMP) + INTERVAL 1 DAY - INTERVAL 1 MICROSECOND) AS ce
  FROM intervals, unnest(generate_series(CAST(s AS DATE), CAST(e AS DATE), INTERVAL 1 DAY)) AS t(d)),
bounds AS (
  SELECT day, cs AS t, 1 AS delta, user_id, session_id FROM clipped
  UNION ALL
  SELECT day, ce AS t, -1 AS delta, user_id, session_id FROM clipped),
running AS (
  SELECT day,
         CAST(SUM(delta) OVER (PARTITION BY day
              ORDER BY t, delta DESC, user_id, session_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
  FROM bounds)
SELECT day, MAX(c) AS peak_concurrent,
       CAST(COUNT(*) / 2 AS BIGINT) AS n_sessions
FROM running GROUP BY day ORDER BY day
"""


def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-analysis archetype: users hash-split into variants A/B
    (portable md5 bucket — the same deterministic assignment a real
    experimentation platform uses), conversion = had a purchase event,
    one summary row with per-variant counts/rates and the two-
    proportion pooled z-statistic.

    All rates/z come from exact int counts through deterministic IEEE
    double arithmetic (rdet display rounding); one per-user shuffle,
    then a single-row conditional aggregate.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    # Conversion must discriminate at every SF (any "has event X"
    # predicate saturates on dense fixtures): converted = the user's
    # AVERAGE purchase value exceeds the global average purchase value
    # — splits the base near the median by construction. Both averages
    # are exact decimal sums over int counts -> deterministic doubles.
    gavg = ev.filter("event_type = 'purchase'").agg(
        F.expr(
            "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)"
        ).alias("avg_purchase")
    )
    per_user = (
        ev.filter("event_type = 'purchase'")
        .groupBy("user_id")
        .agg(
            F.expr(
                "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)"
            ).alias("user_avg")
        )
        .join(
            ev.select("user_id").distinct(), "user_id", "right"
        )
        .crossJoin(F.broadcast(gavg))
        .select(
            "user_id",
            F.when(F.col("user_avg") > F.col("avg_purchase"), 1)
            .otherwise(0)
            .alias("converted"),
        )
    )
    variant = F.expr(
        "CASE WHEN CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) "
        "AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END"
    )
    tagged = per_user.withColumn("variant", variant)
    agg = tagged.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("variant") == "A", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("variant") == "B", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    p1 = "CAST(conv_a AS DOUBLE) / n_a"
    p2 = "CAST(conv_b AS DOUBLE) / n_b"
    pp = "CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)"
    # z undefined when the pooled rate is degenerate (0 or 1): NULL on
    # both engines instead of a divide-by-zero (Spark ANSI throws).
    z = (
        f"CASE WHEN ({pp}) * (1.0 - ({pp})) = 0.0 THEN NULL ELSE "
        f"(({p1}) - ({p2})) / sqrt(({pp}) * (1.0 - ({pp})) * "
        f"(1.0 / n_a + 1.0 / n_b)) END"
    )
    return agg.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        rdet(F.expr(f"({p1}) * 100.0"), 2).alias("rate_a_pct"),
        rdet(F.expr(f"({p2}) * 100.0"), 2).alias("rate_b_pct"),
        rdet(F.expr(z), 4).alias("z_score"),
    )


_AB_PP = "(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))"
_AB_Z = (
    f"CASE WHEN {_AB_PP} * (1.0 - {_AB_PP}) = 0.0 THEN NULL ELSE "
    f"((CAST(conv_a AS DOUBLE) / n_a) - (CAST(conv_b AS DOUBLE) / n_b)) / "
    f"sqrt({_AB_PP} * (1.0 - {_AB_PP}) * (1.0 / n_a + 1.0 / n_b)) END"
)

_AB_TEST_SQL = f"""
WITH gavg AS (
  SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_purchase
  FROM events WHERE event_type = 'purchase'),
user_avg AS (
  SELECT user_id,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS user_avg
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
per_user AS (
  SELECT u.user_id,
         CASE WHEN ua.user_avg > gavg.avg_purchase THEN 1 ELSE 0 END AS converted,
         CASE WHEN ('0x' || substr(md5(CAST(u.user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
              THEN 'A' ELSE 'B' END AS variant
  FROM (SELECT DISTINCT user_id FROM events) u
  LEFT JOIN user_avg ua ON u.user_id = ua.user_id
  CROSS JOIN gavg),
agg AS (
  SELECT CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN variant = 'A' THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN variant = 'B' THEN converted ELSE 0 END) AS BIGINT) AS conv_b
  FROM per_user)
SELECT n_a, conv_a, n_b, conv_b,
       {rdet_sql("(CAST(conv_a AS DOUBLE) / n_a) * 100.0", 2)} AS rate_a_pct,
       {rdet_sql("(CAST(conv_b AS DOUBLE) / n_b) * 100.0", 2)} AS rate_b_pct,
       {rdet_sql(_AB_Z, 4)} AS z_score
FROM agg
"""


PARETO_PCTS = (50, 80, 90, 99)


def events_power_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity concentration (Lorenz curve points): for each target
    share of total events, the minimum number of users (heaviest
    first) that produce it, plus their share of the user base.

    Scale note: the ranking happens over PER-USER AGGREGATES — |users|
    rows, orders of magnitude below |events| — and the final cumsum
    window runs on that reduced set (here a single ordered pass; at
    extreme user counts swap in a two-level prefix-sum: per-partition
    subtotals broadcast back, the standard distributed scan). Exact
    int arithmetic end-to-end; ties broken by user_id.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    tot = per_user.agg(
        F.sum("n").alias("tot_ev"), F.count("*").alias("n_users")
    )
    w = W.orderBy(F.desc("n"), F.asc("user_id"))
    ranked = per_user.select(
        "user_id",
        "n",
        F.row_number().over(w).alias("rank"),
        F.sum("n").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias(
            "cum_ev"
        ),
    ).crossJoin(F.broadcast(tot))
    # Single pass, mirroring the oracle's join-against-pcts shape: the
    # tiny percentile list broadcast-NL-joins the ranked users on the
    # exact-int threshold (cum_ev*100 >= tot_ev*p), then MIN(rank) per
    # percentile. An inner join also keeps the empty-events case
    # oracle-identical (0 rows), where a per-percentile filter+agg
    # would emit NULL rows — and would rescan events once per
    # percentile.
    pcts = spark.createDataFrame(
        [(p,) for p in PARETO_PCTS], "pct_events INT"
    )
    joined = F.broadcast(pcts).join(
        ranked, F.col("cum_ev") * 100 >= F.col("tot_ev") * F.col("pct_events")
    )
    return joined.groupBy("pct_events").agg(
        F.min("rank").cast("long").alias("n_top_users"),
        rdet(
            F.min("rank").cast("double") / F.max("n_users").cast("double") * 100.0,
            2,
        ).alias("pct_users"),
    )


_POWER_USERS_SQL = f"""
WITH per_user AS (
  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tot_ev, COUNT(*) AS n_users FROM per_user),
ranked AS (
  SELECT user_id, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, user_id ASC) AS rank,
         CAST(SUM(n) OVER (ORDER BY n DESC, user_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_ev
  FROM per_user),
pcts AS (SELECT unnest([{", ".join(str(p) for p in PARETO_PCTS)}]) AS p)
SELECT CAST(p AS INT) AS pct_events,
       CAST(MIN(rank) AS BIGINT) AS n_top_users,
       {rdet_sql("CAST(MIN(rank) AS DOUBLE) / CAST(MAX(t.n_users) AS DOUBLE) * 100.0", 2)} AS pct_users
FROM pcts
JOIN ranked ON ranked.cum_ev * 100 >= (SELECT tot_ev FROM tot) * p
CROSS JOIN tot t
GROUP BY p
"""


def events_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-cohort activity matrix: users bucketed by the ISO week of
    their FIRST event, counted distinct in each later week offset —
    the classic cohort-retention triangle.

    Scale shape: one groupBy(user) for first-seen (map-side combined),
    one co-partitioned join back on user_id, one count-distinct over
    (cohort_week, offset) — at 100 TB the matrix itself is tiny
    (weeks x offsets), so the final shuffle is negligible; the join
    reuses the user_id partitioning from the first agg.

    Determinism: both engines truncate weeks to Monday; offsets are
    exact integers (Monday-to-Monday day deltas are divisible by 7).
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    j = ev.join(firsts, "user_id")
    j = j.select(
        "user_id",
        F.to_date(F.date_trunc("week", "first_ts")).alias("cohort_week"),
        F.to_date(F.date_trunc("week", "ts")).alias("week"),
    )
    return (
        j.withColumn(
            "week_offset",
            (F.datediff("week", "cohort_week") / F.lit(7)).cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_users",
        )
        .orderBy("cohort_week", "week_offset")
    )


_COHORT_SQL = """
WITH f AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cw
  FROM events GROUP BY user_id
)
SELECT strftime(f.cw, '%Y-%m-%d') AS cohort_week,
       CAST(datediff('day', f.cw, date_trunc('week', e.ts)) // 7 AS INTEGER) AS week_offset,
       COUNT(DISTINCT e.user_id) AS n_users
FROM events e JOIN f ON e.user_id = f.user_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


def events_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type: weekly counts + a lag
    window. Two tiny shuffles (weekly agg, then per-type window over a
    weeks-sized frame) — the window input is |types| x |weeks| rows no
    matter how big the fact table is.

    Determinism: counts are exact ints; the growth ratio is one
    int->double division (identical IEEE both engines) through rdet.
    """
    ev = load_table(spark, sf_dir, "events")
    weekly = (
        ev.groupBy(
            F.to_date(F.date_trunc("week", "ts")).alias("week"), "event_type"
        ).agg(F.count("*").alias("n_events"))
    )
    w = W.partitionBy("event_type").orderBy("week")
    prev = F.lag("n_events").over(w)
    return (
        weekly.select(
            F.date_format("week", "yyyy-MM-dd").alias("week"),
            "event_type",
            "n_events",
            rdet((F.col("n_events") - prev).cast("double") / prev, 4).alias(
                "wow_growth"
            ),
        )
        .orderBy("event_type", "week")
    )


_WOW_SQL = """
WITH weekly AS (
  SELECT date_trunc('week', ts) AS wk, event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT strftime(wk, '%Y-%m-%d') AS week, event_type, n_events,
       floor(CAST(n_events - LAG(n_events) OVER w AS DOUBLE)
             / LAG(n_events) OVER w * 10000.0 + 0.5) / 10000.0 AS wow_growth
FROM weekly
WINDOW w AS (PARTITION BY event_type ORDER BY wk)
ORDER BY event_type, week
"""


def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling active-user metrics per observed day: DAU, trailing-7
    WAU, trailing-30 MAU and the DAU/MAU stickiness ratio.

    Scale shape: the fact table collapses to DISTINCT (user, day)
    first (map-side combined — this is the only pass over raw events);
    the rolling windows are then a bounded-fanout join of user-days
    against the tiny broadcast day list (<=30 rows matched per
    user-day), with conditional distinct counts doing DAU/WAU/MAU in
    ONE aggregation. |user-days| x 30 is the worst case regardless of
    events volume.

    Determinism: exact distinct counts; stickiness is one int->double
    division through rdet.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    days = ud.select("day").distinct().select(F.col("day").alias("d"))
    j = ud.join(
        F.broadcast(days),
        (F.col("day") <= F.col("d")) & (F.col("day") >= F.date_sub("d", 29)),
    )
    agg = j.groupBy("d").agg(
        F.countDistinct(
            F.when(F.col("day") == F.col("d"), F.col("user_id"))
        ).alias("dau"),
        F.countDistinct(
            F.when(F.col("day") >= F.date_sub("d", 6), F.col("user_id"))
        ).alias("wau"),
        F.countDistinct("user_id").alias("mau"),
    )
    return agg.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau",
        "mau",
        rdet(F.col("dau").cast("double") / F.col("mau"), 4).alias("stickiness"),
    ).orderBy("day")


_DAU_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
),
days AS (SELECT DISTINCT day AS d FROM ud)
SELECT strftime(d, '%Y-%m-%d') AS day,
       COUNT(DISTINCT CASE WHEN u.day = days.d THEN u.user_id END) AS dau,
       COUNT(DISTINCT CASE WHEN u.day >= days.d - 6 THEN u.user_id END) AS wau,
       COUNT(DISTINCT u.user_id) AS mau,
       floor(CAST(COUNT(DISTINCT CASE WHEN u.day = days.d THEN u.user_id END) AS DOUBLE)
             / COUNT(DISTINCT u.user_id) * 10000.0 + 0.5) / 10000.0 AS stickiness
FROM days JOIN ud u ON u.day <= days.d AND u.day >= days.d - 29
GROUP BY d
ORDER BY day
"""


def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: the 20 longest consecutive-day activity
    streaks (the classic ``day - row_number`` anchor trick — distinct
    user-days make row_number equal dense_rank, so consecutive days
    share an anchor date).

    Scale shape: distinct (user, day) map-side combines the fact
    table; the window and the streak agg are both partitioned by
    user_id — one co-partitioned shuffle chain, then a global top-20.

    Determinism: pure date/int arithmetic; top-k tie-breaks on
    (user_id, start_day).
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    anchored = ud.withColumn(
        "anchor", F.date_sub("day", F.row_number().over(w).cast("int"))
    )
    streaks = anchored.groupBy("user_id", "anchor").agg(
        F.count("*").alias("streak_days"),
        F.min("day").alias("start_day"),
        F.max("day").alias("end_day"),
    )
    return (
        streaks.select(
            "user_id",
            F.date_format("start_day", "yyyy-MM-dd").alias("start_day"),
            F.date_format("end_day", "yyyy-MM-dd").alias("end_day"),
            "streak_days",
        )
        .orderBy(F.desc("streak_days"), F.asc("user_id"), F.asc("start_day"))
        .limit(20)
    )


_STREAKS_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
),
anchored AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
  FROM ud
)
SELECT user_id,
       strftime(MIN(day), '%Y-%m-%d') AS start_day,
       strftime(MAX(day), '%Y-%m-%d') AS end_day,
       COUNT(*) AS streak_days
FROM anchored
GROUP BY user_id, anchor
ORDER BY streak_days DESC, user_id ASC, start_day ASC
LIMIT 20
"""


def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions with exactly one event,
    keyed by the session's start day. Built on the ONE shared
    sessionization (:func:`with_session_ids`); two tiny aggs after it.

    Determinism: exact counts; the rate is one int->double division
    through rdet.
    """
    ev = load_table(spark, sf_dir, "events")
    sess = (
        with_session_ids(ev)
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("start_ts"))
    )
    return (
        sess.groupBy(F.to_date("start_ts").alias("day"))
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("int")).cast("long").alias("n_bounces"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_sessions",
            "n_bounces",
            rdet(F.col("n_bounces").cast("double") / F.col("n_sessions"), 4).alias(
                "bounce_rate"
            ),
        )
        .orderBy("day")
    )


def _bounce_sql() -> str:
    return f"""
WITH {session_sql_ctes()},
per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS start_ts
  FROM sess GROUP BY user_id, session_id
)
SELECT strftime(date_trunc('day', start_ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       floor(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS bounce_rate
FROM per_session
GROUP BY date_trunc('day', start_ts)
ORDER BY day
"""


def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into new (first ever seen that day) vs
    returning — the growth-accounting companion to DAU/WAU/MAU. One
    first-seen aggregation (map-side combined on user_id) + one
    distinct count per day; integer ppm share.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    firsts = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = ud.join(firsts, "user_id")
    return (
        j.groupBy("day")
        .agg(
            F.count("*").cast("long").alias("dau"),
            F.sum((F.col("day") == F.col("first_day")).cast("int"))
            .cast("long")
            .alias("new_users"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "new_users",
            (F.col("dau") - F.col("new_users")).cast("long").alias("returning_users"),
            F.expr("CAST((new_users * 1000000) DIV dau AS BIGINT)").alias("new_ppm"),
        )
        .orderBy("day")
    )


_NEW_RETURNING_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
),
f AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY user_id)
SELECT strftime(day, '%Y-%m-%d') AS day,
       COUNT(*) AS dau,
       CAST(SUM(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       CAST(COUNT(*) - SUM(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users,
       CAST((SUM(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS new_ppm
FROM ud JOIN f ON ud.user_id = f.user_id
GROUP BY day
ORDER BY day
"""


def events_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency: for every session containing a purchase,
    seconds from session start to the FIRST purchase, averaged per
    session-start day. Shared sessionization + one group pass per
    session, then a daily rollup — all co-partitioned on user_id then
    a tiny day aggregation.

    Determinism: epoch seconds floor to exact ints (convention #8's
    floor(epoch()) on the DuckDB side); the mean is one int->double
    division through rdet.
    """
    ev = load_table(spark, sf_dir, "events")
    sess = (
        with_session_ids(ev)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").cast("long").alias("start_s"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts").cast("long"))
            ).alias("first_purchase_s"),
        )
        .filter(F.col("first_purchase_s").isNotNull())
        .withColumn("lag_s", F.col("first_purchase_s") - F.col("start_s"))
    )
    return (
        sess.groupBy(
            F.date_format(F.expr("from_unixtime(start_s)"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count("*").alias("n_converting"),
            F.sum("lag_s").cast("long").alias("total_lag_s"),
        )
        .select(
            "day",
            "n_converting",
            "total_lag_s",
            rdet(F.col("total_lag_s").cast("double") / F.col("n_converting"), 2).alias(
                "mean_lag_s"
            ),
        )
        .orderBy("day")
    )


def _time_to_purchase_sql() -> str:
    return f"""
WITH {session_sql_ctes(", event_type")},
per AS (
  SELECT user_id, session_id,
         CAST(floor(epoch(MIN(ts))) AS BIGINT) AS start_s,
         MIN(CASE WHEN event_type = 'purchase'
             THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS first_purchase_s
  FROM sess GROUP BY user_id, session_id
)
SELECT strftime(make_timestamp(start_s * 1000000), '%Y-%m-%d') AS day,
       COUNT(*) AS n_converting,
       CAST(SUM(first_purchase_s - start_s) AS BIGINT) AS total_lag_s,
       floor(CAST(SUM(first_purchase_s - start_s) AS DOUBLE) / COUNT(*) * 100.0 + 0.5) / 100.0 AS mean_lag_s
FROM per
WHERE first_purchase_s IS NOT NULL
GROUP BY 1
ORDER BY day
"""


def events_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch attribution per channel, the
    single-touch complement of ``events_attribution_linear``.

    Semantics (pinned): for each purchase, within its 30-min session
    (the shared :func:`with_session_ids` definition), the FIRST-touch
    channel is the session-opening event's type — 'direct' when the
    purchase itself opens the session — and the LAST-touch channel is
    the immediately preceding event's type ('direct' when none).
    Revenue is exact integer cents; output is one row per channel with
    both attributions side by side (absent side = 0).

    Scale shape: one user-partitioned sort window (the sessionization
    pass every session consumer already shares) + two tiny per-channel
    aggregates full-outer-joined — no self-join of the event stream.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    ordered = (
        with_session_ids(ev)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn("first_type", F.first("event_type").over(w))
    )
    purch = ordered.filter("event_type = 'purchase'").select(
        F.when(F.col("rn") == 1, F.lit("direct"))
        .otherwise(F.col("first_type"))
        .alias("first_touch"),
        F.coalesce(F.col("prev_type"), F.lit("direct")).alias("last_touch"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    fa = purch.groupBy(F.col("first_touch").alias("channel")).agg(
        F.count("*").alias("n_first"), F.sum("cents").alias("first_cents")
    )
    la = purch.groupBy(F.col("last_touch").alias("channel")).agg(
        F.count("*").alias("n_last"), F.sum("cents").alias("last_cents")
    )
    return (
        fa.join(la, "channel", "full_outer")
        .select(
            "channel",
            F.expr("CAST(COALESCE(n_first, 0) AS BIGINT)").alias("n_first"),
            F.expr("CAST(COALESCE(first_cents, 0) AS BIGINT)").alias("first_cents"),
            F.expr("CAST(COALESCE(n_last, 0) AS BIGINT)").alias("n_last"),
            F.expr("CAST(COALESCE(last_cents, 0) AS BIGINT)").alias("last_cents"),
        )
        .orderBy("channel")
    )


_ATTR_TOUCH_SQL = f"""
WITH {session_sql_ctes(', value, event_type')},
ordered AS (
  SELECT user_id, session_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         ROW_NUMBER() OVER ws AS rn,
         LAG(event_type) OVER ws AS prev_type,
         FIRST_VALUE(event_type) OVER ws AS first_type
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)),
purch AS (
  SELECT CASE WHEN rn = 1 THEN 'direct' ELSE first_type END AS first_touch,
         COALESCE(prev_type, 'direct') AS last_touch, cents
  FROM ordered WHERE event_type = 'purchase'),
fa AS (
  SELECT first_touch AS channel, COUNT(*) AS n_first,
         CAST(SUM(cents) AS BIGINT) AS first_cents
  FROM purch GROUP BY 1),
la AS (
  SELECT last_touch AS channel, COUNT(*) AS n_last,
         CAST(SUM(cents) AS BIGINT) AS last_cents
  FROM purch GROUP BY 1)
SELECT COALESCE(f.channel, l.channel) AS channel,
       CAST(COALESCE(n_first, 0) AS BIGINT) AS n_first,
       CAST(COALESCE(first_cents, 0) AS BIGINT) AS first_cents,
       CAST(COALESCE(n_last, 0) AS BIGINT) AS n_last,
       CAST(COALESCE(last_cents, 0) AS BIGINT) AS last_cents
FROM fa f FULL OUTER JOIN la l ON f.channel = l.channel
ORDER BY channel
"""


def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-first-purchase, WITH
    right-censoring — the estimator behind every retention/conversion
    'survival' plot. Users who never purchase are censored at their
    last observed event (they leave the risk set without converting),
    which a naive conversion-latency average silently ignores.

    Determinism recipe: durations are integer DAYS via int64
    microsecond arithmetic (unix_micros DIV 86400000000); the risk set
    n_t = N - |T_i < t| comes from one cumulative pass over the
    per-day aggregate; each factor ln((n-d)/n) is fixed-pointed to
    1e-6 BEFORE the cumulative sum (the bigram-LM convention — one ln
    per distinct event day, never a cross-row float accumulation), so
    log-survival is an exact int64 prefix sum and survival itself is
    one exp() of an identical double on both engines. A day where the
    whole remaining risk set converts (d = n) has survival exactly 0
    and a NULL log term (ln(0) guarded identically on both sides).

    Scale: everything after the per-user groupBy runs on the
    |distinct days| aggregate — the event stream shuffles once.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.expr("unix_micros(ts)")).alias("birth_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.expr("unix_micros(ts)"))
        ).alias("purch_us"),
        F.max(F.expr("unix_micros(ts)")).alias("last_us"),
    )
    dur = per_user.select(
        F.expr(
            "CASE WHEN purch_us IS NOT NULL"
            " THEN (purch_us - birth_us) DIV 86400000000"
            " ELSE (last_us - birth_us) DIV 86400000000 END"
        ).alias("t"),
        F.expr("CAST(purch_us IS NOT NULL AS INT)").alias("ev"),
    )
    per_day = dur.groupBy("t").agg(
        F.count("*").alias("c_all"),
        F.sum("ev").cast("long").alias("d"),
    )
    n_total = dur.count()
    wt = W.orderBy("t")
    at_risk = per_day.withColumn(
        "n_at_risk",
        F.lit(n_total)
        - F.coalesce(
            F.sum("c_all").over(wt.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
        ),
    ).filter(F.col("d") > 0)
    term = at_risk.withColumn(
        "li",
        F.when(
            F.col("d") < F.col("n_at_risk"),
            F.floor(
                F.log(
                    (F.col("n_at_risk") - F.col("d")).cast("double")
                    / F.col("n_at_risk").cast("double")
                )
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long"),
        ),
    )
    cum = term.withColumn(
        "ls", F.sum("li").over(wt.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    return cum.select(
        F.col("t").cast("long").alias("t_day"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("d").alias("n_events"),
        F.when(F.col("d") < F.col("n_at_risk"), F.col("ls").cast("long")).alias(
            "log_surv_e6"
        ),
        F.when(
            F.col("d") < F.col("n_at_risk"),
            rdet(F.exp(F.col("ls").cast("double") / F.lit(1e6)), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("survival"),
    ).orderBy("t_day")


_KM_SQL = """
WITH per_user AS (
  SELECT user_id,
         MIN(epoch_us(ts)) AS birth_us,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS purch_us,
         MAX(epoch_us(ts)) AS last_us
  FROM events GROUP BY user_id),
dur AS (
  SELECT CASE WHEN purch_us IS NOT NULL
              THEN (purch_us - birth_us) // 86400000000
              ELSE (last_us - birth_us) // 86400000000 END AS t,
         CASE WHEN purch_us IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM per_user),
per_day AS (
  SELECT t, COUNT(*) AS c_all, CAST(SUM(ev) AS BIGINT) AS d
  FROM dur GROUP BY t),
at_risk AS (
  SELECT t, d,
         (SELECT COUNT(*) FROM dur)
           - COALESCE(SUM(c_all) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at_risk
  FROM per_day),
evdays AS (SELECT * FROM at_risk WHERE d > 0),
term AS (
  SELECT t, d, n_at_risk,
         CASE WHEN d < n_at_risk
              THEN CAST(floor(ln(CAST(n_at_risk - d AS DOUBLE)
                                 / CAST(n_at_risk AS DOUBLE)) * 1000000.0 + 0.5)
                        AS BIGINT) END AS li
  FROM evdays),
cum AS (
  SELECT t, d, n_at_risk, li,
         SUM(li) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls
  FROM term)
SELECT CAST(t AS BIGINT) AS t_day,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       d AS n_events,
       CASE WHEN d < n_at_risk THEN CAST(ls AS BIGINT) END AS log_surv_e6,
       CASE WHEN d < n_at_risk
            THEN floor(exp(CAST(ls AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5)
                   / 1000000.0
            ELSE 0.0 END AS survival
FROM cum ORDER BY t_day
"""


def events_heatmap_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day x day-of-week activity heatmap — the ops staple.

    Day-of-week comes from epoch-day arithmetic ((ed + 4) %% 7,
    0=Sunday) because the engines' dayofweek() numberings disagree
    (the fn_business_days convention); the hour is taken in the
    pinned UTC session. One map-side-combined groupBy over at most
    168 cells.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.expr(
                "(datediff(to_date(ts), DATE'1970-01-01') + 4) % 7"
            ).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hour"),
            F.col("event_type"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        )
        .groupBy("dow", "hour")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("CAST(event_type = 'purchase' AS INT)"))
            .cast("long")
            .alias("n_purchases"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .orderBy("dow", "hour")
    )


_HEATMAP_SQL = """
SELECT CAST(((CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01') + 4) % 7
            AS BIGINT) AS dow,
       CAST(hour(ts) AS BIGINT) AS hour,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purchases,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY 1, 2
ORDER BY dow, hour
"""


def events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap distribution in power-of-two second
    buckets (bucket = bit length of the gap — the log-free
    text_length_histogram idiom). Heavy-tailed inter-arrival is what
    motivates the 30-min session gap; this query SHOWS the tail. One
    user-partitioned sort window + a tiny groupBy.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            F.expr("unix_micros(ts)").alias("us"),
            F.col("ts"),
            F.col("event_id"),
        )
        .withColumn("prev", F.lag("us").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.expr("(us - prev) DIV 1000000").alias("gap_s"))
    )
    return (
        gaps.groupBy(
            F.expr("CAST(length(bin(gap_s)) AS BIGINT)").alias("bucket_pow2")
        )
        .agg(
            F.count("*").alias("n_gaps"),
            F.min("gap_s").alias("min_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
        .orderBy("bucket_pow2")
    )


_INTER_ARRIVAL_SQL = """
WITH gaps AS (
  SELECT (epoch_us(ts) - LAG(epoch_us(ts))
            OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS gap_s
  FROM events)
SELECT CAST(length(bin(gap_s)) AS BIGINT) AS bucket_pow2,
       COUNT(*) AS n_gaps,
       MIN(gap_s) AS min_gap_s,
       MAX(gap_s) AS max_gap_s
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY 1 ORDER BY bucket_pow2
"""


BOT_MIN_GAPS = 20
BOT_CV2_MAX = 0.1  # squared coefficient of variation below this = metronomic


def events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral bot heuristic: humans arrive with heavy-tailed
    inter-event gaps, scripts with metronomic ones — so a LOW squared
    coefficient of variation (var/mean²) over a user's gaps flags
    automation. The trust-and-safety cut every event pipeline runs
    before analytics count 'users'.

    Exact plumbing: integer second gaps from the shared
    (user-partitioned sort) lag pass; per-user Σg and Σg² accumulate
    in DECIMAL(38,0); cv² = (nΣg² - (Σg)²)/(Σg)² is evaluated from
    those exact decimals (identical decimal→double rounding on both
    engines) through rdet. Flag = cv² < 0.1 with >= 20 gaps.

    Degenerate guard (VERDICT r5 #4): a user whose gaps are ALL 0 s
    (every event in the same second — exactly the burst bot this query
    hunts) makes Σg = 0 and cv² = x/0; Spark yields NaN where DuckDB
    yields NULL/Inf, a guaranteed flaky hash. Both sides CASE cv² to
    NULL when Σg = 0 and flag the user as a bot via the explicit
    `sg = 0 OR cv2 < 0.1` disjunct (all-zero gaps are maximally
    metronomic), so bot_suspect is never a NULL boolean.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id", "ts", "event_id", F.expr("unix_micros(ts)").alias("us")
        )
        .withColumn("prev", F.lag("us").over(w))
        .filter(F.col("prev").isNotNull())
        .select("user_id", F.expr("(us - prev) DIV 1000000").alias("g"))
    )
    per = gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.sum(F.col("g").cast("decimal(38,0)")).alias("sg"),
        F.sum((F.col("g") * F.col("g")).cast("decimal(38,0)")).alias("sgg"),
    )
    cv2_raw = (
        F.col("n_gaps").cast("double") * F.col("sgg").cast("double")
        - F.col("sg").cast("double") * F.col("sg").cast("double")
    ) / (F.col("sg").cast("double") * F.col("sg").cast("double"))
    cv2 = F.when(F.col("sg") > 0, rdet(cv2_raw, 6))
    return per.select(
        "user_id",
        "n_gaps",
        F.expr("CAST(sg AS BIGINT) DIV n_gaps").alias("mean_gap_s"),
        cv2.alias("cv2"),
        (
            F.expr(f"n_gaps >= {BOT_MIN_GAPS}")
            & ((F.col("sg") == 0) | cv2.__lt__(BOT_CV2_MAX))
        ).alias("bot_suspect"),
    ).orderBy("user_id")


_BOT_SQL = f"""
WITH gaps AS (
  SELECT user_id,
         (epoch_us(ts) - LAG(epoch_us(ts))
            OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS g
  FROM events),
per AS (
  SELECT user_id, COUNT(*) AS n_gaps,
         SUM(CAST(g AS DECIMAL(38,0))) AS sg,
         SUM(CAST(g * g AS DECIMAL(38,0))) AS sgg
  FROM gaps WHERE g IS NOT NULL GROUP BY user_id),
calc AS (
  SELECT user_id, n_gaps, sg,
         CAST(sg AS BIGINT) // n_gaps AS mean_gap_s,
         CASE WHEN sg > 0 THEN {rdet_sql(
             "(CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)"
             " - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))"
             " / (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))", 6)} END AS cv2
  FROM per)
SELECT user_id, n_gaps, mean_gap_s, cv2,
       (n_gaps >= {BOT_MIN_GAPS} AND (sg = 0 OR cv2 < {BOT_CV2_MAX})) AS bot_suspect
FROM calc ORDER BY user_id
"""


# --- point-in-time training features (the feature-store archetype) --------
# For every label event (purchase) compute leakage-free features "as of"
# strictly BEFORE the label's timestamp: trailing-window behavioral
# counts and prior spend. The classic ML-platform correctness trap this
# encodes is temporal leakage — a feature computed over a window that
# includes (or follows) the label observation. Strictly-before is
# enforced with integer-microsecond RANGE frames ending at 1 µs
# PRECEDING, so same-microsecond co-events (including the label row
# itself) are excluded identically on both engines.
FEATURE_W7_US = 7 * 86400 * 1_000_000
FEATURE_W30_US = 30 * 86400 * 1_000_000


def events_feature_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-purchase point-in-time features: trailing-7d view/click/error
    counts and trailing-30d prior purchase spend (cents), strictly
    before the label timestamp.

    Scale shape: ONE shuffle — both RANGE frames share the
    (user_id, us) partitioning+ordering, so Catalyst plans a single
    Exchange+Sort feeding two Window operators (no self-join; the
    naive as-of formulation is an O(events x events-in-window) range
    self-join). At 100 TB this is the standard feature-backfill plan:
    co-partition by entity key, sort once, evaluate every trailing
    window in the same pass. Labels with NULL value keep NULL
    label_cents on both engines; empty frames coalesce to 0."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    w7 = (
        W.partitionBy("user_id").orderBy("us").rangeBetween(-FEATURE_W7_US, -1)
    )
    w30 = (
        W.partitionBy("user_id").orderBy("us").rangeBetween(-FEATURE_W30_US, -1)
    )

    def _cnt(t: str):
        return F.coalesce(
            F.sum(F.when(F.col("event_type") == t, F.lit(1))).over(w7),
            F.lit(0),
        ).cast("long")

    feat = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "cents",
        _cnt("view").alias("n_view_7d"),
        _cnt("click").alias("n_click_7d"),
        _cnt("error").alias("n_error_7d"),
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("cents"))
            ).over(w30),
            F.lit(0),
        )
        .cast("long")
        .alias("buy_cents_30d"),
    )
    return (
        feat.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", _TS_FMT).alias("label_ts"),
            "n_view_7d",
            "n_click_7d",
            "n_error_7d",
            "buy_cents_30d",
            F.col("cents").alias("label_cents"),
        )
        .orderBy("event_id", "user_id")
    )


_FEATURE_ASOF_SQL = f"""
WITH e AS (
  SELECT event_id, user_id, ts, event_type,
         epoch_us(ts) AS us,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events),
f AS (
  SELECT event_id, user_id, ts, event_type, cents,
         COALESCE(CAST(SUM(CASE WHEN event_type = 'view' THEN 1 END)
                       OVER w7 AS BIGINT), 0) AS n_view_7d,
         COALESCE(CAST(SUM(CASE WHEN event_type = 'click' THEN 1 END)
                       OVER w7 AS BIGINT), 0) AS n_click_7d,
         COALESCE(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 END)
                       OVER w7 AS BIGINT), 0) AS n_error_7d,
         COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents END)
                       OVER w30 AS BIGINT), 0) AS buy_cents_30d
  FROM e
  WINDOW
    w7 AS (PARTITION BY user_id ORDER BY us
           RANGE BETWEEN {FEATURE_W7_US} PRECEDING AND 1 PRECEDING),
    w30 AS (PARTITION BY user_id ORDER BY us
            RANGE BETWEEN {FEATURE_W30_US} PRECEDING AND 1 PRECEDING))
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS label_ts,
       n_view_7d, n_click_7d, n_error_7d, buy_cents_30d,
       cents AS label_cents
FROM f
WHERE event_type = 'purchase'
ORDER BY event_id, user_id
"""


AUTOCORR_LAGS = (1, 7)  # daily + weekly seasonality probes


def events_periodicity_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1 and 7
    — the seasonality detector (a strong lag-7 says weekly traffic
    structure; flat says the load is memoryless) a capacity planner or
    anomaly model runs before choosing its baseline window.

    The series is DENSE: every day between the global min and max is a
    point, absent days count 0 (skipping gaps would silently shift
    lags). Day indexes are TZ-free integer epoch days; counts are
    exact int64; the lag-k Pearson over (x_t, x_{t+k}) pairs uses
    DECIMAL(38,0) moments, so the only float is the final closed-form
    expression under rdet(6). Zero variance on either side (constant
    series) CASEs to NULL (convention #9).

    Scale: ONE map-side-combined groupBy to |days| rows; the dense
    calendar spine, the self-join on day+lag, and the tiny lag frame
    are all bounded by the calendar, not the event count.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("CAST(floor(CAST(ts AS DOUBLE) / 86400.0) AS BIGINT)").alias("d")
    )
    per_day = ev.groupBy("d").agg(F.count("*").alias("n"))
    bounds = per_day.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi)")).alias("d")
    )
    dense = spine.join(per_day, "d", "left").select(
        "d", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    lags = spark.createDataFrame([(lag,) for lag in AUTOCORR_LAGS], "lag BIGINT")
    a = dense.select(F.col("d").alias("da"), F.col("n").alias("x"))
    b = dense.select(F.col("d").alias("db"), F.col("n").alias("y"))
    pairs = (
        F.broadcast(lags)
        .join(a, F.lit(True))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
    )
    m = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    n = "CAST(n_pairs AS DOUBLE)"
    vx = f"({n} * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    vy = f"({n} * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    cov = f"({n} * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    return m.select(
        "lag",
        "n_pairs",
        F.when(
            (F.expr(vx) > 0) & (F.expr(vy) > 0),
            rdet(F.expr(f"{cov} / (sqrt({vx}) * sqrt({vy}))"), 6),
        ).alias("autocorr"),
    ).orderBy("lag")


def _autocorr_sql() -> str:
    n = "CAST(n_pairs AS DOUBLE)"
    vx = f"({n} * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    vy = f"({n} * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    cov = f"({n} * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    lags = ", ".join(f"({lag})" for lag in AUTOCORR_LAGS)
    return f"""
WITH per_day AS (
  SELECT CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS d, COUNT(*) AS n
  FROM events GROUP BY 1),
bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM per_day),
dense AS MATERIALIZED (
  SELECT s.d, CAST(COALESCE(p.n, 0) AS BIGINT) AS n
  FROM (SELECT unnest(generate_series(lo, hi)) AS d FROM bounds) s
  LEFT JOIN per_day p ON s.d = p.d),
lags(lag) AS (VALUES {lags}),
m AS (
  SELECT lag, COUNT(*) AS n_pairs,
         CAST(SUM(CAST(a.n AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(b.n AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(a.n AS DECIMAL(38,0)) * b.n) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(a.n AS DECIMAL(38,0)) * a.n) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(b.n AS DECIMAL(38,0)) * b.n) AS DECIMAL(38,0)) AS syy
  FROM lags, dense a JOIN dense b ON b.d = a.d + lag
  GROUP BY lag)
SELECT CAST(lag AS BIGINT) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
       CASE WHEN {vx} > 0 AND {vy} > 0 THEN
         {rdet_sql(f"{cov} / (sqrt({vx}) * sqrt({vy}))", 6)}
       END AS autocorr
FROM m ORDER BY lag
"""


BURST_MIN_GAPS = 5
BURST_TOP = 20


def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness coefficient B = (sigma - mu)/(sigma + mu)
    over inter-event gaps (Goh & Barabasi 2008): B -> 1 for bursty
    humans, ~0 for Poisson traffic, -1 for metronomic bots — the
    behavioral fingerprint complementing events_bot_score. Output: the
    20 burstiest users with >= 5 gaps.

    Exact plumbing: gaps are integer microseconds from one
    user-partitioned lag window; per-user moments (n, sum, sum-of-
    squares) accumulate exactly (DECIMAL(38,0) for the squares — a
    2-year gap squares to ~6e27); sigma and B are ONE closed-form
    IEEE expression from those exact sums, and the ranking key is the
    FIXED-POINT b_e6 integer with a user_id tie-break (convention #6),
    so rank order cannot flip between engines. sigma + mu = 0 (a user
    whose gaps are all zero) CASEs to NULL and sorts NULLS LAST
    behind the b_e6 ranking.

    Scale: one user-co-partitioned window + one map-side-combined
    per-user aggregate; the top-k is TakeOrdered over |users| rows.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select("user_id", F.expr("unix_micros(ts)").alias("us"), "ts", "event_id")
        .withColumn("prev", F.lag("us").over(w))
        .filter(F.col("prev").isNotNull())
        .select("user_id", F.expr("us - prev").alias("g"))
    )
    per = gaps.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("g").cast("long").alias("s"),
        F.sum(F.col("g").cast("decimal(38,0)") * F.col("g")).alias("ss"),
    ).filter(F.col("n_gaps") >= BURST_MIN_GAPS)
    mu = "(CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))"
    sig = (
        "sqrt((CAST(n_gaps AS DOUBLE) * CAST(ss AS DOUBLE)"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
        " / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE)))"
    )
    b = f"(({sig} - {mu}) / ({sig} + {mu}))"
    scored = per.select(
        "user_id",
        "n_gaps",
        F.when(
            F.expr(f"{sig} + {mu}") > 0,
            F.expr(f"CAST(floor({b} * 1000000.0 + 0.5) AS BIGINT)"),
        ).alias("b_e6"),
    )
    return (
        scored.orderBy(F.desc_nulls_last("b_e6"), F.asc("user_id"))
        .limit(BURST_TOP)
        .select(
            "user_id",
            "n_gaps",
            "b_e6",
            F.expr("CAST(b_e6 AS DOUBLE) / 1000000.0").alias("burstiness"),
        )
    )


def _burstiness_sql() -> str:
    mu = "(CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))"
    sig = (
        "sqrt((CAST(n_gaps AS DOUBLE) * CAST(ss AS DOUBLE)"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
        " / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE)))"
    )
    b = f"(({sig} - {mu}) / ({sig} + {mu}))"
    return f"""
WITH gaps AS (
  SELECT user_id, us - lag(us) OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS g
  FROM (SELECT user_id, epoch_us(ts) AS us, ts, event_id
        FROM events WHERE user_id IS NOT NULL)),
per AS (
  SELECT user_id, COUNT(*)::BIGINT AS n_gaps,
         CAST(SUM(g) AS BIGINT) AS s,
         CAST(SUM(CAST(g AS DECIMAL(38,0)) * g) AS DECIMAL(38,0)) AS ss
  FROM gaps WHERE g IS NOT NULL
  GROUP BY user_id HAVING COUNT(*) >= {BURST_MIN_GAPS}),
scored AS (
  SELECT user_id, n_gaps,
         CASE WHEN {sig} + {mu} > 0 THEN
           CAST(floor({b} * 1000000.0 + 0.5) AS BIGINT)
         END AS b_e6
  FROM per)
SELECT user_id, n_gaps, b_e6,
       CAST(b_e6 AS DOUBLE) / 1000000.0 AS burstiness
FROM scored
ORDER BY b_e6 DESC NULLS LAST, user_id ASC
LIMIT {BURST_TOP}
"""


QUERIES = {
    "events_burstiness": events_burstiness,
    "events_periodicity_autocorr": events_periodicity_autocorr,
    "events_feature_asof": events_feature_asof,
    "events_funnel": events_funnel,
    "events_bot_score": events_bot_score,
    "events_cusum_changepoint": events_cusum_changepoint,
    "events_heatmap_hour_dow": events_heatmap_hour_dow,
    "events_inter_arrival": events_inter_arrival,
    "events_survival_km": events_survival_km,
    "events_windowed_funnel": events_windowed_funnel,
    "events_transition_matrix": events_transition_matrix,
    "events_resample_locf": events_resample_locf,
    "events_top_paths": events_top_paths,
    "events_anomaly_zscore": events_anomaly_zscore,
    "events_retention": events_retention,
    "events_tumbling_window": events_tumbling_window,
    "events_sliding_window": events_sliding_window,
    "events_dedup_earliest": events_dedup_earliest,
    "events_sessionize": events_sessionize,
    "events_json_extract": events_json_extract,
    "events_rfm_segments": events_rfm_segments,
    "events_power_users": events_power_users,
    "events_twap": events_twap,
    "events_ab_test": events_ab_test,
    "events_peak_concurrency": events_peak_concurrency,
    "events_attribution_linear": events_attribution_linear,
    "events_cohort_matrix": events_cohort_matrix,
    "events_wow_growth": events_wow_growth,
    "events_dau_wau_mau": events_dau_wau_mau,
    "events_streaks": events_streaks,
    "events_bounce_rate": events_bounce_rate,
    "events_new_vs_returning": events_new_vs_returning,
    "events_time_to_purchase": events_time_to_purchase,
    "events_attribution_touch": events_attribution_touch,
}

ORACLES = {
    "events_burstiness": _burstiness_sql(),
    "events_periodicity_autocorr": _autocorr_sql(),
    "events_feature_asof": _FEATURE_ASOF_SQL,
    "events_funnel": _FUNNEL_SQL,
    "events_windowed_funnel": _WINDOWED_FUNNEL_SQL,
    "events_transition_matrix": _TRANSITION_SQL,
    "events_resample_locf": _RESAMPLE_SQL,
    "events_top_paths": _TOP_PATHS_SQL,
    "events_anomaly_zscore": _ANOMALY_SQL,
    "events_retention": _RETENTION_SQL,
    "events_tumbling_window": _TUMBLING_SQL,
    "events_sliding_window": _SLIDING_SQL,
    "events_dedup_earliest": _DEDUP_EARLIEST_SQL,
    "events_sessionize": _SESSIONIZE_SQL,
    "events_json_extract": _JSON_SQL,
    "events_rfm_segments": _RFM_SQL,
    "events_power_users": _POWER_USERS_SQL,
    "events_twap": _TWAP_SQL,
    "events_ab_test": _AB_TEST_SQL,
    "events_peak_concurrency": _PEAK_SQL,
    "events_attribution_linear": _ATTRIBUTION_SQL,
    "events_cohort_matrix": _COHORT_SQL,
    "events_wow_growth": _WOW_SQL,
    "events_dau_wau_mau": _DAU_SQL,
    "events_streaks": _STREAKS_SQL,
    "events_bounce_rate": _bounce_sql(),
    "events_new_vs_returning": _NEW_RETURNING_SQL,
    "events_time_to_purchase": _time_to_purchase_sql(),
    "events_attribution_touch": _ATTR_TOUCH_SQL,
    "events_survival_km": _KM_SQL,
    "events_heatmap_hour_dow": _HEATMAP_SQL,
    "events_inter_arrival": _INTER_ARRIVAL_SQL,
    "events_bot_score": _BOT_SQL,
    "events_cusum_changepoint": _CUSUM_SQL,
}
