"""As-of join — an operator Spark lacks natively (SURVEY.md §7.4).

Implemented as a composition of built-in DataFrame ops (preference (a)
from the custom-operator ladder): a window ``last(..., ignorenulls)``
over the union of both streams, partitioned by key and ordered by
time. This is the scale-friendly formulation — one shuffle on
(key, time), no range-explosion, no per-group pandas — and it matches
DuckDB's native ``ASOF JOIN`` semantics exactly: at an equal
cross-stream timestamp the right-side (view) row sorts first in the
window, so it IS matched (``<=`` / allow_exact_matches=True).

Use case here: for every ``purchase`` event, the most recent prior
``view`` event of the same user.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from catme_etl_j_spark.sources.tables import load_table

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _view_first():
    """Tie-break at an exact-equal cross-stream timestamp: views sort
    BEFORE purchases, so an equal-ts view IS matched — the
    ``v.ts <= p.ts`` / allow_exact_matches=True semantics of DuckDB
    ASOF JOIN and pandas merge_asof (ADVICE r4: previously this rested
    on the "no exact-equal cross-stream timestamps" data assumption).
    Built lazily — Column construction needs an active session."""
    return F.when(F.col("event_type") == "view", 0).otherwise(1)


def asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", _view_first(), "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    with_prior = ev.withColumn("last_view_ts", F.last(view_ts, ignorenulls=True).over(w))
    return (
        with_prior.filter(F.col("event_type") == "purchase")
        .filter(F.col("last_view_ts").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.date_format("ts", _TS_FMT).alias("purchase_ts"),
            F.date_format("last_view_ts", _TS_FMT).alias("view_ts"),
        )
    )


_ASOF_SQL = """
SELECT p.event_id AS purchase_id,
       p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND v.ts <= p.ts
"""


ASOF_TOLERANCE_S = 3600.0  # 1 hour


def asof_purchase_view_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of join (pd.merge_asof ``tolerance=``
    semantics): each purchase matched to the most recent prior view of
    the same user ONLY if it happened within the last hour; staler
    matches drop out.

    Same one-window composition as asof_purchase_view plus a post-fill
    gap filter — the tolerance costs nothing extra at scale (no range
    explosion; the oracle's range join is DuckDB-side only). The gap is
    exact microsecond arithmetic on both engines.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", _view_first(), "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    gap = F.col("ts").cast("double") - F.col("last_view_ts").cast("double")
    return (
        ev.withColumn("last_view_ts", F.last(view_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .filter(F.col("last_view_ts").isNotNull())
        .filter(gap <= ASOF_TOLERANCE_S)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.date_format("ts", _TS_FMT).alias("purchase_ts"),
            F.date_format("last_view_ts", _TS_FMT).alias("view_ts"),
            gap.alias("gap_s"),
        )
    )


_ASOF_1H_SQL = f"""
WITH matched AS (
  SELECT p.event_id, p.user_id, p.ts AS pts, MAX(v.ts) AS vts
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  JOIN (SELECT * FROM events WHERE event_type = 'view') v
    ON p.user_id = v.user_id AND v.ts <= p.ts
   AND epoch(p.ts) - epoch(v.ts) <= {ASOF_TOLERANCE_S}
  GROUP BY p.event_id, p.user_id, p.ts)
SELECT event_id AS purchase_id,
       user_id,
       strftime(pts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       strftime(vts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
       epoch(pts) - epoch(vts) AS gap_s
FROM matched
"""


def asof_next_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: for every purchase, the user's next ``view``
    STRICTLY after it (time-to-reengagement analysis) — the mirrored
    window of :func:`asof_purchase_view`: ``first(..., ignorenulls)``
    over (current row, unbounded following). At an exact-equal
    timestamp the view sorts BEFORE the purchase, so it is NOT matched
    (strict-after / allow_exact_matches=False), on both engines.
    Same single (user, time)-shuffle scale shape as the backward join.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", _view_first(), "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    with_next = ev.withColumn(
        "next_view_ts", F.first(view_ts, ignorenulls=True).over(w)
    )
    return (
        with_next.filter(F.col("event_type") == "purchase")
        .filter(F.col("next_view_ts").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.date_format("ts", _TS_FMT).alias("purchase_ts"),
            F.date_format("next_view_ts", _TS_FMT).alias("view_ts"),
        )
    )


_ASOF_NEXT_SQL = """
WITH ev AS (SELECT * FROM events WHERE event_type IN ('purchase', 'view')),
marked AS (
  SELECT event_id, user_id, event_type, ts,
         first_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS) OVER (
             PARTITION BY user_id
             ORDER BY ts, CASE WHEN event_type = 'view' THEN 0 ELSE 1 END, event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_view_ts
  FROM ev)
SELECT event_id AS purchase_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       strftime(next_view_ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts
FROM marked
WHERE event_type = 'purchase' AND next_view_ts IS NOT NULL
"""


def asof_nearest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of (pandas ``merge_asof(direction='nearest')``): for
    every purchase, the temporally closest view in EITHER direction —
    both one-sided windows from the backward/forward joins computed in
    the same single (user, time)-ordered pass, then an exact integer
    microsecond comparison picks the nearer side (tie -> the earlier,
    i.e. backward, match; equal-timestamp views match backward with
    gap 0). Still one shuffle; no range explosion.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    order = ["ts", _view_first(), "event_id"]
    wb = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    both = ev.withColumn(
        "prev_ts", F.last(view_ts, ignorenulls=True).over(wb)
    ).withColumn("next_ts", F.first(view_ts, ignorenulls=True).over(wf))
    us = F.unix_micros
    gap_prev = us(F.col("ts")) - us(F.col("prev_ts"))
    gap_next = us(F.col("next_ts")) - us(F.col("ts"))
    take_prev = F.col("prev_ts").isNotNull() & (
        F.col("next_ts").isNull() | (gap_prev <= gap_next)
    )
    return (
        both.filter(F.col("event_type") == "purchase")
        .filter(F.col("prev_ts").isNotNull() | F.col("next_ts").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.date_format("ts", _TS_FMT).alias("purchase_ts"),
            F.date_format(
                F.when(take_prev, F.col("prev_ts")).otherwise(F.col("next_ts")),
                _TS_FMT,
            ).alias("view_ts"),
            F.when(take_prev, F.lit("backward"))
            .otherwise(F.lit("forward"))
            .alias("direction"),
            F.when(take_prev, gap_prev).otherwise(gap_next).alias("gap_us"),
        )
    )


_ASOF_NEAREST_SQL = """
WITH ev AS (SELECT * FROM events WHERE event_type IN ('purchase', 'view')),
marked AS (
  SELECT event_id, user_id, event_type, ts,
         last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS) OVER (
             PARTITION BY user_id
             ORDER BY ts, CASE WHEN event_type = 'view' THEN 0 ELSE 1 END, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts,
         first_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS) OVER (
             PARTITION BY user_id
             ORDER BY ts, CASE WHEN event_type = 'view' THEN 0 ELSE 1 END, event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
  FROM ev),
picked AS (
  SELECT event_id, user_id, ts, prev_ts, next_ts,
         epoch_us(ts) - epoch_us(prev_ts) AS gap_prev,
         epoch_us(next_ts) - epoch_us(ts) AS gap_next,
         (prev_ts IS NOT NULL AND (next_ts IS NULL
              OR epoch_us(ts) - epoch_us(prev_ts) <= epoch_us(next_ts) - epoch_us(ts)))
           AS take_prev
  FROM marked
  WHERE event_type = 'purchase' AND (prev_ts IS NOT NULL OR next_ts IS NOT NULL))
SELECT event_id AS purchase_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       strftime(CASE WHEN take_prev THEN prev_ts ELSE next_ts END,
                '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
       CASE WHEN take_prev THEN 'backward' ELSE 'forward' END AS direction,
       CAST(CASE WHEN take_prev THEN gap_prev ELSE gap_next END AS BIGINT) AS gap_us
FROM picked
"""


QUERIES = {
    "asof_purchase_view": asof_purchase_view,
    "asof_purchase_view_1h": asof_purchase_view_1h,
    "asof_next_view": asof_next_view,
    "asof_nearest_view": asof_nearest_view,
}
ORACLES = {
    "asof_purchase_view": _ASOF_SQL,
    "asof_purchase_view_1h": _ASOF_1H_SQL,
    "asof_next_view": _ASOF_NEXT_SQL,
    "asof_nearest_view": _ASOF_NEAREST_SQL,
}
