"""Relational operator surface, wave 3 (SURVEY.md §7.4).

Closes the remaining TPC-H-shaped gaps in the query inventory: Q11
(HAVING sum > fraction-of-global scalar subquery), Q12 (join +
conditional two-way counts), Q13 (outer-join distribution), Q15
(aggregate CTE + global-max selection), Q16 (distinct-count per
attribute group with NOT-IN exclusion), Q17 (per-key avg threshold
join-back), Q19 (disjunctive multi-band join predicates), Q20
(correlated-aggregate-gated semi-join chain), Q21 (semi + anti
self-joins on a keyed fact) — with these, all 22 TPC-H operator
shapes have an oracle-checked twin.

The reference (waldfalke/catme-etl-j) has no relational operators
(SURVEY.md §2.4); this layer is the engine's own DataFrame surface.
The testdata schema is narrower than real TPC-H (no l_shipmode /
l_commitdate / l_receiptdate / p_container / o_comment), so each
query keeps the original's *operator shape* with predicates re-cut to
the available columns; the docstrings note the substitution.

Same determinism conventions as waves 1-2 (functions/numeric.py).

Scale notes (100 TB posture):
* q12/q19: single fact-dim equi-join, map-side conditional partials —
  one shuffle each; the q19 OR-bands are a post-join filter on a
  broadcast-able dim.
* q13: two shuffles by construction (per-customer count, then
  distribution) — the second input is |customers| rows, tiny.
* q15: the revenue CTE shuffles once on l_suppkey; the global max is
  a 1-row broadcast, not a sort.
* q17: per-part avg is computed once via groupBy and joined back
  (exactly Spark's decorrelation of the original subquery), part
  filter broadcast.
* q21: semi+anti joins share the l_orderkey shuffle key, so AQE can
  reuse the exchange; per-order fan-out is bounded by lines-per-order.
* q11: one fact shuffle on l_partkey; the global total is a 1-row
  broadcast and the threshold compare is exact decimal (no float
  boundary).
* q16: supplier exclusion is an anti-join BEFORE the part join, so
  excluded rows never shuffle; distinct-count shuffles once on the
  group key. No forced broadcasts in q11/q16/q20 — their small sides
  (filtered supplier/part lists) grow with SF, so Catalyst/AQE picks
  broadcast from actual stats while they fit.
* q20: per-(supp, part) aggregate shuffles once; the per-part rollup
  reuses the same key prefix, and the correlated threshold is the
  q17-style decorrelated join-back with exact decimal/int arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from catme_etl_j_spark.functions.numeric import (
    dec2,
    dec2dbl_sql,
    money2,
    rdet,
    rdet_sql,
)
from catme_etl_j_spark.sources.tables import load_table


_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))"


# ---------------------------------------------------------------------------
# Q12-style: join + two conditional counts per group. The original
# classifies late receipts by ship mode; with no shipmode/receiptdate
# here, "late" = shipped >60 days after order date, grouped by
# l_linestatus, split urgent vs non-urgent priority.
# ---------------------------------------------------------------------------

def q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return late.groupBy("l_linestatus").agg(
        F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(urgent, 0).otherwise(1)).alias("low_line_count"),
    )


_Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_linestatus
"""


# ---------------------------------------------------------------------------
# Q13-style: outer-join count distribution. The original excludes
# orders by comment pattern; with no o_comment, exclude '5-LOW'
# priority instead. Customers with zero qualifying orders must appear
# in the c_count=0 bucket — that's the LEFT OUTER's job.
# ---------------------------------------------------------------------------

def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


_Q13_SQL = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust
GROUP BY c_count
"""


# ---------------------------------------------------------------------------
# Q15-style: aggregate CTE + select-the-max. Revenue per supplier over
# one quarter; return the supplier(s) achieving the maximum.
# ---------------------------------------------------------------------------

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(money2(F.sum(F.expr(_REV))).alias("total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


_Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey, CAST(round(SUM({_REV}), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


# ---------------------------------------------------------------------------
# Q17-style: per-key average threshold, joined back (Spark's own
# decorrelation of the original correlated subquery). Brand#3 stands
# in for the original's brand+container filter. The per-part average
# uses the exact decimal sum / count so the 0.2x threshold is
# bit-identical across engines (see functions/numeric.py).
# ---------------------------------------------------------------------------

def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    avg_q = j.groupBy(F.col("p_partkey").alias("ap_partkey")).agg(
        (
            F.sum(dec2("l_quantity")).cast("double") / F.count("*")
        ).alias("avg_qty")
    )
    small = j.join(
        F.broadcast(avg_q), j.l_partkey == avg_q.ap_partkey
    ).filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    return small.agg(
        rdet(F.sum(dec2("l_extendedprice")).cast("double") / F.lit(7.0), 2).alias(
            "avg_yearly"
        )
    )


_Q17_SQL = f"""
WITH j AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#3'),
avg_q AS (
  SELECT l_partkey AS ap_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM j GROUP BY l_partkey)
SELECT {rdet_sql("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0", 2)} AS avg_yearly
FROM j JOIN avg_q ON l_partkey = ap_partkey
WHERE l_quantity < 0.2 * avg_qty
"""


# ---------------------------------------------------------------------------
# Q19-style: disjunctive multi-band predicates over a part-lineitem
# join (the classic "OR of AND-bands" plan). Bands re-cut to p_brand /
# p_size / l_quantity (no container or shipmode columns here).
# ---------------------------------------------------------------------------

def q19_banded_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    band1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    band2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    band3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(band1 | band2 | band3).agg(
        money2(F.sum(F.expr(_REV))).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


_Q19_SQL = f"""
SELECT CAST(round(SUM({_REV}), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


# ---------------------------------------------------------------------------
# Q21-style: semi + anti self-joins. "Waiting supplier" = in a
# finished ('F') order, this supplier's line was returned ('R' stands
# in for the original's receipt>commit lateness), at least one other
# supplier contributed a line (EXISTS), and no other supplier's line
# was returned (NOT EXISTS). Count per supplier, top 20.
# ---------------------------------------------------------------------------

def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = load_table(spark, sf_dir, "supplier")
    base = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey, "left_semi")
        .select("l_orderkey", "l_suppkey")
    )
    other = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    other_r = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    waited = base.join(
        other,
        (base.l_orderkey == other.o2_orderkey) & (base.l_suppkey != other.o2_suppkey),
        "left_semi",
    ).join(
        other_r,
        (base.l_orderkey == other_r.o3_orderkey)
        & (base.l_suppkey != other_r.o3_suppkey),
        "left_anti",
    )
    return (
        waited.join(F.broadcast(supp), waited.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


_Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM orders o
              WHERE o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F')
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q11-style: group -> HAVING sum > fraction-of-global-sum (the scalar-
# subquery-over-an-aggregate archetype). No partsupp table here, so
# "stock value" is re-cut to lineitem revenue supplied by the low-half
# nations' suppliers, per part; keep parts contributing more than
# 1/10000 of that total. The threshold compare is EXACT decimal
# arithmetic on both engines (value * 10000 > total), so no float
# boundary can flip a row.
# ---------------------------------------------------------------------------

def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 12)
    vals = (
        # no broadcast hint: supplier grows with SF (O(SF*10k) rows);
        # Catalyst/AQE picks broadcast from stats while it's small
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(F.expr(_REV)).alias("value_dec"))
    )
    total = vals.agg(F.sum("value_dec").alias("total_dec"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.expr("value_dec * 10000 > total_dec"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            money2(F.col("value_dec")).alias("value"),
        )
    )


_Q11_SQL = f"""
WITH vals AS (
  SELECT l_partkey, SUM({_REV}) AS value_dec
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey < 12
  GROUP BY l_partkey),
total AS (SELECT SUM(value_dec) AS total_dec FROM vals)
SELECT l_partkey AS p_partkey,
       CAST(round(value_dec, 2) AS DOUBLE) AS value
FROM vals, total
WHERE value_dec * 10000 > total_dec
"""


# ---------------------------------------------------------------------------
# Q16-style: count DISTINCT suppliers per part attribute group, with a
# NOT-IN supplier exclusion (anti-join). No partsupp/s_comment here:
# supplier-part relationships come from lineitem, and the exclusion
# subset is suppliers with s_acctbal < 2500 (stand-in for the
# original's complaints pattern). Part filter keeps the original's
# brand-exclusion + size-IN-list shape.
# ---------------------------------------------------------------------------

def q16_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    excl = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 2500
    ).select("s_suppkey")
    # no broadcast hints: the exclusion set and the part filter both
    # grow with SF; Catalyst/AQE broadcasts them from stats while small
    kept = li.join(excl, li.l_suppkey == excl.s_suppkey, "left_anti")
    return (
        kept.join(part, kept.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 2500)
GROUP BY p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# Q20-style: nested semi-join chain gated by a correlated aggregate
# threshold. No partsupp availqty here: a supplier qualifies for a part
# if its 1997 shipped quantity of that 'widget' part exceeds half the
# part's average per-supplier shipped quantity. The threshold compare
# is exact (2 * qty * n_suppliers > part_total, all decimal/int), and
# the supplier list is the final left-semi join — the original's
# EXISTS-chain shape with Spark's decorrelation applied.
# ---------------------------------------------------------------------------

def q20_promotable_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget")
    ).select("p_partkey")
    supp = load_table(spark, sf_dir, "supplier")
    sp = (
        # no broadcast hint: the filtered part list is O(SF)
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec2("l_quantity")).alias("qty_dec"))
    )
    per_part = sp.groupBy(F.col("l_partkey").alias("pp_partkey")).agg(
        F.sum("qty_dec").alias("part_total"),
        F.count("*").alias("n_supp"),
    )
    qual = sp.join(
        per_part, sp.l_partkey == per_part.pp_partkey
    ).filter(F.expr("2 * qty_dec * n_supp > part_total"))
    return (
        supp.join(qual, supp.s_suppkey == qual.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


_Q20_SQL = """
WITH sp AS (
  SELECT l_suppkey, l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%widget'
    AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey, l_partkey),
per_part AS (
  SELECT l_partkey AS pp_partkey, SUM(qty_dec) AS part_total, COUNT(*) AS n_supp
  FROM sp GROUP BY l_partkey),
qual AS (
  SELECT DISTINCT l_suppkey
  FROM sp JOIN per_part ON l_partkey = pp_partkey
  WHERE 2 * qty_dec * n_supp > part_total)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM qual)
"""


# ---------------------------------------------------------------------------
# Unpivot (melt) — the inverse of pivot_order_status: wide per-status
# sums back to long (priority, status, sum_price) form. Spark's
# DataFrame.unpivot is a zero-shuffle Expand node; the oracle uses
# DuckDB's native UNPIVOT over the same pivoted CTE.
# ---------------------------------------------------------------------------


def unpivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    from catme_etl_j_spark.operators.relational import pivot_order_status

    wide = pivot_order_status(spark, sf_dir)
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["sum_open", "sum_finished", "sum_pending"],
        variableColumnName="status",
        valueColumnName="sum_price",
    )


# Composed from the pivot oracle (not copy-pasted) so the two halves
# cannot drift: the Spark side delegates to pivot_order_status the
# same way.
def _unpivot_sql() -> str:
    from catme_etl_j_spark.operators.relational import _PIVOT_SQL

    return f"""
WITH p AS ({_PIVOT_SQL})
UNPIVOT p ON sum_open, sum_finished, sum_pending
INTO NAME status VALUE sum_price
"""


# ---------------------------------------------------------------------------
# LATERAL correlated subquery — per-nation top-2 customers by balance.
# Exercises Catalyst's lateral-join decorrelation (DomainJoin ->
# window/limit rewrite); DuckDB runs the identical ANSI LATERAL text.
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT n.n_name, c.c_custkey, c.c_acctbal
FROM {nation} n,
LATERAL (SELECT c_custkey, c_acctbal FROM {customer}
         WHERE c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2) c
"""


def lateral_top2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_lv")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_lv")
    return spark.sql(_LATERAL_SQL.format(nation="nation_lv", customer="customer_lv"))


def window_revenue_7dma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily order revenue via a value-based
    RANGE frame (epoch-day ordering, RANGE BETWEEN 6 PRECEDING AND
    CURRENT ROW) — unlike a ROWS frame, calendar gaps shrink the
    window instead of silently reaching further back. Daily sums stay
    DECIMAL (exact, associative); only the final average divides.

    Scale: the daily aggregate collapses the fact table first, so the
    window runs over |days| rows — a single tiny-partition sort.
    """
    from pyspark.sql import Window as W

    from catme_etl_j_spark.functions.numeric import dec2, money2, rdet

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(dec2("o_totalprice")).alias("rev"), F.count("*").alias("n_orders")
    )
    keyed = daily.withColumn("day_n", F.datediff("day", F.lit("1970-01-01")))
    w = W.orderBy("day_n").rangeBetween(-6, 0)
    return (
        keyed.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_orders",
            money2(F.col("rev")).alias("revenue"),
            money2(F.sum("rev").over(w)).alias("rev_7d_total"),
            F.count("*").over(w).cast("long").alias("n_days_in_window"),
            rdet(
                F.sum("rev").over(w).cast("double") / F.count("*").over(w), 2
            ).alias("rev_7dma"),
        )
        .orderBy("day")
    )


_REV_7DMA_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       n_orders,
       CAST(round(rev, 2) AS DOUBLE) AS revenue,
       CAST(round(SUM(rev) OVER w, 2) AS DOUBLE) AS rev_7d_total,
       COUNT(*) OVER w AS n_days_in_window,
       floor(CAST(SUM(rev) OVER w AS DOUBLE) / COUNT(*) OVER w * 100.0 + 0.5) / 100.0 AS rev_7dma
FROM daily
WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
ORDER BY day
"""


def window_ewma_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-window EWMA (alpha=1/2, 14-day lookback) of daily
    revenue via the SCATTER pattern: the true EMA recursion
    ``ema_t = a*x_t + (1-a)*ema_{t-1}`` is non-associative, so no
    Spark window frame computes it — but truncating the tail at 14
    days (weight 2^-14 ~ 6e-5 of the mass) makes every output a
    FINITE weighted sum, and each day can then *scatter* its
    contribution forward: explode 14 (target_day, weight=2^(13-lag))
    rows per day and groupBy(target). Missing calendar days drop out
    of both numerator and weight mass (renormalized), mirroring the
    7dma's RANGE-frame gap handling.

    Determinism: day cents are exact DECIMAL->int64; weights are
    powers of two via shiftleft; the single DIV at the end truncates
    identically on both engines (positive operands, convention #7).

    Scale: the fact table collapses to |days| rows FIRST; the 14x
    scatter explodes the tiny daily aggregate, never the fact stream,
    and the groupBy(target) map-side combines. This is the
    general recipe for any bounded non-associative window at 100 TB.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(dec2("o_totalprice")).alias("rev")
    )
    cents = daily.select(
        "day", F.expr("CAST(rev * 100 AS BIGINT)").alias("day_cents")
    )
    contrib = cents.select(
        "day", "day_cents", F.explode(F.expr("sequence(0, 13)")).alias("l")
    ).select(
        F.expr("date_add(day, l)").alias("target"),
        F.expr("day_cents * shiftleft(CAST(1 AS BIGINT), 13 - l)").alias("wc"),
        F.expr("shiftleft(CAST(1 AS BIGINT), 13 - l)").alias("wt"),
    )
    agg = contrib.groupBy("target").agg(
        F.sum("wc").cast("long").alias("num"), F.sum("wt").cast("long").alias("den")
    )
    return (
        cents.join(agg, cents["day"] == agg["target"])
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "day_cents",
            F.expr("num DIV den").alias("ewma_cents"),
            F.col("den").alias("weight_mass"),
        )
        .orderBy("day")
    )


_EWMA_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY 1),
contrib AS (
  SELECT day + CAST(l AS INTEGER) AS target,
         cents * (1::BIGINT << (13 - l)) AS wc,
         (1::BIGINT << (13 - l)) AS wt
  FROM daily, (SELECT unnest(range(0, 14)) AS l) r),
agg AS (
  SELECT target, CAST(SUM(wc) AS BIGINT) AS num, CAST(SUM(wt) AS BIGINT) AS den
  FROM contrib GROUP BY target)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       d.cents AS day_cents,
       g.num // g.den AS ewma_cents,
       g.den AS weight_mass
FROM daily d JOIN agg g ON g.target = d.day
ORDER BY day
"""


# Weekday partial sums for a week STARTING THURSDAY (epoch day 0 =
# Thu 1970-01-01): _BDAY_PARTIAL[rem] = weekdays among the first `rem`
# days of such a week. Python-precomputed so neither engine touches
# its (mutually incompatible) dayofweek() numbering.
_BDAY_PARTIAL = (0, 1, 2, 2, 2, 3, 4)


def fn_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day (Mon-Fri) lead-time histogram between order date
    and each lineitem's ship date — calendar arithmetic done entirely
    in epoch-day integers, because the engines' dayofweek() functions
    disagree on numbering (Spark: 1=Sunday; DuckDB: 0=Sunday).

    g(ed) = 5*(ed DIV 7) + partial[ed %% 7] counts weekdays in
    [1970-01-01, ed) with the partial-week table Python-precomputed
    (epoch day 0 is a Thursday); business_days = g(ship) - g(order),
    NEGATIVE when the synthetic data ships before ordering (the same
    rows the SCD2 fact join books as PRE-HISTORY) — kept, not hidden,
    since g's difference form is antisymmetric and exact. Map-only
    expression work + one small groupBy; share in exact ppm.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = "array(" + ", ".join(str(v) for v in _BDAY_PARTIAL) + ")"
    g = (
        "(5 * (datediff(to_date({d}), DATE'1970-01-01') DIV 7)"
        f" + element_at({part},"
        " CAST(datediff(to_date({d}), DATE'1970-01-01') % 7 AS INT) + 1))"
    )
    joined = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == F.col("o_orderkey"),
    ).select(
        F.expr(
            g.format(d="l_shipdate") + " - " + g.format(d="o_orderdate")
        ).alias("business_days")
    )
    per = joined.groupBy("business_days").agg(F.count("*").alias("n_items"))
    tot = per.agg(F.sum("n_items").alias("tn"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("business_days").cast("long").alias("business_days"),
            "n_items",
            F.expr("CAST(n_items * 1000000 AS BIGINT) DIV tn").alias("share_ppm"),
        )
        .orderBy("business_days")
    )


def _bday_sql() -> str:
    part = "list_value(" + ", ".join(str(v) for v in _BDAY_PARTIAL) + ")"
    g = (
        "(5 * ((CAST(date_trunc('day', {d}) AS DATE) - DATE '1970-01-01') // 7)"
        f" + {part}[CAST((CAST(date_trunc('day', {{d}}) AS DATE)"
        " - DATE '1970-01-01') % 7 AS INTEGER) + 1])"
    )
    return f"""
WITH j AS (
  SELECT {g.format(d="l.l_shipdate")} - {g.format(d="o.o_orderdate")}
           AS business_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
per AS (
  SELECT business_days, COUNT(*) AS n_items FROM j GROUP BY business_days),
tot AS (SELECT SUM(n_items) AS tn FROM per)
SELECT CAST(business_days AS BIGINT) AS business_days,
       n_items,
       CAST(n_items * 1000000 // tn AS BIGINT) AS share_ppm
FROM per, tot
ORDER BY business_days
"""


def window_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of monthly revenue: trend =
    centered 13-month moving average (a value-based RANGE frame over
    months-since-epoch, so calendar gaps shrink the window), seasonal
    index = month / trend. An index persistently above 1 marks a high
    season — the planning number behind inventory/capacity curves.

    Determinism: monthly sums are exact DECIMAL; the trend divides the
    exact window sum by the window count once; the index is one more
    IEEE division, both through rdet. The fact table collapses to
    |months| rows before any window (the 7dma posture).
    """
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.expr(
            "(year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1"
        ).alias("month_n")
    ).agg(F.sum(dec2("o_totalprice")).alias("rev"), F.count("*").alias("n_orders"))
    w = W.orderBy("month_n").rangeBetween(-6, 6)
    trend = F.sum("rev").over(w).cast("double") / F.count("*").over(w)
    return monthly.select(
        F.expr(
            "concat(CAST(1970 + month_n DIV 12 AS STRING), '-',"
            " lpad(CAST(month_n % 12 + 1 AS STRING), 2, '0'))"
        ).alias("month"),
        "n_orders",
        money2(F.col("rev")).alias("revenue"),
        rdet(trend, 2).alias("trend"),
        # a zero trend (all-zero revenue window) leaves the index
        # undefined: NULL on both engines, not an ANSI 0/0 crash
        F.when(trend != 0, rdet(F.col("rev").cast("double") / trend, 4))
        .otherwise(F.lit(None).cast("double"))
        .alias("seasonal_index"),
        F.count("*").over(w).cast("long").alias("n_months_in_window"),
    ).orderBy("month")


_SEASONAL_SQL = f"""
WITH monthly AS (
  SELECT (year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1 AS month_n,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1)
SELECT concat(CAST(1970 + month_n // 12 AS VARCHAR), '-',
              lpad(CAST(month_n % 12 + 1 AS VARCHAR), 2, '0')) AS month,
       n_orders,
       CAST(round(rev, 2) AS DOUBLE) AS revenue,
       {rdet_sql("CAST(SUM(rev) OVER w AS DOUBLE) / COUNT(*) OVER w", 2)} AS trend,
       CASE WHEN CAST(SUM(rev) OVER w AS DOUBLE) <> 0
            THEN {rdet_sql("CAST(rev AS DOUBLE) / (CAST(SUM(rev) OVER w AS DOUBLE) / COUNT(*) OVER w)", 4)}
       END AS seasonal_index,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_months_in_window
FROM monthly
WINDOW w AS (ORDER BY month_n RANGE BETWEEN 6 PRECEDING AND 6 FOLLOWING)
ORDER BY month
"""


# ---------------------------------------------------------------------------
# UNPIVOT over MEASURE columns — lineitem's three charge components to
# long form, then per-measure profiling. Complements unpivot_order_status
# (which unpivots a pivot result): this one runs UNPIVOT over a raw fact
# table's measures, the melt step every metrics pipeline needs before a
# generic per-metric aggregation.
# ---------------------------------------------------------------------------


def unpivot_lineitem_charges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt (extendedprice, discount, tax) into (charge, value) rows and
    profile each measure: row count, min/max, DECIMAL-exact sum.

    Scale shape: UNPIVOT is a row-local generate (3x fan-out, no
    shuffle); the profile aggregates map-side to 3 keys. Monetary
    arithmetic via DECIMAL(18,4) (discount/tax are 4-dp rates),
    rendered through a 4-dp fixed double (convention #2).
    """
    from catme_etl_j_spark.functions.numeric import rdet

    li = load_table(spark, sf_dir, "lineitem")
    long = li.select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_tax"
    ).unpivot(
        ids=["l_orderkey"],
        values=["l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="charge",
        valueColumnName="value",
    )
    return (
        long.groupBy("charge")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            rdet(F.min("value"), 4).alias("min_value"),
            rdet(F.max("value"), 4).alias("max_value"),
            F.sum(F.expr("CAST(value AS DECIMAL(18,4))"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("charge")
    )


_UNPIVOT_CHARGES_SQL = f"""
WITH long AS (
  UNPIVOT (SELECT l_orderkey, l_extendedprice, l_discount, l_tax FROM lineitem)
  ON l_extendedprice, l_discount, l_tax
  INTO NAME charge VALUE value)
SELECT charge,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {rdet_sql('MIN(value)', 4)} AS min_value,
       {rdet_sql('MAX(value)', 4)} AS max_value,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM long
GROUP BY charge
ORDER BY charge
"""


# LATERAL against a derived (DISTINCT) driving table — per-brand top-3
# parts by retail price. Complements lateral_top2_customers (dimension
# table drives): here the correlated subquery and the driver come from
# the SAME fact table, the self-referential decorrelation case.
_LATERAL_PARTS_SQL = """
SELECT b.p_brand, p.p_partkey, p.p_retailprice
FROM (SELECT DISTINCT p_brand FROM {part}) b,
LATERAL (SELECT p_partkey, p_retailprice FROM {part}
         WHERE p_brand = b.p_brand
         ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 3) p
"""


def lateral_top3_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part_lv")
    return spark.sql(_LATERAL_PARTS_SQL.format(part="part_lv"))


DRAWDOWN_TOP = 20
_DD_SCALE = 1_000_000  # integer drawdown fixed-point (ppm)


def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak drawdown of daily order revenue: for each day, the
    all-time-high daily revenue so far and the fractional drop from it
    — the resilience metric (worst demand collapse) a forecast/alert
    system tracks; output is the 20 deepest drawdown days.

    Pure integer end-to-end: daily revenue is an exact DECIMAL->cents
    int64, the running peak is an integer window MAX, and the drawdown
    fraction is ``(peak - rev) * 1e6 DIV peak`` — non-negative
    operands, so DuckDB ``//`` truncation == Spark DIV (convention
    #7). Ties rank by day ASC; day renders as a formatted string
    (convention #3); day keys via TZ-free datediff (convention #10 —
    o_orderdate is TIMESTAMP_NTZ). A zero running peak (every day so
    far summed to exactly 0.00 — in-contract: the degenerate fixture
    uses o_totalprice = 0.0) has no defined drawdown: 0/0 throws under
    ANSI Spark and errors in DuckDB, so the ratio is NULL on both
    engines with NULLS LAST pinned in the ORDER BY (convention #9/#10;
    ADVICE r8).

    Scale: the fact table collapses to |days| rows first; the running
    MAX and the top-k are single bounded-partition passes over the
    calendar, never the fact stream.
    """
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
        ).cast("long").alias("rev_cents")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    dd = daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "rev_cents",
        F.max("rev_cents").over(w).cast("long").alias("peak_cents"),
    ).select(
        "day",
        "rev_cents",
        "peak_cents",
        F.expr(
            f"CASE WHEN peak_cents > 0 THEN "
            f"(peak_cents - rev_cents) * {_DD_SCALE} DIV peak_cents "
            f"ELSE NULL END"
        ).alias("drawdown_ppm"),
    )
    return (
        dd.orderBy(F.desc_nulls_last("drawdown_ppm"), F.asc("day"))
        .limit(DRAWDOWN_TOP)
        .select(
            "day",
            "rev_cents",
            "peak_cents",
            "drawdown_ppm",
            F.expr(f"CAST(drawdown_ppm AS DOUBLE) / {_DD_SCALE}.0").alias(
                "drawdown"
            ),
        )
    )


_MAX_DRAWDOWN_SQL = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1),
dd AS (
  SELECT strftime(day, '%Y-%m-%d') AS day, rev_cents,
         CAST(MAX(rev_cents) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS peak_cents
  FROM daily)
SELECT day, rev_cents, peak_cents,
       CASE WHEN peak_cents > 0
            THEN (peak_cents - rev_cents) * {_DD_SCALE} // peak_cents
            ELSE NULL END AS drawdown_ppm,
       CAST(CASE WHEN peak_cents > 0
                 THEN (peak_cents - rev_cents) * {_DD_SCALE} // peak_cents
                 ELSE NULL END AS DOUBLE)
         / {_DD_SCALE}.0 AS drawdown
FROM dd
ORDER BY drawdown_ppm DESC NULLS LAST, day ASC
LIMIT {DRAWDOWN_TOP}
"""


BOLL_WINDOW_DAYS = 20  # classic Bollinger lookback
BOLL_K = 2  # band half-width in sigmas


def window_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (Bollinger 1992 — public) over daily order
    revenue: 20-day RANGE-frame moving average +- 2 rolling standard
    deviations, with a per-day band-position flag ('above'/'in'/
    'below') — the volatility-envelope anomaly screen for any daily
    metric (here revenue; a pipeline would run it on ingest volume).

    Determinism: daily revenue is exact cents (DECIMAL sum -> int64);
    the window accumulates sum and sum-of-squares as DECIMAL(38,0)
    (cents^2 sums exceed 2^53, so double accumulation would be
    order-dependent; DECIMAL is exact+associative). The >2^53 sums
    reach DOUBLE via the dec2dbl hi/lo split — a PLAIN cast of such an
    integer rounds differently on Spark vs DuckDB (1 ulp), which this
    query caught live at sf0.1 when that ulp crossed an rdet boundary
    (functions/numeric.py note). Both engines then run the IDENTICAL
    double formula var = (n*sxx - sx*sx)/(n*n), clamped at 0 against
    cancellation dust, so sqrt and the band compares see the same
    bits. Outputs through rdet (convention #1).

    Scale shape: the fact table collapses to |days| rows FIRST (one
    map-side-combined groupBy); both window aggregates share one
    single-partition sort over that tiny daily frame — same posture
    as window_revenue_7dma. RANGE (value-based) frame: calendar gaps
    shrink the window rather than reaching further back.
    """
    from pyspark.sql import Window as W

    from catme_etl_j_spark.functions.numeric import dec2, dec2dbl, rdet

    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(dec2("o_totalprice")).alias("rev"))
        .select(
            "day",
            F.expr("CAST(rev * 100 AS BIGINT)").alias("cents"),
        )
        .withColumn("day_n", F.datediff("day", F.lit("1970-01-01")))
    )
    w = W.orderBy("day_n").rangeBetween(-(BOLL_WINDOW_DAYS - 1), 0)
    sx = F.sum(F.col("cents").cast("decimal(38,0)")).over(w)
    sxx = F.sum(
        (F.col("cents").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)")).cast(
            "decimal(38,0)"
        )
    ).over(w)
    n = F.count("*").over(w).cast("long")
    stats = daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        n.alias("n_days_in_window"),
        F.col("cents").alias("rev_cents"),
        dec2dbl(sx).alias("sx"),
        dec2dbl(sxx).alias("sxx"),
    )
    nn = F.col("n_days_in_window").cast("double")
    mean_c = F.col("sx") / nn
    var_c = F.expr("greatest((n_days_in_window * sxx - sx * sx) "
                   "/ (CAST(n_days_in_window AS DOUBLE) * n_days_in_window), 0.0)")
    sig_c = F.sqrt(var_c)
    upper_c = mean_c + F.lit(float(BOLL_K)) * sig_c
    lower_c = mean_c - F.lit(float(BOLL_K)) * sig_c
    rev_c = F.col("rev_cents").cast("double")
    return stats.select(
        "day",
        "n_days_in_window",
        rdet(rev_c / F.lit(100.0), 2).alias("revenue"),
        rdet(mean_c / F.lit(100.0), 4).alias("ma20"),
        rdet(sig_c / F.lit(100.0), 4).alias("sigma"),
        rdet(upper_c / F.lit(100.0), 4).alias("upper_band"),
        rdet(lower_c / F.lit(100.0), 4).alias("lower_band"),
        F.when(rev_c > upper_c, F.lit("above"))
        .when(rev_c < lower_c, F.lit("below"))
        .otherwise(F.lit("in"))
        .alias("band_pos"),
    ).orderBy("day")


_BOLLINGER_SQL = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY 1),
keyed AS (
  SELECT day, cents,
         date_diff('day', DATE '1970-01-01', day) AS day_n
  FROM daily),
win AS (
  SELECT strftime(day, '%Y-%m-%d') AS day,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_days_in_window,
         cents AS rev_cents,
         {dec2dbl_sql("SUM(CAST(cents AS DECIMAL(38,0))) OVER w")} AS sx,
         {dec2dbl_sql("SUM(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))) OVER w")} AS sxx
  FROM keyed
  WINDOW w AS (ORDER BY day_n RANGE BETWEEN {BOLL_WINDOW_DAYS - 1} PRECEDING AND CURRENT ROW))
SELECT day, n_days_in_window,
       {rdet_sql("CAST(rev_cents AS DOUBLE) / 100.0", 2)} AS revenue,
       {rdet_sql("(sx / n_days_in_window) / 100.0", 4)} AS ma20,
       {rdet_sql("sqrt(greatest((n_days_in_window * sxx - sx * sx) / (CAST(n_days_in_window AS DOUBLE) * n_days_in_window), 0.0)) / 100.0", 4)} AS sigma,
       {rdet_sql("(sx / n_days_in_window + " + str(float(BOLL_K)) + " * sqrt(greatest((n_days_in_window * sxx - sx * sx) / (CAST(n_days_in_window AS DOUBLE) * n_days_in_window), 0.0))) / 100.0", 4)} AS upper_band,
       {rdet_sql("(sx / n_days_in_window - " + str(float(BOLL_K)) + " * sqrt(greatest((n_days_in_window * sxx - sx * sx) / (CAST(n_days_in_window AS DOUBLE) * n_days_in_window), 0.0))) / 100.0", 4)} AS lower_band,
       CASE WHEN CAST(rev_cents AS DOUBLE) > sx / n_days_in_window + {float(BOLL_K)} * sqrt(greatest((n_days_in_window * sxx - sx * sx) / (CAST(n_days_in_window AS DOUBLE) * n_days_in_window), 0.0)) THEN 'above'
            WHEN CAST(rev_cents AS DOUBLE) < sx / n_days_in_window - {float(BOLL_K)} * sqrt(greatest((n_days_in_window * sxx - sx * sx) / (CAST(n_days_in_window AS DOUBLE) * n_days_in_window), 0.0)) THEN 'below'
            ELSE 'in' END AS band_pos
FROM win
ORDER BY day
"""


QUERIES = {
    "window_bollinger_bands": window_bollinger_bands,
    "window_max_drawdown": window_max_drawdown,
    "window_revenue_7dma": window_revenue_7dma,
    "window_seasonal_index": window_seasonal_index,
    "fn_business_days": fn_business_days,
    "window_ewma_scatter": window_ewma_scatter,
    "q11_important_stock": q11_important_stock,
    "q16_parts_supplier_count": q16_parts_supplier_count,
    "q20_promotable_suppliers": q20_promotable_suppliers,
    "q12_late_lines": q12_late_lines,
    "q13_order_distribution": q13_order_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q19_banded_revenue": q19_banded_revenue,
    "q21_waiting_supplier": q21_waiting_supplier,
    "unpivot_order_status": unpivot_order_status,
    "unpivot_lineitem_charges": unpivot_lineitem_charges,
    "lateral_top2_customers": lateral_top2_customers,
    "lateral_top3_parts": lateral_top3_parts,
}

ORACLES = {
    "window_bollinger_bands": _BOLLINGER_SQL,
    "window_max_drawdown": _MAX_DRAWDOWN_SQL,
    "window_revenue_7dma": _REV_7DMA_SQL,
    "fn_business_days": _bday_sql(),
    "window_seasonal_index": _SEASONAL_SQL,
    "window_ewma_scatter": _EWMA_SQL,
    "q11_important_stock": _Q11_SQL,
    "q16_parts_supplier_count": _Q16_SQL,
    "q20_promotable_suppliers": _Q20_SQL,
    "q12_late_lines": _Q12_SQL,
    "q13_order_distribution": _Q13_SQL,
    "q15_top_supplier": _Q15_SQL,
    "q17_small_quantity_revenue": _Q17_SQL,
    "q19_banded_revenue": _Q19_SQL,
    "q21_waiting_supplier": _Q21_SQL,
    "unpivot_order_status": _unpivot_sql(),
    "unpivot_lineitem_charges": _UNPIVOT_CHARGES_SQL,
    "lateral_top2_customers": _LATERAL_SQL.format(
        nation="nation", customer="customer"
    ),
    "lateral_top3_parts": _LATERAL_PARTS_SQL.format(part="part"),
}
