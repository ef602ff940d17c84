"""Relational operator surface, wave 2 (SURVEY.md §7.4).

More TPC-H-shaped workloads plus operator classes wave 1 didn't cover:
conditional-semi-join EXISTS (Q4), window-over-aggregate ratio (Q8),
conditional-aggregate ratio (Q14), having + join-back (Q18), scalar
subquery + anti join (Q22), cross join, ordered string aggregation,
exact-sum variance/stddev, manual median, and array functions.

Same determinism conventions as wave 1 (functions/numeric.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from catme_etl_j_spark.functions.numeric import avg4, dec2, dec4, money2, rdet, rdet_sql
from catme_etl_j_spark.functions.tokens import split_words, words
from catme_etl_j_spark.sources.tables import load_table


_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))"


# ---------------------------------------------------------------------------
# Q4-style: EXISTS with a cross-table predicate (conditional semi join).
# ---------------------------------------------------------------------------

def q04_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (orders.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > F.date_add(orders.o_orderdate, 30)
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_Q04_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q8-style: revenue share per supplier nation and year (window over agg).
# ---------------------------------------------------------------------------

def q08_nation_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"), F.col("n_name"))
        .agg(money2(F.sum(F.expr(_REV))).alias("revenue"))
    )
    w = W.partitionBy("order_year")
    return rev.select(
        "order_year",
        "n_name",
        "revenue",
        rdet(F.col("revenue") / F.sum("revenue").over(w), 6).alias("share"),
    )


_Q08_SQL = f"""
WITH rev AS (
  SELECT year(o_orderdate) AS order_year, n_name,
         CAST(round(SUM({_REV}), 2) AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2)
SELECT order_year, n_name, revenue,
       {rdet_sql("revenue / SUM(revenue) OVER (PARTITION BY order_year)", 6)} AS share
FROM rev
"""


# ---------------------------------------------------------------------------
# Q14-style: conditional-aggregate ratio (promo revenue share by month).
# ---------------------------------------------------------------------------

def q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    rev = F.expr(_REV)
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,4)")))
    total = F.sum(rev)
    return (
        j.groupBy(F.month("l_shipdate").cast("long").alias("ship_month"))
        .agg(promo.alias("promo_dec"), total.alias("total_dec"))
        .select(
            "ship_month",
            rdet(F.lit(100.0) * F.col("promo_dec").cast("double") / F.col("total_dec").cast("double"), 4).alias(
                "promo_ratio"
            ),
            money2(F.col("total_dec")).alias("total_revenue"),
        )
    )


_Q14_SQL = f"""
WITH m AS (
  SELECT month(l_shipdate) AS ship_month,
         SUM(CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo_dec,
         SUM({_REV}) AS total_dec
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1)
SELECT ship_month,
       {rdet_sql("100.0 * CAST(promo_dec AS DOUBLE) / CAST(total_dec AS DOUBLE)", 4)} AS promo_ratio,
       CAST(round(total_dec, 2) AS DOUBLE) AS total_revenue
FROM m
"""


# ---------------------------------------------------------------------------
# Q18-style: HAVING on a grouped fact, joined back to dims, top-k.
# ---------------------------------------------------------------------------

def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(money2(F.sum(dec2("l_quantity"))).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("l_orderkey"))
        .limit(20)
    )


_Q18_SQL = """
WITH big AS (
  SELECT l_orderkey, CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) > 150)
SELECT c_custkey, c_name, l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_totalprice, sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, l_orderkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q22-style: scalar subquery threshold + anti join.
# ---------------------------------------------------------------------------

def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.agg(
        avg4(F.sum(dec2("c_acctbal")), F.count("*")).alias("avg_bal")
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    pending = orders.filter(F.col("o_orderstatus") == "P")
    return (
        rich.join(pending, rich.c_custkey == pending.o_custkey, "left_anti")
        .select("c_custkey", "c_acctbal", "c_mktsegment")
    )


_Q22_SQL = """
SELECT c_custkey, c_acctbal, c_mktsegment
FROM customer c
WHERE c_acctbal > (
  SELECT floor(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0
  FROM customer)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
"""


# ---------------------------------------------------------------------------
# Cross join (small dims only — documented as a scale hazard otherwise).
# ---------------------------------------------------------------------------

def cross_join_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").select("r_name")
    status = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(status)


_CROSS_SQL = """
SELECT r_name, o_orderstatus
FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
"""


# ---------------------------------------------------------------------------
# Ordered string aggregation.
# ---------------------------------------------------------------------------

def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    return supp.groupBy("s_nationkey").agg(
        F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias("suppliers"),
        F.count("*").alias("n"),
    )


_STRING_CONCAT_SQL = """
SELECT s_nationkey,
       string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
       COUNT(*) AS n
FROM supplier GROUP BY s_nationkey
"""


# ---------------------------------------------------------------------------
# Exact-sum statistics (variance/stddev without engine-specific
# accumulation: derived from exact decimal sums, identical everywhere).
# ---------------------------------------------------------------------------

def agg_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    sums = cust.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum(dec2("c_acctbal")).alias("s_dec"),
        F.sum(dec2("c_acctbal") * dec2("c_acctbal")).alias("sq_dec"),
    )
    s_d = F.col("s_dec").cast("double")
    sq_d = F.col("sq_dec").cast("double")
    n = F.col("n")
    var = (sq_d - s_d * (s_d / n)) / (n - 1)
    # sample variance needs n >= 2: singleton segments yield NULL on
    # both engines, not an ANSI /0 crash (degenerate-probe guard)
    nul = F.lit(None).cast("double")
    return sums.select(
        "c_mktsegment",
        "n",
        rdet(s_d / n, 4).alias("mean_bal"),
        F.when(n >= 2, rdet(var, 4)).otherwise(nul).alias("var_bal"),
        F.when(n >= 2, rdet(F.sqrt(var), 4)).otherwise(nul).alias("std_bal"),
    )


_STATS_SQL = f"""
WITH s AS (
  SELECT c_mktsegment, COUNT(*) AS n,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS s_d,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sq_d
  FROM customer GROUP BY c_mktsegment)
SELECT c_mktsegment, n,
       {rdet_sql("s_d / n", 4)} AS mean_bal,
       CASE WHEN n >= 2 THEN {rdet_sql("(sq_d - s_d * (s_d / n)) / (n - 1)", 4)} END AS var_bal,
       CASE WHEN n >= 2 THEN {rdet_sql("sqrt((sq_d - s_d * (s_d / n)) / (n - 1))", 4)} END AS std_bal
FROM s
"""


# ---------------------------------------------------------------------------
# Manual exact median (identical window algebra on both engines).
# ---------------------------------------------------------------------------

def agg_median_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    ranked = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("o_orderpriority")).alias("cnt"),
    )
    mid = ranked.filter(
        (F.col("rn") == (F.col("cnt") + 1) / 2)
        | (F.col("rn") == F.col("cnt") / 2 + 1)
        | (F.col("rn") == F.col("cnt") / 2)
    ).filter(
        ((F.col("cnt") % 2 == 1) & (F.col("rn") == (F.col("cnt") + 1) / 2))
        | ((F.col("cnt") % 2 == 0) & F.col("rn").isin(F.col("cnt") / 2, F.col("cnt") / 2 + 1))
    )
    return mid.groupBy("o_orderpriority").agg(
        rdet(F.sum(dec2("o_totalprice")).cast("double") / F.count("*"), 4).alias("median_price")
    )


_MEDIAN_SQL = f"""
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
  FROM orders),
mid AS (
  SELECT * FROM ranked
  WHERE (cnt % 2 = 1 AND rn = (cnt + 1) // 2)
     OR (cnt % 2 = 0 AND (rn = cnt // 2 OR rn = cnt // 2 + 1)))
SELECT o_orderpriority,
       {rdet_sql("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)", 4)} AS median_price
FROM mid GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Array functions over documents.
# ---------------------------------------------------------------------------

def fn_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = words()
    return docs.select(
        "doc_id",
        F.element_at(toks, 1).alias("first_word"),
        F.element_at(toks, -1).alias("last_word"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_words"),
        F.array_position(toks, "data").cast("long").alias("data_pos"),
    )


_ARRAY_SQL = """
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w FROM documents)
SELECT doc_id,
       w[1] AS first_word,
       w[-1] AS last_word,
       array_to_string(w[1:3], ' ') AS first3,
       list_contains(w, 'spark') AS has_spark,
       len(list_distinct(w)) AS n_distinct_words,
       CAST(coalesce(list_position(w, 'data'), 0) AS BIGINT) AS data_pos
FROM t
"""


def fn_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface on the gate: per-nation segment->count maps built
    with map_from_entries, then map_filter / map_keys / map_values /
    aggregate over the map — the one Catalyst column type the fn_*
    archetypes hadn't exercised.

    Determinism: maps have no defined entry order, so NOTHING map-ordered
    reaches the output — keys are array_sort'ed before joining and
    values only pass through an order-free integer sum. The oracle needs
    no map type at all: the same facts fall out of the pre-map grouped
    relation, which is exactly the point of the check.
    """
    cust = load_table(spark, sf_dir, "customer")
    per = cust.groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("n"))
    m = per.groupBy("c_nationkey").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("c_mktsegment", "n")))
        ).alias("seg_counts")
    )
    return m.select(
        "c_nationkey",
        F.expr("CAST(size(seg_counts) AS BIGINT)").alias("n_segments"),
        F.expr(
            "array_join(array_sort(map_keys("
            "map_filter(seg_counts, (k, v) -> v >= 2))), ',')"
        ).alias("big_segments"),
        F.expr(
            "aggregate(map_values(seg_counts), 0L, (a, x) -> a + x)"
        ).alias("n_customers"),
    )


_MAP_SQL = """
WITH per AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
  FROM customer GROUP BY c_nationkey, c_mktsegment)
SELECT c_nationkey,
       COUNT(*) AS n_segments,
       coalesce(string_agg(CASE WHEN n >= 2 THEN c_mktsegment END, ','
                           ORDER BY c_mktsegment), '') AS big_segments,
       CAST(SUM(n) AS BIGINT) AS n_customers
FROM per
GROUP BY c_nationkey
"""


def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics intersection (keeps duplicate multiplicity)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersectAll(s)


_INTERSECT_ALL_SQL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT ALL
SELECT s_nationkey AS nationkey FROM supplier
"""


def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics difference."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


_EXCEPT_ALL_SQL = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT ALL
SELECT s_nationkey AS nationkey FROM supplier
"""


# ---------------------------------------------------------------------------
# Conditional / null-handling functions and range-frame windows.
# ---------------------------------------------------------------------------

def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("(bldg)")).alias(
            "segment_masked"
        ),
        F.least(F.col("c_acctbal"), F.lit(5000.0)).alias("bal_capped"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floored"),
        F.when(F.col("c_acctbal") < 0, "debtor")
        .when(F.col("c_acctbal") < 1000, "low")
        .otherwise("high")
        .alias("bal_class"),
        F.isnull(F.nullif(F.col("c_nationkey"), F.lit(0))).alias("is_nation_zero"),
    )


_FN_CONDITIONAL_SQL = """
SELECT c_custkey,
       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(bldg)') AS segment_masked,
       least(c_acctbal, 5000.0) AS bal_capped,
       greatest(c_acctbal, 0.0) AS bal_floored,
       CASE WHEN c_acctbal < 0 THEN 'debtor'
            WHEN c_acctbal < 1000 THEN 'low'
            ELSE 'high' END AS bal_class,
       NULLIF(c_nationkey, 0) IS NULL AS is_nation_zero
FROM customer
"""


def join_nullsafe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (<=>) join on a derived nullable key."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey") % 5, F.lit(0)).alias("k")
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.nullif(F.col("n_nationkey") % 5, F.lit(0)).alias("k"), "n_nationkey"
    ).distinct()
    joined = cust.join(nat, cust.k.eqNullSafe(nat.k))
    return joined.groupBy(cust.k.alias("key")).agg(F.count("*").alias("n"))


_NULLSAFE_SQL = """
WITH c AS (SELECT c_custkey, NULLIF(c_nationkey % 5, 0) AS k FROM customer),
n AS (SELECT DISTINCT NULLIF(n_nationkey % 5, 0) AS k, n_nationkey FROM nation)
SELECT c.k AS key, COUNT(*) AS n
FROM c JOIN n ON c.k IS NOT DISTINCT FROM n.k
GROUP BY c.k
"""


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day order total per customer via a RANGE frame over a
    day-number ordering (value-based frame, not row-based)."""
    orders = load_table(spark, sf_dir, "orders")
    day_num = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date")).cast("long")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(day_num)
        .rangeBetween(-30, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        day_num.alias("day_num"),
        money2(F.sum(dec2("o_totalprice")).over(w)).alias("rolling_30d_total"),
    )


_RANGE_FRAME_SQL = """
SELECT o_custkey, o_orderkey,
       datediff('day', TIMESTAMP '1990-01-01', o_orderdate) AS day_num,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey
            ORDER BY datediff('day', TIMESTAMP '1990-01-01', o_orderdate)
            RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS rolling_30d_total
FROM orders
"""


# ---------------------------------------------------------------------------
# Q2-style: argmin per group (cheapest supplier per part via window).
# ---------------------------------------------------------------------------

def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    offered = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey", "l_suppkey", "s_name")
        .agg(F.min("l_extendedprice").alias("min_price"))
    )
    w = W.partitionBy("l_partkey").orderBy(F.asc("min_price"), F.asc("l_suppkey"))
    return (
        offered.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_partkey", "l_suppkey", "s_name", "min_price")
    )


_Q02_SQL = """
WITH offered AS (
  SELECT l_partkey, l_suppkey, s_name, min(l_extendedprice) AS min_price
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2, 3),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_partkey
            ORDER BY min_price ASC, l_suppkey ASC) AS rn
  FROM offered)
SELECT l_partkey, l_suppkey, s_name, min_price FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Q7-style: trade volume between nation pairs by year.
# ---------------------------------------------------------------------------

def q07_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n1 = F.broadcast(load_table(spark, sf_dir, "nation")).alias("n1")
    n2 = F.broadcast(load_table(spark, sf_dir, "nation")).alias("n2")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(n1, cust.c_nationkey == F.col("n1.n_nationkey"))
        .join(n2, supp.s_nationkey == F.col("n2.n_nationkey"))
        .filter(cust.c_nationkey != supp.s_nationkey)
    )
    return (
        j.groupBy(
            F.col("n1.n_name").alias("cust_nation"),
            F.col("n2.n_name").alias("supp_nation"),
            F.year("o_orderdate").cast("long").alias("trade_year"),
        )
        .agg(money2(F.sum(F.expr(_REV))).alias("volume"), F.count("*").alias("n_items"))
        .filter(F.col("n_items") >= 3)
    )


_Q07_SQL = f"""
SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
       year(o_orderdate) AS trade_year,
       CAST(round(SUM({_REV}), 2) AS DOUBLE) AS volume,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE c_nationkey <> s_nationkey
GROUP BY 1, 2, 3
HAVING COUNT(*) >= 3
"""


# ---------------------------------------------------------------------------
# Q9-style: profit by nation and year (synthetic 60%-of-retail cost).
# ---------------------------------------------------------------------------

def q09_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The star schema lacks partsupp; supply cost is modeled as 60% of
    p_retailprice (deterministic decimal arithmetic both sides)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    cost = dec2("p_retailprice") * F.lit(0.6).cast("decimal(18,4)")
    profit = dec2("l_extendedprice") * (
        F.lit(1).cast("decimal(18,4)") - dec4("l_discount")
    ) - cost * dec2("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(money2(F.sum(profit)).alias("profit"))
    )


_Q09_SQL = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(round(SUM(
         CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))
         - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.6 AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,2))
       ), 2) AS DOUBLE) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


def fn_udtf_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function) in a LATERAL
    correlation: per document, the 3 most frequent words with counts
    (ties broken word-ASC inside the UDTF — Python logic, pinned by
    the SQL window oracle). Arrow-batched like every Python path here;
    genuinely table-valued, which a scalar UDF cannot express.
    """
    from pyspark.sql.functions import udtf


    @udtf(returnType="word string, n bigint")
    class TopWords:
        def eval(self, text: str):
            from collections import Counter

            c = Counter(w for w in split_words(text or "") if w)
            for w, n in sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:3]:
                yield w, n

    spark.udtf.register("top_words_udtf", TopWords)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf_v")
    return spark.sql(
        "SELECT d.doc_id, t.word, t.n "
        "FROM docs_udtf_v d, LATERAL top_words_udtf(d.text) t"
    )


_UDTF_TOP_WORDS_SQL = """
WITH words AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS w FROM documents),
counts AS (
  SELECT doc_id, w, COUNT(*) AS n FROM words WHERE w <> '' GROUP BY doc_id, w),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, w ASC) AS rn
  FROM counts)
SELECT doc_id, w AS word, CAST(n AS BIGINT) AS n
FROM ranked WHERE rn <= 3
"""


def fn_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT ingestion of semi-structured event props: the
    open-schema path (parse_json -> VARIANT -> typed variant_get)
    that replaces per-field get_json_object string plucking. VARIANT
    stores a parsed binary form, so repeated typed extractions don't
    re-parse the JSON text — at 100 TB that is the difference between
    one parse per row and one per field access.

    Per event_type: count, exact sum/min/max of the typed $.k
    extraction, and the count of rows where a MISSING path
    (try_variant_get $.absent) correctly yields NULL instead of
    erroring — the schema-drift tolerance semi-structured pipelines
    rely on. The DuckDB twin uses its native JSON extraction; equal
    results pin the two engines' JSON->typed semantics against each
    other. SUM casts to BIGINT on both sides (convention #5).
    """
    from catme_etl_j_spark.sources.tables import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    # try_parse_json: malformed payloads become NULL variants (plain
    # parse_json FAILFASTs — degenerate-probe find); the DuckDB twin
    # gates on json_valid for the same NULL-on-broken semantics.
    v = ev.select(
        "event_type",
        F.expr("variant_get(try_parse_json(props), '$.k', 'long')").alias("k"),
        F.expr(
            "try_variant_get(try_parse_json(props), '$.absent', 'long')"
        ).alias("missing"),
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("long").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.sum(F.col("missing").isNull().cast("int")).cast("long").alias(
                "n_missing_path"
            ),
        )
        .orderBy("event_type")
    )


_VARIANT_SQL = """
WITH v AS (
  SELECT event_type,
         CASE WHEN json_valid(props)
              THEN CAST(props::JSON ->> '$.k' AS BIGINT) END AS k,
         CASE WHEN json_valid(props)
              THEN CAST(props::JSON ->> '$.absent' AS BIGINT) END AS missing
  FROM events)
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS k_sum,
       MIN(k) AS k_min,
       MAX(k) AS k_max,
       CAST(SUM(CASE WHEN missing IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing_path
FROM v GROUP BY event_type ORDER BY event_type
"""



def fn_pandas_udf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Arrow pandas_udf ON the hash gate — completing the
    gated UDF ladder (grouped-map embed_group_stats, mapInPandas
    multimodal, applyInPandasWithState streaming, UDTF top-words all
    already sit there): per-source token statistics where the token
    count per document flows through ``token_count_udf`` (vectorized
    pandas str ops over Arrow batches), aggregated JVM-side and
    hash-matched against DuckDB's split-based count.

    The moral stays the repo's UDF rule: the built-in twin exists
    (size(split(..))) and is what production code should use — this
    query exists to pin the Arrow scalar-UDF path's correctness, not
    to recommend it.
    """
    from catme_etl_j_spark.functions.udfs import token_count_udf
    from catme_etl_j_spark.sources.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    toks = docs.select("source", token_count_udf("text").alias("n_tok"))
    return (
        toks.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.min("n_tok").alias("min_tokens"),
            F.max("n_tok").alias("max_tokens"),
        )
        .orderBy("source")
    )


_PANDAS_UDF_SQL = """
WITH t AS (
  SELECT source,
         CASE WHEN trim(text) = '' THEN CAST(0 AS BIGINT)
              ELSE CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT)
         END AS n_tok
  FROM documents)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       MIN(n_tok) AS min_tokens,
       MAX(n_tok) AS max_tokens
FROM t GROUP BY source ORDER BY source
"""



def fn_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL / three-valued-logic conformance pin: the SQL corners
    engines most often disagree on, hash-compared in one row.
    ``nullif(l_quantity, 1)`` injects NULLs deterministically, then:
    COUNT(*) vs COUNT(col) (NULL skipping), COUNT(DISTINCT) (NULL not
    a value), SUM over a nullable DECIMAL (NULL-transparent, not
    NULL-poisoning), and the three-valued split of ``x > 25`` into
    true / false / unknown — UNKNOWN rows satisfy neither the
    predicate nor its negation, the classic WHERE-clause trap.
    """
    from catme_etl_j_spark.functions.numeric import dec2, money2
    from catme_etl_j_spark.sources.tables import load_table as _lt

    li = _lt(spark, sf_dir, "lineitem")
    x = li.select(F.expr("nullif(l_quantity, 1.0)").alias("x"))
    return x.agg(
        F.count("*").alias("n_rows"),
        F.count("x").alias("n_nonnull"),
        F.countDistinct("x").alias("n_distinct"),
        money2(F.sum(dec2("x"))).alias("sum_x"),
        F.sum(F.expr("CAST((x > 25.0) = true AS INT)")).cast("long").alias("n_true"),
        F.sum(F.expr("CAST((x > 25.0) = false AS INT)")).cast("long").alias("n_false"),
        F.sum(F.expr("CAST((x > 25.0) IS NULL AS INT)")).cast("long").alias("n_unknown"),
    )


_NULL_SEMANTICS_SQL = """
WITH t AS (SELECT nullif(l_quantity, 1.0) AS x FROM lineitem)
SELECT COUNT(*) AS n_rows,
       COUNT(x) AS n_nonnull,
       COUNT(DISTINCT x) AS n_distinct,
       CAST(round(SUM(CAST(x AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_x,
       CAST(SUM(CASE WHEN (x > 25.0) = true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN (x > 25.0) = false THEN 1 ELSE 0 END) AS BIGINT) AS n_false,
       CAST(SUM(CASE WHEN (x > 25.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown
FROM t
"""



def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact revenue-weighted median quantity per return flag: the
    smallest quantity v where the cumulative extendedprice weight of
    lines with quantity <= v reaches half the group's total — "half
    the revenue ships in lines of <= v units", the inventory-planning
    cut an unweighted median misstates when big lines carry the money.

    Exact plumbing: quantities and weights fix-point to cents int64;
    the cumulative runs over DISTINCT quantity values per flag
    (bounded by the value domain, not rows — the mannwhitney/spearman
    rank regime); the threshold test is ``2 * cum >= total`` in pure
    integers (no halves, no floats anywhere until the display cast).

    Scale: one map-side-combined (flag, qty) aggregate; per-flag
    cumulative windows over |distinct quantities| rows; the answer is
    a MIN over qualifying values.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)").alias("q"),
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias("wc"),
    )
    per = li.groupBy("l_returnflag", "q").agg(F.sum("wc").cast("long").alias("w"))
    win = W.partitionBy("l_returnflag").orderBy("q")
    cum = per.select(
        "l_returnflag",
        "q",
        F.sum("w").over(win.rowsBetween(W.unboundedPreceding, 0)).alias("cw"),
        F.sum("w").over(W.partitionBy("l_returnflag")).alias("tw"),
    )
    hit = cum.filter(F.expr("2 * cw >= tw"))
    return (
        hit.groupBy("l_returnflag")
        .agg(
            F.min("q").alias("med_q_fp"),
            F.max("tw").cast("long").alias("total_weight_cents"),
        )
        .select(
            "l_returnflag",
            "total_weight_cents",
            F.expr("CAST(med_q_fp AS DOUBLE) / 100.0").alias("weighted_median_qty"),
        )
        .orderBy("l_returnflag")
    )


_WMEDIAN_SQL = """
WITH li AS (
  SELECT l_returnflag,
         CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS wc
  FROM lineitem),
per AS (
  SELECT l_returnflag, q, CAST(SUM(wc) AS BIGINT) AS w
  FROM li GROUP BY 1, 2),
cum AS (
  SELECT l_returnflag, q,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY q
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         SUM(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM per)
SELECT l_returnflag,
       CAST(MAX(tw) AS BIGINT) AS total_weight_cents,
       CAST(MIN(q) AS DOUBLE) / 100.0 AS weighted_median_qty
FROM cum WHERE 2 * cw >= tw
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


QUERIES = {
    "agg_weighted_median": agg_weighted_median,
    "q02_min_cost_supplier": q02_min_cost_supplier,
    "q09_nation_profit": q09_nation_profit,
    "q07_nation_trade": q07_nation_trade,
    "fn_conditional": fn_conditional,
    "join_nullsafe_eq": join_nullsafe_eq,
    "window_range_frame": window_range_frame,
    "setop_intersect_all": setop_intersect_all,
    "setop_except_all": setop_except_all,
    "q04_priority_exists": q04_priority_exists,
    "q08_nation_share": q08_nation_share,
    "q14_promo_ratio": q14_promo_ratio,
    "q18_large_orders": q18_large_orders,
    "q22_idle_rich_customers": q22_idle_rich_customers,
    "cross_join_matrix": cross_join_matrix,
    "agg_string_concat": agg_string_concat,
    "agg_stats_exact": agg_stats_exact,
    "agg_median_manual": agg_median_manual,
    "fn_array_ops": fn_array_ops,
    "fn_map_ops": fn_map_ops,
    "fn_udtf_top_words": fn_udtf_top_words,
    "fn_variant_props": fn_variant_props,
    "fn_pandas_udf_tokens": fn_pandas_udf_tokens,
    "fn_null_semantics": fn_null_semantics,
}

ORACLES = {
    "agg_weighted_median": _WMEDIAN_SQL,
    "q02_min_cost_supplier": _Q02_SQL,
    "q09_nation_profit": _Q09_SQL,
    "q07_nation_trade": _Q07_SQL,
    "fn_conditional": _FN_CONDITIONAL_SQL,
    "join_nullsafe_eq": _NULLSAFE_SQL,
    "window_range_frame": _RANGE_FRAME_SQL,
    "setop_intersect_all": _INTERSECT_ALL_SQL,
    "setop_except_all": _EXCEPT_ALL_SQL,
    "q04_priority_exists": _Q04_SQL,
    "q08_nation_share": _Q08_SQL,
    "q14_promo_ratio": _Q14_SQL,
    "q18_large_orders": _Q18_SQL,
    "q22_idle_rich_customers": _Q22_SQL,
    "cross_join_matrix": _CROSS_SQL,
    "agg_string_concat": _STRING_CONCAT_SQL,
    "agg_stats_exact": _STATS_SQL,
    "agg_median_manual": _MEDIAN_SQL,
    "fn_array_ops": _ARRAY_SQL,
    "fn_map_ops": _MAP_SQL,
    "fn_udtf_top_words": _UDTF_TOP_WORDS_SQL,
    "fn_variant_props": _VARIANT_SQL,
    "fn_pandas_udf_tokens": _PANDAS_UDF_SQL,
    "fn_null_semantics": _NULL_SEMANTICS_SQL,
}
