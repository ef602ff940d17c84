"""Relational operator surface (SURVEY.md §7.4 milestone 3).

The reference (waldfalke/catme-etl-j) has NO relational operators —
SURVEY.md §2.4 inventories their absence — so this layer is the
DataFrame/Catalyst surface the new engine adds: scans, filters,
projections, every join type, hash/sort aggregates, rollup/cube/
grouping sets, window functions, sorts/top-k, set ops, scalar
functions, pivot.

Each query here has a DuckDB-oracle twin in ``ORACLES`` (same aliases,
same deterministic numeric conventions — see functions/numeric.py).

Scale notes (100 TB posture):
* Fact-table scans carry their filters/projections in the plan so
  Catalyst pushes them into the parquet reader (verified via
  ``.explain`` in tests/test_plans.py).
* Constant-size dims (region, nation) are explicitly broadcast; the
  bigger dims are left to AQE, which sees real sizes at runtime.
* Top-k is window/orderBy+limit — Spark executes global limit as
  per-partition top-k + single-reduce, no full sort materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from catme_etl_j_spark.functions.numeric import avg4, dec2, dec4, money2, rdet
from catme_etl_j_spark.sources.tables import load_table


def _ds(c, fmt: str = "yyyy-MM-dd"):
    """Temporal output convention: render as string (see module doc)."""
    return F.date_format(c, fmt)


# ---------------------------------------------------------------------------
# Q1-style pricing summary (TPC-H Q1): filter + groupBy + 8 aggregates.
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = dec2("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec4("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(18,4)") + dec4("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            money2(F.sum(dec2("l_quantity"))).alias("sum_qty"),
            money2(F.sum(dec2("l_extendedprice"))).alias("sum_base_price"),
            money2(F.sum(disc_price)).alias("sum_disc_price"),
            money2(F.sum(charge)).alias("sum_charge"),
            avg4(F.sum(dec2("l_quantity")), F.count("*")).alias("avg_qty"),
            avg4(F.sum(dec2("l_extendedprice")), F.count("*")).alias("avg_price"),
            avg4(F.sum(dec4("l_discount")), F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q01_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4))) * (1 + CAST(l_tax AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_charge,
  floor(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
  floor(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS avg_price,
  floor(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Q3-style shipping priority: 3-way join + agg + top-k.
# ---------------------------------------------------------------------------

def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp")
    )
    revenue = F.sum(dec2("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec4("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money2(revenue).alias("revenue"))
        .select(
            "l_orderkey",
            _ds("o_orderdate").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q03_SQL = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority,
       CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-07-01'
  AND l_shipdate > TIMESTAMP '1998-07-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Q5-style local supplier volume: 6-way join incl. broadcast dims.
# ---------------------------------------------------------------------------

def q05_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.sum(dec2("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec4("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(money2(revenue).alias("revenue"))
    )


_Q05_SQL = """
SELECT n_name,
       CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey AND r_name = 'AMERICA'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Q6-style revenue delta: pushed-down filter + single aggregate.
# ---------------------------------------------------------------------------

def q06_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 25)
    )
    return li.agg(
        money2(F.sum(dec2("l_extendedprice") * dec4("l_discount"))).alias("revenue"),
        F.count("*").alias("n_rows"),
    )


_Q06_SQL = """
SELECT CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 25
"""


# ---------------------------------------------------------------------------
# Q10-style returned items: join + agg + top-k by revenue.
# ---------------------------------------------------------------------------

def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    revenue = F.sum(dec2("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec4("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(money2(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Semi / anti joins (EXISTS / NOT EXISTS).
# ---------------------------------------------------------------------------

def join_semi_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    open_orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return cust.join(
        open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


_SEMI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
"""


def join_anti_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


_ANTI_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# ---------------------------------------------------------------------------
# Rollup / cube / grouping sets.
# ---------------------------------------------------------------------------

def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(money2(F.sum(dec2("l_quantity"))).alias("sum_qty"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


_ROLLUP_SQL = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(money2(F.sum(dec2("o_totalprice"))).alias("sum_price"), F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "sum_price",
            "n",
        )
    )


_CUBE_SQL = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price,
       COUNT(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_gs")
    return spark.sql(
        """
        SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
               COALESCE(CAST(c_nationkey AS STRING), 'ALL') AS nationkey,
               CAST(round(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_bal,
               COUNT(*) AS n
        FROM customer_gs
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
        """
    )


_GROUPING_SETS_SQL = """
SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
       COALESCE(CAST(c_nationkey AS VARCHAR), 'ALL') AS nationkey,
       CAST(round(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_bal,
       COUNT(*) AS n
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
"""


# ---------------------------------------------------------------------------
# Window functions.
# ---------------------------------------------------------------------------

def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "rn", "p_partkey", "p_name", "p_retailprice")
    )


_WINDOW_TOPK_SQL = """
SELECT p_brand, rn, p_partkey, p_name, p_retailprice
FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
  FROM part
) t
WHERE rn <= 3
"""


def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        _ds("o_orderdate").alias("orderdate"),
        money2(F.sum(dec2("o_totalprice")).over(w)).alias("running_total"),
    )


_WINDOW_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_total
FROM orders
"""


def window_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_price = F.lag(dec2("o_totalprice")).over(w)
    prev_date = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        money2(dec2("o_totalprice") - prev_price).alias("price_delta"),
        F.datediff(F.col("o_orderdate"), prev_date).cast("long").alias("days_since_prev"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


_WINDOW_LAG_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
            - LAG(CAST(o_totalprice AS DECIMAL(18,2))) OVER w, 2) AS DOUBLE) AS price_delta,
       datediff('day', LAG(o_orderdate) OVER w, o_orderdate) AS days_since_prev,
       LEAD(o_orderkey) OVER w AS next_orderkey
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    w = W.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    wv = W.partitionBy("s_nationkey").orderBy(F.asc("s_acctbal"))
    return supp.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.rank().over(w).cast("long").alias("bal_rank"),
        F.dense_rank().over(w).cast("long").alias("bal_dense_rank"),
        F.ntile(4).over(w).cast("long").alias("bal_quartile"),
        rdet(F.cume_dist().over(wv), 6).alias("bal_cume_dist"),
    )


_WINDOW_RANKS_SQL = """
SELECT s_suppkey, s_nationkey, s_acctbal,
       RANK() OVER w AS bal_rank,
       DENSE_RANK() OVER w AS bal_dense_rank,
       NTILE(4) OVER w AS bal_quartile,
       floor(CUME_DIST() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal ASC) * 1000000.0 + 0.5) / 1000000.0 AS bal_cume_dist
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey ASC)
"""


# ---------------------------------------------------------------------------
# Set operations.
# ---------------------------------------------------------------------------

def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


_UNION_SQL = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


_INTERSECT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    # subtract == EXCEPT DISTINCT — structurally the oracle's EXCEPT
    # (exceptAll(distinct()).distinct() would keep one copy of a left
    # dup that also appears right, if the left ever had duplicates)
    return n.subtract(s)


_EXCEPT_SQL = """
SELECT n_nationkey AS nationkey FROM nation
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
"""


# ---------------------------------------------------------------------------
# Scalar function coverage.
# ---------------------------------------------------------------------------

def fn_string_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("key_padded"),
        F.reverse("p_brand").alias("brand_rev"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowel"),
        F.size(F.split("p_name", " ")).cast("long").alias("name_words"),
        F.ceil("p_retailprice").cast("double").alias("price_ceil"),
        F.floor("p_retailprice").cast("double").alias("price_floor"),
        rdet(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        rdet(F.log("p_retailprice"), 6).alias("price_ln"),
        F.abs(F.col("p_size") - 25).cast("long").alias("size_dist"),
        (F.col("p_partkey") % 7).alias("key_mod7"),
    )


_FN_STRING_MATH_SQL = """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       substr(p_name, 1, 5) AS name5,
       length(p_name) AS name_len,
       concat_ws('/', p_brand, p_type) AS brand_type,
       lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
       reverse(p_brand) AS brand_rev,
       regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
       len(string_split(p_name, ' ')) AS name_words,
       CAST(ceil(p_retailprice) AS DOUBLE) AS price_ceil,
       CAST(floor(p_retailprice) AS DOUBLE) AS price_floor,
       floor(sqrt(p_retailprice) * 1000000.0 + 0.5) / 1000000.0 AS price_sqrt,
       CASE WHEN p_retailprice > 0  -- Spark log(<=0) is NULL; DuckDB ln(0) THROWS
            THEN floor(ln(p_retailprice) * 1000000.0 + 0.5) / 1000000.0
       END AS price_ln,
       CAST(abs(p_size - 25) AS BIGINT) AS size_dist,
       p_partkey % 7 AS key_mod7
FROM part
"""


def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        F.quarter("o_orderdate").cast("long").alias("order_quarter"),
        F.dayofweek("o_orderdate").cast("long").alias("order_dow"),
        _ds(F.date_add(F.col("o_orderdate"), 30)).alias("due_date"),
        _ds(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias("order_month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate"))
        .cast("long")
        .alias("days_to_2002"),
    )


# DuckDB dayofweek: Spark dayofweek is 1=Sunday..7=Saturday; DuckDB dayofweek
# (alias of dow) is 0=Sunday..6=Saturday -> +1 aligns them.
_FN_DATETIME_SQL = """
SELECT o_orderkey,
       year(o_orderdate) AS order_year,
       month(o_orderdate) AS order_month,
       day(o_orderdate) AS order_day,
       quarter(o_orderdate) AS order_quarter,
       dayofweek(o_orderdate) + 1 AS order_dow,
       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month_start,
       datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS days_to_2002
FROM orders
"""


# ---------------------------------------------------------------------------
# Pivot, top-k, distinct aggregates, having, scalar subquery.
# ---------------------------------------------------------------------------

def pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    p = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(money2(F.sum(dec2("o_totalprice"))))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0.0)).alias("sum_open"),
        F.coalesce(F.col("F"), F.lit(0.0)).alias("sum_finished"),
        F.coalesce(F.col("P"), F.lit(0.0)).alias("sum_pending"),
    )


_PIVOT_SQL = """
SELECT o_orderpriority,
       COALESCE(CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'O'), 2) AS DOUBLE), 0.0) AS sum_open,
       COALESCE(CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'F'), 2) AS DOUBLE), 0.0) AS sum_finished,
       COALESCE(CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'P'), 2) AS DOUBLE), 0.0) AS sum_pending
FROM orders
GROUP BY o_orderpriority
"""


def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(15)
    )


_TOPK_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 15
"""


def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        money2(F.sum(dec2("o_totalprice"))).alias("sum_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


_DISTINCT_AGG_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderpriority
"""


def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            avg4(F.sum(dec2("c_acctbal")), F.count("*")).alias("avg_bal"),
        )
        .filter(F.col("n_customers") >= 5)
    )


_HAVING_SQL = """
SELECT c_nationkey, COUNT(*) AS n_customers,
       floor(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS avg_bal
FROM customer
GROUP BY c_nationkey
HAVING COUNT(*) >= 5
"""


def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation_avg = cust.groupBy("c_nationkey").agg(
        avg4(F.sum(dec2("c_acctbal")), F.count("*")).alias("nation_avg_bal")
    )
    return (
        cust.join(F.broadcast(nation_avg), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("nation_avg_bal"))
        .select("c_custkey", "c_nationkey", "c_acctbal", "nation_avg_bal")
    )


_SCALAR_SUBQ_SQL = """
SELECT c_custkey, c_nationkey, c_acctbal, nation_avg_bal
FROM customer
JOIN (
  SELECT c_nationkey AS nk,
         floor(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS nation_avg_bal
  FROM customer GROUP BY c_nationkey
) a ON c_nationkey = nk
WHERE c_acctbal > nation_avg_bal
"""


QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q03_shipping_priority": q03_shipping_priority,
    "q05_local_supplier": q05_local_supplier,
    "q06_revenue_delta": q06_revenue_delta,
    "q10_returned_items": q10_returned_items,
    "join_semi_open_orders": join_semi_open_orders,
    "join_anti_no_orders": join_anti_no_orders,
    "agg_rollup": agg_rollup,
    "agg_cube": agg_cube,
    "agg_grouping_sets": agg_grouping_sets,
    "window_topk_per_group": window_topk_per_group,
    "window_running_total": window_running_total,
    "window_lag_gap": window_lag_gap,
    "window_ranks": window_ranks,
    "setop_union": setop_union,
    "setop_intersect": setop_intersect,
    "setop_except": setop_except,
    "fn_string_math": fn_string_math,
    "fn_datetime": fn_datetime,
    "pivot_order_status": pivot_order_status,
    "topk_global": topk_global,
    "distinct_agg": distinct_agg,
    "having_filter": having_filter,
    "scalar_subquery_above_avg": scalar_subquery_above_avg,
}

ORACLES = {
    "q01_pricing_summary": _Q01_SQL,
    "q03_shipping_priority": _Q03_SQL,
    "q05_local_supplier": _Q05_SQL,
    "q06_revenue_delta": _Q06_SQL,
    "q10_returned_items": _Q10_SQL,
    "join_semi_open_orders": _SEMI_SQL,
    "join_anti_no_orders": _ANTI_SQL,
    "agg_rollup": _ROLLUP_SQL,
    "agg_cube": _CUBE_SQL,
    "agg_grouping_sets": _GROUPING_SETS_SQL,
    "window_topk_per_group": _WINDOW_TOPK_SQL,
    "window_running_total": _WINDOW_RUNNING_SQL,
    "window_lag_gap": _WINDOW_LAG_SQL,
    "window_ranks": _WINDOW_RANKS_SQL,
    "setop_union": _UNION_SQL,
    "setop_intersect": _INTERSECT_SQL,
    "setop_except": _EXCEPT_SQL,
    "fn_string_math": _FN_STRING_MATH_SQL,
    "fn_datetime": _FN_DATETIME_SQL,
    "pivot_order_status": _PIVOT_SQL,
    "topk_global": _TOPK_SQL,
    "distinct_agg": _DISTINCT_AGG_SQL,
    "having_filter": _HAVING_SQL,
    "scalar_subquery_above_avg": _SCALAR_SUBQ_SQL,
}
