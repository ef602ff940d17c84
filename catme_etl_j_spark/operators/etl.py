"""Warehouse-ETL maintenance operators: SCD type-2 interval building
and MERGE-style upsert, expressed as pure DataFrame plans (no Delta /
table format required — the output IS the merged dataset, ready for a
partitioned overwrite).

The reference (waldfalke/catme-etl-j) is an ingest converter with no
table-maintenance surface (SURVEY.md §2.4); these are the operations
a pipeline built on this engine needs the day its dimensions start
changing.

100 TB posture:
* SCD2 is two window passes over the SAME (key, time) sort — one
  Exchange + one Sort, reused by lag/sum/lead (plan-asserted in
  tests/test_etl.py).
* MERGE is a single full-outer shuffle join of base vs updates on the
  key (the minimum possible — every MERGE implementation shuffles or
  co-partitions on the merge key), with the change-set built from a
  broadcast-size aggregate. At scale both sides would be bucketed on
  the key, making the join exchange-free (see operators/scale.py).

Determinism: monetary arithmetic stays in DECIMAL(18,2) end to end;
dates render as strings; every window orders with a unique tie-break
(o_orderdate, o_orderkey).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catme_etl_j_spark.functions.numeric import dec2, money2
from catme_etl_j_spark.sources.tables import load_table

_D_FMT = "yyyy-MM-dd"


def scd2_intervals(orders: DataFrame) -> DataFrame:
    """Collapse each customer's order-priority history into SCD2
    validity intervals: consecutive orders with the same priority form
    one segment; ``valid_from`` = first order date of the segment,
    ``valid_to`` = start of the next segment (NULL while current)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    marked = orders.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        "o_orderpriority",
        F.when(
            F.lag("o_orderpriority").over(w).isNull()
            | (F.lag("o_orderpriority").over(w) != F.col("o_orderpriority")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    seg = marked.withColumn(
        "seg",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = seg.groupBy("o_custkey", "seg").agg(
        F.min("o_orderpriority").alias("priority"),  # constant within segment
        F.min("o_orderdate").alias("vf"),
        F.count("*").alias("n_orders"),
    )
    ws = Window.partitionBy("o_custkey").orderBy("seg")
    return spans.select(
        F.col("o_custkey").alias("custkey"),
        F.col("seg").cast("long").alias("version"),
        "priority",
        F.date_format("vf", _D_FMT).alias("valid_from"),
        F.date_format(F.lead("vf").over(ws), _D_FMT).alias("valid_to"),
        F.lead("vf").over(ws).isNull().cast("int").alias("is_current"),
        "n_orders",
    )


def etl_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history of customer order priority (see
    :func:`scd2_intervals`)."""
    return scd2_intervals(load_table(spark, sf_dir, "orders"))


_SCD2_SQL = """
WITH marked AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
         CASE WHEN LAG(o_orderpriority) OVER w IS NULL
                   OR LAG(o_orderpriority) OVER w <> o_orderpriority
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
seg AS (
  SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS seg
  FROM marked),
spans AS (
  SELECT o_custkey, seg,
         MIN(o_orderpriority) AS priority,  -- constant within segment
         MIN(o_orderdate) AS vf,
         COUNT(*) AS n_orders
  FROM seg GROUP BY o_custkey, seg)
SELECT o_custkey AS custkey,
       CAST(seg AS BIGINT) AS version,
       priority,
       strftime(vf, '%Y-%m-%d') AS valid_from,
       strftime(LEAD(vf) OVER (PARTITION BY o_custkey ORDER BY seg),
                '%Y-%m-%d') AS valid_to,
       CAST(CASE WHEN LEAD(vf) OVER (PARTITION BY o_custkey ORDER BY seg)
                      IS NULL THEN 1 ELSE 0 END AS INT) AS is_current,
       n_orders
FROM spans
"""


def etl_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO customer USING change-set, without a table format:
    the change-set updates each ordering customer's balance by their
    order total and inserts a synthetic new customer row for the top-5
    spenders (key offset +1000000). Output is the merged table with the
    applied operation tagged per row (update / insert / keep).

    Equivalent SQL: ``MERGE ... WHEN MATCHED THEN UPDATE WHEN NOT
    MATCHED THEN INSERT``, expressed as one full-outer join on the key.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    totals = orders.groupBy("o_custkey").agg(
        F.sum(dec2("o_totalprice")).alias("total")
    )
    top5 = totals.orderBy(F.desc("total"), F.asc("o_custkey")).limit(5)
    updates = totals.select(
        F.col("o_custkey").alias("k"),
        F.col("total").alias("delta"),
        F.lit(None).cast("string").alias("new_name"),
    )
    inserts = top5.select(
        (F.col("o_custkey") + 1000000).alias("k"),
        F.col("total").alias("delta"),
        F.concat(F.lit("NEW-"), F.col("o_custkey")).alias("new_name"),
    )
    src = updates.unionByName(inserts)
    base = customer.select("c_custkey", "c_name", dec2("c_acctbal").alias("bal"))
    merged = base.join(src, base.c_custkey == src.k, "full_outer")
    return merged.select(
        F.coalesce("c_custkey", "k").cast("long").alias("custkey"),
        F.coalesce("c_name", "new_name").alias("name"),
        money2(
            F.coalesce("bal", F.lit(0).cast("decimal(18,2)"))
            + F.coalesce("delta", F.lit(0).cast("decimal(18,2)"))
        ).alias("acctbal"),
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("delta").isNotNull(), "update")
        .otherwise("keep")
        .alias("op"),
    )


_MERGE_SQL = """
WITH totals AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
  FROM orders GROUP BY o_custkey),
top5 AS (
  SELECT o_custkey, total FROM totals
  ORDER BY total DESC, o_custkey ASC LIMIT 5),
src AS (
  SELECT o_custkey AS k, total AS delta, NULL AS new_name FROM totals
  UNION ALL
  SELECT o_custkey + 1000000 AS k, total AS delta,
         'NEW-' || o_custkey AS new_name
  FROM top5)
SELECT CAST(COALESCE(c.c_custkey, s.k) AS BIGINT) AS custkey,
       COALESCE(c.c_name, s.new_name) AS name,
       CAST(round(COALESCE(CAST(c.c_acctbal AS DECIMAL(18,2)), 0)
                  + COALESCE(s.delta, 0), 2) AS DOUBLE) AS acctbal,
       CASE WHEN c.c_custkey IS NULL THEN 'insert'
            WHEN s.delta IS NOT NULL THEN 'update'
            ELSE 'keep' END AS op
FROM customer c FULL OUTER JOIN src s ON c.c_custkey = s.k
"""


INCR_CUTOFF = "1996-01-01"


def etl_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: a per-(priority, year) order
    aggregate is computed over the 'already materialized' history
    (orderdate < 1996-01-01) and then MERGED with the partial aggregate
    of the new delta (orderdate >= cutoff) — counts add, DECIMAL sums
    add, mins/maxes combine — without rescanning history rows one by
    one. The output must equal (and the oracle twin IS) the aggregate
    over the full table: the algebraic proof that the incremental path
    is safe to deploy.

    100 TB posture: this is THE pattern for daily refresh — the history
    side is the stored view (tiny, one row per group), only the delta
    is scanned; the merge is a full-outer join on the group key.
    """
    orders = load_table(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "o_orderpriority", F.year("o_orderdate").cast("int").alias("yr")
        ).agg(
            F.count("*").alias("n"),
            F.sum(dec2("o_totalprice")).alias("s"),
            F.min(dec2("o_totalprice")).alias("mn"),
            F.max(dec2("o_totalprice")).alias("mx"),
        )
    hist = partial(orders.filter(F.col("o_orderdate") < INCR_CUTOFF))
    delta = partial(orders.filter(F.col("o_orderdate") >= INCR_CUTOFF))
    h = hist.select(
        F.col("o_orderpriority").alias("hp"), F.col("yr").alias("hy"),
        F.col("n").alias("hn"), F.col("s").alias("hs"),
        F.col("mn").alias("hmn"), F.col("mx").alias("hmx"),
    )
    merged = h.join(
        delta,
        (F.col("hp") == F.col("o_orderpriority")) & (F.col("hy") == F.col("yr")),
        "full_outer",
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return merged.select(
        F.coalesce("o_orderpriority", "hp").alias("o_orderpriority"),
        F.coalesce("yr", "hy").alias("yr"),
        (F.coalesce("hn", F.lit(0)) + F.coalesce("n", F.lit(0)))
        .cast("bigint")
        .alias("n_orders"),
        money2(F.coalesce("hs", zero) + F.coalesce("s", zero)).alias("sum_price"),
        F.least(
            F.coalesce("hmn", F.col("mn")), F.coalesce("mn", F.col("hmn"))
        ).cast("double").alias("min_price"),
        F.greatest(
            F.coalesce("hmx", F.col("mx")), F.coalesce("mx", F.col("hmx"))
        ).cast("double").alias("max_price"),
    )


# The oracle is the FULL recompute — equality proves the merge algebra.
_INCR_SQL = """
SELECT o_orderpriority,
       CAST(year(o_orderdate) AS INT) AS yr,
       COUNT(*)::BIGINT AS n_orders,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS sum_price,
       CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
FROM orders
GROUP BY o_orderpriority, year(o_orderdate)
"""


# (column, kind) pairs for the orders profile; kind picks the portable
# min/max rendering (ints verbatim, doubles as exact cents, timestamps
# formatted under UTC — double->string rendering differs across
# engines, so it never appears raw on the gate).
_DQ_COLS = (
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "money"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
)


def _dq_minmax(col: str, kind: str, dialect: str) -> tuple[str, str]:
    if kind == "money":  # exact integer cents (floor is monotone)
        e = f"CAST(floor({col} * 100.0 + 0.5) AS BIGINT)"
        return (f"CAST(MIN({e}) AS {'STRING' if dialect == 'spark' else 'VARCHAR'})",
                f"CAST(MAX({e}) AS {'STRING' if dialect == 'spark' else 'VARCHAR'})")
    if kind == "ts":
        if dialect == "spark":
            return (f"date_format(MIN({col}), 'yyyy-MM-dd HH:mm:ss')",
                    f"date_format(MAX({col}), 'yyyy-MM-dd HH:mm:ss')")
        return (f"strftime(MIN({col}), '%Y-%m-%d %H:%M:%S')",
                f"strftime(MAX({col}), '%Y-%m-%d %H:%M:%S')")
    s = "STRING" if dialect == "spark" else "VARCHAR"
    return f"CAST(MIN({col}) AS {s})", f"CAST(MAX({col}) AS {s})"


def etl_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the orders table: one row per column with
    null count, exact distinct count, and portably-rendered min/max —
    the validation gate a warehouse load runs before publishing a
    partition.

    Single-pass shape: every per-column aggregate rides ONE scan (the
    multi-distinct rewrite costs an Expand of x|cols| rows — exact by
    choice here; at 100 TB swap the distinct counts for the mergeable
    HLL registers of sketch_hll_merge_groups and the pass stays
    O(4096/col)). The 1-row aggregate is then unpivoted driver-free
    with ``stack``.
    """
    orders = load_table(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("n_rows")]
    for c, kind in _DQ_COLS:
        lo, hi = _dq_minmax(c, kind, "spark")
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.expr(lo).alias(f"lo_{c}"),
            F.expr(hi).alias(f"hi_{c}"),
        ]
    prof = orders.agg(*aggs)
    tuples = ", ".join(
        f"'{c}', n_rows, nn_{c}, nd_{c}, lo_{c}, hi_{c}" for c, _ in _DQ_COLS
    )
    return prof.selectExpr(
        f"stack({len(_DQ_COLS)}, {tuples})"
        " AS (col_name, n_rows, n_nulls, n_distinct, min_val, max_val)"
    )


def _dq_sql() -> str:
    per_col = []
    for c, kind in _DQ_COLS:
        lo, hi = _dq_minmax(c, kind, "duck")
        per_col.append(
            f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows,\n"
            f"       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,\n"
            f"       COUNT(DISTINCT {c}) AS n_distinct,\n"
            f"       {lo} AS min_val, {hi} AS max_val\n"
            f"FROM orders"
        )
    return "\nUNION ALL\n".join(per_col)


# (name, child table, child FK, parent table, parent PK)
_REF_CHECKS = (
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
)


def etl_referential_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity validation across the star schema: one row
    per FK relationship with the child row count, the number of orphans
    (child keys with no parent), and an ok flag — the cross-table half
    of the DQ gate (etl_dq_profile is the single-table half).

    Each orphan count is a left-anti join on the key — co-partitioned,
    no fact-table data movement beyond the key column, and at 100 TB
    the parent side broadcasts or shuffle-joins as stats dictate (no
    forced hints).
    """
    out = None
    for name, child, fk, parent, pk in _REF_CHECKS:
        c = load_table(spark, sf_dir, child).select(F.col(fk).alias("k"))
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias("k"))
        # ONE child pass (r11): a left join against the DISTINCT parent
        # keys (1:<=1, so COUNT(*) is still n_child) yields both counts
        # in a single aggregate — the old anti-join + count crossJoin
        # scanned every child table twice
        stats = (
            c.join(
                p.distinct().withColumn("hit", F.lit(1)), "k", "left"
            ).agg(
                F.count("*").alias("n_child"),
                F.coalesce(
                    F.sum(F.expr("CAST(hit IS NULL AS INT)")), F.lit(0)
                ).alias("n_orphans"),
            )
        )
        row = stats.select(
            F.lit(name).alias("relation"),
            "n_child",
            "n_orphans",
            (F.col("n_orphans") == 0).cast("int").alias("ok"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _ref_sql() -> str:
    parts = []
    for name, child, fk, parent, pk in _REF_CHECKS:
        parts.append(
            f"SELECT '{name}' AS relation,\n"
            f"       (SELECT COUNT(*) FROM {child}) AS n_child,\n"
            f"       (SELECT COUNT(*) FROM {child} c WHERE NOT EXISTS\n"
            f"          (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})) AS n_orphans,\n"
            f"       CAST(CASE WHEN (SELECT COUNT(*) FROM {child} c WHERE NOT EXISTS\n"
            f"          (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})) = 0\n"
            f"            THEN 1 ELSE 0 END AS INT) AS ok"
        )
    return "\nUNION ALL\n".join(parts)


# Deterministic synthetic "next snapshot" of orders: drop keys
# divisible by DIFF_DROP_MOD (deletes), flip the status of keys
# divisible by DIFF_CHANGE_MOD (updates) — derived purely from the key,
# so both engines build bit-identical snapshots with no fixture files.
DIFF_DROP_MOD = 89
DIFF_CHANGE_MOD = 97
DIFF_INSERT_MOD = 83  # keys spawning a shifted "inserted" row
DIFF_INSERT_OFFSET = 10_000_000_000  # past any real o_orderkey


def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: FULL OUTER join of two warehouse
    snapshots on the business key, classifying every key as added /
    removed / changed / unchanged, aggregated to one row per class with
    an exact key checksum (sum of keys — int64-safe: sum(o_orderkey)
    at sf1 is ~1e12) so the gate pins membership, not just counts.

    Scale shape: the join is key-co-partitioned (both sides hash on
    o_orderkey, no broadcast — snapshots are fact-sized); the class
    rollup map-side combines to 4 rows. This is the maintenance op a
    warehouse runs to validate an incremental load against a full
    re-extract.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders
    new = (
        orders.filter(F.col("o_orderkey") % DIFF_DROP_MOD != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % DIFF_CHANGE_MOD == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            "o_totalprice",
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % DIFF_INSERT_MOD == 0).select(
                (F.col("o_orderkey") + DIFF_INSERT_OFFSET).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    j = old.alias("a").join(
        new.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    cls = (
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .when(
            (F.col("a.o_orderstatus") != F.col("b.o_orderstatus"))
            | (F.col("a.o_totalprice") != F.col("b.o_totalprice")),
            "changed",
        )
        .otherwise("unchanged")
    )
    key = F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey"))
    return (
        j.select(cls.alias("change"), key.alias("k"))
        .groupBy("change")
        .agg(F.count("*").alias("n"), F.sum("k").alias("key_checksum"))
    )


_SNAPSHOT_DIFF_SQL = f"""
WITH old AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {DIFF_CHANGE_MOD} = 0 THEN 'X'
              ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice
  FROM orders WHERE o_orderkey % {DIFF_DROP_MOD} <> 0
  UNION ALL
  SELECT o_orderkey + {DIFF_INSERT_OFFSET}, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % {DIFF_INSERT_MOD} = 0)
SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
            WHEN b.o_orderkey IS NULL THEN 'removed'
            WHEN a.o_orderstatus <> b.o_orderstatus
                 OR a.o_totalprice <> b.o_totalprice THEN 'changed'
            ELSE 'unchanged' END AS change,
       COUNT(*)::BIGINT AS n,
       CAST(SUM(COALESCE(a.o_orderkey, b.o_orderkey)) AS BIGINT) AS key_checksum
FROM old a FULL OUTER JOIN new b ON a.o_orderkey = b.o_orderkey
GROUP BY 1
"""


SCD2_ASOF_DATE = "1997-06-01"


def etl_scd2_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension reconstruction — the query SCD2 history
    exists to answer: each customer's priority version active AS OF
    SCD2_ASOF_DATE (valid_from <= D < valid_to, open-ended current
    rows included). A filter over the interval table; customers whose
    history starts after D are correctly absent. ISO date strings
    compare lexicographically, so both engines filter identically.
    """
    hist = etl_scd2_intervals(spark, sf_dir)
    d = F.lit(SCD2_ASOF_DATE)
    return (
        hist.filter(
            (F.col("valid_from") <= d)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > d))
        )
        .select("custkey", "version", "priority", "valid_from", "valid_to")
        .orderBy("custkey")
    )


def _scd2_asof_sql() -> str:
    return f"""
WITH hist AS ({_SCD2_SQL})
SELECT custkey, version, priority, valid_from, valid_to
FROM hist
WHERE valid_from <= '{SCD2_ASOF_DATE}'
  AND (valid_to IS NULL OR valid_to > '{SCD2_ASOF_DATE}')
ORDER BY custkey
"""


def etl_scd2_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-dated fact join — the query an SCD2 dimension is FOR:
    every lineitem joins its customer's priority version active at the
    item's SHIP date (valid_from <= ship_day < valid_to), then revenue
    rolls up by that historical attribute and whether the matched
    version is still current. Ship dates trail order dates, so a
    customer's later lineitems genuinely land in later versions.

    Plan shape: the fact resolves custkey via the orderkey equi-join,
    then joins the interval table on custkey EQUALITY with the
    interval predicate as a residual filter over that customer's few
    versions — the scalable SCD2 lookup (co-partitioned equi-join; no
    range-join explosion). The join is LEFT: a ship date can precede
    the customer's first valid_from in the synthetic history, and those
    rows fall out of the interval match and are bucketed as
    'PRE-HISTORY' (version -1) rather than dropped.

    ISO date strings compare lexicographically, identically on both
    engines; revenue stays DECIMAL end to end.
    """
    hist = etl_scd2_intervals(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    fact = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
    ).select(
        F.col("o_custkey").alias("fk"),
        F.date_format("l_shipdate", _D_FMT).alias("ship_day"),
        dec2("l_extendedprice").alias("rev"),
    )
    joined = fact.join(
        hist,
        (F.col("fk") == F.col("custkey"))
        & (F.col("valid_from") <= F.col("ship_day"))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("ship_day"))),
        "left",
    )
    return (
        joined.groupBy(
            F.coalesce("priority", F.lit("PRE-HISTORY")).alias("priority"),
            F.coalesce("is_current", F.lit(-1)).alias("is_current"),
        )
        .agg(
            F.count("*").alias("n_items"),
            F.countDistinct("fk").alias("n_customers"),
            money2(F.sum("rev")).alias("revenue"),
        )
        .orderBy("priority", "is_current")
    )


def _scd2_fact_join_sql() -> str:
    return f"""
WITH hist AS ({_SCD2_SQL}),
fact AS (
  SELECT o.o_custkey AS fk,
         strftime(l.l_shipdate, '%Y-%m-%d') AS ship_day,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS rev
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
SELECT COALESCE(h.priority, 'PRE-HISTORY') AS priority,
       COALESCE(h.is_current, -1) AS is_current,
       COUNT(*) AS n_items,
       COUNT(DISTINCT f.fk) AS n_customers,
       CAST(round(SUM(f.rev), 2) AS DOUBLE) AS revenue
FROM fact f LEFT JOIN hist h
  ON f.fk = h.custkey
 AND h.valid_from <= f.ship_day
 AND (h.valid_to IS NULL OR h.valid_to > f.ship_day)
GROUP BY COALESCE(h.priority, 'PRE-HISTORY'), COALESCE(h.is_current, -1)
ORDER BY priority, is_current
"""


K_ANON = 5  # minimum acceptable quasi-identifier group size
L_DIVERSE = 2  # minimum distinct sensitive values per group


def etl_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit before a data release: k-anonymity and
    l-diversity over the customer table, with (mktsegment, nationkey)
    as the quasi-identifier and the account-balance thousand-bucket as
    the sensitive attribute. A QI group smaller than k re-identifies
    its members by linkage; a group whose sensitive values collapse to
    fewer than l distinct buckets leaks the attribute even when k
    holds (Machanavajjhala et al. 2007, public).

    One groupBy over the QI pair (count + countDistinct — a single
    shuffle, map-side combined); the release decision columns are
    plain comparisons. At 100 TB this is the same one-pass shape as
    the DQ profiler; the QI-combination count is what a generalization
    search would iterate on.
    """
    cust = load_table(spark, sf_dir, "customer")
    grouped = (
        cust.select(
            "c_mktsegment",
            "c_nationkey",
            F.expr(
                "CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT)"
            ).alias("bal_bucket"),
        )
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.count("*").alias("group_size"),
            F.countDistinct("bal_bucket").alias("n_sensitive"),
        )
    )
    return grouped.select(
        "c_mktsegment",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "group_size",
        "n_sensitive",
        (F.col("group_size") < K_ANON).alias("k_violation"),
        (F.col("n_sensitive") < L_DIVERSE).alias("l_violation"),
    ).orderBy("c_mktsegment", "c_nationkey")


def _k_anonymity_sql() -> str:
    return f"""
WITH g AS (
  SELECT c_mktsegment, c_nationkey,
         COUNT(*) AS group_size,
         COUNT(DISTINCT CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT))
           AS n_sensitive
  FROM customer GROUP BY c_mktsegment, c_nationkey)
SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey,
       group_size, CAST(n_sensitive AS BIGINT) AS n_sensitive,
       group_size < {K_ANON} AS k_violation,
       n_sensitive < {L_DIVERSE} AS l_violation
FROM g ORDER BY c_mktsegment, c_nationkey
"""


def etl_retraction_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance UNDER RETRACTIONS — where naive
    incremental systems break. A CDC batch arrives against the
    materialized per-priority aggregate: orders with orderkey %% 7 == 0
    are UPDATED (price +10.00, encoded as the classic delete+insert
    retraction pair) and orders with orderkey %% 11 == 0 (and not %% 7)
    are DELETED outright. The view updates by summing signed deltas —
    (-1, -price) / (+1, +price') — and must equal the direct aggregate
    over the post-CDC state (the oracle).

    Only COUNT and SUM appear: they form an abelian group under
    retraction (every delta has an inverse); MIN/MAX are deliberately
    absent — a deleted minimum cannot be repaired from the aggregate
    alone, which is exactly why production IVM engines track extra
    state or disallow them. DECIMAL deltas keep the arithmetic exact.

    Shape: the delta side scans only CDC rows; the merge is the same
    group-key full-outer join as etl_incremental_agg.
    """
    orders = load_table(spark, sf_dir, "orders")
    view = orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), F.sum(dec2("o_totalprice")).alias("s")
    )
    upd = orders.filter("o_orderkey % 7 = 0")
    dels = orders.filter("o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0")
    ten = F.lit("10.00").cast("decimal(18,2)")
    deltas = (
        upd.select(
            "o_orderpriority",
            F.lit(-1).alias("dn"),
            (-dec2("o_totalprice")).alias("ds"),
        )
        .unionByName(
            upd.select(
                "o_orderpriority",
                F.lit(1).alias("dn"),
                (dec2("o_totalprice") + ten).alias("ds"),
            )
        )
        .unionByName(
            dels.select(
                "o_orderpriority",
                F.lit(-1).alias("dn"),
                (-dec2("o_totalprice")).alias("ds"),
            )
        )
    )
    dagg = deltas.groupBy("o_orderpriority").agg(
        F.sum("dn").alias("dn"), F.sum("ds").alias("ds")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    merged = view.alias("v").join(
        dagg.alias("d"),
        F.col("v.o_orderpriority") == F.col("d.o_orderpriority"),
        "full_outer",
    )
    return merged.select(
        F.coalesce(F.col("v.o_orderpriority"), F.col("d.o_orderpriority")).alias(
            "o_orderpriority"
        ),
        (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0)))
        .cast("long")
        .alias("n_orders"),
        money2(F.coalesce("s", zero) + F.coalesce("ds", zero)).alias("sum_price"),
    ).orderBy("o_orderpriority")


# Oracle: the DIRECT aggregate over the post-CDC state — equality is
# the algebraic proof the retraction path is safe.
_RETRACTION_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(round(SUM(CASE WHEN o_orderkey % 7 = 0
                           THEN CAST(o_totalprice AS DECIMAL(18,2))
                                + CAST('10.00' AS DECIMAL(18,2))
                           ELSE CAST(o_totalprice AS DECIMAL(18,2)) END), 2)
            AS DOUBLE) AS sum_price
FROM orders
WHERE NOT (o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def etl_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract validation (the dbt-test / Great
    Expectations archetype, absent from etl_dq_profile which PROFILES
    rather than ASSERTS): a rule table of NOT-NULL / range / enum /
    uniqueness / referential constraints over orders+lineitem, one row
    per rule with checked and violation counts — the CI gate a
    warehouse load runs before publishing a partition.

    Shape: each rule is a conditional aggregate over its own table
    scan group — Catalyst collapses the per-table rules into ONE pass
    per table (map-side partial counts); uniqueness is a groupBy-
    having count; the referential rule is the anti-join from
    etl_referential_check's playbook. Pure int counts.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    # r11 (guide §1.2): all of one table's value rules come out of ONE
    # aggregate pass (one violation counter per rule, exploded to
    # rows) — the old per-rule aggregates scanned orders 3x and
    # lineitem 2x for identical counts
    def _rules(df, specs):
        aggs = [F.count("*").cast("long").alias("n_checked")] + [
            F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias(f"v{i}")
            for i, (_, bad) in enumerate(specs)
        ]
        fused = df.agg(*aggs)
        structs = ", ".join(
            f"named_struct('rule', '{name}', 'n_checked', n_checked,"
            f" 'n_violations', v{i})"
            for i, (name, _) in enumerate(specs)
        )
        return fused.select(
            F.explode(F.expr(f"array({structs})")).alias("r")
        ).select("r.rule", "r.n_checked", "r.n_violations")

    o_rules = [
        _rules(
            orders,
            [
                ("orders.o_orderkey NOT NULL", F.col("o_orderkey").isNull()),
                ("orders.o_totalprice > 0", ~(F.col("o_totalprice") > 0)),
                (
                    "orders.o_orderstatus IN (O,F,P)",
                    ~F.col("o_orderstatus").isin("O", "F", "P"),
                ),
            ],
        )
    ]
    l_rules = [
        _rules(
            li,
            [
                (
                    "lineitem.l_quantity IN [1,50]",
                    ~F.col("l_quantity").between(1, 50),
                ),
                (
                    "lineitem.l_discount IN [0,1]",
                    ~F.col("l_discount").between(0, 1),
                ),
            ],
        )
    ]
    dup = (
        orders.groupBy("o_orderkey")
        .agg(F.count("*").alias("c"))
        .agg(
            F.lit("orders.o_orderkey UNIQUE").alias("rule"),
            F.count("*").cast("long").alias("n_checked"),
            F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0))
            .cast("long")
            .alias("n_violations"),
        )
    )
    # one lineitem pass (r11): left join against the distinct order
    # keys (1:<=1) yields total and orphan counts in one aggregate —
    # the old anti-join + count crossJoin scanned lineitem twice
    orphan = (
        li.select("l_orderkey")
        .join(
            orders.select("o_orderkey").distinct().withColumn("hit", F.lit(1)),
            li["l_orderkey"] == F.col("o_orderkey"),
            "left",
        )
        .agg(
            F.count("*").cast("long").alias("n_checked"),
            F.coalesce(
                F.sum(F.expr("CAST(hit IS NULL AS INT)")), F.lit(0)
            )
            .cast("long")
            .alias("n_violations"),
        )
        .select(
            F.lit("lineitem.l_orderkey REFERENCES orders").alias("rule"),
            "n_checked",
            "n_violations",
        )
    )
    out = o_rules[0]
    for r in o_rules[1:] + l_rules + [dup, orphan]:
        out = out.unionByName(r)
    return out.withColumn(
        "passed", (F.col("n_violations") == 0).cast("int")
    ).orderBy("rule")


_CONSTRAINT_SQL = """
WITH r1 AS (
  SELECT 'orders.o_orderkey NOT NULL' AS rule, CAST(COUNT(*) AS BIGINT) AS n_checked,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
  FROM orders),
r2 AS (
  SELECT 'orders.o_totalprice > 0', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders),
r3 AS (
  SELECT 'orders.o_orderstatus IN (O,F,P)', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders),
r4 AS (
  SELECT 'lineitem.l_quantity IN [1,50]', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem),
r5 AS (
  SELECT 'lineitem.l_discount IN [0,1]', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0 AND 1) THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem),
r6 AS (
  SELECT 'orders.o_orderkey UNIQUE', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT o_orderkey, COUNT(*) AS c FROM orders GROUP BY o_orderkey) t),
r7 AS (
  SELECT 'lineitem.l_orderkey REFERENCES orders',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))),
u AS (
  SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
  UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r5
  UNION ALL SELECT * FROM r6 UNION ALL SELECT * FROM r7)
SELECT rule, n_checked, n_violations,
       CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
FROM u ORDER BY rule
"""


# --- bitemporal as-of reconstruction -------------------------------------
# Valid-time x transaction-time point-in-time query — the warehouse
# archetype the SCD2 family (one time axis) cannot answer: "what did we
# BELIEVE at transaction time T about the state valid at date V?"
# (Snodgrass, *Developing Time-Oriented Database Applications in SQL*).
# The reference converter has no temporal surface at all (SURVEY §2.4);
# a pipeline that restates revenue needs exactly this reconstruction.
#
# The bitemporal version table is synthesized deterministically from
# orders: every order books version 1 at its order date; orders with
# o_orderkey % 7 == 0 receive a correction 45 days later that re-prices
# the order to 95 % (integer-cents (cents*95) DIV 100 — truncation
# toward zero matches DuckDB `//`, convention #7; both operands
# positive). Validity is [order date, +90 days).
BT_VALID_ASOF = "1997-06-15"
BT_VALID_DAYS = 90
BT_CORRECTION_LAG = 45
BT_TX_SNAPSHOTS = (("early", "1997-07-01"), ("late", "1999-01-01"))


def etl_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue believed-at-T for the state valid-at-V, per priority,
    at two transaction-time snapshots ('early' pre-dates most
    corrections of the valid window; 'late' post-dates all of them).

    Scale shape: the valid-window predicate is expressed directly on
    o_orderdate, so it reaches the parquet scan as a pushed range
    filter (a 90-day slice of a partitioned fact table — partition
    pruning at 100 TB). Version rows derive from ONE scan of that
    slice — each order explodes its 1- or 2-element version array
    inline (no v1/v2 union, which would scan the slice twice) — and
    the two snapshots come from the same pass via a 2-row broadcast
    spine cross-join, then a single (snapshot, priority)
    partial-aggregated groupBy. Monetary math stays in integer cents
    end to end (conv. #2 by way of exact int64; sums < 2^53 so the
    final /100.0 double division is lossless and engine-identical)."""
    o = load_table(spark, sf_dir, "orders")
    base = (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.expr("CAST(o_orderdate AS DATE)").alias("d"),
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
        )
        .filter(
            (F.col("d") > F.expr(f"DATE '{BT_VALID_ASOF}' - INTERVAL {BT_VALID_DAYS} DAY"))
            & (F.col("d") <= F.expr(f"DATE '{BT_VALID_ASOF}'"))
        )
    )
    lag = f"d + INTERVAL {BT_CORRECTION_LAG} DAY"
    vers = base.select(
        "o_orderpriority",
        F.explode(
            F.expr(
                f"CASE WHEN o_orderkey % 7 = 0 THEN array("
                f"named_struct('tx_from', d, 'tx_to', {lag}, 'p_cents', cents), "
                f"named_struct('tx_from', {lag}, 'tx_to', CAST(NULL AS DATE),"
                f" 'p_cents', (cents * 95) DIV 100)) "
                f"ELSE array(named_struct('tx_from', d,"
                f" 'tx_to', CAST(NULL AS DATE), 'p_cents', cents)) END"
            )
        ).alias("v"),
    ).select("o_orderpriority", "v.tx_from", "v.tx_to", "v.p_cents")
    spine = spark.createDataFrame(
        [(label, t) for label, t in BT_TX_SNAPSHOTS], "snapshot string, t string"
    ).select("snapshot", F.col("t").cast("date").alias("t"))
    snap = vers.crossJoin(F.broadcast(spine)).filter(
        (F.col("tx_from") <= F.col("t"))
        & (F.col("tx_to").isNull() | (F.col("t") < F.col("tx_to")))
    )
    return (
        snap.groupBy("snapshot", "o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("p_cents").cast("long").alias("sc"),
        )
        .select(
            "snapshot",
            "o_orderpriority",
            "n_orders",
            F.expr("CAST(sc AS DOUBLE) / 100.0").alias("believed_revenue"),
        )
        .orderBy("snapshot", "o_orderpriority")
    )


_BITEMPORAL_SQL = f"""
WITH base AS (
  SELECT o_orderkey, o_orderpriority, CAST(o_orderdate AS DATE) AS d,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
  WHERE CAST(o_orderdate AS DATE) > DATE '{BT_VALID_ASOF}' - {BT_VALID_DAYS}
    AND CAST(o_orderdate AS DATE) <= DATE '{BT_VALID_ASOF}'),
vers AS (
  SELECT o_orderpriority, d AS tx_from,
         CASE WHEN o_orderkey % 7 = 0 THEN d + {BT_CORRECTION_LAG} END AS tx_to,
         cents AS p_cents
  FROM base
  UNION ALL
  SELECT o_orderpriority, d + {BT_CORRECTION_LAG}, NULL, (cents * 95) // 100
  FROM base WHERE o_orderkey % 7 = 0),
spine AS (
  SELECT 'early' AS snapshot, DATE '{BT_TX_SNAPSHOTS[0][1]}' AS t
  UNION ALL
  SELECT 'late', DATE '{BT_TX_SNAPSHOTS[1][1]}')
SELECT s.snapshot, v.o_orderpriority,
       COUNT(*)::BIGINT AS n_orders,
       CAST(CAST(SUM(v.p_cents) AS BIGINT) AS DOUBLE) / 100.0 AS believed_revenue
FROM vers v, spine s
WHERE v.tx_from <= s.t AND (v.tx_to IS NULL OR s.t < v.tx_to)
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --- late-arriving dimension (inferred members) ---------------------------
# The Kimball early-arriving-fact / late-arriving-dimension pattern: a
# fact row can land before its dimension member does; the load keeps the
# fact and books it under an inferred 'UNKNOWN' member, and a later dim
# backfill re-homes it. Arrival is synthesized deterministically: each
# customer's dim row "arrives" at their first order date, except
# customers with c_custkey % LAD_LATE_MOD == 0 whose dim feed lags
# LAD_LAG_DAYS days. At the LAD_CUTOFF snapshot those laggards' facts
# are inferred members; the 'backfilled' state shows the reconciled
# segment totals (order/revenue grand totals are invariant across the
# two states — only the segment attribution moves; pinned by test).
LAD_CUTOFF = "1995-09-30"
LAD_LATE_MOD = 13
LAD_LAG_DAYS = 180


def etl_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level order counts/revenue at the cutoff snapshot (late
    dim members bucketed under 'UNKNOWN') vs after dim backfill.

    Scale shape: fact scan filtered to d <= cutoff at the parquet scan
    (partition-prunable range predicate); arrival derives from a
    map-side-combined min() per custkey; the dim (customer ⋈ arrival)
    is dimension-sized and broadcast onto the facts — at 100 TB with a
    non-broadcastable dim this becomes the standard shuffle equi-join
    on the surrogate key. Both snapshot states come from ONE pass over
    the joined facts via a 2-row broadcast spine. Money stays integer
    cents until the final lossless /100.0."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("CAST(o_orderdate AS DATE)").alias("d"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    arr = o.groupBy("o_custkey").agg(F.min("d").alias("first_d"))
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    dim = cust.join(arr, cust.c_custkey == arr.o_custkey).select(
        "c_custkey",
        "c_mktsegment",
        F.when(
            F.col("c_custkey") % LAD_LATE_MOD == 0,
            F.expr(f"first_d + INTERVAL {LAD_LAG_DAYS} DAY"),
        )
        .otherwise(F.col("first_d"))
        .alias("arrival_d"),
    )
    facts = o.filter(F.col("d") <= F.expr(f"DATE '{LAD_CUTOFF}'"))
    spine = spark.createDataFrame(
        [("at_cutoff",), ("backfilled",)], "state string"
    )
    seg = F.when(
        (F.col("state") == "at_cutoff")
        & (F.col("arrival_d") > F.expr(f"DATE '{LAD_CUTOFF}'")),
        F.lit("UNKNOWN"),
    ).otherwise(F.col("c_mktsegment"))
    return (
        facts.join(F.broadcast(dim), facts.o_custkey == dim.c_custkey)
        .crossJoin(F.broadcast(spine))
        .groupBy("state", seg.alias("mktsegment"))
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("sc"),
        )
        .select(
            "state",
            "mktsegment",
            "n_customers",
            "n_orders",
            F.expr("CAST(sc AS DOUBLE) / 100.0").alias("revenue"),
        )
        .orderBy("state", "mktsegment")
    )


_LATE_DIM_SQL = f"""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders),
arr AS (SELECT o_custkey, MIN(d) AS first_d FROM o GROUP BY o_custkey),
dim AS (
  SELECT c.c_custkey, c.c_mktsegment,
         CASE WHEN c.c_custkey % {LAD_LATE_MOD} = 0
              THEN a.first_d + {LAD_LAG_DAYS} ELSE a.first_d END AS arrival_d
  FROM customer c JOIN arr a ON c.c_custkey = a.o_custkey),
facts AS (SELECT * FROM o WHERE d <= DATE '{LAD_CUTOFF}'),
spine AS (SELECT 'at_cutoff' AS state UNION ALL SELECT 'backfilled')
SELECT s.state,
       CASE WHEN s.state = 'at_cutoff' AND dim.arrival_d > DATE '{LAD_CUTOFF}'
            THEN 'UNKNOWN' ELSE dim.c_mktsegment END AS mktsegment,
       COUNT(DISTINCT f.o_custkey)::BIGINT AS n_customers,
       COUNT(*)::BIGINT AS n_orders,
       CAST(CAST(SUM(f.cents) AS BIGINT) AS DOUBLE) / 100.0 AS revenue
FROM facts f
JOIN dim ON f.o_custkey = dim.c_custkey
CROSS JOIN spine s
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --- privacy-deletion propagation (right-to-be-forgotten cascade) ---------
# The GDPR/CCPA erasure archetype: a tombstone set of subject keys must
# cascade through every table that references the subject, directly
# (orders.o_custkey) or transitively (lineitem -> orders -> customer),
# and the job must account for exactly what it removed. Tombstones are
# synthesized deterministically (c_custkey % DEL_MOD == 0, ~3.4 %).
DEL_MOD = 29


def etl_deletion_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table deletion accounting for a subject-erasure cascade:
    rows before, rows deleted, rows after, and the monetary mass
    removed (cents -> /100.0) for the fact tables.

    Scale shape: customer and orders delete by a derivable predicate
    (map-side filter, no join); lineitem has no subject key, so its
    deletion is a LEFT SEMI shuffle join on l_orderkey against the
    deleted-order keys — the honest plan at 100 TB where the deleted
    set (~3 %) is far beyond broadcast size (with a small real
    tombstone list, the same semi-join broadcasts). Counts partial-
    aggregate map-side; each table contributes one row via unionByName
    of three single-row aggregates — three pruned scans total, one per
    audited table."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    c_del = (F.col("c_custkey") % DEL_MOD == 0).cast("int")
    o_del = (F.col("o_custkey") % DEL_MOD == 0).cast("int")
    c_row = cust.agg(
        F.lit("customer").alias("tbl"),
        F.count("*").cast("long").alias("n_before"),
        F.sum(c_del).cast("long").alias("n_deleted"),
        F.lit(None).cast("long").alias("sc"),
    )
    o_row = orders.agg(
        F.lit("orders").alias("tbl"),
        F.count("*").cast("long").alias("n_before"),
        F.sum(o_del).cast("long").alias("n_deleted"),
        F.sum(F.when(o_del == 1, F.col("cents"))).cast("long").alias("sc"),
    )
    del_orders = orders.filter(o_del == 1).select("o_orderkey")
    li_del = F.col("is_del").cast("int")
    l_row = (
        li.join(
            del_orders.withColumn("is_del", F.lit(True)),
            li.l_orderkey == del_orders.o_orderkey,
            "left",
        )
        .select(F.coalesce("is_del", F.lit(False)).alias("is_del"), "cents")
        .agg(
            F.lit("lineitem").alias("tbl"),
            F.count("*").cast("long").alias("n_before"),
            F.sum(li_del).cast("long").alias("n_deleted"),
            F.sum(F.when(li_del == 1, F.col("cents"))).cast("long").alias("sc"),
        )
    )
    return (
        c_row.unionByName(o_row)
        .unionByName(l_row)
        .select(
            "tbl",
            "n_before",
            "n_deleted",
            (F.col("n_before") - F.col("n_deleted")).alias("n_after"),
            F.expr("CAST(sc AS DOUBLE) / 100.0").alias("deleted_amount"),
        )
        .orderBy("tbl")
    )


_DELETION_SQL = f"""
WITH del_orders AS (
  SELECT o_orderkey FROM orders WHERE o_custkey % {DEL_MOD} = 0),
c_row AS (
  SELECT 'customer' AS tbl, COUNT(*)::BIGINT AS n_before,
         CAST(SUM(CASE WHEN c_custkey % {DEL_MOD} = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_deleted,
         CAST(NULL AS BIGINT) AS sc
  FROM customer),
o_row AS (
  SELECT 'orders', COUNT(*)::BIGINT,
         CAST(SUM(CASE WHEN o_custkey % {DEL_MOD} = 0 THEN 1 ELSE 0 END)
              AS BIGINT),
         CAST(SUM(CASE WHEN o_custkey % {DEL_MOD} = 0
                       THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                  END) AS BIGINT)
  FROM orders),
l_row AS (
  SELECT 'lineitem', COUNT(*)::BIGINT,
         CAST(SUM(CASE WHEN d.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT),
         CAST(SUM(CASE WHEN d.o_orderkey IS NOT NULL
                       THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                  END) AS BIGINT)
  FROM lineitem l LEFT JOIN del_orders d ON l.l_orderkey = d.o_orderkey),
u AS (
  SELECT * FROM c_row UNION ALL SELECT * FROM o_row
  UNION ALL SELECT * FROM l_row)
SELECT tbl, n_before, n_deleted,
       n_before - n_deleted AS n_after,
       CAST(sc AS DOUBLE) / 100.0 AS deleted_amount
FROM u ORDER BY tbl
"""


def etl_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift reconciliation with per-version accounting — the
    long-lived-table problem: files written before a column existed
    must union with files written after one was dropped, and the
    reader has to null-fill both directions without losing rows or
    money.

    Simulated drift from one orders extract: the v1 slice (even order
    keys) carries ``o_totalprice`` but predates ``o_orderpriority``;
    the v2 slice (odd keys) added priority and dropped totalprice.
    The reconciliation is Spark's real mechanism —
    ``unionByName(allowMissingColumns=True)`` (what
    ``spark.read.option("mergeSchema", ...)`` does for parquet file
    footers) — and the report is a ROLLUP over the evolved table:
    per version and overall, row counts, how many rows were
    null-filled per drifted column, distinct priorities seen, and the
    exact DECIMAL totalprice sum (convention #2) proving the merge
    dropped no money.

    Scale shape: one scan per version slice (same file here; disjoint
    files in production), a union that is a zero-shuffle narrow op,
    and ONE rollup aggregate that map-side combines to
    |versions|+1 rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.expr("o_orderkey % 2 = 0")).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v2 = orders.filter(F.expr("o_orderkey % 2 = 1")).select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    evolved = v1.withColumn("schema_version", F.lit("v1")).unionByName(
        v2.withColumn("schema_version", F.lit("v2")), allowMissingColumns=True
    )
    return (
        evolved.rollup("schema_version")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.expr("CAST(o_totalprice IS NULL AS INT)"))
            .cast("long")
            .alias("n_null_totalprice"),
            F.sum(F.expr("CAST(o_orderpriority IS NULL AS INT)"))
            .cast("long")
            .alias("n_null_priority"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            money2(F.sum(dec2("o_totalprice"))).alias("sum_totalprice"),
        )
        .select(
            F.coalesce("schema_version", F.lit("__ALL__")).alias("schema_version"),
            "n_rows",
            "n_null_totalprice",
            "n_null_priority",
            "n_priorities",
            "sum_totalprice",
        )
        .orderBy("schema_version")
    )


_SCHEMA_EVOLUTION_SQL = """
WITH v1 AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(NULL AS VARCHAR) AS o_orderpriority, 'v1' AS schema_version
  FROM orders WHERE o_orderkey % 2 = 0),
v2 AS (
  SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice,
         o_orderpriority, 'v2' AS schema_version
  FROM orders WHERE o_orderkey % 2 = 1),
evolved AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT COALESCE(schema_version, '__ALL__') AS schema_version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice IS NULL AS INT)) AS BIGINT)
         AS n_null_totalprice,
       CAST(SUM(CAST(o_orderpriority IS NULL AS INT)) AS BIGINT)
         AS n_null_priority,
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS sum_totalprice
FROM evolved
GROUP BY ROLLUP(schema_version)
ORDER BY schema_version
"""


def etl_scd3_previous_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-3 snapshot: per customer, the CURRENT and PREVIOUS
    value of the tracked attribute (order priority, by order
    recency) plus a change flag — the "one column of history"
    warehouse pattern that completes the SCD coverage next to the
    type-2 interval/snapshot operators.

    Derivation is one window pass over orders per customer ordered by
    (o_orderdate DESC, o_orderkey DESC — unique tie-break, convention
    #6): row 1 is current, its ``lead`` is previous; a count over the
    same partition gives n_orders without a second aggregate.

    Scale shape: ONE (o_custkey) exchange + sort serves the rank, the
    lead, and the count — a single Window operator; no self-join. At
    100 TB this is the standard co-partitioned per-entity pass.
    """
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    ranked = orders.select(
        "o_custkey",
        F.col("o_orderpriority").alias("current_priority"),
        F.row_number().over(w).alias("rn"),
        F.lead("o_orderpriority").over(w).alias("previous_priority"),
        # full frame over the SAME ordered spec so rank/lead/count fuse
        # into one Window operator (an unordered count spec would plan a
        # second Window behind the same exchange)
        F.count("*")
        .over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        .alias("n_orders"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "n_orders",
            "current_priority",
            "previous_priority",
            F.expr(
                "CASE WHEN previous_priority IS NULL THEN 0"
                " WHEN current_priority <> previous_priority THEN 1"
                " ELSE 0 END"
            ).alias("changed"),
        )
        .orderBy("o_custkey")
    )


_SCD3_SQL = """
WITH ranked AS (
  SELECT o_custkey,
         o_orderpriority AS current_priority,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
         LEAD(o_orderpriority) OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC)
           AS previous_priority,
         CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_orders
  FROM orders)
SELECT o_custkey, n_orders, current_priority, previous_priority,
       CASE WHEN previous_priority IS NULL THEN 0
            WHEN current_priority <> previous_priority THEN 1
            ELSE 0 END AS changed
FROM ranked WHERE rn = 1
ORDER BY o_custkey
"""


def etl_changelog_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-changelog compaction: replay an insert/update/delete stream
    to latest-state-per-key — the nightly job behind every Hudi/Delta
    CDC merge and Kafka compacted topic. The changelog is synthesized
    deterministically from lineitem: key = l_partkey (a part's
    "current listing"), change order = (l_shipdate, l_orderkey,
    l_linenumber), op = DELETE when l_returnflag = 'R' else UPSERT
    carrying l_extendedprice.

    Last-writer-wins via ONE ordered-window row_number per key (no
    self-join against a max-timestamp subquery — the naive anti-shape
    scans twice); a key whose final op is DELETE compacts to a
    tombstone. Output: live/tombstone key counts, total changelog
    depth, and the exact DECIMAL sum of surviving values (convention
    #2) as the state checksum.

    Scale: one shuffle on the key, one window sort within key groups —
    the canonical log-structured-merge shape; the aggregate is
    map-side combined. Cites Hudi COPY_ON_WRITE compaction semantics
    (public docs); reference has no relational surface (SURVEY §2.4).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("k"),
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        (F.col("l_returnflag") == "R").cast("int").alias("is_del"),
        F.col("l_extendedprice").alias("v"),
    )
    w = Window.partitionBy("k").orderBy(
        F.desc("l_shipdate"), F.desc("l_orderkey"), F.desc("l_linenumber")
    )
    # depth rides the SAME ordered spec with an explicit full frame, so
    # Catalyst fuses it and row_number into ONE Window operator over one
    # exchange (the SCD3 precedent, 78675da; VERDICT r8 #7 — a separate
    # unordered COUNT spec planned a second Window over the same key)
    latest = (
        li.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "depth",
            F.count("*").over(
                w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return latest.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum(F.expr("1 - is_del")).cast("long").alias("n_live"),
        F.sum("is_del").cast("long").alias("n_tombstoned"),
        F.sum("depth").cast("long").alias("n_changes"),
        money2(F.sum(F.when(F.col("is_del") == 0, dec2("v")))).alias(
            "live_value_total"
        ),
    )


_CHANGELOG_SQL = """
WITH log AS (
  SELECT l_partkey AS k, l_shipdate, l_orderkey, l_linenumber,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_del,
         l_extendedprice AS v
  FROM lineitem),
latest AS (
  SELECT k, is_del, v,
         COUNT(*) OVER (PARTITION BY k) AS depth
  FROM log
  QUALIFY ROW_NUMBER() OVER (PARTITION BY k
    ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) = 1)
SELECT COUNT(*)::BIGINT AS n_keys,
       CAST(SUM(1 - is_del) AS BIGINT) AS n_live,
       CAST(SUM(is_del) AS BIGINT) AS n_tombstoned,
       CAST(SUM(depth) AS BIGINT) AS n_changes,
       CAST(round(SUM(CASE WHEN is_del = 0
                 THEN CAST(v AS DECIMAL(18,2)) END), 2) AS DOUBLE)
         AS live_value_total
FROM latest
"""


STALE_AFTER_S = 86_400  # one day behind the freshest stream = stale


def etl_watermark_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-freshness audit: per event stream (event_type), the
    high-watermark timestamp, its lag behind the freshest stream, and
    a staleness flag — the first dashboard an on-call engineer checks
    when a pipeline silently stops delivering one topic while others
    flow.

    Lags are exact integer epoch seconds (floored on both engines);
    the watermark renders as a formatted UTC string (conventions #3/
    #10 — events.ts IS castable). One map-side-combined groupBy to
    |event types| rows; the global max is a broadcast of that tiny
    aggregate, not a second scan.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(floor(CAST(ts AS DOUBLE)) AS BIGINT)").alias("es"),
        "ts",
    )
    per = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.max("es").alias("wm_s"),
        F.max("ts").alias("wm_ts"),
    )
    glob = per.agg(F.max("wm_s").alias("g"))
    return (
        per.crossJoin(F.broadcast(glob))
        .select(
            "event_type",
            "n_events",
            F.date_format("wm_ts", "yyyy-MM-dd HH:mm:ss").alias("watermark"),
            F.expr("g - wm_s").cast("long").alias("lag_s"),
            F.expr(f"g - wm_s > {STALE_AFTER_S}").alias("is_stale"),
        )
        .orderBy("event_type")
    )


_WATERMARK_SQL = f"""
WITH per AS (
  SELECT event_type, COUNT(*)::BIGINT AS n_events,
         CAST(floor(epoch(MAX(ts))) AS BIGINT) AS wm_s,
         MAX(ts) AS wm_ts
  FROM events GROUP BY 1),
g AS (SELECT MAX(wm_s) AS g FROM per)
SELECT event_type, n_events,
       strftime(wm_ts, '%Y-%m-%d %H:%M:%S') AS watermark,
       CAST(g - wm_s AS BIGINT) AS lag_s,
       g - wm_s > {STALE_AFTER_S} AS is_stale
FROM per, g
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Interval coalescing (gaps-and-islands): merge each customer's
# overlapping order-fulfillment windows [o_orderdate, max(l_shipdate)]
# into maximal contiguous activity islands. The classic warehouse
# primitive behind validity-interval compaction, downtime reports, and
# contiguous-coverage checks (Itzik Ben-Gan's gaps-and-islands — public
# SQL folklore; no self-join, two window passes over ONE sort).
# ---------------------------------------------------------------------------


def etl_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (customer, island): island bounds, member-order
    count, and covered-day span, where an island is a maximal run of
    fulfillment intervals in which each interval starts on or before
    the running max end of its predecessors.

    Interval = [order date, last lineitem ship date]; an order with no
    lineitems (in-contract degenerate) coalesces to a point interval
    at its order date — COALESCE(greatest(...)) identical on both
    engines. Day indexes are TZ-free ints (convention #10: these
    columns are TIMESTAMP_NTZ — datediff on DATE casts, never epoch).

    Determinism: island assignment depends on the scan order within a
    customer, pinned by the unique (s_day, o_orderkey) sort on both
    engines; all arithmetic is integer day math.

    Scale shape: the lineitem scan collapses to per-order maxima first
    (map-side combine on the natural l_orderkey clustering), one
    equi-join with orders on the same key, then BOTH window passes
    (running-max-end and island-id prefix sum) share a single
    (custkey, s_day, orderkey) Exchange+Sort — the plan pin asserts
    one Window sort, no self-join. At 100 TB: orders and lineitem
    bucketed on orderkey make the join exchange-free; the window
    shuffle is on the customer key with per-key fan-in bounded by
    orders-per-customer.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_orderkey").agg(
        F.expr(
            "MAX(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01'))"
        ).alias("ship_day")
    )
    iv = (
        orders.join(last_ship, orders.o_orderkey == last_ship.l_orderkey, "left")
        .select(
            "o_custkey",
            "o_orderkey",
            F.expr(
                "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
            ).alias("s_day"),
            F.expr(
                "greatest(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01'), "
                "coalesce(ship_day, CAST(-2147483648 AS INT)))"
            ).alias("e_day"),
        )
    )
    w_scan = (
        Window.partitionBy("o_custkey")
        .orderBy("s_day", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("s_day", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = iv.withColumn(
        "new_island",
        F.when(
            F.col("s_day") > F.coalesce(F.max("e_day").over(w_scan), F.lit(-2147483648)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("island_id", F.sum("new_island").over(w_run).cast("long"))
    return (
        marked.groupBy("o_custkey", "island_id")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.min("s_day").alias("s_min"),
            F.max("e_day").alias("e_max"),
        )
        .select(
            "o_custkey",
            "island_id",
            "n_orders",
            F.expr("date_format(date_add(DATE '1970-01-01', s_min), 'yyyy-MM-dd')").alias(
                "island_start"
            ),
            F.expr("date_format(date_add(DATE '1970-01-01', e_max), 'yyyy-MM-dd')").alias(
                "island_end"
            ),
            F.expr("CAST(e_max - s_min + 1 AS BIGINT)").alias("span_days"),
        )
        .orderBy("o_custkey", "island_id")
    )


_INTERVAL_COALESCE_SQL = """
WITH last_ship AS (
  SELECT l_orderkey,
         MAX(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))) AS ship_day
  FROM lineitem GROUP BY 1),
iv AS (
  SELECT o.o_custkey, o.o_orderkey,
         date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS s_day,
         greatest(date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)),
                  COALESCE(ls.ship_day, -2147483648)) AS e_day
  FROM orders o LEFT JOIN last_ship ls ON o.o_orderkey = ls.l_orderkey),
marked AS (
  SELECT o_custkey, o_orderkey, s_day, e_day,
         CASE WHEN s_day > COALESCE(
                MAX(e_day) OVER (PARTITION BY o_custkey ORDER BY s_day, o_orderkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -2147483648)
              THEN 1 ELSE 0 END AS new_island
  FROM iv),
isl AS (
  SELECT o_custkey, s_day, e_day,
         CAST(SUM(new_island) OVER (PARTITION BY o_custkey ORDER BY s_day, o_orderkey
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS island_id
  FROM marked)
SELECT o_custkey, island_id,
       COUNT(*)::BIGINT AS n_orders,
       strftime(DATE '1970-01-01' + INTERVAL (MIN(s_day)) DAY, '%Y-%m-%d') AS island_start,
       strftime(DATE '1970-01-01' + INTERVAL (MAX(e_day)) DAY, '%Y-%m-%d') AS island_end,
       CAST(MAX(e_day) - MIN(s_day) + 1 AS BIGINT) AS span_days
FROM isl
GROUP BY o_custkey, island_id
ORDER BY o_custkey, island_id
"""


QUERIES = {
    "etl_interval_coalesce": etl_interval_coalesce,
    "etl_watermark_freshness": etl_watermark_freshness,
    "etl_changelog_compaction": etl_changelog_compaction,
    "etl_scd3_previous_value": etl_scd3_previous_value,
    "etl_schema_evolution": etl_schema_evolution,
    "etl_deletion_propagation": etl_deletion_propagation,
    "etl_late_arriving_dim": etl_late_arriving_dim,
    "etl_bitemporal_asof": etl_bitemporal_asof,
    "etl_constraint_violations": etl_constraint_violations,
    "etl_k_anonymity": etl_k_anonymity,
    "etl_retraction_agg": etl_retraction_agg,
    "etl_scd2_asof_snapshot": etl_scd2_asof_snapshot,
    "etl_scd2_fact_join": etl_scd2_fact_join,
    "etl_dq_profile": etl_dq_profile,
    "etl_snapshot_diff": etl_snapshot_diff,
    "etl_referential_check": etl_referential_check,
    "etl_scd2_intervals": etl_scd2_intervals,
    "etl_merge_upsert": etl_merge_upsert,
    "etl_incremental_agg": etl_incremental_agg,
}

ORACLES = {
    "etl_interval_coalesce": _INTERVAL_COALESCE_SQL,
    "etl_watermark_freshness": _WATERMARK_SQL,
    "etl_changelog_compaction": _CHANGELOG_SQL,
    "etl_scd3_previous_value": _SCD3_SQL,
    "etl_schema_evolution": _SCHEMA_EVOLUTION_SQL,
    "etl_deletion_propagation": _DELETION_SQL,
    "etl_late_arriving_dim": _LATE_DIM_SQL,
    "etl_bitemporal_asof": _BITEMPORAL_SQL,
    "etl_constraint_violations": _CONSTRAINT_SQL,
    "etl_k_anonymity": _k_anonymity_sql(),
    "etl_retraction_agg": _RETRACTION_SQL,
    "etl_scd2_asof_snapshot": _scd2_asof_sql(),
    "etl_scd2_fact_join": _scd2_fact_join_sql(),
    "etl_dq_profile": _dq_sql(),
    "etl_snapshot_diff": _SNAPSHOT_DIFF_SQL,
    "etl_referential_check": _ref_sql(),
    "etl_scd2_intervals": _SCD2_SQL,
    "etl_merge_upsert": _MERGE_SQL,
    "etl_incremental_agg": _INCR_SQL,
}
