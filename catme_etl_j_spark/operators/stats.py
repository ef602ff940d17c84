"""Exact closed-form statistics: OLS regression and Pearson correlation.

The training-data pipeline's "measure before you filter" tools: fitting
a per-segment linear trend and a pairwise correlation matrix over the
fact table, both as ONE aggregation pass (the 100 TB shape — every
statistic here is a sum of per-row terms, so Spark computes partial
aggregates map-side and shuffles only `n_groups * n_terms` numbers,
independent of table size).

Reference parity note: the reference converter (SURVEY.md §2) has no
statistics surface; these extend the engine along SURVEY §7.5's
"training-data pipeline" axis.

Determinism (cross-engine, see functions/numeric.py): every input is
fixed-pointed to an int64 (`floor(x*scale+0.5)`), per-row products stay
below 2^63, and the sums accumulate in DECIMAL(38,0) — exact integers,
order-independent, identical in Spark and DuckDB (convention #5:
DuckDB SUM(BIGINT) would emit HUGEINT; DECIMAL(38,0) sums avoid the
whole class). Only then do both engines perform the SAME final IEEE
double arithmetic, and outputs go through `rdet` (convention #1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from catme_etl_j_spark.functions.numeric import rdet, rdet_sql
from catme_etl_j_spark.sources.tables import load_table

# quantity is integral and price has cents: a 1e2 scale makes both
# EXACT int64s (no representation error to disagree on).
_OLS_SCALE = 100.0
# the correlation matrix also covers discount/tax (4-decimal rates):
# 1e4 captures them exactly; price*1e4 <= ~1.1e9 so per-row squares
# (~1.2e18) still fit int64, and the DECIMAL(38,0) accumulator has
# ~20 orders of magnitude of headroom for the row count.
_CORR_SCALE = 10000.0

# Theil–Sen slope-histogram range partitions: bounds the driver-side
# offsets collect at _TS_PARTS rows regardless of pair count.
_TS_PARTS = 32


def _fx(col: str, scale: float) -> F.Column:
    return F.floor(F.col(col).cast("double") * F.lit(scale) + F.lit(0.5)).cast("long")


def _fx_sql(col: str, scale: float) -> str:
    return f"CAST(floor(CAST({col} AS DOUBLE) * {scale} + 0.5) AS BIGINT)"


def _dsum(c: F.Column) -> F.Column:
    """Exact integer sum with headroom: DECIMAL(38,0) accumulator."""
    return F.sum(c.cast("decimal(38,0)"))


def _dsum_sq(c: F.Column) -> F.Column:
    """Exact sum of squares: the SQUARE runs in DECIMAL too, so an
    int64 input near 1e11 (value*100 cents of a 1e9 reading) can't
    overflow the long multiply before the accumulator sees it."""
    d = c.cast("decimal(19,0)")
    return F.sum((d * d).cast("decimal(38,0)"))


def stats_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS of extendedprice on quantity: slope,
    intercept, r2 from the five classic sums — one scan, one shuffle
    of 3 groups x 6 numbers. At 100 TB the shuffle payload is still
    18 numbers; the scan dominates and is column-pruned to 3 columns.
    """
    li = load_table(spark, sf_dir, "lineitem")
    xy = li.select(
        "l_returnflag",
        _fx("l_quantity", _OLS_SCALE).alias("x"),
        _fx("l_extendedprice", _OLS_SCALE).alias("y"),
    )
    agg = xy.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        _dsum(F.col("x")).alias("sx"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.col("x") * F.col("y")).alias("sxy"),
        _dsum(F.col("x") * F.col("x")).alias("sxx"),
        _dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_rows").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (F.col(c).cast("double") for c in ("sxy", "sxx", "syy"))
    cov_n = n * sxy - sx * sy  # n^2 * covariance (scaled)
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x  # scale cancels (both axes scaled by 1e2)
    # intercept in ORIGINAL price units: (sy - slope*sx) / (n*scale)
    intercept = (sy - slope * sx) / (n * F.lit(_OLS_SCALE))
    r2 = (cov_n * cov_n) / (var_x * var_y)
    # constant-x groups have no regression line, constant-y groups no
    # r2 — NULL on both engines instead of an ANSI 0/0 (degenerate-probe)
    nul = F.lit(None).cast("double")
    return agg.select(
        "l_returnflag",
        "n_rows",
        F.when(var_x > 0, rdet(slope, 6)).otherwise(nul).alias("slope"),
        F.when(var_x > 0, rdet(intercept, 4)).otherwise(nul).alias("intercept"),
        F.when((var_x > 0) & (var_y > 0), rdet(r2, 6)).otherwise(nul).alias("r2"),
    ).orderBy("l_returnflag")


def _ols_sql() -> str:
    x = _fx_sql("l_quantity", _OLS_SCALE)
    y = _fx_sql("l_extendedprice", _OLS_SCALE)
    return f"""
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n_rows,
         CAST(SUM(CAST({x} AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST({y} AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST({x} * {y} AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST({x} * {x} AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST({y} * {y} AS DECIMAL(38,0))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
), f AS (
  SELECT l_returnflag, n_rows,
         CAST(n_rows AS DOUBLE) AS n, sx, sy, sxy, sxx, syy,
         (CAST(n_rows AS DOUBLE) * sxy - sx * sy) AS cov_n,
         (CAST(n_rows AS DOUBLE) * sxx - sx * sx) AS var_x,
         (CAST(n_rows AS DOUBLE) * syy - sy * sy) AS var_y
  FROM s
)
SELECT l_returnflag, n_rows,
       CASE WHEN var_x > 0 THEN {rdet_sql("cov_n / var_x", 6)} END AS slope,
       CASE WHEN var_x > 0 THEN {rdet_sql("(sy - (cov_n / var_x) * sx) / (n * " + str(_OLS_SCALE) + ")", 4)} END AS intercept,
       CASE WHEN var_x > 0 AND var_y > 0 THEN {rdet_sql("(cov_n * cov_n) / (var_x * var_y)", 6)} END AS r2
FROM f
ORDER BY l_returnflag
"""


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_CORR_PAIRS = [
    (a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1 :]
]


def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation for all 6 column pairs of (quantity, price,
    discount, tax) in ONE full-table aggregation (no per-pair rescans:
    the single agg row carries every moment, then explodes to 6 rows
    driver-free). The map-side partial agg means the shuffle carries
    one row per task regardless of table size."""
    li = load_table(spark, sf_dir, "lineitem")
    fx = li.select(
        *[_fx(c, _CORR_SCALE).alias(c) for c in _CORR_COLS]
    )
    aggs = [F.count("*").alias("n_rows")]
    for c in _CORR_COLS:
        aggs.append(_dsum(F.col(c)).alias(f"s_{c}"))
        aggs.append(_dsum(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    for a, b in _CORR_PAIRS:
        aggs.append(_dsum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    one = fx.agg(*aggs)

    n = F.col("n_rows").cast("double")

    def corr(a: str, b: str) -> F.Column:
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        sab = F.col(f"sp_{a}_{b}").cast("double")
        ssa, ssb = F.col(f"ss_{a}").cast("double"), F.col(f"ss_{b}").cast("double")
        da, db = n * ssa - sa * sa, n * ssb - sb * sb
        # Pearson r is undefined for a zero-variance column (a constant
        # l_tax, say) — NULL on both engines, not an ANSI 0/0 crash
        # (degenerate-probe guard)
        return F.when(
            (da > 0) & (db > 0),
            rdet((n * sab - sa * sb) / (F.sqrt(da) * F.sqrt(db)), 6),
        ).otherwise(F.lit(None).cast("double"))

    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                corr(a, b).alias("pearson_r"),
            )
            for a, b in _CORR_PAIRS
        ]
    )
    return (
        one.select(F.explode(pairs).alias("p"))
        .select("p.col_x", "p.col_y", "p.pearson_r")
        .orderBy("col_x", "col_y")
    )


def _corr_sql() -> str:
    sel = ["COUNT(*) AS n_rows"]
    for c in _CORR_COLS:
        e = _fx_sql(c, _CORR_SCALE)
        sel.append(f"CAST(SUM(CAST({e} AS DECIMAL(38,0))) AS DOUBLE) AS s_{c}")
        sel.append(f"CAST(SUM(CAST({e} * {e} AS DECIMAL(38,0))) AS DOUBLE) AS ss_{c}")
    for a, b in _CORR_PAIRS:
        ea, eb = _fx_sql(a, _CORR_SCALE), _fx_sql(b, _CORR_SCALE)
        sel.append(
            f"CAST(SUM(CAST({ea} * {eb} AS DECIMAL(38,0))) AS DOUBLE) AS sp_{a}_{b}"
        )
    arms = []
    for a, b in _CORR_PAIRS:
        da = f"(CAST(n_rows AS DOUBLE) * ss_{a} - s_{a} * s_{a})"
        db = f"(CAST(n_rows AS DOUBLE) * ss_{b} - s_{b} * s_{b})"
        r = (
            f"(CAST(n_rows AS DOUBLE) * sp_{a}_{b} - s_{a} * s_{b}) / "
            f"(sqrt({da}) * sqrt({db}))"
        )
        guarded = (
            f"CASE WHEN {da} > 0 AND {db} > 0 THEN {rdet_sql(r, 6)}"
            f" ELSE CAST(NULL AS DOUBLE) END"
        )
        arms.append(
            f"SELECT '{a}' AS col_x, '{b}' AS col_y, {guarded} AS pearson_r FROM m"
        )
    body = "\nUNION ALL\n".join(arms)
    return f"WITH m AS (\n  SELECT {', '.join(sel)} FROM lineitem\n)\n{body}\nORDER BY col_x, col_y"


# 3-sigma equivalent for the MAD rule: 3 * 1.4826 (the normal
# consistency constant). One double multiply, identical both engines.
_MAD_K = 4.4478


def _median2(df: DataFrame, key: str, val: str, order: str, out: str) -> DataFrame:
    """Exact per-group median of an int64 column, DOUBLED so it stays
    an integer for even-sized groups (odd: 2*mid; even: lo+hi).
    One window pass + one group agg — the agg_median_manual technique
    lifted to integer arithmetic."""
    w = W.partitionBy(key).orderBy(val, order)
    ranked = df.select(
        key,
        val,
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy(key)).alias("cnt"),
    )
    mid = ranked.filter(
        ((F.col("cnt") % 2 == 1) & (F.col("rn") == (F.col("cnt") + 1) / 2))
        | (
            (F.col("cnt") % 2 == 0)
            & ((F.col("rn") == F.col("cnt") / 2) | (F.col("rn") == F.col("cnt") / 2 + 1))
        )
    )
    return mid.groupBy(key).agg(
        F.sum(
            F.when(F.col("cnt") % 2 == 1, 2 * F.col(val)).otherwise(F.col(val))
        ).alias(out)
    )


def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per order priority: exact median and
    median-absolute-deviation (both via the doubled-integer median so
    even-group midpoints stay exact), then count orders beyond
    3σ-equivalent (|x - med| > 3*1.4826*MAD).

    Scale shape: two per-group window passes over orders (each a
    single hash exchange on the 5-value key — skew-prone at 100 TB,
    where the upgrade is the two-level median-of-medians; documented,
    not needed at the gate scales) plus two broadcast joins of the
    5-row medians.

    Determinism: prices to cents (exact int64), medians doubled to
    stay integral, the outlier comparison is one int->double cast and
    one double multiply — identical IEEE both engines.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderpriority",
        "o_orderkey",
        _fx("o_totalprice", 100.0).alias("cents"),
    )
    med = _median2(base, "o_orderpriority", "cents", "o_orderkey", "med_c2")
    dev = base.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        "o_orderkey",
        "cents",
        "med_c2",
        F.abs(2 * F.col("cents") - F.col("med_c2")).alias("dev_c2"),
    )
    mad = _median2(dev, "o_orderpriority", "dev_c2", "o_orderkey", "mad_c4")
    flagged = dev.join(F.broadcast(mad), "o_orderpriority").withColumn(
        "is_outlier",
        (
            (2 * F.col("dev_c2")).cast("double")
            > F.lit(_MAD_K) * F.col("mad_c4").cast("double")
        ).cast("int"),
    )
    return (
        flagged.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_rows"),
            F.first("med_c2").alias("m2"),
            F.first("mad_c4").alias("m4"),
            F.sum("is_outlier").cast("long").alias("n_outliers"),
        )
        .select(
            "o_orderpriority",
            "n_rows",
            rdet(F.col("m2").cast("double") / F.lit(200.0), 4).alias("median_price"),
            rdet(F.col("m4").cast("double") / F.lit(400.0), 4).alias("mad"),
            "n_outliers",
        )
        .orderBy("o_orderpriority")
    )


def _mad_sql() -> str:
    cents = _fx_sql("o_totalprice", 100.0)
    return f"""
WITH base AS (
  SELECT o_orderpriority, o_orderkey, {cents} AS cents FROM orders
),
r1 AS (
  SELECT o_orderpriority, cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY cents, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
  FROM base
),
med AS (
  SELECT o_orderpriority,
         CAST(SUM(CASE WHEN cnt % 2 = 1 THEN 2 * cents ELSE cents END) AS BIGINT) AS med_c2
  FROM r1
  WHERE (cnt % 2 = 1 AND rn = (cnt + 1) // 2)
     OR (cnt % 2 = 0 AND (rn = cnt // 2 OR rn = cnt // 2 + 1))
  GROUP BY o_orderpriority
),
dev AS (
  SELECT b.o_orderpriority, b.o_orderkey, abs(2 * b.cents - m.med_c2) AS dev_c2, m.med_c2
  FROM base b JOIN med m ON b.o_orderpriority = m.o_orderpriority
),
r2 AS (
  SELECT o_orderpriority, dev_c2,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY dev_c2, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
  FROM dev
),
mad AS (
  SELECT o_orderpriority,
         CAST(SUM(CASE WHEN cnt % 2 = 1 THEN 2 * dev_c2 ELSE dev_c2 END) AS BIGINT) AS mad_c4
  FROM r2
  WHERE (cnt % 2 = 1 AND rn = (cnt + 1) // 2)
     OR (cnt % 2 = 0 AND (rn = cnt // 2 OR rn = cnt // 2 + 1))
  GROUP BY o_orderpriority
)
SELECT d.o_orderpriority,
       COUNT(*) AS n_rows,
       {rdet_sql("CAST(ANY_VALUE(d.med_c2) AS DOUBLE) / 200.0", 4)} AS median_price,
       {rdet_sql("CAST(ANY_VALUE(a.mad_c4) AS DOUBLE) / 400.0", 4)} AS mad,
       CAST(SUM(CASE WHEN CAST(2 * d.dev_c2 AS DOUBLE) > {_MAD_K} * CAST(a.mad_c4 AS DOUBLE)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad a ON d.o_orderpriority = a.o_orderpriority
GROUP BY d.o_orderpriority
ORDER BY d.o_orderpriority
"""


def stats_chi2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence cells for returnflag x linestatus:
    observed counts, expected counts from the marginals, and each
    cell's chi2 contribution. Emitting PER-CELL rows (not the summed
    statistic) keeps the result free of cross-row float accumulation —
    the one place a chi2 could diverge between engines; consumers sum
    the 6 contributions themselves.

    Scale: one map-side-combined groupBy to a contingency table whose
    size is |levels_a| x |levels_b| regardless of row count; the
    marginals are window sums over that tiny frame.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("observed")
    )
    row_t = F.sum("observed").over(W.partitionBy("l_returnflag"))
    col_t = F.sum("observed").over(W.partitionBy("l_linestatus"))
    grand = F.sum("observed").over(W.partitionBy())
    expected = (
        row_t.cast("double") * col_t.cast("double") / grand.cast("double")
    )
    contrib = (
        (F.col("observed").cast("double") - expected)
        * (F.col("observed").cast("double") - expected)
        / expected
    )
    return (
        cells.select(
            "l_returnflag",
            "l_linestatus",
            "observed",
            rdet(expected, 4).alias("expected"),
            rdet(contrib, 6).alias("chi2_contrib"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_CHI2_SQL = f"""
WITH cells AS (
  SELECT l_returnflag, l_linestatus, COUNT(*) AS observed
  FROM lineitem GROUP BY l_returnflag, l_linestatus
),
m AS (
  SELECT l_returnflag, l_linestatus, observed,
         CAST(SUM(observed) OVER (PARTITION BY l_returnflag) AS DOUBLE) AS row_t,
         CAST(SUM(observed) OVER (PARTITION BY l_linestatus) AS DOUBLE) AS col_t,
         CAST(SUM(observed) OVER () AS DOUBLE) AS grand
  FROM cells
)
SELECT l_returnflag, l_linestatus, observed,
       {rdet_sql("row_t * col_t / grand", 4)} AS expected,
       {rdet_sql(
           "(CAST(observed AS DOUBLE) - row_t * col_t / grand)"
           " * (CAST(observed AS DOUBLE) - row_t * col_t / grand)"
           " / (row_t * col_t / grand)", 6)} AS chi2_contrib
FROM m
ORDER BY l_returnflag, l_linestatus
"""


def stats_mode_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mode of l_quantity per returnflag (ties -> smallest
    value), with its frequency and share in ppm — the third exact
    robust statistic beside the median and MAD. Two map-side-combined
    aggregations (value counts, then argmax via one window over
    |distinct values| rows per group).

    Determinism: quantities are integral (exact cents cast), counts
    exact, share_ppm pure int64 arithmetic, tie-break on value.
    """
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.select(
        "l_returnflag", _fx("l_quantity", 100.0).alias("qty_c")
    )
    counts = vals.groupBy("l_returnflag", "qty_c").agg(F.count("*").alias("n"))
    wtot = W.partitionBy("l_returnflag")
    wr = W.partitionBy("l_returnflag").orderBy(F.desc("n"), F.asc("qty_c"))
    return (
        counts.withColumn("total", F.sum("n").over(wtot))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            (F.col("qty_c").cast("double") / F.lit(100.0)).alias("mode_quantity"),
            F.col("n").alias("n_mode"),
            F.expr("CAST((n * 1000000) DIV total AS BIGINT)").alias("share_ppm"),
        )
        .orderBy("l_returnflag")
    )


_MODE_SQL = f"""
WITH counts AS (
  SELECT l_returnflag, {_fx_sql("l_quantity", 100.0)} AS qty_c, COUNT(*) AS n
  FROM lineitem GROUP BY 1, 2
),
ranked AS (
  SELECT l_returnflag, qty_c, n,
         SUM(n) OVER (PARTITION BY l_returnflag) AS total,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY n DESC, qty_c ASC) AS rn
  FROM counts
)
SELECT l_returnflag,
       CAST(qty_c AS DOUBLE) / 100.0 AS mode_quantity,
       n AS n_mode,
       CAST((n * 1000000) // total AS BIGINT) AS share_ppm
FROM ranked WHERE rn = 1
ORDER BY l_returnflag
"""


def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic comparing event ``value`` between
    'purchase' and 'view' events (the means-difference companion to
    events_ab_test's two-proportion z): one conditional aggregation
    pass collects exact cent sums/sumsq per group, then the t statistic
    and Welch–Satterthwaite dof are fixed double formulas on the single
    agg row — no cross-row float accumulation anywhere.
    """
    from catme_etl_j_spark.sources.tables import load_table as _lt

    ev = _lt(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    cents = _fx("value", 100.0)
    grp = F.when(F.col("event_type") == "purchase", 1).otherwise(2)
    one = ev.select(grp.alias("g"), cents.alias("c")).agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).cast("long").alias("n2"),
        _dsum(F.when(F.col("g") == 1, F.col("c")).otherwise(0)).alias("s1"),
        _dsum(F.when(F.col("g") == 2, F.col("c")).otherwise(0)).alias("s2"),
        # square in DECIMAL, not int64: |value| >= ~1e9 makes cents^2
        # overflow the long multiply on BOTH engines (degenerate-probe)
        _dsum_sq(F.when(F.col("g") == 1, F.col("c")).otherwise(0)).alias("ss1"),
        _dsum_sq(F.when(F.col("g") == 2, F.col("c")).otherwise(0)).alias("ss2"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    ss1, ss2 = F.col("ss1").cast("double"), F.col("ss2").cast("double")
    m1, m2 = s1 / n1, s2 / n2
    v1 = (ss1 - s1 * s1 / n1) / (n1 - 1)
    v2 = (ss2 - s2 * s2 / n2) / (n2 - 1)
    se2 = v1 / n1 + v2 / n2
    t = (m1 - m2) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1)
    )
    # singleton groups (v undefined) or identical-value groups (se2=0)
    # leave t/dof undefined: NULL on both engines, never an ANSI crash
    ok = (F.col("n1") >= 2) & (F.col("n2") >= 2) & (se2 > 0)
    has_both = (F.col("n1") >= 1) & (F.col("n2") >= 1)
    return one.select(
        "n1",
        "n2",
        F.when(has_both, rdet((m1 - m2) / F.lit(100.0), 4))
        .otherwise(F.lit(None).cast("double"))
        .alias("mean_diff"),
        F.when(ok, rdet(t, 6)).otherwise(F.lit(None).cast("double")).alias("t_stat"),
        F.when(ok, rdet(dof, 2)).otherwise(F.lit(None).cast("double")).alias("welch_dof"),
    )


def _welch_sql() -> str:
    c = _fx_sql("value", 100.0)
    return f"""
WITH a AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END AS g, {c} AS c
  FROM events WHERE event_type IN ('purchase', 'view')
),
m AS (
  SELECT CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CAST(CASE WHEN g = 1 THEN c ELSE 0 END AS DECIMAL(38,0))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(CASE WHEN g = 2 THEN c ELSE 0 END AS DECIMAL(38,0))) AS DOUBLE) AS s2,
         CAST(SUM(CAST(CAST(CASE WHEN g = 1 THEN c ELSE 0 END AS DECIMAL(19,0))
                       * CAST(CASE WHEN g = 1 THEN c ELSE 0 END AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DOUBLE) AS ss1,
         CAST(SUM(CAST(CAST(CASE WHEN g = 2 THEN c ELSE 0 END AS DECIMAL(19,0))
                       * CAST(CASE WHEN g = 2 THEN c ELSE 0 END AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DOUBLE) AS ss2
  FROM a
),
f AS (
  SELECT n1, n2,
         s1 / n1 AS m1, s2 / n2 AS m2,
         (ss1 - s1 * s1 / n1) / (n1 - 1) AS v1,
         (ss2 - s2 * s2 / n2) / (n2 - 1) AS v2
  FROM m
)
SELECT n1, n2,
       CASE WHEN n1 >= 1 AND n2 >= 1
            THEN {rdet_sql("(m1 - m2) / 100.0", 4)} END AS mean_diff,
       CASE WHEN n1 >= 2 AND n2 >= 2 AND v1 / n1 + v2 / n2 > 0
            THEN {rdet_sql("(m1 - m2) / sqrt(v1 / n1 + v2 / n2)", 6)} END AS t_stat,
       CASE WHEN n1 >= 2 AND n2 >= 2 AND v1 / n1 + v2 / n2 > 0
            THEN {rdet_sql(
           "((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)) / "
           "((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1))", 2)} END AS welch_dof
FROM f
"""


def stats_gini_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of document length per source — the corpus-
    inequality number a curation pipeline watches (gini ~ 0: uniform
    lengths; -> 1: a few giant docs dominate the token budget).

    G = sum_i((2i - n - 1) * x_(i)) / (n * sum(x)) over ascending-
    sorted lengths: the numerator is an EXACT int64 sum of per-row
    integer terms (one rank window + one agg, both partitioned by
    source), so only the final division is floating point.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source",
        F.col("n_chars").cast("long").alias("x"),
        F.row_number().over(w).cast("long").alias("i"),
        F.count("*").over(W.partitionBy("source")).alias("n"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            F.sum("x").alias("total_chars"),
            F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("x")).alias("num"),
        )
        .select(
            "source",
            "n_docs",
            F.col("total_chars").cast("long").alias("total_chars"),
            rdet(
                F.col("num").cast("double")
                / (F.col("n_docs").cast("double") * F.col("total_chars").cast("double")),
                6,
            ).alias("gini"),
        )
        .orderBy("source")
    )


_GINI_SQL = f"""
WITH ranked AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x,
         CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS i,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
),
agg AS (
  SELECT source,
         CAST(MAX(n) AS BIGINT) AS n_docs,
         CAST(SUM(x) AS BIGINT) AS total_chars,
         CAST(SUM((2 * i - n - 1) * x) AS BIGINT) AS num
  FROM ranked GROUP BY source
)
SELECT source, n_docs, total_chars,
       {rdet_sql("CAST(num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * CAST(total_chars AS DOUBLE))", 6)} AS gini
FROM agg
ORDER BY source
"""


# Benford expectations precomputed in Python and inlined as IDENTICAL
# integer literals in both engines (no engine-side log10 to disagree).
import math as _math

_BENFORD_PPM = {
    d: int(_math.floor(_math.log10(1.0 + 1.0 / d) * 1_000_000 + 0.5))
    for d in range(1, 10)
}


def stats_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of o_totalprice: observed first-significant-
    digit distribution vs the log10(1+1/d) expectation — the classic
    fabricated-data / data-quality screen. One map-side-combined count
    per digit; expectations are Python-precomputed integer ppm
    literals so no engine-side logarithm can diverge.

    (The synthetic prices are uniform-ish, so the DELTA columns show a
    strong non-Benford signature — which is the point of the audit.)
    """
    orders = load_table(spark, sf_dir, "orders")
    digit = F.expr(
        "CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS INT)"
    )
    counts = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n_orders")
    )
    total = orders.groupBy().agg(F.count("*").alias("total"))
    expected = F.create_map(
        *[F.lit(x) for kv in _BENFORD_PPM.items() for x in kv]
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_orders",
            F.expr("CAST((n_orders * 1000000) DIV total AS BIGINT)").alias(
                "observed_ppm"
            ),
            expected[F.col("digit")].cast("long").alias("benford_ppm"),
        )
        .withColumn(
            "delta_ppm", (F.col("observed_ppm") - F.col("benford_ppm")).cast("long")
        )
        .orderBy("digit")
    )


def _benford_sql() -> str:
    arms = " ".join(
        f"WHEN {d} THEN {ppm}" for d, ppm in _BENFORD_PPM.items()
    )
    return f"""
WITH c AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
),
t AS (SELECT COUNT(*) AS total FROM orders)
SELECT digit, n_orders,
       CAST((n_orders * 1000000) // t.total AS BIGINT) AS observed_ppm,
       CAST(CASE digit {arms} END AS BIGINT) AS benford_ppm,
       CAST((n_orders * 1000000) // t.total - CASE digit {arms} END AS BIGINT) AS delta_ppm
FROM c, t
ORDER BY digit
"""


def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic comparing the
    ``value`` distribution of 'purchase' vs 'view' events — the
    nonparametric companion to stats_welch_ttest on the same cohorts
    (Welch compares means; KS sees any distributional difference).

    D = max_x |F1(x) - F2(x)| is computed entirely in integers:
    per distinct cent value the two groups' counts, one ordered
    cumulative pass, then D's numerator max|n2*cum1 - n1*cum2| —
    the single division happens once on the final row. The 5%%
    rejection compares against the asymptotic critical value
    1.358*sqrt((n1+n2)/(n1*n2)); both engines evaluate the identical
    literal double expression (sqrt is IEEE-correctly-rounded,
    unlike ln).

    Scale: the fact stream collapses to |distinct values| aggregated
    rows BEFORE the one global-ordered cumulative window (the same
    posture as the histogram/quantile paths); n1*n2 stays in int64 up
    to ~3e9 rows per cohort — beyond that, bin values first (the
    sketch_histogram_quantiles grid) and accept binned-KS semantics.
    """
    from catme_etl_j_spark.sources.tables import load_table as _lt
    from pyspark.sql import Window as W

    ev = _lt(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pts = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(2).alias("g"),
        _fx("value", 100.0).alias("c"),
    )
    per = pts.groupBy("c").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).cast("long").alias("c2"),
    )
    w = W.orderBy("c").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = per.select(
        F.sum("c1").over(w).alias("cum1"), F.sum("c2").over(w).alias("cum2")
    )
    tot = pts.agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).cast("long").alias("n2"),
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(F.max(F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))).alias("d_num"))
    )
    ks = "CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
    crit = "1.358 * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))"
    return d.select(
        "n1",
        "n2",
        F.col("d_num").cast("long").alias("d_num"),
        rdet(F.expr(ks), 6).alias("ks_d"),
        F.expr(f"({ks}) > ({crit})").alias("reject_at_5pct"),
    )


def _ks_sql() -> str:
    c = _fx_sql("value", 100.0)
    ks = "CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
    crit = "1.358 * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))"
    return f"""
WITH pts AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END AS g, {c} AS c
  FROM events WHERE event_type IN ('purchase', 'view')),
per AS (
  SELECT c,
         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM pts GROUP BY c),
cum AS (
  SELECT CAST(SUM(c1) OVER w AS BIGINT) AS cum1,
         CAST(SUM(c2) OVER w AS BIGINT) AS cum2
  FROM per
  WINDOW w AS (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
tot AS (
  SELECT CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM pts),
d AS (
  SELECT n1, n2, CAST(MAX(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num
  FROM cum, tot GROUP BY n1, n2)
SELECT n1, n2, d_num,
       floor(({ks}) * 1000000.0 + 0.5) / 1000000.0 AS ks_d,
       ({ks}) > ({crit}) AS reject_at_5pct
FROM d
"""


def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for order totalprice across the five
    order priorities — the k-group generalization completing the
    parametric trio (Welch t, chi-square, F).

    Same discipline as Welch: ONE conditional aggregation pass
    collects exact per-group cent counts/sums/sumsq (DECIMAL(38,0)
    accumulators), then SSB/SSW and F are fixed double formulas over
    the 5-row aggregate — no cross-row float accumulation. Output is
    one row per group (n, mean) plus the shared F/dof columns so the
    gate hashes both the per-group and the global statistics.
    """
    from catme_etl_j_spark.sources.tables import load_table as _lt

    orders = _lt(spark, sf_dir, "orders")
    cents = _fx("o_totalprice", 100.0)
    per = orders.select(
        F.col("o_orderpriority").alias("grp"), cents.alias("c")
    ).groupBy("grp").agg(
        F.count("*").alias("n"),
        _dsum(F.col("c")).alias("s"),
        _dsum(F.col("c") * F.col("c")).alias("ss"),
    )
    tot = per.agg(
        F.sum("n").alias("tn"),
        F.sum("s").alias("ts"),
        F.sum("ss").alias("tss"),
        F.count("*").alias("k"),
        # the one float reduction: 5 per-group s^2/n terms, folded in
        # SORTED group order (a plain SUM would be partition-order
        # dependent in the last ulp)
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(grp,"
            " (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE)))),"
            " x -> x.col2), CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
        ).alias("sum_s2n"),
    )
    j = per.crossJoin(F.broadcast(tot))
    ssb = (
        F.col("sum_s2n")
        - (F.col("ts").cast("double") * F.col("ts").cast("double"))
        / F.col("tn").cast("double")
    )
    ssw = F.col("tss").cast("double") - F.col("sum_s2n")
    fstat = (ssb / (F.col("k").cast("double") - 1.0)) / (
        ssw / (F.col("tn").cast("double") - F.col("k").cast("double"))
    )
    return j.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        rdet(F.col("s").cast("double") / F.col("n").cast("double") / 100.0, 2).alias(
            "mean_price"
        ),
        F.col("k").cast("long").alias("k_groups"),
        rdet(fstat, 6).alias("f_stat"),
    ).orderBy("grp")


def _anova_sql() -> str:
    c = _fx_sql("o_totalprice", 100.0)
    return f"""
WITH per AS (
  SELECT o_orderpriority AS grp,
         COUNT(*) AS n,
         SUM(CAST({c} AS DECIMAL(38,0))) AS s,
         SUM(CAST({c} AS DECIMAL(38,0)) * CAST({c} AS DECIMAL(38,0))) AS ss
  FROM orders GROUP BY o_orderpriority),
tot AS (
  SELECT SUM(n) AS tn, SUM(s) AS ts, SUM(ss) AS tss, COUNT(*) AS k,
         list_sum(list((CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / CAST(n AS DOUBLE) ORDER BY grp)) AS sum_s2n
  FROM per)
SELECT grp,
       CAST(n AS BIGINT) AS n,
       {rdet_sql("CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0", 2)} AS mean_price,
       CAST(k AS BIGINT) AS k_groups,
       {rdet_sql(
           "((sum_s2n - (CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE)) / CAST(tn AS DOUBLE))"
           " / (CAST(k AS DOUBLE) - 1.0))"
           " / ((CAST(tss AS DOUBLE) - sum_s2n)"
           " / (CAST(tn AS DOUBLE) - CAST(k AS DOUBLE)))", 6)} AS f_stat
FROM per, tot
ORDER BY grp
"""


PSI_BUCKETS = 10
PSI_SPLIT = "1998-01-01"  # baseline < split <= current


def stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the 1995-97 baseline and the
    1998+ current order-price distributions — the drift monitor every
    deployed model sits behind (PSI > 0.25 = retrain alarm by the
    standard rule of thumb).

    Ten equal-width cent buckets over the GLOBAL min/max (exact int64
    bounds broadcast from one aggregate; bucket = ((c - mn) * 10) DIV
    (mx - mn + 1) — pure integer, no float boundary). Laplace +1 on
    every bucket count kills ln(0)/div-zero identically on both
    engines; each bucket's (p1 - p2) * ln(p1/p2) term is fixed-pointed
    to 1e9 BEFORE the total sum (the bigram-LM ln convention), so the
    total PSI is an exact int64 sum of per-bucket integers.

    Output: one row per bucket with both shares and the term, plus the
    same total_psi_e9 on every row (the gate hashes bucket AND total).
    """
    from catme_etl_j_spark.sources.tables import load_table as _lt

    orders = _lt(spark, sf_dir, "orders")
    # r11 (convention #12): global-bounds bucketing is inherently two
    # passes (min/max, then bucket) — cache the projected cents so both
    # read one materialization, and cache the 10-row bucket counts that
    # every downstream crossJoin(broadcast) re-expands (the static plan
    # held 8 orders scans before).
    cents = orders.select(
        _fx("o_totalprice", 100.0).alias("c"),
        F.expr(f"CAST(o_orderdate >= TIMESTAMP'{PSI_SPLIT}' AS INT)").alias("cur"),
    ).cache()
    bounds = cents.agg(F.min("c").alias("mn"), F.max("c").alias("mx"))
    bucketed = cents.crossJoin(F.broadcast(bounds)).select(
        F.expr(f"((c - mn) * {PSI_BUCKETS}) DIV (mx - mn + 1)").alias("bucket"),
        "cur",
    )
    per = (
        bucketed.groupBy("bucket")
        .agg(
            F.sum(F.expr("1 - cur")).cast("long").alias("n_base"),
            F.sum("cur").cast("long").alias("n_cur"),
        )
        .cache()
    )
    tot = per.agg(
        F.sum("n_base").cast("long").alias("tb"), F.sum("n_cur").cast("long").alias("tc")
    )
    # Laplace-smoothed shares (+1 per bucket, +PSI_BUCKETS on totals)
    p1 = f"(CAST(n_base + 1 AS DOUBLE) / CAST(tb + {PSI_BUCKETS} AS DOUBLE))"
    p2 = f"(CAST(n_cur + 1 AS DOUBLE) / CAST(tc + {PSI_BUCKETS} AS DOUBLE))"
    term = (
        f"CAST(floor((({p1}) - ({p2})) * ln(({p1}) / ({p2}))"
        " * 1000000000.0 + 0.5) AS BIGINT)"
    )
    terms = per.crossJoin(F.broadcast(tot)).select(
        F.col("bucket").cast("long").alias("bucket"),
        "n_base",
        "n_cur",
        rdet(F.expr(p1), 6).alias("share_base"),
        rdet(F.expr(p2), 6).alias("share_cur"),
        F.expr(term).alias("psi_term_e9"),
    )
    total = terms.agg(F.sum("psi_term_e9").cast("long").alias("total_psi_e9"))
    return (
        terms.crossJoin(F.broadcast(total))
        .select(
            "bucket",
            "n_base",
            "n_cur",
            "share_base",
            "share_cur",
            "psi_term_e9",
            "total_psi_e9",
        )
        .orderBy("bucket")
    )


def _psi_sql() -> str:
    c = _fx_sql("o_totalprice", 100.0)
    p1 = f"(CAST(n_base + 1 AS DOUBLE) / CAST(tb + {PSI_BUCKETS} AS DOUBLE))"
    p2 = f"(CAST(n_cur + 1 AS DOUBLE) / CAST(tc + {PSI_BUCKETS} AS DOUBLE))"
    term = (
        f"CAST(floor((({p1}) - ({p2})) * ln(({p1}) / ({p2}))"
        " * 1000000000.0 + 0.5) AS BIGINT)"
    )
    return f"""
WITH cents AS (
  SELECT {c} AS c,
         CASE WHEN o_orderdate >= TIMESTAMP '{PSI_SPLIT}' THEN 1 ELSE 0 END AS cur
  FROM orders),
bounds AS (SELECT MIN(c) AS mn, MAX(c) AS mx FROM cents),
bucketed AS (
  SELECT ((c - mn) * {PSI_BUCKETS}) // (mx - mn + 1) AS bucket, cur
  FROM cents, bounds),
per AS (
  SELECT bucket,
         CAST(SUM(1 - cur) AS BIGINT) AS n_base,
         CAST(SUM(cur) AS BIGINT) AS n_cur
  FROM bucketed GROUP BY bucket),
tot AS (
  SELECT CAST(SUM(n_base) AS BIGINT) AS tb, CAST(SUM(n_cur) AS BIGINT) AS tc
  FROM per),
terms AS (
  SELECT CAST(bucket AS BIGINT) AS bucket, n_base, n_cur,
         {rdet_sql(p1, 6)} AS share_base,
         {rdet_sql(p2, 6)} AS share_cur,
         {term} AS psi_term_e9
  FROM per, tot),
total AS (SELECT CAST(SUM(psi_term_e9) AS BIGINT) AS total_psi_e9 FROM terms)
SELECT bucket, n_base, n_cur, share_base, share_cur, psi_term_e9, total_psi_e9
FROM terms, total
ORDER BY bucket
"""


def stats_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules at the itemset-pair level:
    support, both directional confidences (conf_x_to_y and conf_y_to_x,
    emitted side by side for the canonical unordered pair) and lift for
    part-TYPE pairs co-purchased in one order. Lift > 1 = the pair
    attracts, < 1 = substitutes — the cross-sell planning number.

    Shape: baskets collapse to DISTINCT (order, type) first, the pair
    self-join runs on the orderkey (co-partitioned; fan-out bounded by
    6 types => <=15 pairs/order), and singleton counts broadcast onto
    the 15-row pair aggregate. All counts exact; support/conf/lift are
    single divisions through rdet. The Apriori level-2 pass — at 100 TB
    level-k would iterate this same join on surviving itemsets.
    """
    from catme_etl_j_spark.sources.tables import load_table as _lt

    li = _lt(spark, sf_dir, "lineitem")
    part = _lt(spark, sf_dir, "part").select("p_partkey", "p_type")
    baskets = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select(F.col("l_orderkey").alias("ok"), "p_type")
        .distinct()
        # cached (r11, convention #12): four consumers (order count,
        # singles, both self-join sides) re-expanded the lineitem-part
        # join 5x in the static plan
        .cache()
    )
    n_orders = baskets.agg(F.countDistinct("ok").alias("n_orders"))
    singles = baskets.groupBy("p_type").agg(F.count("*").alias("n_single")).cache()
    a, b = baskets.alias("a"), baskets.alias("b")
    pair_counts = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.p_type") < F.col("b.p_type")),
        )
        .groupBy(
            F.col("a.p_type").alias("type_x"), F.col("b.p_type").alias("type_y")
        )
        .agg(F.count("*").alias("n_pair"))
    )
    sx = singles.select(F.col("p_type").alias("type_x"), F.col("n_single").alias("n_x"))
    sy = singles.select(F.col("p_type").alias("type_y"), F.col("n_single").alias("n_y"))
    j = (
        pair_counts.join(F.broadcast(sx), "type_x")
        .join(F.broadcast(sy), "type_y")
        .crossJoin(F.broadcast(n_orders))
    )
    return j.select(
        "type_x",
        "type_y",
        "n_pair",
        "n_x",
        "n_y",
        rdet(F.col("n_pair").cast("double") / F.col("n_orders"), 6).alias("support"),
        rdet(F.col("n_pair").cast("double") / F.col("n_x"), 6).alias("conf_x_to_y"),
        rdet(F.col("n_pair").cast("double") / F.col("n_y"), 6).alias("conf_y_to_x"),
        rdet(
            (F.col("n_pair").cast("double") * F.col("n_orders"))
            / (F.col("n_x").cast("double") * F.col("n_y").cast("double")),
            6,
        ).alias("lift"),
    ).orderBy("type_x", "type_y")


_BASKET_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_type
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM baskets),
singles AS (SELECT p_type, COUNT(*) AS n_single FROM baskets GROUP BY p_type),
pairs AS (
  SELECT a.p_type AS type_x, b.p_type AS type_y, COUNT(*) AS n_pair
  FROM baskets a JOIN baskets b
    ON a.ok = b.ok AND a.p_type < b.p_type
  GROUP BY a.p_type, b.p_type)
SELECT type_x, type_y, n_pair,
       sx.n_single AS n_x, sy.n_single AS n_y,
       {rdet_sql("CAST(n_pair AS DOUBLE) / n_orders", 6)} AS support,
       {rdet_sql("CAST(n_pair AS DOUBLE) / sx.n_single", 6)} AS conf_x_to_y,
       {rdet_sql("CAST(n_pair AS DOUBLE) / sy.n_single", 6)} AS conf_y_to_x,
       {rdet_sql("(CAST(n_pair AS DOUBLE) * n_orders) / (CAST(sx.n_single AS DOUBLE) * CAST(sy.n_single AS DOUBLE))", 6)} AS lift
FROM pairs
JOIN singles sx ON pairs.type_x = sx.p_type
JOIN singles sy ON pairs.type_y = sy.p_type
CROSS JOIN n
ORDER BY type_x, type_y
"""


def stats_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: are 'purchase' event
    values stochastically larger than 'click' values? The standard
    nonparametric two-sample test — the robust sibling of
    stats_welch_ttest for the heavy-tailed metrics event data actually
    has.

    Exact-rank plumbing, no per-row global sort: values fix-point to
    cents, counts collapse per DISTINCT cent (one map-side-combining
    aggregation — the only corpus-sized pass), and tie-averaged ranks
    come from a cumulative window over the |distinct cents| rows
    (bounded; the single-partition window is over distincts, not rows).
    Ranks are kept DOUBLED so tie-averages (x.5) stay exact int64:
    2*rank(v) = 2*C(v) + t(v) + 1. The doubled rank-sum and doubled
    U statistics are exact ints; only the final z (with the standard
    tie correction, no continuity correction) and the rank-biserial
    effect size are IEEE doubles through rdet. sigma = 0 (all values
    tied) CASEs z to NULL on both engines (convention #9).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        # NULL values carry no rank information AND sort NULLS FIRST in
        # Spark vs NULLS LAST in DuckDB — dropping them identically on
        # both sides is the only stable choice (code-review r6)
        .filter(F.col("value").isNotNull())
        .select(
            (F.col("event_type") == "purchase").cast("long").alias("is_a"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("v"),
        )
    )
    per = ev.groupBy("v").agg(
        F.sum("is_a").alias("na"),
        F.sum(F.lit(1) - F.col("is_a")).alias("nb"),
        F.count("*").alias("t"),
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    ranked = per.withColumn("c", F.coalesce(F.sum("t").over(w), F.lit(0)))
    agg = ranked.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.sum(F.expr("na * (2 * c + t + 1)")).cast("long").alias("r2_a"),
        F.sum(F.expr("t * t * t - t")).cast("long").alias("tie_cube"),
    )
    n = "CAST(n_a + n_b AS DOUBLE)"
    sigma2 = (
        f"sqrt(CAST(n_a AS DOUBLE) * n_b *"
        f" (({n} + 1.0) - CAST(tie_cube AS DOUBLE) / ({n} * ({n} - 1.0))) / 3.0)"
    )
    return agg.select(
        "n_a",
        "n_b",
        F.expr("r2_a - n_a * (n_a + 1)").alias("u2_a"),
        F.expr("2 * n_a * n_b - (r2_a - n_a * (n_a + 1))").alias("u2_b"),
        # empty-group guard FIRST (lazy CASE branch): with n_a or n_b at
        # 0 the sigma expression itself divides by N*(N-1) = 0 — Spark
        # ANSI throws while DuckDB NULLs (code-review r6; conv. #9)
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.when(
                F.expr(sigma2) > 0,
                rdet(
                    F.expr(
                        "CAST(r2_a - n_a * (n_a + 1) AS DOUBLE)"
                        " - CAST(n_a AS DOUBLE) * n_b"
                    )
                    / F.expr(sigma2),
                    4,
                ),
            ),
        ).alias("z"),
        # r = 2U_a/(n_a n_b) - 1; doubled-U makes it u2_a/(n_a n_b) - 1
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            rdet(
                F.expr("CAST(r2_a - n_a * (n_a + 1) AS DOUBLE)")
                / F.expr("CAST(n_a AS DOUBLE) * n_b")
                - F.lit(1.0),
                6,
            ),
        ).alias("rank_biserial"),
    )


_MWU_N ="CAST(n_a + n_b AS DOUBLE)"
_MWU_SIGMA2 = (
    f"sqrt(CAST(n_a AS DOUBLE) * n_b *"
    f" (({_MWU_N} + 1.0) - CAST(tie_cube AS DOUBLE) / ({_MWU_N} * ({_MWU_N} - 1.0))) / 3.0)"
)

_MWU_SQL = f"""
WITH ev AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
per AS (
  SELECT v, CAST(SUM(is_a) AS BIGINT) AS na,
         CAST(SUM(1 - is_a) AS BIGINT) AS nb,
         COUNT(*) AS t
  FROM ev GROUP BY v),
ranked AS (
  SELECT na, nb, t,
         COALESCE(SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS c
  FROM per),
agg AS (
  SELECT CAST(SUM(na) AS BIGINT) AS n_a,
         CAST(SUM(nb) AS BIGINT) AS n_b,
         CAST(SUM(na * (2 * c + t + 1)) AS BIGINT) AS r2_a,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie_cube
  FROM ranked)
SELECT n_a, n_b,
       CAST(r2_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
       CAST(2 * n_a * n_b - (r2_a - n_a * (n_a + 1)) AS BIGINT) AS u2_b,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         CASE WHEN {_MWU_SIGMA2} > 0 THEN
           {rdet_sql(
               "(CAST(r2_a - n_a * (n_a + 1) AS DOUBLE)"
               " - CAST(n_a AS DOUBLE) * n_b) / " + _MWU_SIGMA2, 4)}
         END
       END AS z,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         {rdet_sql(
             "CAST(r2_a - n_a * (n_a + 1) AS DOUBLE)"
             " / (CAST(n_a AS DOUBLE) * n_b) - 1.0", 6)}
       END AS rank_biserial
FROM agg
"""


def stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily order revenue: the MEDIAN of all
    pairwise slopes — the outlier-resistant complement to
    stats_ols_regression's least-squares line (one corrupted day moves
    OLS; it takes half the days to move Theil–Sen).

    Scale shape: the fact table collapses to |days| (~84) daily
    DECIMAL sums first, so the O(|days|²) pair join (~3.5k slope rows)
    is over the AGGREGATE, not the data — at any corpus size the pair
    stage is calendar-bounded. Slopes are exact fixed-point
    cents-per-day: (r2-r1) * 100 DIV (d2-d1) on cent-int revenues
    (both operands' signs handled identically — Spark DIV and DuckDB
    // truncate toward zero, convention #7). The even-count median
    averages the two middle slopes with one more truncating DIV; the
    final display division is the only float.

    Median WITHOUT a global window (ADVICE r6): a multi-year span
    (~2400 days → ~3M pairs) would push every slope row through one
    unpartitioned row_number sort. Instead the slopes collapse to a
    (value, count) histogram, the histogram is RANGE-partitioned on
    the value, per-partition prefix sums run inside their own
    partition, and only the ≤_TS_PARTS per-partition totals reach the
    driver to compute the cross-partition offsets — the classic
    distributed order-statistic plan. The DuckDB oracle keeps the
    naive global-row_number formulation, so the gate itself proves
    histogram-walk ≡ rank-pick (the range_month_in_flight precedent).
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.expr("datediff(to_date(o_orderdate), DATE '1970-01-01')")
            .cast("long")
            .alias("d")
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
            ).alias("r")
        )
    )
    a = daily.select(F.col("d").alias("d1"), F.col("r").alias("r1"))
    b = daily.select(F.col("d").alias("d2"), F.col("r").alias("r2"))
    slopes = (
        a.join(b, F.col("d1") < F.col("d2"))
        .select(F.expr("(r2 - r1) * 100 DIV (d2 - d1)").alias("s"))
    )
    # (value, count) histogram, range-partitioned so each partition owns
    # a contiguous slope interval; localCheckpoint pins the partition
    # assignment for its two consumers (totals collect + cum walk).
    hist = (
        slopes.groupBy("s")
        .agg(F.count("*").alias("cnt"))
        .repartitionByRange(_TS_PARTS, "s")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    # ≤ _TS_PARTS rows to the driver — bounded by partition count, never
    # by pair count.
    ptot = hist.groupBy("pid").agg(F.sum("cnt").alias("t")).collect()
    offsets, run = [], 0
    for r in sorted(ptot, key=lambda r: r["pid"]):
        offsets.append((r["pid"], run))
        run += r["t"]
    n = run  # total pair count, from the same histogram pass
    if n == 0:
        # single-day corpus: no pairs, no slope (conv. #9 — the oracle's
        # COUNT-guarded median yields the same NULL row)
        return spark.sql(
            "SELECT CAST(0 AS BIGINT) AS n_pairs,"
            " CAST(NULL AS BIGINT) AS slope_cents_fp,"
            " CAST(NULL AS DOUBLE) AS slope_per_day"
        )
    lo, hi = (n + 1) // 2, n // 2 + 1
    off_df = spark.createDataFrame(offsets, "pid INT, off BIGINT")
    wcum = (
        W.partitionBy("pid")
        .orderBy("s")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = (
        hist.withColumn("cum_in", F.sum("cnt").over(wcum))
        .join(F.broadcast(off_df), "pid")
        .withColumn("cum", F.col("cum_in") + F.col("off"))
    )
    # a value covers rank k iff cum-cnt < k <= cum; contrib carries the
    # multiplicity so lo==hi (odd n) and lo/hi-in-one-value both reduce
    # to the same SUM DIV SUM as the oracle's rank-pick average.
    contrib = sum(
        F.when(
            (F.col("cum") - F.col("cnt") < F.lit(k)) & (F.lit(k) <= F.col("cum")), 1
        ).otherwise(0)
        for k in (lo, hi)
    )
    med = (
        cum.withColumn("contrib", contrib)
        .filter(F.col("contrib") > 0)
        .agg(
            F.expr("CAST(SUM(s * contrib) DIV SUM(contrib) AS BIGINT)").alias(
                "slope_cents_fp"
            )
        )
    )
    return med.select(
        F.lit(n).cast("long").alias("n_pairs"),
        "slope_cents_fp",
        (F.col("slope_cents_fp").cast("double") / 10000.0).alias("slope_per_day"),
    )


_THEIL_SQL = """
WITH daily AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS r
  FROM orders GROUP BY 1),
slopes AS (
  SELECT (b.r - a.r) * 100 // (b.d - a.d) AS s
  FROM daily a JOIN daily b ON a.d < b.d),
ranked AS (
  SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn, COUNT(*) OVER () AS n
  FROM slopes),
med AS (
  SELECT CAST(COALESCE(MAX(n), 0) AS BIGINT) AS n_pairs,
         CASE WHEN COUNT(CASE WHEN rn IN ((n + 1) // 2, n // 2 + 1) THEN 1 END) > 0
              THEN CAST(SUM(CASE WHEN rn IN ((n + 1) // 2, n // 2 + 1) THEN s END)
                   // COUNT(CASE WHEN rn IN ((n + 1) // 2, n // 2 + 1) THEN 1 END)
                   AS BIGINT)
         END AS slope_cents_fp
  FROM ranked)
SELECT n_pairs, slope_cents_fp,
       CAST(slope_cents_fp AS DOUBLE) / 10000.0 AS slope_per_day
FROM med
"""


def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between l_quantity and
    l_extendedprice — the robust (monotone-association) sibling of
    stats_corr_matrix's Pearson, with exact tie-averaged ranks.

    Exact-rank plumbing (the mannwhitney pattern): values fix-point to
    cents, collapse to per-DISTINCT-value counts (one map-side-combined
    aggregation each — the only corpus-sized passes), tie-averaged
    ranks come from a cumulative window over the |distinct values| rows
    (bounded by the value domain, not the row count), kept DOUBLED so
    .5 averages stay exact int64: 2*rank(v) = 2*C(v) + t(v) + 1. The
    doubled ranks join back to rows on the value key (two co-shuffled
    equi-joins), and rho is Pearson over the doubled ranks (the factor
    2 cancels) from exact DECIMAL(38,0) moments — so the only float
    arithmetic is the final closed-form expression, identical IEEE on
    both engines. Zero rank variance (all x or all y tied) CASEs rho
    to NULL (convention #9).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        _fx("l_quantity", 100.0).alias("x"),
        _fx("l_extendedprice", 100.0).alias("y"),
    )

    def ranks(col: str) -> DataFrame:
        per = li.groupBy(col).agg(F.count("*").alias("t"))
        w = W.orderBy(col).rowsBetween(W.unboundedPreceding, -1)
        return per.select(
            col,
            (2 * F.coalesce(F.sum("t").over(w), F.lit(0)) + F.col("t") + 1)
            .cast("long")
            .alias(f"r_{col}"),
        )

    joined = li.join(ranks("x"), "x").join(ranks("y"), "y")
    m = joined.agg(
        F.count("*").cast("long").alias("n_rows"),
        _dsum(F.col("r_x")).alias("sx"),
        _dsum(F.col("r_y")).alias("sy"),
        _dsum(F.col("r_x") * F.col("r_y")).alias("sxy"),
        _dsum(F.col("r_x") * F.col("r_x")).alias("sxx"),
        _dsum(F.col("r_y") * F.col("r_y")).alias("syy"),
    )
    n = "CAST(n_rows AS DOUBLE)"
    vx = f"({n} * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    vy = f"({n} * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    cov = f"({n} * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    return m.select(
        "n_rows",
        F.when(
            (F.expr(vx) > 0) & (F.expr(vy) > 0),
            rdet(F.expr(f"{cov} / (sqrt({vx}) * sqrt({vy}))"), 6),
        ).alias("spearman_rho"),
    )


def _spearman_sql() -> str:
    n = "CAST(n_rows AS DOUBLE)"
    vx = f"({n} * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    vy = f"({n} * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    cov = f"({n} * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    return f"""
WITH li AS (
  SELECT {_fx_sql("l_quantity", 100.0)} AS x,
         {_fx_sql("l_extendedprice", 100.0)} AS y
  FROM lineitem),
rx AS (
  SELECT x, CAST(2 * COALESCE(SUM(t) OVER (ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + t + 1 AS BIGINT) AS r_x
  FROM (SELECT x, COUNT(*) AS t FROM li GROUP BY x)),
ry AS (
  SELECT y, CAST(2 * COALESCE(SUM(t) OVER (ORDER BY y
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + t + 1 AS BIGINT) AS r_y
  FROM (SELECT y, COUNT(*) AS t FROM li GROUP BY y)),
m AS (
  SELECT COUNT(*) AS n_rows,
         CAST(SUM(CAST(r_x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(r_y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(r_x AS DECIMAL(38,0)) * r_y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(r_x AS DECIMAL(38,0)) * r_x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(r_y AS DECIMAL(38,0)) * r_y) AS DECIMAL(38,0)) AS syy
  FROM li JOIN rx USING (x) JOIN ry USING (y))
SELECT CAST(n_rows AS BIGINT) AS n_rows,
       CASE WHEN {vx} > 0 AND {vy} > 0 THEN
         {rdet_sql(f"{cov} / (sqrt({vx}) * sqrt({vy}))", 6)}
       END AS spearman_rho
FROM m
"""


def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength for o_orderstatus x
    o_orderpriority — the normalized effect size the chi-square test
    (stats_chi2_cells, a different table/pair) lacks: V in [0, 1]
    comparable across tables of any shape.

    chi2 accumulates as PER-CELL fixed-point e9 integers before the
    total sum (the PSI convention — the per-cell term is one IEEE
    expression from exact counts, the cross-cell total is exact int64),
    so no float ever sums across cells. V = sqrt(chi2 / (n * (min(r,c)
    - 1))) guarded on min(r,c) > 1 (a single-level factor has no
    association to measure; convention #9).

    Scale: one map-side-combined groupBy to an r x c contingency table
    (size bounded by level cardinality, not rows); marginals are window
    sums over that tiny frame.
    """
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("obs")
    )
    row_t = F.sum("obs").over(W.partitionBy("o_orderstatus"))
    col_t = F.sum("obs").over(W.partitionBy("o_orderpriority"))
    grand = F.sum("obs").over(W.partitionBy())
    exp = "(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(g AS DOUBLE))"
    term = (
        f"CAST(floor((CAST(obs AS DOUBLE) - {exp}) * (CAST(obs AS DOUBLE)"
        f" - {exp}) / {exp} * 1000000000.0 + 0.5) AS BIGINT)"
    )
    terms = cells.select(
        "obs",
        row_t.alias("rt"),
        col_t.alias("ct"),
        grand.alias("g"),
        F.col("o_orderstatus").alias("s"),
        F.col("o_orderpriority").alias("p"),
    ).select("obs", "g", "s", "p", F.expr(term).alias("chi2_e9"))
    agg = terms.agg(
        F.max("g").cast("long").alias("n_rows"),
        F.countDistinct("s").cast("long").alias("n_status"),
        F.countDistinct("p").cast("long").alias("n_priority"),
        F.sum("chi2_e9").cast("long").alias("chi2_e9"),
    )
    v = (
        "sqrt(CAST(chi2_e9 AS DOUBLE) / 1000000000.0"
        " / (CAST(n_rows AS DOUBLE) * (least(n_status, n_priority) - 1)))"
    )
    return agg.select(
        "n_rows",
        "n_status",
        "n_priority",
        "chi2_e9",
        F.when(F.expr("least(n_status, n_priority)") > 1, rdet(F.expr(v), 6)).alias(
            "cramers_v"
        ),
    )


def _cramers_sql() -> str:
    exp = "(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(g AS DOUBLE))"
    term = (
        f"CAST(floor((CAST(obs AS DOUBLE) - {exp}) * (CAST(obs AS DOUBLE)"
        f" - {exp}) / {exp} * 1000000000.0 + 0.5) AS BIGINT)"
    )
    v = (
        "sqrt(CAST(chi2_e9 AS DOUBLE) / 1000000000.0"
        " / (CAST(n_rows AS DOUBLE) * (least(n_status, n_priority) - 1)))"
    )
    return f"""
WITH cells AS (
  SELECT o_orderstatus AS s, o_orderpriority AS p, COUNT(*) AS obs
  FROM orders GROUP BY 1, 2),
m AS (
  SELECT obs, s, p,
         SUM(obs) OVER (PARTITION BY s) AS rt,
         SUM(obs) OVER (PARTITION BY p) AS ct,
         SUM(obs) OVER () AS g
  FROM cells),
terms AS (SELECT obs, g, s, p, {term} AS chi2_e9 FROM m),
agg AS (
  SELECT CAST(MAX(g) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT s) AS BIGINT) AS n_status,
         CAST(COUNT(DISTINCT p) AS BIGINT) AS n_priority,
         CAST(SUM(chi2_e9) AS BIGINT) AS chi2_e9
  FROM terms)
SELECT n_rows, n_status, n_priority, chi2_e9,
       CASE WHEN least(n_status, n_priority) > 1 THEN {rdet_sql(v, 6)} END
         AS cramers_v
FROM agg
"""


JS_SPLIT_NS = "1998-01-01"  # baseline < split <= current (PSI's split)


def stats_jensen_shannon_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the baseline (< 1998) and
    current (>= 1998) order-PRIORITY mixes — the bounded, symmetric
    drift metric (JS in [0, ln 2]) complementing stats_psi_drift's
    unbounded PSI over a different marginal (priority, not price).

    Laplace +1 on every (half, priority) count kills ln(0) identically
    on both engines; each category's 0.5*(p*ln(p/m) + q*ln(q/m)) term
    (m = (p+q)/2) fixed-points to 1e9 BEFORE the total sum (the PSI
    convention), so total JS is an exact int64 sum of per-category
    integers. Output: one row per priority with both shares and the
    term, plus the same total_js_e9 on every row.

    Scale: one map-side-combined groupBy to |priorities| rows; all
    windows/crossJoins run over that bounded frame.
    """
    orders = load_table(spark, sf_dir, "orders")
    per = (
        orders.select(
            F.col("o_orderpriority").alias("priority"),
            F.expr(f"CAST(o_orderdate >= TIMESTAMP'{JS_SPLIT_NS}' AS INT)").alias(
                "cur"
            ),
        )
        .groupBy("priority")
        .agg(
            F.sum(F.expr("1 - cur")).cast("long").alias("n_base"),
            F.sum("cur").cast("long").alias("n_cur"),
        )
    )
    tot = per.agg(
        F.sum("n_base").cast("long").alias("tb"),
        F.sum("n_cur").cast("long").alias("tc"),
        F.count("*").cast("long").alias("k"),
    )
    p = "(CAST(n_base + 1 AS DOUBLE) / CAST(tb + k AS DOUBLE))"
    q = "(CAST(n_cur + 1 AS DOUBLE) / CAST(tc + k AS DOUBLE))"
    m = f"(({p} + {q}) / 2.0)"
    term = (
        f"CAST(floor(0.5 * ({p} * ln({p} / {m}) + {q} * ln({q} / {m}))"
        " * 1000000000.0 + 0.5) AS BIGINT)"
    )
    terms = per.crossJoin(F.broadcast(tot)).select(
        "priority",
        "n_base",
        "n_cur",
        rdet(F.expr(p), 6).alias("share_base"),
        rdet(F.expr(q), 6).alias("share_cur"),
        F.expr(term).alias("js_term_e9"),
    )
    total = terms.agg(F.sum("js_term_e9").cast("long").alias("total_js_e9"))
    return (
        terms.crossJoin(F.broadcast(total))
        .select(
            "priority",
            "n_base",
            "n_cur",
            "share_base",
            "share_cur",
            "js_term_e9",
            "total_js_e9",
        )
        .orderBy("priority")
    )


def _js_sql() -> str:
    p = "(CAST(n_base + 1 AS DOUBLE) / CAST(tb + k AS DOUBLE))"
    q = "(CAST(n_cur + 1 AS DOUBLE) / CAST(tc + k AS DOUBLE))"
    m = f"(({p} + {q}) / 2.0)"
    term = (
        f"CAST(floor(0.5 * ({p} * ln({p} / {m}) + {q} * ln({q} / {m}))"
        " * 1000000000.0 + 0.5) AS BIGINT)"
    )
    return f"""
WITH per AS (
  SELECT o_orderpriority AS priority,
         CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '{JS_SPLIT_NS}'
                  THEN 0 ELSE 1 END) AS BIGINT) AS n_base,
         CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '{JS_SPLIT_NS}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM orders GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
         CAST(SUM(n_cur) AS BIGINT) AS tc,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM per),
terms AS (
  SELECT priority, n_base, n_cur,
         {rdet_sql(p, 6)} AS share_base,
         {rdet_sql(q, 6)} AS share_cur,
         {term} AS js_term_e9
  FROM per, tot),
total AS (SELECT CAST(SUM(js_term_e9) AS BIGINT) AS total_js_e9 FROM terms)
SELECT priority, n_base, n_cur, share_base, share_cur, js_term_e9, total_js_e9
FROM terms, total
ORDER BY priority
"""


def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on daily order revenue vs its median:
    is the above/below-median sign sequence random, or does revenue
    trend/mean-revert? The standard nonparametric randomness check a
    monitoring system applies before trusting iid-based alert
    thresholds.

    Exact plumbing: daily revenue is int64 cents; the median is kept
    DOUBLED (sum of the two middle order statistics — no .5 float);
    days equal to the median are excluded (the standard treatment);
    runs count via one lag over the calendar-ordered sign sequence.
    n1, n2, R are exact ints, so the z closed form (mu = 2*n1*n2/N +
    1, sigma^2 = 2*n1*n2*(2*n1*n2 - N) / (N^2*(N-1))) is one
    deterministic IEEE expression under rdet(4); degenerate cases
    (all one sign, N <= 1, sigma = 0) CASE to NULL (convention #9).

    Scale: the fact table collapses to |days| rows first; every window
    after that is bounded by the calendar.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("v")
    )
    ranked = daily.select(
        "day",
        "v",
        F.row_number().over(W.orderBy("v", "day")).alias("rn"),
        F.count("*").over(W.partitionBy()).alias("n"),
    )
    med = ranked.agg(
        F.sum(
            F.when(
                F.expr("rn = (n + 1) DIV 2 OR rn = n DIV 2 + 1"),
                F.col("v"),
            )
        ).cast("long").alias("m_sum"),
        F.sum(
            F.when(
                F.expr("rn = (n + 1) DIV 2 OR rn = n DIV 2 + 1"),
                F.lit(1),
            )
        ).cast("long").alias("m_cnt"),
    ).select(
        # doubled median: sum of the two middle order stats (or 2x the
        # single middle when n is odd and the two ranks coincide)
        F.expr("m_sum * 2 DIV m_cnt").alias("med2")
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .select(
            "day",
            F.when(F.expr("2 * v > med2"), F.lit(1))
            .when(F.expr("2 * v < med2"), F.lit(-1))
            .alias("s"),
        )
        .filter(F.col("s").isNotNull())
    )
    runs = signs.select(
        "s",
        F.when(
            F.lag("s").over(W.orderBy("day")).isNull()
            | (F.lag("s").over(W.orderBy("day")) != F.col("s")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_run"),
    )
    # COALESCE: an all-excluded (constant) series leaves an EMPTY frame
    # whose SUMs are NULL on both engines — report exact zeros instead
    agg = runs.agg(
        F.coalesce(F.sum(F.expr("CAST(s = 1 AS INT)")), F.lit(0))
        .cast("long")
        .alias("n_above"),
        F.coalesce(F.sum(F.expr("CAST(s = -1 AS INT)")), F.lit(0))
        .cast("long")
        .alias("n_below"),
        F.coalesce(F.sum("new_run"), F.lit(0)).cast("long").alias("n_runs"),
    )
    nn = "CAST(n_above + n_below AS DOUBLE)"
    p2 = "(2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE))"
    mu = f"({p2} / {nn} + 1.0)"
    sig2 = f"({p2} * ({p2} - {nn}) / ({nn} * {nn} * ({nn} - 1.0)))"
    return agg.select(
        F.expr("n_above + n_below").alias("n_days"),
        "n_above",
        "n_below",
        "n_runs",
        F.when(
            (F.col("n_above") > 0)
            & (F.col("n_below") > 0)
            & (F.expr("n_above + n_below") > 1)
            & (F.expr(sig2) > 0),
            rdet(
                F.expr(f"(CAST(n_runs AS DOUBLE) - {mu}) / sqrt({sig2})"), 4
            ),
        ).alias("z"),
    )


def _runs_sql() -> str:
    nn = "CAST(n_above + n_below AS DOUBLE)"
    p2 = "(2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE))"
    mu = f"({p2} / {nn} + 1.0)"
    sig2 = f"({p2} * ({p2} - {nn}) / ({nn} * {nn} * ({nn} - 1.0)))"
    return f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1),
ranked AS (
  SELECT day, v, ROW_NUMBER() OVER (ORDER BY v, day) AS rn,
         COUNT(*) OVER () AS n
  FROM daily),
med AS (
  SELECT CAST(SUM(CASE WHEN rn = (n + 1) // 2 OR rn = n // 2 + 1
                  THEN v END) * 2
          // SUM(CASE WHEN rn = (n + 1) // 2 OR rn = n // 2 + 1
                 THEN 1 END) AS BIGINT) AS med2
  FROM ranked),
signs0 AS (
  SELECT day, CASE WHEN 2 * v > med2 THEN 1
                   WHEN 2 * v < med2 THEN -1 END AS s
  FROM daily, med),
signs AS (SELECT * FROM signs0 WHERE s IS NOT NULL),
runs AS (
  SELECT s, CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                   OR lag(s) OVER (ORDER BY day) <> s
            THEN 1 ELSE 0 END AS new_run
  FROM signs),
agg AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_above,
         CAST(COALESCE(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_below,
         CAST(COALESCE(SUM(new_run), 0) AS BIGINT) AS n_runs
  FROM runs)
SELECT CAST(n_above + n_below AS BIGINT) AS n_days, n_above, n_below, n_runs,
       CASE WHEN n_above > 0 AND n_below > 0 AND n_above + n_below > 1
                 AND {sig2} > 0 THEN
         {rdet_sql(f"(CAST(n_runs AS DOUBLE) - {mu}) / sqrt({sig2})", 4)}
       END AS z
FROM agg
"""


# --- deterministic bootstrap CI (Efron 1979, public) -----------------
BOOT_B = 40       # bootstrap replicates
BOOT_LO_PCT = 5   # CI percentile bounds (rank-pick, no interpolation)
BOOT_HI_PCT = 95


def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for MEAN DAILY REVENUE with a
    fully deterministic resampler: replicate b's j-th draw picks day
    rank ``H(b:j) % n`` where H is the portable hash convention (#4,
    int(md5[:8],16)) — no RNG, so both engines replay the identical
    resample and the interval hash-matches exactly. The CI bounds are
    rank-picked order statistics of the B replicate means (index
    floor(p*(B-1)/100), 0-based — integer math, no interpolation).

    Scale shape: the fact stream collapses to |days| exact-cents rows
    FIRST (the drawdown/runs-test discipline); everything after —
    the B x n index frame (40 x calendar days), the rank join, the
    per-replicate means, the order-statistic pick — is bounded by the
    calendar, not the data. Bootstrapping pre-aggregated sufficient
    statistics instead of raw rows is exactly how you bootstrap at
    100 TB.

    Degenerate (convention #9): an empty orders table gives n = 0 —
    the index frame guards sequence(0, n-1) behind n > 0 (Spark's
    sequence DESCENDS on negative spans) and every output statistic is
    NULL on both engines.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
        ).cast("long").alias("rev_cents")
    )
    ranked = daily.select(
        (F.row_number().over(W.orderBy("day")) - 1).cast("long").alias("r"),
        "rev_cents",
    )
    scal = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rev_cents").cast("long").alias("tot_cents"),
    )
    draws = (
        scal.select(
            "n",
            F.explode(F.expr(f"sequence(0, {BOOT_B - 1})")).alias("b"),
        )
        .select(
            "b",
            F.explode(
                F.expr("CASE WHEN n > 0 THEN sequence(0, n - 1) ELSE array() END")
            ).alias("j"),
            "n",
        )
        .select(
            "b",
            F.expr(
                "CAST(conv(substr(md5(concat(CAST(b AS STRING), ':',"
                " CAST(j AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                " % n"
            ).alias("r"),
        )
    )
    means = (
        draws.join(ranked, "r")
        .groupBy("b")
        .agg(F.expr("CAST(SUM(rev_cents) AS BIGINT) DIV COUNT(*)").alias("m"))
    )
    lo_idx = (BOOT_LO_PCT * (BOOT_B - 1)) // 100
    hi_idx = (BOOT_HI_PCT * (BOOT_B - 1)) // 100
    ordered = means.select(
        "m", (F.row_number().over(W.orderBy("m", "b")) - 1).alias("rn")
    )
    ci = ordered.agg(
        F.max(F.when(F.col("rn") == lo_idx, F.col("m"))).cast("long").alias(
            "ci_lo_cents"
        ),
        F.max(F.when(F.col("rn") == hi_idx, F.col("m"))).cast("long").alias(
            "ci_hi_cents"
        ),
    )
    return (
        scal.crossJoin(F.broadcast(ci))
        .select(
            F.col("n").alias("n_days"),
            F.lit(BOOT_B).cast("long").alias("b_reps"),
            F.expr(
                "CASE WHEN n > 0 THEN tot_cents DIV n ELSE NULL END"
            ).cast("long").alias("mean_cents"),
            "ci_lo_cents",
            "ci_hi_cents",
            F.expr("CAST(ci_lo_cents AS DOUBLE) / 100.0").alias("ci_lo"),
            F.expr("CAST(ci_hi_cents AS DOUBLE) / 100.0").alias("ci_hi"),
        )
    )


_BOOT_LO_IDX = (BOOT_LO_PCT * (BOOT_B - 1)) // 100
_BOOT_HI_IDX = (BOOT_HI_PCT * (BOOT_B - 1)) // 100

_BOOTSTRAP_SQL = f"""
WITH daily AS MATERIALIZED (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1),
ranked AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS BIGINT) AS r, rev_cents
  FROM daily),
scal AS MATERIALIZED (
  SELECT COUNT(*)::BIGINT AS n, CAST(SUM(rev_cents) AS BIGINT) AS tot_cents
  FROM daily),
draws AS (
  SELECT t.b,
         ('0x' || substr(md5(CAST(t.b AS VARCHAR) || ':' ||
                             CAST(t.j AS VARCHAR)), 1, 8))::BIGINT
           % s.n AS r
  FROM scal s,
       (SELECT b.b, j.j
        FROM UNNEST(range(0, {BOOT_B})) AS b(b),
             UNNEST(range(0, (SELECT CASE WHEN n > 0 THEN n ELSE 0 END
                              FROM scal))) AS j(j)) t),
means AS (
  SELECT d.b, CAST(SUM(k.rev_cents) AS BIGINT) // COUNT(*) AS m
  FROM draws d JOIN ranked k USING (r) GROUP BY d.b),
ordered AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) - 1 AS rn FROM means),
ci AS (
  SELECT CAST(MAX(CASE WHEN rn = {_BOOT_LO_IDX} THEN m END) AS BIGINT)
           AS ci_lo_cents,
         CAST(MAX(CASE WHEN rn = {_BOOT_HI_IDX} THEN m END) AS BIGINT)
           AS ci_hi_cents
  FROM ordered)
SELECT s.n AS n_days,
       {BOOT_B}::BIGINT AS b_reps,
       CAST(CASE WHEN s.n > 0 THEN s.tot_cents // s.n ELSE NULL END AS BIGINT)
         AS mean_cents,
       ci.ci_lo_cents, ci.ci_hi_cents,
       CAST(ci.ci_lo_cents AS DOUBLE) / 100.0 AS ci_lo,
       CAST(ci.ci_hi_cents AS DOUBLE) / 100.0 AS ci_hi
FROM scal s, ci
"""


# --- Kendall tau-b over per-nation metrics (Kendall 1938, public) ----


def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between two PER-NATION metrics:
    mean customer account balance vs total order revenue. The third
    member of the association family (Pearson = stats_corr_matrix,
    Spearman = stats_spearman_corr): tau counts pairwise order
    inversions, so it is exactly computable from INTEGER comparisons —
    no ranks, no floats until the final closed form.

    Exactness: the x metric is a MEAN (sum_cents / n_cust), but its
    pairwise ordering is decided by cross-multiplication
    sign(s_a * n_b - s_b * n_a) in DECIMAL(38,0) — no division ever
    happens, so ties are detected exactly on both engines. tau-b =
    (C - D) / sqrt(nx * ny) where nx/ny are the pair counts NOT tied
    in x/y (Kendall 1945 tie correction).

    Scale shape: two map-side-combined aggregations collapse the
    corpus to |nations| rows; the pair enumeration is a broadcast
    self-join over that GROUP-DOMAIN frame (n_groups^2 / 2 pairs,
    SF-invariant — 25 nations means 300 pairs at any data size).
    Convention #9: zero groups / all-tied metrics yield NULL tau.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    bal = cust.groupBy(F.col("c_nationkey").cast("long").alias("nk")).agg(
        F.sum(
            F.expr("CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT)")
        ).cast("long").alias("s_bal"),
        F.count("*").cast("long").alias("n_cust"),
    )
    rev = (
        orders.join(
            cust.select(
                F.col("c_custkey").alias("o_custkey"),
                F.col("c_nationkey").cast("long").alias("nk"),
            ),
            "o_custkey",
        )
        .groupBy("nk")
        .agg(
            F.sum(
                F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            ).cast("long").alias("rev_cents")
        )
    )
    # the group-domain frame is referenced three times (both pair
    # sides + n_groups); localCheckpoint materializes its |nations|
    # rows ONCE so customer/orders are scanned a single time (the
    # self-join would otherwise re-expand the whole lineage per side —
    # the Spark-side convention-#11 analogue, CC-loop precedent)
    pts = (
        bal.join(rev, "nk", "left")
        .select(
            "nk",
            "s_bal",
            "n_cust",
            F.coalesce("rev_cents", F.lit(0)).cast("long").alias("rev_cents"),
        )
        .localCheckpoint()
    )
    a = pts.select([F.col(c).alias(f"{c}_a") for c in pts.columns])
    b = pts.select([F.col(c).alias(f"{c}_b") for c in pts.columns])
    dx = (
        F.col("s_bal_a").cast("decimal(38,0)") * F.col("n_cust_b")
        - F.col("s_bal_b").cast("decimal(38,0)") * F.col("n_cust_a")
    )
    dy = F.col("rev_cents_a").cast("decimal(38,0)") - F.col("rev_cents_b")
    pairs = (
        a.join(F.broadcast(b), F.col("nk_a") < F.col("nk_b"))
        .select(
            F.when(dx > 0, 1).when(dx < 0, -1).otherwise(0).alias("sx"),
            F.when(dy > 0, 1).when(dy < 0, -1).otherwise(0).alias("sy"),
        )
    )
    acc = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(
            F.when((F.col("sx") * F.col("sy")) == 1, 1).otherwise(0)
        ).cast("long").alias("concordant"),
        F.sum(
            F.when((F.col("sx") * F.col("sy")) == -1, 1).otherwise(0)
        ).cast("long").alias("discordant"),
        F.sum(F.when(F.col("sx") != 0, 1).otherwise(0)).cast("long").alias("nx"),
        F.sum(F.when(F.col("sy") != 0, 1).otherwise(0)).cast("long").alias("ny"),
    )
    ng = pts.agg(F.count("*").cast("long").alias("n_groups"))
    return ng.crossJoin(F.broadcast(acc)).select(
        "n_groups",
        F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce("concordant", F.lit(0)).cast("long").alias("concordant"),
        F.coalesce("discordant", F.lit(0)).cast("long").alias("discordant"),
        F.expr(
            "CASE WHEN coalesce(nx, 0) > 0 AND coalesce(ny, 0) > 0 THEN "
            + rdet_sql(
                "CAST(concordant - discordant AS DOUBLE)"
                " / sqrt(CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))",
                6,
            )
            + " ELSE CAST(NULL AS DOUBLE) END"
        ).alias("tau_b"),
    )


def _kendall_sql() -> str:
    return f"""
WITH bal AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nk,
         CAST(SUM(CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS s_bal,
         COUNT(*)::BIGINT AS n_cust
  FROM customer GROUP BY 1),
rev AS (
  SELECT CAST(c.c_nationkey AS BIGINT) AS nk,
         CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1),
pts AS MATERIALIZED (
  SELECT b.nk, b.s_bal, b.n_cust,
         CAST(COALESCE(r.rev_cents, 0) AS BIGINT) AS rev_cents
  FROM bal b LEFT JOIN rev r USING (nk)),
pairs AS (
  SELECT CASE WHEN CAST(a.s_bal AS DECIMAL(38,0)) * b.n_cust
                   - CAST(b.s_bal AS DECIMAL(38,0)) * a.n_cust > 0 THEN 1
              WHEN CAST(a.s_bal AS DECIMAL(38,0)) * b.n_cust
                   - CAST(b.s_bal AS DECIMAL(38,0)) * a.n_cust < 0 THEN -1
              ELSE 0 END AS sx,
         CASE WHEN CAST(a.rev_cents AS DECIMAL(38,0)) - b.rev_cents > 0 THEN 1
              WHEN CAST(a.rev_cents AS DECIMAL(38,0)) - b.rev_cents < 0 THEN -1
              ELSE 0 END AS sy
  FROM pts a JOIN pts b ON a.nk < b.nk),
acc AS (
  SELECT COUNT(*)::BIGINT AS n_pairs,
         CAST(COALESCE(SUM(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS concordant,
         CAST(COALESCE(SUM(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS discordant,
         CAST(COALESCE(SUM(CASE WHEN sx <> 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS nx,
         CAST(COALESCE(SUM(CASE WHEN sy <> 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS ny
  FROM pairs),
ng AS (SELECT COUNT(*)::BIGINT AS n_groups FROM pts)
SELECT ng.n_groups, acc.n_pairs, acc.concordant, acc.discordant,
       CASE WHEN acc.nx > 0 AND acc.ny > 0 THEN
         {rdet_sql("CAST(acc.concordant - acc.discordant AS DOUBLE)"
                   " / sqrt(CAST(acc.nx AS DOUBLE) * CAST(acc.ny AS DOUBLE))", 6)}
       END AS tau_b
FROM ng, acc
"""


# --- deterministic paired permutation test (Fisher 1935, public) -----
PERM_K = 200  # permutation replicates


def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign-flip permutation test: is the daily revenue of
    urgent-priority orders (1-URGENT / 2-HIGH) different from the
    rest? The statistic is T = |sum over days of d_i| where d_i is the
    day's (urgent - other) revenue in exact cents; each permutation
    flips the sign of d_i by the portable-hash bit H(p:day) %% 2
    (convention #4 — no RNG, both engines replay identical flips), and
    p = (1 + #{T_perm >= T_obs}) / (K + 1) (the add-one Monte-Carlo
    estimator, Davison & Hinkley 1997).

    EXACT throughout: because the pair count is identical under every
    sign assignment, comparing |sum s_i d_i| against |sum d_i| needs
    no division — every comparison is integer, so the replicate
    count n_ge is bit-stable by construction (vs the bootstrap's
    order-statistic means). The only float is the final p-value.

    Scale shape (the bootstrap_ci discipline): the fact stream
    collapses to |days| exact-cents rows FIRST; the K x |days| flip
    frame is bounded by the calendar, not the data, and its sum
    map-side combines on the replicate id. Convention #9: an empty
    orders table gives n_days = 0 and NULL statistics on both engines.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    urgent = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    daily = orders.groupBy(
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
        ).cast("long").alias("di")
    ).agg(
        (
            F.sum(F.expr(f"CASE WHEN {urgent} THEN {cents} ELSE 0 END"))
            - F.sum(F.expr(f"CASE WHEN {urgent} THEN 0 ELSE {cents} END"))
        ).cast("long").alias("d")
    )
    # |days| rows, referenced by obs + the K-flip frame + the final
    # attach: checkpoint once so orders is scanned a single time
    daily = daily.localCheckpoint()
    obs = daily.agg(
        F.count("*").cast("long").alias("n_days"),
        F.abs(F.sum(F.col("d").cast("decimal(38,0)"))).cast("long").alias(
            "t_obs_cents"
        ),
    )
    flips = daily.select(
        "di", "d", F.explode(F.expr(f"sequence(0, {PERM_K - 1})")).alias("p")
    ).select(
        "p",
        (
            F.expr(
                "CASE WHEN CAST(conv(substr(md5(concat(CAST(p AS STRING), ':',"
                " CAST(di AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0"
                " THEN 1 ELSE -1 END"
            )
            * F.col("d")
        ).alias("sd"),
    )
    tps = flips.groupBy("p").agg(
        F.abs(F.sum(F.col("sd").cast("decimal(38,0)"))).cast("long").alias("tp")
    )
    ge = tps.crossJoin(F.broadcast(obs.select("t_obs_cents"))).agg(
        F.sum(
            F.when(F.col("tp") >= F.col("t_obs_cents"), 1).otherwise(0)
        ).cast("long").alias("n_ge")
    )
    return obs.crossJoin(F.broadcast(ge)).select(
        "n_days",
        F.lit(PERM_K).cast("long").alias("k_perms"),
        "t_obs_cents",
        F.coalesce("n_ge", F.lit(0)).cast("long").alias("n_ge"),
        F.expr(
            "CASE WHEN n_days > 0 THEN "
            + rdet_sql(
                f"CAST(1 + coalesce(n_ge, 0) AS DOUBLE) / {PERM_K + 1}.0", 6
            )
            + " ELSE CAST(NULL AS DOUBLE) END"
        ).alias("p_value"),
    )


def _perm_sql() -> str:
    return f"""
WITH daily AS MATERIALIZED (
  SELECT CAST(date_diff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS di,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                       ELSE 0 END)
              - SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0
                         ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                    END) AS BIGINT) AS d
  FROM orders GROUP BY 1),
obs AS (
  SELECT COUNT(*)::BIGINT AS n_days,
         CAST(abs(SUM(CAST(d AS DECIMAL(38,0)))) AS BIGINT) AS t_obs_cents
  FROM daily),
tps AS (
  SELECT p.p,
         CAST(abs(SUM(CASE WHEN ('0x' || substr(md5(CAST(p.p AS VARCHAR)
                  || ':' || CAST(y.di AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                  THEN CAST(y.d AS DECIMAL(38,0))
                  ELSE -CAST(y.d AS DECIMAL(38,0)) END)) AS BIGINT) AS tp
  FROM daily y, UNNEST(range(0, {PERM_K})) AS p(p)
  GROUP BY p.p),
ge AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN t.tp >= o.t_obs_cents THEN 1 ELSE 0 END),
                       0) AS BIGINT) AS n_ge
  FROM tps t, obs o)
SELECT o.n_days,
       {PERM_K}::BIGINT AS k_perms,
       o.t_obs_cents,
       g.n_ge,
       CASE WHEN o.n_days > 0 THEN
         {rdet_sql(f"CAST(1 + g.n_ge AS DOUBLE) / {PERM_K + 1}.0", 6)}
       END AS p_value
FROM obs o, ge g
"""


# ---------------------------------------------------------------------------
# Mutual information between two categorical columns (Cover & Thomas,
# "Elements of Information Theory" ch. 2 — public). The feature-
# dependence probe a curation pipeline runs before stratifying or
# mixing on two attributes: MI(X;Y) = sum_cells p_xy ln(p_xy/(p_x p_y)),
# normalized by sqrt(H(X) H(Y)) to the [0,1] NMI.
# ---------------------------------------------------------------------------

# ln terms are fixed-pointed at 1e12 so the cross-cell SUM is an exact
# int64 on both engines (float sums are order-dependent; convention in
# the module docstring). |term| <= ln(N) * 1 < 40, so 40e12 per cell x
# <=25 cells stays far inside int64.
_MI_SCALE = 1_000_000_000_000.0


def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell PMI and corpus-level MI/NMI between customer market
    segment (X) and order priority (Y) over orders JOIN customer.

    Output: one row per observed (segment, priority) cell with its
    exact count, both marginals, and the cell PMI; every row also
    carries the global ``mi_nats`` and ``nmi`` (broadcast-scalar
    pattern, as the graph convergence audits do).

    Determinism: all counts are exact int64; each additive double term
    (cell MI contribution, marginal entropy terms) is fixed-pointed to
    int64 at 1e12 BEFORE summation, so aggregation order cannot move a
    bit (module convention; ln inputs are ratios of exact ints, hence
    identical IEEE doubles on both engines).

    Scale shape: ONE co-shuffled equi-join of the fact table on
    o_custkey (at 100 TB both sides pre-bucketed on custkey make this
    shuffle-free), then cell counts map-side combine to <=|X|*|Y| rows;
    every downstream frame (marginals, entropies, MI) lives on that
    tiny cell frame and broadcasts back. No windows, no second fact
    scan.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").cast("long").alias("n_xy"))
        # <=|X|*|Y| rows referenced by 4 downstream frames: without the
        # checkpoint the fact join re-expands per reference (conv. #12
        # plan-side; dsir/smart precedent — lazy, so no eager job here)
        .localCheckpoint(eager=False)
    )
    mx = cells.groupBy("segment").agg(F.sum("n_xy").cast("long").alias("n_x"))
    my = cells.groupBy("priority").agg(F.sum("n_xy").cast("long").alias("n_y"))
    tot = cells.agg(F.sum("n_xy").cast("long").alias("n_tot"))
    full = (
        cells.join(mx, "segment")
        .join(my, "priority")
        .crossJoin(F.broadcast(tot))
    )
    # exact-int fixed-point of each cell's MI contribution
    term = (
        "CAST(floor((CAST(n_xy AS DOUBLE) / n_tot) * "
        "ln(CAST(n_xy AS DOUBLE) * n_tot / (CAST(n_x AS DOUBLE) * n_y)) * "
        f"{_MI_SCALE} + 0.5) AS BIGINT)"
    )
    mi = full.agg(F.sum(F.expr(term)).cast("long").alias("mi_fp"))
    # marginal entropies from the marginal frames (distinct-key sums)
    hx_term = (
        "CAST(floor(-(CAST(n_x AS DOUBLE) / n_tot) * "
        f"ln(CAST(n_x AS DOUBLE) / n_tot) * {_MI_SCALE} + 0.5) AS BIGINT)"
    )
    hy_term = (
        "CAST(floor(-(CAST(n_y AS DOUBLE) / n_tot) * "
        f"ln(CAST(n_y AS DOUBLE) / n_tot) * {_MI_SCALE} + 0.5) AS BIGINT)"
    )
    hx = (
        mx.crossJoin(F.broadcast(tot))
        .agg(F.sum(F.expr(hx_term)).cast("long").alias("hx_fp"))
    )
    hy = (
        my.crossJoin(F.broadcast(tot))
        .agg(F.sum(F.expr(hy_term)).cast("long").alias("hy_fp"))
    )
    scalars = (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            rdet(F.col("mi_fp").cast("double") / F.lit(_MI_SCALE), 8).alias(
                "mi_nats"
            ),
            # single-category marginals have zero entropy: NMI undefined
            # -> NULL on both engines (conv. #9/#12: typed ELSE)
            F.expr(
                "CASE WHEN hx_fp > 0 AND hy_fp > 0 THEN "
                + rdet_sql(
                    f"(CAST(mi_fp AS DOUBLE) / {_MI_SCALE}) / "
                    f"sqrt((CAST(hx_fp AS DOUBLE) / {_MI_SCALE}) * "
                    f"(CAST(hy_fp AS DOUBLE) / {_MI_SCALE}))",
                    8,
                )
                + " ELSE CAST(NULL AS DOUBLE) END"
            ).alias("nmi"),
        )
    )
    return (
        full.select(
            "segment",
            "priority",
            "n_xy",
            "n_x",
            "n_y",
            rdet(
                F.expr(
                    "ln(CAST(n_xy AS DOUBLE) * n_tot / "
                    "(CAST(n_x AS DOUBLE) * n_y))"
                ),
                8,
            ).alias("pmi_nats"),
        )
        .crossJoin(F.broadcast(scalars))
        .orderBy("segment", "priority")
    )


def _mi_sql() -> str:
    term = (
        "CAST(floor((CAST(n_xy AS DOUBLE) / n_tot) * "
        "ln(CAST(n_xy AS DOUBLE) * n_tot / (CAST(n_x AS DOUBLE) * n_y)) * "
        f"{_MI_SCALE} + 0.5) AS BIGINT)"
    )
    hx_term = (
        "CAST(floor(-(CAST(n_x AS DOUBLE) / n_tot) * "
        f"ln(CAST(n_x AS DOUBLE) / n_tot) * {_MI_SCALE} + 0.5) AS BIGINT)"
    )
    hy_term = (
        "CAST(floor(-(CAST(n_y AS DOUBLE) / n_tot) * "
        f"ln(CAST(n_y AS DOUBLE) / n_tot) * {_MI_SCALE} + 0.5) AS BIGINT)"
    )
    return f"""
WITH cells AS MATERIALIZED (
  SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
         COUNT(*)::BIGINT AS n_xy
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
mx AS MATERIALIZED (
  SELECT segment, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY segment),
my AS MATERIALIZED (
  SELECT priority, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY priority),
tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n_tot FROM cells),
full_c AS MATERIALIZED (
  SELECT cells.segment, cells.priority, cells.n_xy, mx.n_x, my.n_y, tot.n_tot
  FROM cells JOIN mx USING (segment) JOIN my USING (priority), tot),
mi AS (SELECT CAST(SUM({term}) AS BIGINT) AS mi_fp FROM full_c),
hx AS (SELECT CAST(SUM({hx_term}) AS BIGINT) AS hx_fp FROM mx, tot),
hy AS (SELECT CAST(SUM({hy_term}) AS BIGINT) AS hy_fp FROM my, tot)
SELECT f.segment, f.priority, f.n_xy, f.n_x, f.n_y,
       {rdet_sql("ln(CAST(f.n_xy AS DOUBLE) * f.n_tot / (CAST(f.n_x AS DOUBLE) * f.n_y))", 8)} AS pmi_nats,
       {rdet_sql(f"CAST(mi.mi_fp AS DOUBLE) / {_MI_SCALE}", 8)} AS mi_nats,
       CASE WHEN hx.hx_fp > 0 AND hy.hy_fp > 0 THEN
         {rdet_sql(f"(CAST(mi.mi_fp AS DOUBLE) / {_MI_SCALE}) / sqrt((CAST(hx.hx_fp AS DOUBLE) / {_MI_SCALE}) * (CAST(hy.hy_fp AS DOUBLE) / {_MI_SCALE}))", 8)}
       ELSE CAST(NULL AS DOUBLE) END AS nmi
FROM full_c f, mi, hx, hy
ORDER BY f.segment, f.priority
"""


QUERIES = {
    "stats_kendall_tau": stats_kendall_tau,
    "stats_permutation_test": stats_permutation_test,
    "stats_bootstrap_ci": stats_bootstrap_ci,
    "stats_runs_test": stats_runs_test,
    "stats_spearman_corr": stats_spearman_corr,
    "stats_cramers_v": stats_cramers_v,
    "stats_jensen_shannon_drift": stats_jensen_shannon_drift,
    "stats_theil_sen": stats_theil_sen,
    "stats_mannwhitney_u": stats_mannwhitney_u,
    "stats_mode_quantity": stats_mode_quantity,
    "stats_basket_lift": stats_basket_lift,
    "stats_psi_drift": stats_psi_drift,
    "stats_anova_oneway": stats_anova_oneway,
    "stats_ks_test": stats_ks_test,
    "stats_benford_first_digit": stats_benford_first_digit,
    "stats_gini_doc_length": stats_gini_doc_length,
    "stats_welch_ttest": stats_welch_ttest,
    "stats_ols_regression": stats_ols_regression,
    "stats_corr_matrix": stats_corr_matrix,
    "stats_mad_outliers": stats_mad_outliers,
    "stats_chi2_cells": stats_chi2_cells,
    "stats_mutual_information": stats_mutual_information,
}

ORACLES = {
    "stats_mutual_information": _mi_sql(),
    "stats_kendall_tau": _kendall_sql(),
    "stats_permutation_test": _perm_sql(),
    "stats_bootstrap_ci": _BOOTSTRAP_SQL,
    "stats_runs_test": _runs_sql(),
    "stats_spearman_corr": _spearman_sql(),
    "stats_cramers_v": _cramers_sql(),
    "stats_jensen_shannon_drift": _js_sql(),
    "stats_theil_sen": _THEIL_SQL,
    "stats_mannwhitney_u": _MWU_SQL,
    "stats_mode_quantity": _MODE_SQL,
    "stats_anova_oneway": _anova_sql(),
    "stats_psi_drift": _psi_sql(),
    "stats_basket_lift": _BASKET_SQL,
    "stats_ks_test": _ks_sql(),
    "stats_benford_first_digit": _benford_sql(),
    "stats_gini_doc_length": _GINI_SQL,
    "stats_welch_ttest": _welch_sql(),
    "stats_ols_regression": _ols_sql(),
    "stats_corr_matrix": _corr_sql(),
    "stats_mad_outliers": _mad_sql(),
    "stats_chi2_cells": _CHI2_SQL,
}
