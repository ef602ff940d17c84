"""Distinct-counting sketches (100 TB posture: estimate, don't shuffle).

At 100 TB an exact COUNT(DISTINCT x) over a high-cardinality column
shuffles every distinct value; a HyperLogLog sketch reduces the same
question to a 4096-row aggregate (per-bucket max of a rank), which
map-side combines to ~32 KB per task regardless of input size.

Spark's builtin ``approx_count_distinct`` is HLL++ too, but its hash
(xxhash64 of Catalyst's internal row) can't be reproduced in another
engine, so it can't sit on this repo's cross-engine oracle gate. This
module implements a *portable* HLL whose every step — md5-derived
bucket/rank, exact integer 2^(49-rho) accumulation, literal-identical
estimator arithmetic — is bit-reproducible in DuckDB SQL:

* 64-bit material: md5 hex chars 1-12 (48 rank bits), chars 13-15
  (12 bucket bits, m = 4096 buckets).
* rho = leading-zero-bits(48-bit word) + 1, computed with string ops
  (strip leading '0' hex chars + a 16-way CASE on the first nonzero
  char) — identical on any engine, no float log2 edge cases.
* The harmonic sum uses exact int64 arithmetic: sum(2^(49-rho)) plus
  2^49 per empty bucket, then ONE int->double conversion (both
  engines round-to-nearest identically) and one division.
* Small-range (linear counting) correction when E <= 2.5m and empty
  buckets exist — at sf0.001 the corpus lands in that branch and at
  sf0.01 in the raw-HLL branch, so the gate exercises both paths.

The reference (waldfalke/catme-etl-j) has no analytics operators
(SURVEY.md §2.4); this is part of the engine's own training-data
pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from catme_etl_j_spark.functions.numeric import rdet as _rdet
from catme_etl_j_spark.functions.numeric import rdet_sql
from catme_etl_j_spark.functions.tokens import word_ngrams, words
from catme_etl_j_spark.sources.tables import load_table, spread_small_scan

HLL_P = 12  # bucket bits: 4096 buckets
_POW49 = 1 << 49  # rank material is 48 bits; rho in [1, 49]

# leading-zero-bits of the first nonzero hex char (then +1 for rho)
_NIBBLE_CASE = (
    "CASE WHEN {c} = '1' THEN 3 WHEN {c} IN ('2','3') THEN 2 "
    "WHEN {c} IN ('4','5','6','7') THEN 1 ELSE 0 END"
)

# Estimator constants, written as literal arithmetic so both engines
# evaluate the identical double: alpha_m * m^2 for m = 4096.
_ALPHA_M2 = "0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0"


def _rho_case(z: str, dialect: str = "spark") -> str:
    """rho from the 12 leading hex chars: 4*(zero hex chars) +
    (zero bits in first nonzero nibble) + 1; all-zero word -> 49."""
    t = f"trim(LEADING '0' FROM {z})" if dialect == "spark" else f"ltrim({z}, '0')"
    c = f"substr({t}, 1, 1)"
    return (
        f"CASE WHEN {t} = '' THEN 49 "
        f"ELSE 4 * (12 - length({t})) + {_NIBBLE_CASE.format(c=c)} + 1 END"
    )


def _shingles(docs: DataFrame, *keys: Column | str) -> DataFrame:
    """``keys`` + ``shingle``: one row per word 3-gram occurrence in
    documents.text (a multiset) — the high-cardinality stream whose
    distinct count the sketches estimate.

    Staged per the Catalyst hygiene rules (see tests/test_plans.py):
    ``ws`` is its own column so the transform lambda's three lookups
    don't re-run split(); explode_outer + isNotNull on the generator
    OUTPUT keeps InferFiltersFromGenerate from inlining the pipeline.
    """
    return (
        docs.withColumn("ws", words())
        .withColumn("sh", word_ngrams("ws", 3))
        .select(*keys, F.explode_outer("sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-HLL distinct-shingle estimate vs the exact count.

    Plan shape: one pass over the shingle stream computing (bucket,
    rho); groupBy(bucket).max(rho) map-side combines to <=4096 rows
    per task before the (tiny) shuffle; the exact COUNT(DISTINCT) twin
    rides the same scan. Output is one row with the exact count, the
    estimate, buckets used, and the relative error in percent.
    """
    sh = _shingles(load_table(spark, sf_dir, "documents")).withColumn("h", F.md5("shingle"))
    tagged = sh.select(
        "shingle",
        F.expr("CAST(conv(substr(h, 13, 3), 16, 10) AS INT)").alias("bucket"),
        F.expr(_rho_case("substr(h, 1, 12)")).alias("rho"),
    )
    # single-key registers so the one estimator definition
    # (_hll_estimate) serves both this and the merge query
    regs = (
        tagged.withColumn("k", F.lit("all"))
        .groupBy("k", "bucket")
        .agg(F.max("rho").alias("mr"))
    )
    hll = _hll_estimate(regs, "k").drop("k")
    exact = sh.agg(F.countDistinct("shingle").alias("n_exact"))
    return (
        exact.join(F.broadcast(hll))
        .select(
            "n_exact",
            "hll_estimate",
            "n_buckets_used",
            F.expr(
                "CAST(floor((hll_estimate - n_exact)"
                " / CAST(n_exact AS DOUBLE) * 100.0 * 100.0 + 0.5) / 100.0 AS DOUBLE)"
            ).alias("rel_err_pct"),
        )
    )


_HLL_SQL = f"""
WITH sh AS (
  SELECT md5(shingle) AS h, shingle FROM (
    SELECT unnest(list_transform(
             range(1, greatest(len(ws) - 2, 0) + 1),
             i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS shingle
    FROM (SELECT regexp_split_to_array(trim(text), ' +') AS ws FROM documents) w) u
  WHERE shingle IS NOT NULL),
tagged AS (
  SELECT ('0x' || substr(h, 13, 3))::BIGINT AS bucket,
         {_rho_case("substr(h, 1, 12)", dialect="duck")} AS rho
  FROM sh),
buckets AS (
  SELECT bucket, max(rho) AS mr FROM tagged GROUP BY bucket),
hll AS (
  SELECT CAST(SUM(1::BIGINT << (49 - mr)) + (4096 - COUNT(*))::BIGINT * {_POW49} AS DOUBLE)
           / {float(_POW49)} AS s_harm,
         (4096 - COUNT(*))::BIGINT AS v_empty,
         COUNT(*) AS n_buckets_used
  FROM buckets),
est AS (
  SELECT CASE WHEN {_ALPHA_M2} / s_harm <= 2.5 * 4096.0 AND v_empty > 0
              THEN 4096.0 * ln(4096.0 / CAST(v_empty AS DOUBLE))
              ELSE {_ALPHA_M2} / s_harm END AS est_raw,
         n_buckets_used
  FROM hll),
exact AS (SELECT COUNT(DISTINCT shingle) AS n_exact FROM sh)
SELECT n_exact,
       CAST(floor(est_raw + 0.5) AS BIGINT) AS hll_estimate,
       n_buckets_used,
       CAST(floor((CAST(floor(est_raw + 0.5) AS BIGINT) - n_exact)
             / CAST(n_exact AS DOUBLE) * 100.0 * 100.0 + 0.5) / 100.0 AS DOUBLE) AS rel_err_pct
FROM exact, est
"""


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005): frequency estimation
# with a fixed d x w counter grid. Like the HLL above, the build is a
# groupBy over at most d*w keys, so every map task combines to <= d*w
# rows no matter how many words stream through it — the exact word
# count, by contrast, shuffles every distinct word. CMS never
# underestimates (estimate >= true count), which the pytest asserts.

CMS_D = 4  # hash rows
CMS_W = 1024  # counters per row


def _cms_bucket(i: str, word: str, dialect: str = "spark") -> str:
    """Portable row-i bucket of a word: md5-prefix of ``i:word`` mod w."""
    if dialect == "spark":
        return (
            f"CAST(conv(substr(md5(concat({i}, ':', {word})), 1, 8), 16, 10)"
            f" AS BIGINT) % {CMS_W}"
        )
    return f"('0x' || substr(md5(concat({i}, ':', {word})), 1, 8))::BIGINT % {CMS_W}"


def _words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(F.explode(words()).alias("word")).filter("word <> ''")


def sketch_countmin_topwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min estimates for the 20 most frequent words, against the
    exact counts (verification column — at scale only the sketch side
    would run; the exact path here doubles as the accuracy audit).

    Plan shape: the sketch build explodes each word into d=4 (row,
    bucket) cells and groupBy's the 4096-key grid (map-side combine);
    the top-20 probe re-derives each word's 4 cells and joins the
    (tiny, broadcast) grid, taking min over rows.
    """
    words = _words(spark, sf_dir)
    cells = words.select(
        "word", F.explode(F.expr(f"sequence(0, {CMS_D - 1})")).alias("i")
    ).select("word", "i", F.expr(_cms_bucket("i", "word")).alias("bucket"))
    grid = cells.groupBy("i", "bucket").agg(F.count("*").alias("cnt"))
    top = (
        words.groupBy("word")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("word"))
        .limit(20)
    )
    probe = top.select(
        "word", "exact_cnt", F.explode(F.expr(f"sequence(0, {CMS_D - 1})")).alias("i")
    ).select(
        "word", "exact_cnt", "i", F.expr(_cms_bucket("i", "word")).alias("bucket")
    )
    est = (
        probe.join(F.broadcast(grid), ["i", "bucket"])
        .groupBy("word", "exact_cnt")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.select(
        "word",
        "exact_cnt",
        "cms_estimate",
        F.expr("cms_estimate - exact_cnt").alias("overcount"),
    ).orderBy(F.desc("exact_cnt"), F.asc("word"))


_CMS_SQL = f"""
WITH words AS (
  SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS word
  FROM documents),
w AS (SELECT word FROM words WHERE word <> ''),
cells AS (
  SELECT word, i, {_cms_bucket("i", "word", dialect="duck")} AS bucket
  FROM w, (SELECT unnest(range(0, {CMS_D})) AS i) r),
grid AS (
  SELECT i, bucket, COUNT(*)::BIGINT AS cnt FROM cells GROUP BY i, bucket),
top AS (
  SELECT word, COUNT(*)::BIGINT AS exact_cnt FROM w GROUP BY word
  ORDER BY exact_cnt DESC, word ASC LIMIT 20),
probe AS (
  SELECT word, exact_cnt, i, {_cms_bucket("i", "word", dialect="duck")} AS bucket
  FROM top, (SELECT unnest(range(0, {CMS_D})) AS i) r),
est AS (
  SELECT p.word, p.exact_cnt, MIN(g.cnt) AS cms_estimate
  FROM probe p JOIN grid g ON p.i = g.i AND p.bucket = g.bucket
  GROUP BY p.word, p.exact_cnt)
SELECT word, exact_cnt, cms_estimate, cms_estimate - exact_cnt AS overcount
FROM est ORDER BY exact_cnt DESC, word ASC
"""


# ---------------------------------------------------------------------------
# Bloom-filter join pruning: the classic 100 TB runtime-filter pattern.
# A filtered dimension (rich customers) is summarized into an 8192-bit
# Bloom filter; the fact side (orders) tests membership with FOUR
# successive broadcast hash joins on bit positions — zero shuffles of
# the fact table, no explode fan-out (bit positions are distinct), and
# only rows that pass the filter would continue into the real join.
# Bloom guarantees no false negatives (pytest asserts); the query
# reports the false-positive rate the 2.5%-of-m sizing buys.

BLOOM_K = 4  # hash functions
BLOOM_M = 8192  # bits


def _bloom_pos(j: str, key: str, dialect: str = "spark") -> str:
    if dialect == "spark":
        return (
            f"CAST(conv(substr(md5(concat({j}, ':', {key})), 1, 8), 16, 10)"
            f" AS BIGINT) % {BLOOM_M}"
        )
    return f"('0x' || substr(md5(concat({j}, ':', {key})), 1, 8))::BIGINT % {BLOOM_M}"


def sketch_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-row audit of Bloom-pruning orders against customers with
    ``c_acctbal > 5000``: probe rows, exact semi-join matches, rows
    passing the Bloom filter, false positives, and the FP rate among
    true non-members (percent, 2 decimals)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # cached (r11, convention #12): dim feeds the bit build AND the
    # exact-membership join, and bits is broadcast once per hash
    # function — uncached, the customer scan re-expanded 6x
    dim = customer.filter("c_acctbal > 5000").select("c_custkey").distinct().cache()
    bits = (
        dim.select(
            F.explode(F.expr(f"sequence(0, {BLOOM_K - 1})")).alias("j"), "c_custkey"
        )
        .select(F.expr(_bloom_pos("j", "c_custkey")).alias("pos"))
        .distinct()
        .cache()
    )
    probe = orders.select("o_orderkey", "o_custkey")
    for j in range(BLOOM_K):
        bj = bits.select(F.col("pos").alias(f"p{j}"), F.lit(1).alias(f"hit{j}"))
        probe = probe.withColumn(
            f"p{j}", F.expr(_bloom_pos(str(j), "o_custkey"))
        ).join(F.broadcast(bj), f"p{j}", "left")
    passed = F.expr(" AND ".join(f"hit{j} IS NOT NULL" for j in range(BLOOM_K)))
    member = probe.join(
        F.broadcast(dim.withColumn("is_member", F.lit(1))),
        probe.o_custkey == F.col("c_custkey"),
        "left",
    )
    return member.agg(
        F.count("*").alias("n_probe_rows"),
        F.sum(F.when(F.col("is_member").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact_match"),
        F.sum(F.when(passed, 1).otherwise(0)).cast("bigint").alias("n_bloom_pass"),
        F.sum(F.when(passed & F.col("is_member").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
    ).select(
        "n_probe_rows",
        "n_exact_match",
        "n_bloom_pass",
        "n_false_pos",
        F.expr(
            "CAST(floor(CAST(n_false_pos AS DOUBLE)"
            " / CAST(greatest(n_probe_rows - n_exact_match, 1L) AS DOUBLE)"
            " * 100.0 * 100.0 + 0.5) / 100.0 AS DOUBLE)"
        ).alias("fp_rate_pct"),
    )


_BLOOM_SQL = f"""
WITH dim AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 5000),
bits AS (
  SELECT DISTINCT {_bloom_pos("j", "c_custkey", dialect="duck")} AS pos
  FROM dim, (SELECT unnest(range(0, {BLOOM_K})) AS j) r),
probe AS (
  SELECT o_orderkey, o_custkey,
         {_bloom_pos("0", "o_custkey", dialect="duck")} AS p0,
         {_bloom_pos("1", "o_custkey", dialect="duck")} AS p1,
         {_bloom_pos("2", "o_custkey", dialect="duck")} AS p2,
         {_bloom_pos("3", "o_custkey", dialect="duck")} AS p3
  FROM orders),
tested AS (
  SELECT p.o_custkey,
         (b0.pos IS NOT NULL AND b1.pos IS NOT NULL
          AND b2.pos IS NOT NULL AND b3.pos IS NOT NULL) AS bloom_pass,
         (d.c_custkey IS NOT NULL) AS is_member
  FROM probe p
  LEFT JOIN bits b0 ON p.p0 = b0.pos
  LEFT JOIN bits b1 ON p.p1 = b1.pos
  LEFT JOIN bits b2 ON p.p2 = b2.pos
  LEFT JOIN bits b3 ON p.p3 = b3.pos
  LEFT JOIN dim d ON p.o_custkey = d.c_custkey)
SELECT COUNT(*)::BIGINT AS n_probe_rows,
       SUM(CASE WHEN is_member THEN 1 ELSE 0 END)::BIGINT AS n_exact_match,
       SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END)::BIGINT AS n_bloom_pass,
       SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END)::BIGINT
         AS n_false_pos,
       CAST(floor(CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(greatest(COUNT(*) - SUM(CASE WHEN is_member THEN 1 ELSE 0 END), 1) AS DOUBLE)
             * 100.0 * 100.0 + 0.5) / 100.0 AS DOUBLE) AS fp_rate_pct
FROM tested
"""


# ---------------------------------------------------------------------------
# Equi-width histogram quantiles: the fixed-size-state alternative to a
# global sort. The histogram build groupBy's <= 2048 bin keys (map-side
# combine, like the CMS/HLL above); the quantile then reads the
# cumulative bin counts. The exact twin (row_number over a global sort)
# runs alongside as the accuracy audit — at 100 TB only the histogram
# side would run, the exact path being precisely the full-sort this
# sketch exists to avoid. Estimate = upper edge of the covering bin,
# so est >= exact always (pytest asserts).

HIST_BINS = 2048
HIST_QS = (0.5, 0.9, 0.99)


def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of orders.o_totalprice from a 2048-bin equi-width
    histogram, audited against the exact type-1 quantile (value at row
    ceil(q*N) of the (value, key)-sorted data)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    # cached (r11, convention #12): the 1-row bounds frame is broadcast
    # into THREE crossJoins — uncached, each re-ran the min/max/count
    # scan of orders
    mm = orders.agg(
        F.min(F.col("o_totalprice").cast("double")).alias("mn"),
        F.max(F.col("o_totalprice").cast("double")).alias("mx"),
        F.count("*").alias("n"),
    ).cache()
    # mx = mn (constant column) puts every row in bin 0 — the CASE
    # avoids the ANSI 0/0 the probe hit; err_pct below NULLs when the
    # exact quantile is 0 for the same reason
    binned = orders.crossJoin(F.broadcast(mm)).select(
        F.expr(
            f"CASE WHEN mx = mn THEN 0L ELSE"
            f" least(CAST(floor((CAST(o_totalprice AS DOUBLE) - mn)"
            f" / (mx - mn) * {HIST_BINS}.0) AS BIGINT), {HIST_BINS - 1}L) END"
        ).alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count("*").alias("cnt")).cache()
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    qs = spark.sql(
        "SELECT explode(array(%s)) AS q"
        % ", ".join(f"CAST({q} AS DOUBLE)" for q in HIST_QS)
    )
    est = (
        qs.crossJoin(F.broadcast(mm))
        .join(
            F.broadcast(cum),
            F.col("cum") >= F.expr("CAST(ceil(q * n) AS BIGINT)"),
        )
        .groupBy("q", "mn", "mx", "n")
        .agg(F.min("bin").alias("qbin"))
        .select(
            "q",
            "n",
            F.expr(f"mn + (qbin + 1) * (mx - mn) / {HIST_BINS}.0").alias(
                "hist_est"
            ),
        )
    )
    w = Window.orderBy("o_totalprice", "o_orderkey")
    ranked = orders.select(
        F.col("o_totalprice").cast("double").alias("v"),
        F.row_number().over(w).alias("rn"),
    )
    exact = (
        qs.crossJoin(F.broadcast(mm))
        .join(ranked, F.col("rn") == F.expr("CAST(ceil(q * n) AS BIGINT)"))
        .select("q", F.col("v").alias("exact_val"))
    )
    from catme_etl_j_spark.functions.numeric import rdet

    return (
        est.join(exact, "q")
        .select(
            "q",
            "n",
            "exact_val",
            rdet(F.col("hist_est"), 2).alias("hist_est"),
            F.when(
                F.col("exact_val") != 0,
                rdet(
                    (F.col("hist_est") - F.col("exact_val"))
                    / F.col("exact_val")
                    * 100.0,
                    3,
                ),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("err_pct"),
        )
        .orderBy("q")
    )


_HIST_SQL = f"""
WITH mm AS (
  SELECT min(CAST(o_totalprice AS DOUBLE)) AS mn,
         max(CAST(o_totalprice AS DOUBLE)) AS mx,
         COUNT(*) AS n
  FROM orders),
binned AS (
  SELECT CASE WHEN mx = mn THEN 0
              ELSE least(CAST(floor((CAST(o_totalprice AS DOUBLE) - mn)
                / (mx - mn) * {HIST_BINS}.0) AS BIGINT), {HIST_BINS - 1}) END AS bin
  FROM orders, mm),
hist AS (SELECT bin, COUNT(*)::BIGINT AS cnt FROM binned GROUP BY bin),
cum AS (
  SELECT bin, SUM(cnt) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist),
qs AS (SELECT unnest([{", ".join(f"CAST({q} AS DOUBLE)" for q in HIST_QS)}]) AS q),
est AS (
  SELECT q, n, mn + (MIN(bin) + 1) * (mx - mn) / {HIST_BINS}.0 AS hist_est
  FROM qs, mm, cum
  WHERE cum >= CAST(ceil(q * n) AS BIGINT)
  GROUP BY q, n, mn, mx),
ranked AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
  FROM orders),
exact AS (
  SELECT q, v AS exact_val
  FROM qs, mm, ranked
  WHERE rn = CAST(ceil(q * n) AS BIGINT))
SELECT e.q, e.n, x.exact_val,
       {rdet_sql("e.hist_est", 2)} AS hist_est,
       CASE WHEN x.exact_val <> 0
            THEN {rdet_sql("(e.hist_est - x.exact_val) / x.exact_val * 100.0", 3)}
       END AS err_pct
FROM est e JOIN exact x ON e.q = x.q
ORDER BY e.q
"""


# ---------------------------------------------------------------------------
# HLL MERGEABILITY — the property that makes sketches work on a
# cluster: per-partition (here per-group) registers merge by plain
# per-bucket MAX, and the merged estimate is EXACTLY what a direct
# global sketch would produce (max is associative/commutative/
# idempotent). That is why a 100 TB distinct-count never reshuffles
# raw values: every executor ships 4096 registers, period. This query
# puts the property itself on the hash gate: per-priority estimates of
# distinct customers PLUS the merged-register global row, against the
# exact counts.
# ---------------------------------------------------------------------------

MERGED_KEY = "__merged__"


def _hll_estimate(regs: DataFrame, key: str) -> DataFrame:
    """(key, bucket, mr) registers -> (key, hll_estimate,
    n_buckets_used). THE estimator (harmonic mean + linear-counting
    branch) — sketch_hll_distinct and the merge query both go through
    this single definition, so a constant tweak cannot diverge them."""
    agg = regs.groupBy(key).agg(
        F.expr("SUM(shiftleft(1L, 49 - mr))").alias("sum_int"),
        F.count("*").alias("nb"),
    )
    return (
        agg.select(
            key,
            F.expr(
                f"CAST(sum_int + CAST(4096 - nb AS BIGINT) * {_POW49}L AS DOUBLE)"
                f" / {float(_POW49)}"
            ).alias("s_harm"),
            F.expr("CAST(4096 - nb AS BIGINT)").alias("v_empty"),
            F.col("nb").alias("n_buckets_used"),
        )
        .select(
            key,
            F.expr(
                f"CASE WHEN {_ALPHA_M2} / s_harm <= 2.5 * 4096.0 AND v_empty > 0"
                f" THEN 4096.0 * ln(4096.0 / CAST(v_empty AS DOUBLE))"
                f" ELSE {_ALPHA_M2} / s_harm END"
            ).alias("est_raw"),
            "n_buckets_used",
        )
        .select(
            key,
            F.expr("CAST(floor(est_raw + 0.5) AS BIGINT)").alias("hll_estimate"),
            "n_buckets_used",
        )
    )


def sketch_hll_merge_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customers per order priority via per-group HLL registers,
    plus the merged-union global row — register merge = per-bucket MAX,
    estimates vs exact counts on the gate."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"), "o_custkey"
    )
    tagged = orders.select(
        "grp",
        F.md5(F.col("o_custkey").cast("string")).alias("h"),
    ).select(
        "grp",
        F.expr("CAST(conv(substr(h, 13, 3), 16, 10) AS INT)").alias("bucket"),
        F.expr(_rho_case("substr(h, 1, 12)")).alias("rho"),
    )
    regs = tagged.groupBy("grp", "bucket").agg(F.max("rho").alias("mr"))
    merged = regs.groupBy("bucket").agg(F.max("mr").alias("mr")).select(
        F.lit(MERGED_KEY).alias("grp"), "bucket", "mr"
    )
    est = _hll_estimate(regs.unionByName(merged), "grp").drop("n_buckets_used")
    exact = orders.groupBy("grp").agg(
        F.countDistinct("o_custkey").alias("n_exact")
    ).unionByName(
        orders.agg(F.countDistinct("o_custkey").alias("n_exact")).select(
            F.lit(MERGED_KEY).alias("grp"), "n_exact"
        )
    )
    return exact.join(est, "grp").select("grp", "n_exact", "hll_estimate")


_HLL_MERGE_SQL = f"""
WITH tagged AS (
  SELECT grp,
         ('0x' || substr(h, 13, 3))::BIGINT AS bucket,
         {_rho_case("substr(h, 1, 12)", dialect="duck")} AS rho
  FROM (SELECT o_orderpriority AS grp, md5(CAST(o_custkey AS VARCHAR)) AS h
        FROM orders) t),
regs AS (SELECT grp, bucket, MAX(rho) AS mr FROM tagged GROUP BY grp, bucket),
allregs AS (
  SELECT grp, bucket, mr FROM regs
  UNION ALL
  SELECT '{MERGED_KEY}', bucket, MAX(mr) FROM regs GROUP BY bucket),
hll AS (
  SELECT grp,
         CAST(SUM(1::BIGINT << (49 - mr)) + (4096 - COUNT(*))::BIGINT * {_POW49} AS DOUBLE)
           / {float(_POW49)} AS s_harm,
         (4096 - COUNT(*))::BIGINT AS v_empty
  FROM allregs GROUP BY grp),
est AS (
  SELECT grp,
         CAST(floor(CASE WHEN {_ALPHA_M2} / s_harm <= 2.5 * 4096.0 AND v_empty > 0
                         THEN 4096.0 * ln(4096.0 / CAST(v_empty AS DOUBLE))
                         ELSE {_ALPHA_M2} / s_harm END + 0.5) AS BIGINT) AS hll_estimate
  FROM hll),
exact AS (
  SELECT o_orderpriority AS grp, COUNT(DISTINCT o_custkey) AS n_exact
  FROM orders GROUP BY o_orderpriority
  UNION ALL
  SELECT '{MERGED_KEY}', COUNT(DISTINCT o_custkey) FROM orders)
SELECT e.grp, e.n_exact, s.hll_estimate
FROM exact e JOIN est s ON e.grp = s.grp
"""


# ---------------------------------------------------------------------------
# KMV (K-minimum-values / bottom-k) distinct sketch with an in-plan
# cardinality prefilter — the order-statistics alternative to HLL.

KMV_K = 256  # sketch size; relative error ~ 1/sqrt(K-2) ~= 6%
_KMV_SAFETY = 8  # prefilter keeps ~SAFETY*K expected survivors per group
_POW32 = 1 << 32  # hash domain: 8 md5 hex chars = 32 bits
# (KMV_K - 1) * 2^32, the estimator numerator, as an int64 literal
_KMV_NUM = (KMV_K - 1) * _POW32
# SAFETY * K * 2^32, the prefilter-threshold numerator (fits int64: 2^43)
_KMV_TAU_NUM = _KMV_SAFETY * KMV_K * _POW32


def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source + merged KMV distinct-shingle estimates vs exact.

    KMV keeps the K smallest distinct hash values of a stream; the
    estimate is (K-1) * 2^32 / h_K (k-th minimum). Unlike HLL the
    state is order statistics, so the same sketch also yields
    distinct-intersection estimates, and merging = bottom-K of the
    union of states — the ``__ALL__`` row here is computed ONLY from
    the 20 per-source sketches (never re-reading the data), which is
    the mergeability property that matters on a 1000-executor cluster.

    Scale posture: the naive plan shuffles EVERY distinct hash into
    its group to sort. This plan first computes a cheap per-group
    HLL++ cardinality (``approx_count_distinct`` — deterministic:
    register-max is order-independent), broadcasts the 20-row stats,
    and keeps only hashes below tau = SAFETY*K/d_hat of the 2^32
    domain — a map-side filter that drops ~(1 - SAFETY*K/d) of the
    stream before the one small shuffle. The bottom-K itself is a
    sort-based window (SortExec spills; no unbounded in-memory set).
    The oracle computes exact bottom-K with no prefilter, so the gate
    also proves the prefilter never cuts below the true k-th minimum.
    Estimator arithmetic is pure int64 (integer DIV; all operands
    positive, so DuckDB ``//`` truncation == floor — convention #7).
    """
    # cached (r11, convention #12): sh feeds the hash side plus two
    # exact countDistinct legs; uncached the shingle explode ran 6x
    sh = _shingles(load_table(spark, sf_dir, "documents"), "source").cache()
    hashed = sh.select(
        "source",
        F.expr("CAST(conv(substr(md5(shingle), 1, 8), 16, 10) AS BIGINT)").alias("h"),
    )
    taus = (
        hashed.groupBy("source")
        .agg(F.approx_count_distinct("h").alias("d_hat"))
        .select(
            "source",
            F.expr(
                f"least(CAST({_POW32} AS BIGINT),"
                f" {_KMV_TAU_NUM} DIV greatest(d_hat, 1))"
            ).alias("tau"),
        )
    )
    from pyspark.sql import Window

    survivors = (
        hashed.join(F.broadcast(taus), "source")
        .filter(F.col("h") < F.col("tau"))
        .select("source", "h")
        .distinct()
    )
    state = (
        survivors.withColumn(
            "rn", F.row_number().over(Window.partitionBy("source").orderBy("h"))
        )
        .filter(F.col("rn") <= KMV_K)
        .select("source", "h")
        .cache()  # bounded <= |sources| * K rows; two consumers
    )
    per = state.groupBy("source").agg(
        F.count("h").alias("n_state"), F.max("h").alias("kth_min")
    )
    exact = sh.groupBy("source").agg(F.countDistinct("shingle").alias("n_exact"))
    # merge: bottom-K of the union of the per-source states (<= 20*K rows,
    # single-partition window is deliberate at this size)
    merged = (
        state.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("h")))
        .filter(F.col("rn") <= KMV_K)
        .agg(F.count("h").alias("n_state"), F.max("h").alias("kth_min"))
        .withColumn("source", F.lit(MERGED_KEY))
    )
    exact_all = (
        sh.agg(F.countDistinct("shingle").alias("n_exact"))
        .withColumn("source", F.lit(MERGED_KEY))
    )
    rows = per.join(exact, "source").unionByName(
        merged.join(exact_all, "source").select("source", "n_state", "kth_min", "n_exact")
    )
    est = f"CASE WHEN n_state < {KMV_K} THEN CAST(n_state AS BIGINT) ELSE {_KMV_NUM} DIV kth_min END"
    return rows.select(
        "source",
        "n_exact",
        "n_state",
        "kth_min",
        F.expr(est).alias("kmv_estimate"),
        F.expr(
            f"CAST(floor((CAST({est} AS DOUBLE) - n_exact)"
            " / CAST(n_exact AS DOUBLE) * 100.0 * 100.0 + 0.5) / 100.0 AS DOUBLE)"
        ).alias("rel_err_pct"),
    ).orderBy("source")


_KMV_EST_DUCK = (
    f"CASE WHEN n_state < {KMV_K} THEN n_state ELSE {_KMV_NUM} // kth_min END"
)

_KMV_SQL = f"""
WITH ws AS (
  SELECT source, regexp_split_to_array(trim(text), ' +') AS ws FROM documents),
sh0 AS (
  SELECT source,
         unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS shingle
  FROM ws),
sh AS (SELECT source, shingle FROM sh0 WHERE shingle IS NOT NULL),
hashed AS (
  SELECT DISTINCT source, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh),
ranked AS (
  SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM hashed),
state AS (SELECT source, h FROM ranked WHERE rn <= {KMV_K}),
per AS (
  SELECT source, COUNT(*)::BIGINT AS n_state, MAX(h) AS kth_min
  FROM state GROUP BY source),
exact AS (
  SELECT source, COUNT(DISTINCT shingle)::BIGINT AS n_exact FROM sh GROUP BY source),
mranked AS (
  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
  FROM (SELECT DISTINCT h FROM state) u),
mrow AS (
  SELECT '{MERGED_KEY}' AS source, COUNT(*)::BIGINT AS n_state, MAX(h) AS kth_min
  FROM mranked WHERE rn <= {KMV_K}),
mexact AS (
  SELECT '{MERGED_KEY}' AS source, COUNT(DISTINCT shingle)::BIGINT AS n_exact FROM sh),
allrows AS (
  SELECT p.source, e.n_exact, p.n_state, p.kth_min
  FROM per p JOIN exact e USING (source)
  UNION ALL
  SELECT m.source, x.n_exact, m.n_state, m.kth_min
  FROM mrow m JOIN mexact x USING (source))
SELECT source, n_exact, n_state, kth_min,
       {_KMV_EST_DUCK} AS kmv_estimate,
       CAST(floor((CAST({_KMV_EST_DUCK} AS DOUBLE) - n_exact)
             / CAST(n_exact AS DOUBLE) * 100.0 * 100.0 + 0.5) / 100.0 AS DOUBLE)
         AS rel_err_pct
FROM allrows ORDER BY source
"""


# ---------------------------------------------------------------------------
# AMS / tug-of-war sketch for the second frequency moment (F2 = sum of
# squared frequencies = self-join size; Alon-Matias-Szegedy 1996, public).
# ---------------------------------------------------------------------------

AMS_R = 16       # estimators
AMS_GROUPS = 4   # median-of-means: 4 groups of 4


def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 (self-join size) of the word-3-gram shingle stream via the
    AMS tug-of-war sketch, against the exact value.

    Each of the 16 estimators keeps one int64 counter
    Z_r = sum_x sign_r(x) * f_x (sign from a portable md5 nibble);
    E[Z_r^2] = F2. The estimate is the textbook median of 4
    group-means of Z^2. The whole sketch state is 16 mergeable int64
    counters — the fixed-state, shuffle-16-rows shape that makes F2
    (and join-size estimation generally) tractable on a 1000-executor
    stream where the exact computation needs a full groupBy.

    Plan shape (r11, guide §1.2/§2.4): the shingle count aggregate
    feeds ONE fused global aggregate that computes the exact F2, the
    distinct count AND all 16 signed counters as separate SUM columns
    — no 16-way explode, no second groupBy(r) shuffle, no checkpoint
    of the count table (it has a single consumer now) and no
    exact×est crossJoin. The group means and the median then run as
    pure projections on the single result row. Squares accumulate in
    DECIMAL(38,0) (Z^2 can exceed int64 on a 100 TB stream); all
    divisions are positive-int DIV (convention #7). Determinism:
    sign_r(x) = parity of md5 nibble r of the shingle — bit-identical
    in DuckDB.
    """
    cnt = (
        _shingles(load_table(spark, sf_dir, "documents"))
        .groupBy("shingle")
        .agg(F.count("*").alias("n"))
    )
    # sign_r = +1 if hex nibble r of md5(shingle) is even else -1;
    # codegen subexpression elimination shares the md5 across the 16
    # aggregate inputs
    zcols = [
        F.sum(
            F.expr(
                f"CASE WHEN CAST(conv(substr(md5(shingle), {r + 1}, 1), 16, 10)"
                f" AS INT) % 2 = 0 THEN n ELSE -n END"
            )
        )
        .cast("long")
        .alias(f"z{r}")
        for r in range(AMS_R)
    ]
    agg = cnt.agg(
        F.count("*").cast("long").alias("n_distinct"),
        F.sum(F.expr("CAST(n AS DECIMAL(38,0)) * n"))
        .cast("decimal(38,0)")
        .alias("exact_f2"),
        *zcols,
    )
    # DECIMAL accumulates the squares exactly, then a BIGINT cast
    # BEFORE the integer division: DuckDB's DECIMAL // ROUNDS to scale
    # where BIGINT // truncates (caught live at sf0.1 — a one-ULP
    # est_f2 drift). Values fit int64 at gate scales; a 100 TB stream
    # needs an explicit floor on the DECIMAL path instead.
    group_sq = {
        g: " + ".join(
            f"CAST(z{r} AS DECIMAL(38,0)) * z{r}"
            for r in range(g, AMS_R, AMS_GROUPS)
        )
        for g in range(AMS_GROUPS)
    }
    marr = ", ".join(
        f"CAST(({group_sq[g]}) AS BIGINT) DIV {AMS_R // AMS_GROUPS}"
        for g in range(AMS_GROUPS)
    )
    # n_distinct > 0 guard: a corpus with zero shingles (every doc <3
    # words) leaves every counter NULL; both engines emit NULL est_f2
    # for that corpus (same condition as the old count(m) = 4 over the
    # per-group rows — the 16 counters exist iff any shingle exists).
    withest = agg.select(
        "n_distinct",
        "exact_f2",
        F.expr(
            f"CASE WHEN n_distinct > 0 THEN "
            f"(sort_array(array({marr}))[1] + sort_array(array({marr}))[2]) DIV 2"
            f" END"
        ).alias("est_f2"),
    )
    return withest.select(
        "n_distinct",
        F.col("exact_f2").cast("long").alias("exact_f2"),
        F.col("est_f2").cast("long").alias("est_f2"),
        F.expr(
            "CAST(abs(CAST(est_f2 AS BIGINT) - CAST(exact_f2 AS BIGINT)) * 1000000"
            " DIV CAST(exact_f2 AS BIGINT) AS BIGINT)"
        ).alias("abs_err_ppm"),
    )


_AMS_SQL = f"""
WITH sh AS (
  SELECT unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
  FROM (SELECT regexp_split_to_array(trim(text), ' +') AS ws FROM documents) t),
cnt AS (SELECT shingle, COUNT(*) AS n FROM sh GROUP BY shingle),
exact AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(SUM(CAST(n AS DECIMAL(38,0)) * n) AS DECIMAL(38,0)) AS exact_f2
  FROM cnt),
signed AS (
  SELECT r.r,
         CASE WHEN ('0x' || substr(md5(shingle), CAST(r.r + 1 AS INT), 1))::BIGINT % 2 = 0
              THEN n ELSE -n END AS z
  FROM cnt, UNNEST(range(0, {AMS_R})) AS r(r)),
zr AS (SELECT r, CAST(SUM(z) AS BIGINT) AS zr FROM signed GROUP BY r),
means AS (
  -- BIGINT cast BEFORE //: DuckDB DECIMAL // ROUNDS (convention note
  -- in the Spark twin); integer // truncates like Spark DIV
  SELECT r % {AMS_GROUPS} AS g,
         CAST(SUM(CAST(zr AS DECIMAL(38,0)) * zr) AS BIGINT) // {AMS_R // AMS_GROUPS} AS m
  FROM zr GROUP BY g),
est AS (
  SELECT CASE WHEN COUNT(m) = {AMS_GROUPS} THEN
           CAST((list_sort(list(m))[2] + list_sort(list(m))[3]) // 2 AS BIGINT)
         END AS est_f2
  FROM means)
SELECT n_distinct,
       CAST(exact_f2 AS BIGINT) AS exact_f2,
       CAST(est_f2 AS BIGINT) AS est_f2,
       CAST(abs(CAST(est_f2 AS BIGINT) - CAST(exact_f2 AS BIGINT)) * 1000000
            // CAST(exact_f2 AS BIGINT) AS BIGINT) AS abs_err_ppm
FROM exact, est
"""


def sketch_ams_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join SIZE estimation from AMS sketches — the CBO statistic:
    |A ⋈ B| on the shingle key, where A = shingles of even doc_ids and
    B = odd, estimated as the median of 4 group-means of Z_A,r * Z_B,r
    (the AMS inner product; E[Z_A Z_B] = sum_x fA(x) fB(x) = join size)
    vs the exact join size.

    The point at scale: each side's sketch is 16 mergeable int64
    counters built in one linear pass — two streams that may live on
    different clusters never co-shuffle; the exact answer needs the
    full count-join both sides. Same counting/sign plumbing as
    sketch_ams_f2 (signs must be the SAME hash family across the two
    streams for the inner product to correlate); same BIGINT-before-
    division rule (DuckDB DECIMAL // rounds).
    """
    sh = _shingles(load_table(spark, sf_dir, "documents"), (F.col("doc_id") % 2).alias("side"))
    cnt = (
        sh.groupBy("side", "shingle")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()  # exact join + both sketches share it
    )
    a = cnt.filter("side = 0").select("shingle", F.col("n").alias("fa"))
    b = cnt.filter("side = 1").select("shingle", F.col("n").alias("fb"))
    exact = a.join(b, "shingle").agg(
        F.count("*").cast("long").alias("n_common_keys"),
        F.sum(F.expr("CAST(fa AS DECIMAL(38,0)) * fb"))
        .cast("decimal(38,0)")
        .alias("exact_join"),
    )
    # r11 (the sketch_ams_f2 fused-aggregate shape): both sides' 16
    # counters come out of ONE aggregate over cnt as 32 SUM columns —
    # no 16-way explode, no groupBy(side, r) shuffle, no zr self-join.
    # A side with no shingles leaves its SUMs NULL, which propagates
    # NULL through every group mean into est_join — exactly the old
    # count(m) = 4 guard's outcome (the prod join came up empty).
    def _zsum(side: int, r: int, alias: str):
        return (
            F.sum(
                F.expr(
                    f"CASE WHEN side = {side} THEN "
                    f"CASE WHEN CAST(conv(substr(md5(shingle), {r + 1}, 1), 16, 10)"
                    f" AS INT) % 2 = 0 THEN n ELSE -n END END"
                )
            )
            .cast("long")
            .alias(alias)
        )

    zagg = cnt.agg(
        *[_zsum(0, r, f"za{r}") for r in range(AMS_R)],
        *[_zsum(1, r, f"zb{r}") for r in range(AMS_R)],
    )
    marr = ", ".join(
        "CAST(("
        + " + ".join(
            f"CAST(za{r} AS DECIMAL(38,0)) * zb{r}"
            for r in range(g, AMS_R, AMS_GROUPS)
        )
        + f") AS BIGINT) DIV {AMS_R // AMS_GROUPS}"
        for g in range(AMS_GROUPS)
    )
    est = zagg.select(
        F.expr(
            f"(sort_array(array({marr}))[1] + sort_array(array({marr}))[2]) DIV 2"
        ).alias("est_join")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_common_keys",
        F.col("exact_join").cast("long").alias("exact_join"),
        "est_join",
        F.expr(
            "CASE WHEN CAST(exact_join AS BIGINT) > 0 THEN"
            " CAST(abs(est_join - CAST(exact_join AS BIGINT)) * 1000000"
            " DIV CAST(exact_join AS BIGINT) AS BIGINT) END"
        ).alias("abs_err_ppm"),
    )


_AMS_JOIN_SQL = f"""
WITH sh AS (
  SELECT doc_id % 2 AS side,
         unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws FROM documents) t),
cnt AS (SELECT side, shingle, COUNT(*) AS n FROM sh GROUP BY side, shingle),
exact AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_common_keys,
         CAST(SUM(CAST(a.n AS DECIMAL(38,0)) * b.n) AS DECIMAL(38,0)) AS exact_join
  FROM cnt a JOIN cnt b ON a.shingle = b.shingle AND a.side = 0 AND b.side = 1),
signed AS (
  SELECT side, r.r,
         CASE WHEN ('0x' || substr(md5(shingle), CAST(r.r + 1 AS INT), 1))::BIGINT % 2 = 0
              THEN n ELSE -n END AS z
  FROM cnt, UNNEST(range(0, {AMS_R})) AS r(r)),
zr AS (SELECT side, r, CAST(SUM(z) AS BIGINT) AS zr FROM signed GROUP BY side, r),
prod AS (
  SELECT a.r, a.zr AS za, b.zr AS zb
  FROM zr a JOIN zr b ON a.r = b.r AND a.side = 0 AND b.side = 1),
means AS (
  SELECT r % {AMS_GROUPS} AS g,
         CAST(SUM(CAST(za AS DECIMAL(38,0)) * zb) AS BIGINT) // {AMS_R // AMS_GROUPS} AS m
  FROM prod GROUP BY g),
est AS (
  SELECT CASE WHEN COUNT(m) = {AMS_GROUPS} THEN
           CAST((list_sort(list(m))[2] + list_sort(list(m))[3]) // 2 AS BIGINT)
         END AS est_join
  FROM means)
SELECT n_common_keys,
       CAST(exact_join AS BIGINT) AS exact_join,
       est_join,
       CASE WHEN CAST(exact_join AS BIGINT) > 0 THEN
         CAST(abs(est_join - CAST(exact_join AS BIGINT)) * 1000000
              // CAST(exact_join AS BIGINT) AS BIGINT)
       END AS abs_err_ppm
FROM exact, est
"""


# ---------------------------------------------------------------------------
# Theta-sketch set algebra (Dasgupta/Lang/Rhodes, "A framework for
# estimating stream expression cardinalities", 2016; the Apache
# DataSketches theta family — public). A KMV/theta sketch supports not
# just distinct-count but UNION / INTERSECT / A-NOT-B **on the sketch
# states alone**, which is what lets a 100 TB deployment answer
# "how many user-days did BOTH click and purchase" from two ~256-entry
# states instead of a cross-population shuffle.
# ---------------------------------------------------------------------------

THETA_K = 256
_THETA_A = "click"
_THETA_B = "purchase"


def sketch_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra over per-event-type user-day
    populations: estimates of |A|, |B|, |A∪B|, |A∩B|, |A\\B| computed
    ONLY from the two bottom-K hash states, each against the exact
    answer.

    Mechanics (theta framework): per set keep the K smallest distinct
    32-bit item hashes; theta = the K-th minimum (or the full 2^32
    domain while the set holds < K hashes — exact mode). Set ops pick
    theta' = min(theta_A, theta_B), combine the states, drop entries
    >= theta', and estimate |result| * 2^32 / theta'. The driver SFs
    exercise both modes: sf0.001 user-day populations are < K (exact
    mode, estimates equal exacts), sf0.01+ are > K (estimation mode).

    Determinism: portable 32-bit md5 hash (convention #4), distinct
    (set, hash) so ties cannot exist, all-integer estimator
    (non-negative DIV, convention #7), day index from epoch seconds
    under the UTC session. The ``rel_err_pct`` guard NULLs on
    exact = 0 (degenerate corpus, convention #9) on both engines.

    Scale shape: the only data-sized work is the distinct over
    (set, user-day) — map-side combined; everything downstream
    (states, thetas, the full-outer set-op join) is bounded by
    2K = 512 rows. The exact counts exist for the gate; at 100 TB a
    user keeps only the sketch half (mergeable: union of states is
    bottom-K of their union).
    """
    from pyspark.sql import Window

    a, b = _THETA_A, _THETA_B
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(a, b)
    )
    items = ev.select(
        F.col("event_type").alias("s"),
        F.expr(
            "concat(CAST(user_id AS STRING), ':', "
            "CAST(CAST(floor(CAST(ts AS DOUBLE) / 86400.0) AS BIGINT) AS STRING))"
        ).alias("item"),
    ).distinct().cache()
    # r11 (convention #12): items has four consumers (hash side + both
    # exact legs, one of them twice) and ranked three (per_n, kth,
    # state) — uncached, the events scan re-expanded 17x in the static
    # plan. Two cached passes put it at one.
    hashed = items.select(
        "s",
        F.expr("CAST(conv(substr(md5(item), 1, 8), 16, 10) AS BIGINT)").alias("h"),
    ).distinct()
    ranked = hashed.withColumn(
        "rn", F.row_number().over(Window.partitionBy("s").orderBy("h"))
    ).cache()
    per_n = ranked.groupBy("s").agg(F.max("rn").alias("n_h"))
    kth = ranked.filter(F.col("rn") == THETA_K).select("s", F.col("h").alias("h_k"))
    thetas = per_n.join(kth, "s", "left").select(
        "s",
        F.expr(
            f"CASE WHEN n_h >= {THETA_K} THEN h_k"
            f" ELSE CAST({_POW32} AS BIGINT) END"
        ).alias("theta"),
    )
    state = (
        ranked.join(F.broadcast(thetas), "s")
        .filter(F.col("h") < F.col("theta"))
        .select("s", "h")
        .cache()  # bounded by 2K = 512 rows; three consumers
    )
    tpiv = thetas.agg(
        F.expr(
            f"coalesce(max(CASE WHEN s = '{a}' THEN theta END),"
            f" CAST({_POW32} AS BIGINT))"
        ).alias("theta_a"),
        F.expr(
            f"coalesce(max(CASE WHEN s = '{b}' THEN theta END),"
            f" CAST({_POW32} AS BIGINT))"
        ).alias("theta_b"),
    )
    npiv = state.agg(
        F.expr(f"coalesce(sum(CASE WHEN s = '{a}' THEN 1 END), 0)").alias("n_a"),
        F.expr(f"coalesce(sum(CASE WHEN s = '{b}' THEN 1 END), 0)").alias("n_b"),
    )
    sa = state.filter(F.col("s") == a).select(F.col("h").alias("ha"))
    sb = state.filter(F.col("s") == b).select(F.col("h").alias("hb"))
    fo = sa.join(sb, sa["ha"] == sb["hb"], "full_outer").select(
        F.coalesce("ha", "hb").alias("h"),
        F.expr("CAST(ha IS NOT NULL AS INT)").alias("in_a"),
        F.expr("CAST(hb IS NOT NULL AS INT)").alias("in_b"),
    )
    setcnt = (
        fo.crossJoin(F.broadcast(tpiv))
        .filter(F.expr("h < least(theta_a, theta_b)"))
        .agg(
            F.count("*").cast("long").alias("n_union"),
            F.expr("coalesce(sum(in_a * in_b), 0)").alias("n_int"),
            F.expr("coalesce(sum(in_a * (1 - in_b)), 0)").alias("n_diff"),
        )
    )
    ia = items.filter(F.col("s") == a).select("item")
    ib = items.filter(F.col("s") == b).select("item")
    exacts = (
        ia.agg(F.count("*").cast("long").alias("exact_a"))
        .crossJoin(ib.agg(F.count("*").cast("long").alias("exact_b")))
        .crossJoin(ia.join(ib, "item").agg(F.count("*").cast("long").alias("exact_i")))
    )
    one = (
        tpiv.crossJoin(F.broadcast(npiv))
        .crossJoin(F.broadcast(setcnt))
        .crossJoin(F.broadcast(exacts))
    )
    rows = one.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(f"a_{a}").alias("op"),
                    F.col("n_a").cast("long").alias("n_state"),
                    F.col("theta_a").alias("theta"),
                    F.col("exact_a").alias("exact"),
                ),
                F.struct(
                    F.lit(f"b_{b}").alias("op"),
                    F.col("n_b").cast("long").alias("n_state"),
                    F.col("theta_b").alias("theta"),
                    F.col("exact_b").alias("exact"),
                ),
                F.struct(
                    F.lit("union").alias("op"),
                    F.col("n_union").alias("n_state"),
                    F.expr("least(theta_a, theta_b)").alias("theta"),
                    F.expr("exact_a + exact_b - exact_i").alias("exact"),
                ),
                F.struct(
                    F.lit("intersect").alias("op"),
                    F.col("n_int").cast("long").alias("n_state"),
                    F.expr("least(theta_a, theta_b)").alias("theta"),
                    F.col("exact_i").alias("exact"),
                ),
                F.struct(
                    F.lit("a_not_b").alias("op"),
                    F.col("n_diff").cast("long").alias("n_state"),
                    F.expr("least(theta_a, theta_b)").alias("theta"),
                    F.expr("exact_a - exact_i").alias("exact"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    est = f"n_state * CAST({_POW32} AS BIGINT) DIV theta"
    return rows.select(
        "op",
        "n_state",
        "theta",
        F.expr(est).alias("theta_estimate"),
        "exact",
        F.expr(
            f"CASE WHEN exact = 0 THEN CAST(NULL AS DOUBLE)"
            f" ELSE floor((CAST({est} AS DOUBLE) - exact)"
            f" / CAST(exact AS DOUBLE) * 100.0 * 100.0 + 0.5) / 100.0 END"
        ).alias("rel_err_pct"),
    ).orderBy("op")


_THETA_EST_DUCK = f"n_state * CAST({_POW32} AS BIGINT) // theta"

_THETA_SQL = f"""
WITH ev AS (
  SELECT event_type AS s,
         CAST(user_id AS VARCHAR) || ':' ||
           CAST(CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS VARCHAR) AS item
  FROM events WHERE event_type IN ('{_THETA_A}', '{_THETA_B}')),
items AS (SELECT DISTINCT s, item FROM ev),
hashed AS (
  SELECT DISTINCT s, ('0x' || substr(md5(item), 1, 8))::BIGINT AS h FROM items),
ranked AS (
  SELECT s, h, ROW_NUMBER() OVER (PARTITION BY s ORDER BY h) AS rn FROM hashed),
pern AS (SELECT s, MAX(rn) AS n_h FROM ranked GROUP BY s),
kth AS (SELECT s, h AS h_k FROM ranked WHERE rn = {THETA_K}),
thetas AS (
  SELECT p.s,
         CASE WHEN p.n_h >= {THETA_K} THEN k.h_k
              ELSE CAST({_POW32} AS BIGINT) END AS theta
  FROM pern p LEFT JOIN kth k USING (s)),
state AS (
  SELECT r.s, r.h FROM ranked r JOIN thetas t USING (s) WHERE r.h < t.theta),
tpiv AS (
  SELECT COALESCE(MAX(CASE WHEN s = '{_THETA_A}' THEN theta END),
                  CAST({_POW32} AS BIGINT)) AS theta_a,
         COALESCE(MAX(CASE WHEN s = '{_THETA_B}' THEN theta END),
                  CAST({_POW32} AS BIGINT)) AS theta_b
  FROM thetas),
npiv AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN s = '{_THETA_A}' THEN 1 END), 0) AS BIGINT) AS n_a,
         CAST(COALESCE(SUM(CASE WHEN s = '{_THETA_B}' THEN 1 END), 0) AS BIGINT) AS n_b
  FROM state),
fo AS (
  SELECT COALESCE(sa.h, sb.h) AS h,
         CAST(sa.h IS NOT NULL AS INT) AS in_a,
         CAST(sb.h IS NOT NULL AS INT) AS in_b
  FROM (SELECT h FROM state WHERE s = '{_THETA_A}') sa
  FULL OUTER JOIN (SELECT h FROM state WHERE s = '{_THETA_B}') sb
    ON sa.h = sb.h),
setcnt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_union,
         CAST(COALESCE(SUM(in_a * in_b), 0) AS BIGINT) AS n_int,
         CAST(COALESCE(SUM(in_a * (1 - in_b)), 0) AS BIGINT) AS n_diff
  FROM fo, tpiv WHERE h < least(theta_a, theta_b)),
exacts AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM items WHERE s = '{_THETA_A}') AS exact_a,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM items WHERE s = '{_THETA_B}') AS exact_b,
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM (SELECT item FROM items WHERE s = '{_THETA_A}') x
          JOIN (SELECT item FROM items WHERE s = '{_THETA_B}') y USING (item)) AS exact_i),
one AS (SELECT * FROM tpiv, npiv, setcnt, exacts),
rows5 AS (
  SELECT 'a_{_THETA_A}' AS op, n_a AS n_state, theta_a AS theta, exact_a AS exact FROM one
  UNION ALL
  SELECT 'b_{_THETA_B}', n_b, theta_b, exact_b FROM one
  UNION ALL
  SELECT 'union', n_union, least(theta_a, theta_b), exact_a + exact_b - exact_i FROM one
  UNION ALL
  SELECT 'intersect', n_int, least(theta_a, theta_b), exact_i FROM one
  UNION ALL
  SELECT 'a_not_b', n_diff, least(theta_a, theta_b), exact_a - exact_i FROM one)
SELECT op, n_state, theta,
       {_THETA_EST_DUCK} AS theta_estimate,
       exact,
       CASE WHEN exact = 0 THEN CAST(NULL AS DOUBLE)
            ELSE floor((CAST({_THETA_EST_DUCK} AS DOUBLE) - exact)
                 / CAST(exact AS DOUBLE) * 100.0 * 100.0 + 0.5) / 100.0 END
         AS rel_err_pct
FROM rows5 ORDER BY op
"""


def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-similarity from MERGED bottom-k sketches: for
    every source pair, the KMV Jaccard estimate |bottom_k(A∪B) ∩ S_A ∩
    S_B| / k_eff next to the exact Jaccard over the same hashed shingle
    space — the sketch that lets a 1000-executor dedup triage WHICH
    corpus slices overlap before paying for pairwise document
    comparison (Beyer et al. 2007). The estimate is computed ONLY from
    the per-source sketches (mergeability — the data is never re-read
    per pair); the exact twin both gates the estimator arithmetic and
    measures its error.

    Pure integer plumbing end-to-end (32-bit md5-prefix hashes, exact
    counts); the two Jaccard ratios are single double divisions under
    rdet(6). Sources absent from the shingle stream (all-empty-text
    slices) drop out of the pair grid identically on both engines.

    Scale: the corpus-sized passes are the distinct-(source, hash)
    aggregation and one hash-keyed self-join for the exact twin (at
    100 TB you keep only the sketch pass and the tau prefilter of
    sketch_kmv_distinct); everything pair-wise runs on |sources|^2/2
    x KMV_K bounded frames.
    """
    from pyspark.sql import Window

    # §2.5 spread: shingle generation is interpreted scan-stage CPU and
    # the stream is immediately distinct-shuffled by (source, h)
    docs = spread_small_scan(spark, load_table(spark, sf_dir, "documents"))
    sh = _shingles(docs, "source")
    # hashed has FOUR consumers (sketch window, size aggregate, both
    # sides of the exact self-join). The static plan shows the explode
    # + distinct re-expanded 12x, but AQE's runtime
    # ReuseExchangeAndSubquery dedupes the identical distinct exchange
    # across all consumers, so an explicit .cache() only ADDS the
    # columnar materialization cost — measured r11 (honest
    # clearCache-per-run A/B, one session): cached 2.38 s vs uncached
    # 2.18 s at sf0.1. Left uncached deliberately.
    hashed = sh.select(
        "source",
        F.expr(
            "CAST(conv(substr(md5(shingle), 1, 8), 16, 10) AS BIGINT)"
        ).alias("h"),
    ).distinct()
    w = Window.partitionBy("source").orderBy("h")
    sk = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("source", "h")
    )
    sizes = hashed.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    pairs = (
        sizes.select(F.col("source").alias("sa"))
        .join(
            sizes.select(F.col("source").alias("sb")),
            F.col("sa") < F.col("sb"),
        )
    )
    pa = pairs.join(sk.withColumnRenamed("source", "sa"), "sa").select(
        "sa", "sb", "h", F.lit(1).alias("ia"), F.lit(0).alias("ib")
    )
    pb = pairs.join(sk.withColumnRenamed("source", "sb"), "sb").select(
        "sa", "sb", "h", F.lit(0).alias("ia"), F.lit(1).alias("ib")
    )
    u = (
        pa.unionByName(pb)
        .groupBy("sa", "sb", "h")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    wu = Window.partitionBy("sa", "sb").orderBy("h")
    est = (
        u.withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("sa", "sb")
        .agg(
            F.count("*").cast("long").alias("k_eff"),
            F.sum(F.col("ia") * F.col("ib")).cast("long").alias("shared"),
        )
    )
    inter = (
        hashed.alias("x")
        .join(
            hashed.alias("y"),
            (F.col("x.h") == F.col("y.h"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("sa"), F.col("y.source").alias("sb")
        )
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    res = (
        pairs.join(sizes.select(F.col("source").alias("sa"), F.col("n").alias("n_a")), "sa")
        .join(sizes.select(F.col("source").alias("sb"), F.col("n").alias("n_b")), "sb")
        .join(est, ["sa", "sb"], "left")
        .join(inter, ["sa", "sb"], "left")
        .select(
            F.col("sa").alias("src_a"),
            F.col("sb").alias("src_b"),
            "n_a",
            "n_b",
            F.coalesce("n_inter", F.lit(0)).cast("long").alias("n_inter"),
            F.coalesce("k_eff", F.lit(0)).cast("long").alias("k_eff"),
            F.coalesce("shared", F.lit(0)).cast("long").alias("shared"),
        )
    )
    return res.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        "n_inter",
        "k_eff",
        "shared",
        F.when(
            F.col("k_eff") > 0,
            _rdet(
                F.expr("CAST(shared AS DOUBLE) / CAST(k_eff AS DOUBLE)"), 6
            ),
        ).alias("j_est"),
        _rdet(
            F.expr(
                "CAST(n_inter AS DOUBLE)"
                " / CAST(n_a + n_b - n_inter AS DOUBLE)"
            ),
            6,
        ).alias("j_exact"),
    ).orderBy("src_a", "src_b")


_KMV_JACCARD_SQL = f"""
WITH ws AS (
  SELECT source, regexp_split_to_array(trim(text), ' +') AS ws FROM documents),
sh0 AS (
  SELECT source,
         unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS shingle
  FROM ws),
sh AS (SELECT source, shingle FROM sh0 WHERE shingle IS NOT NULL),
hashed AS MATERIALIZED (
  SELECT DISTINCT source, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh),
sk AS MATERIALIZED (
  SELECT source, h FROM (
    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hashed) WHERE rn <= {KMV_K}),
sizes AS MATERIALIZED (
  SELECT source, COUNT(*)::BIGINT AS n FROM hashed GROUP BY source),
pairs AS MATERIALIZED (
  SELECT a.source AS sa, b.source AS sb
  FROM sizes a JOIN sizes b ON a.source < b.source),
u AS (
  SELECT sa, sb, h, MAX(ia) AS ia, MAX(ib) AS ib FROM (
    SELECT p.sa, p.sb, s.h, 1 AS ia, 0 AS ib
    FROM pairs p JOIN sk s ON s.source = p.sa
    UNION ALL
    SELECT p.sa, p.sb, s.h, 0 AS ia, 1 AS ib
    FROM pairs p JOIN sk s ON s.source = p.sb)
  GROUP BY 1, 2, 3),
est AS (
  SELECT sa, sb, COUNT(*)::BIGINT AS k_eff,
         CAST(SUM(ia * ib) AS BIGINT) AS shared
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
        FROM u) WHERE rn <= {KMV_K}
  GROUP BY 1, 2),
inter AS (
  SELECT x.source AS sa, y.source AS sb, COUNT(*)::BIGINT AS n_inter
  FROM hashed x JOIN hashed y ON x.h = y.h AND x.source < y.source
  GROUP BY 1, 2),
res AS (
  SELECT p.sa AS src_a, p.sb AS src_b, na.n AS n_a, nb.n AS n_b,
         CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
         CAST(COALESCE(e.k_eff, 0) AS BIGINT) AS k_eff,
         CAST(COALESCE(e.shared, 0) AS BIGINT) AS shared
  FROM pairs p
  JOIN sizes na ON na.source = p.sa
  JOIN sizes nb ON nb.source = p.sb
  LEFT JOIN est e ON e.sa = p.sa AND e.sb = p.sb
  LEFT JOIN inter i ON i.sa = p.sa AND i.sb = p.sb)
SELECT src_a, src_b, n_a, n_b, n_inter, k_eff, shared,
       CASE WHEN k_eff > 0 THEN
         {rdet_sql("CAST(shared AS DOUBLE) / CAST(k_eff AS DOUBLE)", 6)}
       END AS j_est,
       {rdet_sql(
           "CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE)", 6)}
         AS j_exact
FROM res ORDER BY src_a, src_b
"""


# ---------------------------------------------------------------------------
# Linear probabilistic counting (Whang, Vander-Zanden & Taylor, ACM
# TODS 1990 — public): hash each key to one of LC_M bitmap positions;
# with z empty positions, estimate n ~ m * ln(m / z). The third
# mergeable-distinct sketch in the family (HLL: loglog space, KMV:
# bottom-k) — linear counting is the ACCURATE-at-low-load member (HLL's
# own small-range correction IS linear counting over its zero
# registers), and its state ORs together, so per-group bitmaps merge
# into the union estimate for free.
# ---------------------------------------------------------------------------

LC_M = 65_536  # bitmap bits; load factor n/m stays << 1 at all test SFs


def sketch_linear_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimates via a 65,536-bit linear
    counter, plus the '__merged__' row: the OR of all per-type bitmaps
    estimating the global distinct count (set-union semantics — the
    property that makes the sketch shardable: at 100 TB each partition
    ORs its local bitmap into 8 KiB of state, and merging is
    associative and commutative).

    The bitmap is REPRESENTED relationally as the distinct set of
    occupied positions ((grp, bit) rows — the production form is a
    fixed 8 KiB bitmap aggregate; semantics identical). Bit index =
    portable md5-prefix hash mod m (convention #4). The estimate
    m*ln(m/z) is one ln over exact ints (identical IEEE both engines);
    a saturated bitmap (z = 0) yields NULL rather than an ANSI-vs-NULL
    ln(inf) divergence (conv. #9). n_exact is carried per row so the
    result exhibits the sketch error directly.

    Scale shape: one distinct-shuffle on (event_type, user_id) (the
    same exchange the exact count needs anyway), re-aggregated to
    occupied bits; the merged row re-uses the per-type bit frame
    (lazily checkpointed — conv. #12) rather than re-scanning events.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(F.col("event_type").alias("grp"), "user_id")
        .distinct()
        .withColumn(
            "bit",
            F.expr(
                "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) "
                f"AS BIGINT) % {LC_M}"
            ),
        )
        .localCheckpoint(eager=False)
    )
    per = ev.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_exact"),
        F.countDistinct("bit").cast("long").alias("bits_set"),
    )
    merged = ev.agg(
        F.countDistinct("user_id").cast("long").alias("n_exact"),
        F.countDistinct("bit").cast("long").alias("bits_set"),
    ).select(F.lit(MERGED_KEY).alias("grp"), "n_exact", "bits_set")
    est = (
        f"CASE WHEN {LC_M} - bits_set > 0 THEN "
        + f"floor({float(LC_M)} * ln({float(LC_M)} / ({LC_M} - bits_set)) * 10000.0 + 0.5) / 10000.0"
        + " ELSE CAST(NULL AS DOUBLE) END"
    )
    err = (
        f"CASE WHEN {LC_M} - bits_set > 0 AND n_exact > 0 THEN "
        + f"floor((({float(LC_M)} * ln({float(LC_M)} / ({LC_M} - bits_set)) - n_exact)"
        + " / n_exact * 100.0) * 10000.0 + 0.5) / 10000.0"
        + " ELSE CAST(NULL AS DOUBLE) END"
    )
    return (
        per.unionByName(merged)
        .select(
            "grp",
            "n_exact",
            "bits_set",
            F.expr(est).alias("lc_estimate"),
            F.expr(err).alias("err_pct"),
        )
        .orderBy("grp")
    )


_LINEAR_COUNTING_SQL = f"""
WITH ev AS MATERIALIZED (
  SELECT DISTINCT event_type AS grp, user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % {LC_M} AS bit
  FROM events WHERE user_id IS NOT NULL),
per AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_exact,
         CAST(COUNT(DISTINCT bit) AS BIGINT) AS bits_set
  FROM ev GROUP BY grp
  UNION ALL
  SELECT '{MERGED_KEY}', CAST(COUNT(DISTINCT user_id) AS BIGINT),
         CAST(COUNT(DISTINCT bit) AS BIGINT)
  FROM ev)
SELECT grp, n_exact, bits_set,
       CASE WHEN {LC_M} - bits_set > 0 THEN
         floor({float(LC_M)} * ln({float(LC_M)} / ({LC_M} - bits_set)) * 10000.0 + 0.5) / 10000.0
       ELSE CAST(NULL AS DOUBLE) END AS lc_estimate,
       CASE WHEN {LC_M} - bits_set > 0 AND n_exact > 0 THEN
         floor((({float(LC_M)} * ln({float(LC_M)} / ({LC_M} - bits_set)) - n_exact) / n_exact * 100.0) * 10000.0 + 0.5) / 10000.0
       ELSE CAST(NULL AS DOUBLE) END AS err_pct
FROM per
ORDER BY grp
"""


QUERIES = {
    "sketch_linear_counting": sketch_linear_counting,
    "sketch_kmv_jaccard": sketch_kmv_jaccard,
    "sketch_hll_distinct": sketch_hll_distinct,
    "sketch_theta_setops": sketch_theta_setops,
    "sketch_ams_f2": sketch_ams_f2,
    "sketch_ams_join_size": sketch_ams_join_size,
    "sketch_hll_merge_groups": sketch_hll_merge_groups,
    "sketch_countmin_topwords": sketch_countmin_topwords,
    "sketch_bloom_join_prune": sketch_bloom_join_prune,
    "sketch_histogram_quantiles": sketch_histogram_quantiles,
    "sketch_kmv_distinct": sketch_kmv_distinct,
}

ORACLES = {
    "sketch_linear_counting": _LINEAR_COUNTING_SQL,
    "sketch_kmv_jaccard": _KMV_JACCARD_SQL,
    "sketch_hll_distinct": _HLL_SQL,
    "sketch_theta_setops": _THETA_SQL,
    "sketch_ams_f2": _AMS_SQL,
    "sketch_ams_join_size": _AMS_JOIN_SQL,
    "sketch_hll_merge_groups": _HLL_MERGE_SQL,
    "sketch_countmin_topwords": _CMS_SQL,
    "sketch_bloom_join_prune": _BLOOM_SQL,
    "sketch_histogram_quantiles": _HIST_SQL,
    "sketch_kmv_distinct": _KMV_SQL,
}
