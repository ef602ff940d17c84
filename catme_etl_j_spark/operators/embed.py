"""Embedding-column transforms for a training-data pipeline: int8
quantization (the standard 4x storage/bandwidth compression before
ANN indexing or shipping vectors to trainers).

The reference (waldfalke/catme-etl-j) has no vector surface
(SURVEY.md §2.4); this extends the engine's own embedding family
(operators/similarity.py holds the search side).

100 TB posture: the per-dimension min/max statistics come from a
posexplode + groupBy over at most n_dims keys (map-side combines to
64 rows per task), collapse to ONE broadcast row of two arrays, and
the quantization itself is a per-row array transform — the big side
is never shuffled. That is the same shape a production pipeline
uses: tiny stats pass, then a map-only rewrite.

Determinism: quantization arithmetic is plain IEEE +,-,*,/ with
floor(x + 0.5) rounding — bit-identical across engines (see
functions/numeric.py); per-element absolute reconstruction errors are
fixed-pointed to int64 at 1e8 BEFORE summation so the aggregate is
order-independent (the similarity module's cosine convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catme_etl_j_spark.functions.numeric import rdet, rdet_sql
from catme_etl_j_spark.functions.tokens import words
from catme_etl_j_spark.sources.tables import load_table


def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min/max int8 quantization of the embeddings table.

    q_i = clamp(floor((x_i - mn_i) / (mx_i - mn_i) * 255 + 0.5) - 128,
    -128, 127); constant dimensions (mx == mn) quantize to 0. Output
    per vector: dimension count, sum of codes, position-weighted code
    checksum, and the summed absolute reconstruction error (int64 at
    1e8).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    stats = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
    )
    srow = stats.agg(
        F.expr("transform(array_sort(collect_list(struct(pos, mn))), s -> s.mn)").alias(
            "mns"
        ),
        F.expr("transform(array_sort(collect_list(struct(pos, mx))), s -> s.mx)").alias(
            "mxs"
        ),
    )
    staged = emb.crossJoin(F.broadcast(srow)).withColumn(
        "q",
        F.expr(
            "transform(sequence(0, size(embedding) - 1), i -> "
            "CASE WHEN mxs[i] > mns[i] THEN "
            "greatest(-128L, least(127L, "
            "CAST(floor((CAST(embedding[i] AS DOUBLE) - mns[i])"
            " / (mxs[i] - mns[i]) * 255.0 + 0.5) AS BIGINT) - 128)) "
            "ELSE 0L END)"
        ),
    )
    return staged.select(
        "vec_id",
        F.expr("size(embedding)").cast("long").alias("n_dims"),
        F.expr("aggregate(q, 0L, (a, x) -> a + x)").alias("q_sum"),
        F.expr(
            "aggregate(zip_with(q, sequence(1, size(q)), (x, i) -> x * i),"
            " 0L, (a, x) -> a + x)"
        ).alias("q_posdot"),
        F.expr(
            "aggregate(transform(sequence(0, size(embedding) - 1), i -> "
            "CAST(floor(abs(CASE WHEN mxs[i] > mns[i] THEN "
            "mns[i] + (CAST(q[i] AS DOUBLE) + 128.0) / 255.0 * (mxs[i] - mns[i]) "
            "ELSE mns[i] END - CAST(embedding[i] AS DOUBLE)) * 100000000.0 + 0.5)"
            " AS BIGINT)), 0L, (a, x) -> a + x)"
        ).alias("abs_err_e8"),
    )


_QUANT_SQL = """
WITH dims AS (
  SELECT i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) r
  WHERE i <= len(embedding)),
stats AS (
  SELECT i, min(x) AS mn, max(x) AS mx FROM dims GROUP BY i),
srow AS (
  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM stats),
staged AS (
  SELECT vec_id, embedding, mns, mxs,
         list_transform(range(1, len(embedding) + 1), i ->
           CASE WHEN mxs[i] > mns[i] THEN
             greatest(-128::BIGINT, least(127::BIGINT,
               CAST(floor((CAST(embedding[i] AS DOUBLE) - mns[i])
                 / (mxs[i] - mns[i]) * 255.0 + 0.5) AS BIGINT) - 128))
           ELSE 0::BIGINT END) AS q
  FROM embeddings, srow)
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS n_dims,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(range(1, len(q) + 1), i -> q[i] * i))
            AS BIGINT) AS q_posdot,
       CAST(list_sum(list_transform(range(1, len(embedding) + 1), i ->
         CAST(floor(abs(CASE WHEN mxs[i] > mns[i] THEN
           mns[i] + (CAST(q[i] AS DOUBLE) + 128.0) / 255.0 * (mxs[i] - mns[i])
         ELSE mns[i] END - CAST(embedding[i] AS DOUBLE)) * 100000000.0 + 0.5)
           AS BIGINT))) AS BIGINT) AS abs_err_e8
FROM staged
"""


STAT_DIMS = 8  # leading dims profiled by the grouped-map stats


def embed_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding statistics via ``applyInPandas`` — the plain
    grouped-map custom-operator rung (the stateful streaming variant is
    stream_stateful_totals), here ON the hash-compare gate.

    Per label: vector count and the floor(mean) of each leading
    STAT_DIMS dimension in 1e8 fixed-point. Determinism discipline for
    Python-side math: each component is fixed-pointed to int64 FIRST
    (floor(x*1e8+0.5) — exact, order-free integer sums regardless of
    row order within the group), and the mean is one IEEE double
    division + floor, bit-identical in DuckDB.

    Scale shape: one shuffle on label; each group streams through the
    pandas worker as Arrow batches. Skew note: a dominant label
    concentrates its group in one task — pre-aggregate with the
    equivalent JVM expressions (as sketch/embed ops do) when groups
    outgrow a task; this operator exists to put the grouped-map PATH
    on the gate.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    cols = ["label", "n"] + [f"mean_fp_{i}" for i in range(STAT_DIMS)]
    schema = "label int, n long, " + ", ".join(
        f"mean_fp_{i} long" for i in range(STAT_DIMS)
    )

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.stack(pdf["embedding"].to_numpy())[:, :STAT_DIMS].astype(np.float64)
        fp = np.floor(arr * 1e8 + 0.5).astype(np.int64)
        sums = fp.sum(axis=0)
        n = len(pdf)
        means = np.floor(sums.astype(np.float64) / n).astype(np.int64)
        return pd.DataFrame(
            [[int(pdf["label"].iloc[0]), n, *means]], columns=cols
        )

    return emb.groupBy("label").applyInPandas(stats, schema)


_GROUP_STATS_SQL = f"""
WITH fp AS (
  SELECT label,
         {", ".join(
             f"CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * 100000000.0 + 0.5)"
             f" AS BIGINT) AS f{i}" for i in range(STAT_DIMS))}
  FROM embeddings)
SELECT CAST(label AS INT) AS label,
       COUNT(*) AS n,
       {", ".join(
           f"CAST(floor(CAST(SUM(f{i}) AS DOUBLE) / COUNT(*)) AS BIGINT)"
           f" AS mean_fp_{i}" for i in range(STAT_DIMS))}
FROM fp
GROUP BY label
"""


HASH_DIM = 16  # feature-hash buckets


def embed_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009, public):
    categorical document features (language, source, length bucket)
    hashed into a fixed HASH_DIM-dimensional sparse vector with the
    signed-hash variance correction. Output is the long/sparse form
    (doc_id, bucket, weight) a trainer or linear model consumes.

    Portable hash convention: bucket = md5-int % DIM, sign from the
    next hex nibble — identical in both engines, all-int arithmetic.
    Map-only until one (doc, bucket) combine; no feature dictionary,
    no driver state — the property that makes the trick scale-free.
    """
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.concat(F.lit("lang:"), "lang"),
                F.concat(F.lit("src:"), "source"),
                F.concat(F.lit("len:"), (F.col("n_chars") / 64).cast("bigint")),
            )
        ).alias("feat"),
    )
    h = "CAST(conv(substr(md5(feat), 1, 8), 16, 10) AS BIGINT)"
    sign = f"CASE WHEN CAST(conv(substr(md5(feat), 9, 1), 16, 10) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END"
    return (
        feats.select(
            "doc_id",
            F.expr(f"CAST({h} % {HASH_DIM} AS INT)").alias("bucket"),
            F.expr(sign).alias("sign"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sign").cast("long").alias("weight"))
        .filter("weight <> 0")
    )


_FEATURE_HASH_SQL = f"""
WITH feats AS (
  SELECT doc_id, unnest([
      'lang:' || lang,
      'src:' || source,
      'len:' || CAST(n_chars // 64 AS VARCHAR)]) AS feat
  FROM documents),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(feat), 1, 8))::BIGINT % {HASH_DIM} AS INT) AS bucket,
         CASE WHEN ('0x' || substr(md5(feat), 9, 1))::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS sign
  FROM feats)
SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS weight
FROM hashed GROUP BY doc_id, bucket
HAVING SUM(sign) <> 0
"""


CENTROID_BOTTOM_K = 15


def embed_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic boilerplate detection: the 15 vectors MOST similar to
    the corpus centroid (high centroid-cosine = generic/templated
    content in a dedup-curation pipeline; the inverse ranking finds
    outliers). Cosine is computed against the exact SUM vector — same
    direction as the mean, so NO division ever happens: the centroid
    stays exact int64 and the score is the standard fixed-point cosine.

    Scale shape: one posexplode+groupBy to 64 exact component sums
    (map-side combined), collected as a literal (k-means-codebook
    pattern), then a map-only cosine scan + global top-k.
    """
    from catme_etl_j_spark.functions.numeric import rdet, rdet_sql  # noqa: F401
    from catme_etl_j_spark.operators.similarity import (
        _fx_literal,
        _fxp_expr,
        _norm_fx,
        _prescaled,
    )

    emb = _prescaled(spark, sf_dir)
    sums = (
        emb.select(F.posexplode("fx").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        .orderBy("pos")
        .collect()
    )
    if not sums:
        # corpus holds only zero-norm vectors: _prescaled's index
        # boundary leaves nothing to score (oracle: 0 rows identically)
        return emb.select(
            "vec_id", "label", F.lit(None).cast("double").alias("centroid_cos")
        ).limit(0)
    n_vec = int(sums[0]["n"])

    def _trunc_div(a: int, b: int) -> int:
        # DuckDB's // TRUNCATES toward zero (verified: -7 // 2 = -3)
        # while Python's // floors; truncate here so both engines
        # score the SAME centroid for negative component sums.
        return a // b if a >= 0 else -((-a) // b)

    # divide by n so centroid components stay in the per-vector
    # fixed-point regime (a raw SUM vector would overflow the int64
    # dot product at ~60+ vectors)
    cvec = [_trunc_div(int(r["s"]), n_vec) for r in sums]
    import math

    cnorm = math.sqrt(float(sum(x * x for x in cvec)))
    clit = _fx_literal(cvec)
    from catme_etl_j_spark.operators.similarity import _dot_fx

    if cnorm == 0.0:
        # the component sums cancelled exactly: the centroid is the
        # zero vector and cosine-to-centroid is undefined for everyone
        # (degenerate-probe guard; the oracle's CASE produces the same
        # all-NULL column, ordered NULLS LAST on both engines)
        cos = F.lit(None).cast("double")
    else:
        cos = rdet(
            F.expr(f"CAST({_dot_fx('fx', clit)} AS DOUBLE)")
            / (F.col("norm") * F.lit(cnorm)),
            6,
        )
    return (
        emb.select("vec_id", "label", cos.alias("centroid_cos"))
        .orderBy(F.desc_nulls_last("centroid_cos"), F.asc("vec_id"))
        .limit(CENTROID_BOTTOM_K)
    )


def _centroid_sql() -> str:
    from catme_etl_j_spark.functions.numeric import rdet_sql
    from catme_etl_j_spark.operators.similarity import _EMB_NZ, _EMB_NZ_BARE, _FXP

    fxd = (
        f"CAST(floor((embedding[u.i])::DOUBLE * {_FXP} + 0.5) AS BIGINT)"
    )
    core = rdet_sql(
        "CAST(list_sum(list_transform(range(1, len(e.embedding) + 1), "
        "i -> CAST(floor((e.embedding[i])::DOUBLE * " + _FXP + " + 0.5) AS BIGINT)"
        " * cv.c[i])) AS DOUBLE)"
        " / (sqrt(CAST(list_sum(list_transform(range(1, len(e.embedding) + 1), "
        "i -> CAST(floor((e.embedding[i])::DOUBLE * " + _FXP + " + 0.5) AS BIGINT)"
        " * CAST(floor((e.embedding[i])::DOUBLE * " + _FXP + " + 0.5) AS BIGINT))) AS DOUBLE))"
        " * sqrt(CAST(list_sum(list_transform(cv.c, x -> x * x)) AS DOUBLE)))", 6)
    return f"""
WITH comp AS (
  SELECT CAST(u.i AS INTEGER) AS pos,
         CAST(SUM({fxd}) AS BIGINT) AS s,
         COUNT(*) AS n
  FROM {_EMB_NZ}, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u
  GROUP BY u.i
),
cvec AS (SELECT list(s // n ORDER BY pos) AS c FROM comp),
scored AS (
  SELECT e.vec_id, e.label,
         CASE WHEN list_sum(list_transform(cv.c, x -> x * x)) = 0
              THEN CAST(NULL AS DOUBLE) ELSE {core} END
           AS centroid_cos
  FROM {_EMB_NZ_BARE} e, cvec cv
)
SELECT vec_id, label, centroid_cos
FROM scored
ORDER BY centroid_cos DESC NULLS LAST, vec_id ASC
LIMIT {CENTROID_BOTTOM_K}
"""


COV_DIM = 64
COV_SCALE = 10000.0  # 1e4 fixed-point per component


def _cov_partials(it):
    """Per-partition Gram partials over the quantized arrays: rows
    (i, j, s) with (i>=0, j>=0) the upper-triangle product sums,
    (i>=0, j=-1) the per-position marginal sums, (-1, -1) the row
    count. Replicates the old posexplode/self-join/SUM semantics
    exactly:

    - a cell (i, j) EXISTS when some row's array reaches position j
      (i <= j < len) — even if every contributing product is NULL;
      its s is NULL when no non-NULL product was seen (SUM of an
      all-NULL group), else the sum of the non-NULL products;
    - a marginal i exists when some array reaches position i, with
      the same NULL-SUM rule over q values;
    - the count row tallies EVERY input row, NULL/empty arrays
      included (COUNT(*) over the base table).

    Fast path: one int64 X^T X + column-sum per (partition, length)
    group of NULL-free rows. Exact: |q| < ~3e4 so products < ~1e9,
    and a scan partition holds << 1e10 rows, keeping every int64
    partial far below 2^63 (the global accumulation then runs in
    DECIMAL(38,0) Spark-side). Rows with NULL elements fall to a
    per-row loop (degenerate-probe path)."""
    import numpy as np
    import pandas as pd

    W = 0
    tri = np.zeros((0, 0), dtype=np.int64)
    tri_exists = np.zeros((0, 0), dtype=bool)
    tri_has = np.zeros((0, 0), dtype=bool)
    mg = np.zeros(0, dtype=np.int64)
    mg_exists = np.zeros(0, dtype=bool)
    mg_has = np.zeros(0, dtype=bool)
    n = 0
    saw = False

    def _grow(width):
        nonlocal W, tri, tri_exists, tri_has, mg, mg_exists, mg_has
        if width <= W:
            return
        t = np.zeros((width, width), dtype=np.int64)
        t[:W, :W] = tri
        te = np.zeros((width, width), dtype=bool)
        te[:W, :W] = tri_exists
        th = np.zeros((width, width), dtype=bool)
        th[:W, :W] = tri_has
        m = np.zeros(width, dtype=np.int64)
        m[:W] = mg
        me = np.zeros(width, dtype=bool)
        me[:W] = mg_exists
        mh = np.zeros(width, dtype=bool)
        mh[:W] = mg_has
        tri, tri_exists, tri_has, mg, mg_exists, mg_has = t, te, th, m, me, mh
        W = width

    for pdf in it:
        saw = True
        av = pdf["qarr"].to_numpy()
        n += len(av)
        lens = np.fromiter(
            (0 if a is None else len(a) for a in av), dtype=np.int64, count=len(av)
        )
        for length in np.unique(lens):
            if length == 0:
                continue
            L = int(length)
            _grow(L)
            idx = np.nonzero(lens == length)[0]
            sub = av[idx]
            # Arrow hands a batch with ANY null element over as float64
            # (null -> NaN); null-free batches stay int64. The float64
            # round-trip is exact below 2^53, far above any real 1e4
            # fixed-point component.
            X = None
            try:
                stacked = np.stack(sub.tolist())
                if stacked.dtype == np.int64:
                    X = stacked
                elif np.issubdtype(stacked.dtype, np.floating):
                    if not np.isnan(stacked).any():
                        X = stacked.astype(np.int64)
            except (TypeError, ValueError):
                pass
            if X is not None:
                iu = np.triu_indices(L)
                G = X.T @ X
                tri[:L, :L][iu] += G[iu]
                tri_exists[:L, :L][iu] = True
                tri_has[:L, :L][iu] = True
                mg[:L] += X.sum(axis=0)
                mg_exists[:L] = True
                mg_has[:L] = True
                continue
            for a in sub:
                al = [None if v is None or v != v else int(v) for v in a]
                mg_exists[:L] = True
                iu = np.triu_indices(L)
                tri_exists[:L, :L][iu] = True
                for i in range(L):
                    if al[i] is None:
                        continue
                    qi = al[i]
                    mg[i] += qi
                    mg_has[i] = True
                    for j in range(i, L):
                        if al[j] is not None:
                            tri[i, j] += qi * al[j]
                            tri_has[i, j] = True

    rows_i, rows_j, rows_s = [], [], []
    if saw:
        rows_i.append(-1)
        rows_j.append(-1)
        rows_s.append(n)
        for i in range(W):
            if mg_exists[i]:
                rows_i.append(i)
                rows_j.append(-1)
                rows_s.append(int(mg[i]) if mg_has[i] else None)
        ii, jj = np.nonzero(tri_exists)
        for i, j in zip(ii.tolist(), jj.tolist()):
            rows_i.append(i)
            rows_j.append(j)
            rows_s.append(int(tri[i, j]) if tri_has[i, j] else None)
    yield pd.DataFrame(
        {
            "i": pd.Series(rows_i, dtype="int64"),
            "j": pd.Series(rows_j, dtype="int64"),
            "s": pd.array(rows_s, dtype="Int64"),
        }
    )


def embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance matrix of the embedding space — the
    distributed-linear-algebra primitive PCA / whitening / Mahalanobis
    start from: one outer-product accumulation pass over the corpus.

    Components quantize to 1e4 fixed-point int64; the upper-triangle
    product sums accumulate in DECIMAL(38,0) (per-pair products reach
    ~1e9, so int64 would overflow around 1e10 vectors — the decimal
    accumulator pushes that past any real corpus). The covariance
    numerator n*S_ij - S_i*S_j stays exact (< 2^53 here, so its one
    int->double conversion is lossless) and a single division per
    cell closes it out.

    Scale shape (r11, guide §1.2/§2.4/§4.2): ONE map-only Arrow pass
    over the packed quantized arrays computes per-partition Gram
    partials (numpy int64 X^T X upper triangle + marginals + row
    count — no posexplode, no self-join, no re-scan of the parquet;
    the old shape generated 2,080 join rows per vector and scanned
    the table three times). Partials are exact in int64: per-pair
    products are < ~1e9 and a scan partition holds < ~1e10 rows at
    any file-split size, so a partial stays far below 2^63; the
    global SUM then accumulates the partials in DECIMAL(38,0),
    order-independent because integer addition is exact. The shuffle
    carries |cells| + 64 + 1 rows per task, never |vectors|.
    """
    from catme_etl_j_spark.functions.numeric import rdet

    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.select(
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {COV_SCALE} + 0.5) AS BIGINT))"
        ).alias("qarr")
    )
    part = qdf.mapInPandas(_cov_partials, "i long, j long, s long")
    # (i>=0, j>=0) = triangle cells, (i>=0, j=-1) = marginals,
    # (-1, -1) = row count; one ~2,145-row frame, cached because it
    # has four consumers below (convention #12 — without it each
    # consumer would re-run the scan + Arrow pass).
    agg = (
        part.groupBy("i", "j")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"))
        .cache()
    )
    cells = agg.filter((F.col("i") >= 0) & (F.col("j") >= 0)).select(
        "i", "j", F.col("s").alias("s_ij")
    )
    marg = agg.filter((F.col("i") >= 0) & (F.col("j") == -1)).select(
        "i", "s"
    )
    n_row = agg.filter(F.col("i") == -1).select(
        F.col("s").cast("long").alias("n")
    )
    joined = (
        cells.join(
            F.broadcast(marg.select(F.col("i").alias("mi"), F.col("s").alias("s_i"))),
            F.col("i") == F.col("mi"),
        )
        .join(
            F.broadcast(marg.select(F.col("i").alias("mj"), F.col("s").alias("s_j"))),
            F.col("j") == F.col("mj"),
        )
        .crossJoin(F.broadcast(n_row))
    )
    num = F.col("n").cast("decimal(38,0)") * F.col("s_ij") - F.col("s_i") * F.col(
        "s_j"
    )
    denom = (
        F.col("n").cast("double")
        * F.col("n").cast("double")
        * F.lit(COV_SCALE)
        * F.lit(COV_SCALE)
    )
    return joined.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        F.col("n").cast("long").alias("n_vectors"),
        rdet(num.cast("double") / denom, 8).alias("cov"),
    ).orderBy("i", "j")


_COV_SQL = f"""
WITH comp AS (
  SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
         CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                    * {COV_SCALE} + 0.5) AS BIGINT) AS q
  FROM embeddings, unnest(generate_series(1, {COV_DIM})) t(i)
  -- i <= len() makes this relation EQUIVALENT to Spark's posexplode
  -- (an empty/short array yields fewer rows, not NULL-q rows; ADVICE r8)
  WHERE i <= len(embedding)),
cells AS (
  SELECT a.i AS i, b.i AS j, SUM(a.q * b.q) AS s_ij
  FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i),
marg AS (SELECT i, SUM(q) AS s FROM comp GROUP BY i),
nv AS (SELECT COUNT(*) AS n FROM embeddings)
SELECT c.i, c.j, CAST(n AS BIGINT) AS n_vectors,
       floor(CAST(n * c.s_ij - mi.s * mj.s AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * {COV_SCALE} * {COV_SCALE})
             * 100000000.0 + 0.5) / 100000000.0 AS cov
FROM cells c
JOIN marg mi ON c.i = mi.i
JOIN marg mj ON c.j = mj.i
CROSS JOIN nv
ORDER BY c.i, c.j
"""


# ---------------------------------------------------------------------------
# embed_pca_outliers — top principal component by fixed-point power
# iteration, then outlier scoring along it.
# ---------------------------------------------------------------------------

PCA_ITERS = 8
PCA_VSCALE = 1_000_000  # eigenvector fixed-point scale per round
PCA_TOPK = 20
PCA_PROJ_DEN = float(int(COV_SCALE) * PCA_VSCALE)  # proj_fp units per 1.0


def _tdiv(a: int, b: int) -> int:
    """Integer division TRUNCATING toward zero — the DuckDB ``//`` /
    Spark ``DIV`` behavior (Python ``//`` floors; convention #7)."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def embed_pca_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 outlier vectors by |projection| onto the (approximate)
    top principal axis — the PCA screening pass an embedding pipeline
    runs before whitening / ANN indexing to surface mis-embedded or
    out-of-distribution rows.

    Two regimes, split exactly as graph.py splits PageRank:

    * DATA-SCALED (distributed): the covariance accumulation — ONE
      map-only Arrow pass of Gram partials (embed_covariance's r11
      `_cov_partials` shape; no posexplode, no self-join, and a
      single collect action replaces the old three) — and the final
      projection, a per-row ``aggregate(zip_with(...))`` against the
      broadcast eigenvector (map-only, whole-stage codegen, no
      shuffle).
    * SF-INVARIANT (driver): the d x d eigensolve. d = 64 is fixed by
      the embedding model, not the corpus, so the 2,080-cell collect
      is bounded forever; real pipelines solve the d x d system on
      the driver for the same reason.

    Determinism: components quantize at 1e4 (COV_SCALE); the exact
    integer covariance numerator n*S_ij - S_i*S_j feeds PCA_ITERS
    power-iteration rounds in pure integer arithmetic — per round
    v_i' = tdiv(raw_i * 1e6, max|raw|) (truncation toward zero on
    both engines) — then the sign is canonicalized so the
    largest-magnitude component (first index on ties) is positive.
    Projections center via mq_i = tdiv(S_i, n), so
    proj = sum_i q_i*v_i - sum_i mq_i*v_i stays n-independent int64
    (< ~3e11 at any corpus size). The DuckDB oracle replays the
    ENTIRE pipeline — covariance, all 8 rounds, sign fix, projection
    — in unrolled CTEs over HUGEINT, so the gate proves the
    driver-side iteration bit-for-bit (the corpus_bpe_vocab oracle
    discipline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.select(
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {COV_SCALE} + 0.5) AS BIGINT))"
        ).alias("qarr")
    )
    # bounded collect: d*(d+1)/2 + d + 1 = 2,145 rows, SF-invariant
    # (one action replaces the old cells/marg/count trio)
    part = (
        qdf.mapInPandas(_cov_partials, "i long, j long, s long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    cells: dict = {}
    marg: dict = {}
    n = 0
    for r in part:
        i, j = int(r["i"]), int(r["j"])
        s = None if r["s"] is None else int(r["s"])
        if i == -1:
            n = s or 0
        elif j == -1:
            if s is not None:
                marg[i] = s
        elif s is not None:
            cells[(i, j)] = s
    out_schema = (
        "vec_id BIGINT, label INT, proj_fp BIGINT, proj DOUBLE"
    )
    if n == 0:
        return spark.createDataFrame([], out_schema)
    d = COV_DIM
    num = [[0] * d for _ in range(d)]
    for (i, j), s in cells.items():
        if i >= d or j >= d:
            continue
        v = n * s - marg.get(i, 0) * marg.get(j, 0)
        num[i][j] = v
        num[j][i] = v
    vec = [PCA_VSCALE] * d
    for _ in range(PCA_ITERS):
        raw = [sum(num[i][j] * vec[j] for j in range(d)) for i in range(d)]
        mx = max(abs(x) for x in raw)
        vec = [0] * d if mx == 0 else [_tdiv(x * PCA_VSCALE, mx) for x in raw]
    lead = min(range(d), key=lambda i: (-abs(vec[i]), i))
    if vec[lead] < 0:
        vec = [-x for x in vec]
    mq = [_tdiv(marg.get(i, 0), n) for i in range(d)]
    c_const = sum(mq[i] * vec[i] for i in range(d))
    varr = ", ".join(f"CAST({x} AS BIGINT)" for x in vec)
    proj_fp = F.expr(
        f"aggregate(zip_with(embedding, array({varr}), (x, v) -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {COV_SCALE} + 0.5) AS BIGINT) * v), "
        f"CAST(0 AS BIGINT), (acc, e) -> acc + e) - CAST({c_const} AS BIGINT)"
    )
    return (
        emb.select(
            "vec_id",
            "label",
            proj_fp.alias("proj_fp"),
        )
        .select(
            "vec_id",
            "label",
            "proj_fp",
            (F.col("proj_fp").cast("double") / F.lit(PCA_PROJ_DEN)).alias("proj"),
        )
        .orderBy(F.abs(F.col("proj_fp")).desc(), F.asc("vec_id"))
        .limit(PCA_TOPK)
    )


def _pca_sql() -> str:
    """DuckDB twin: the full covariance + 8 power-iteration rounds +
    sign canonicalization + centered projection, unrolled as CTEs."""
    head = f"""
WITH comp AS MATERIALIZED (
  SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
         CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                    * {COV_SCALE} + 0.5) AS BIGINT) AS q
  FROM embeddings, unnest(generate_series(1, {COV_DIM})) t(i)
  -- i <= len() makes this relation EQUIVALENT to Spark's posexplode
  -- (an empty/short array yields fewer rows, not NULL-q rows; ADVICE r8)
  WHERE i <= len(embedding)),
cells AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, SUM(a.q * b.q) AS s_ij
  FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i),
marg AS MATERIALIZED (SELECT i, SUM(q) AS s FROM comp GROUP BY i),
nv AS MATERIALIZED (SELECT COUNT(*) AS n FROM embeddings),
m AS MATERIALIZED (
  SELECT c.i, c.j, n * c.s_ij - mi.s * mj.s AS num
  FROM cells c JOIN marg mi ON c.i = mi.i JOIN marg mj ON c.j = mj.i
  CROSS JOIN nv
  UNION ALL
  SELECT c.j, c.i, n * c.s_ij - mi.s * mj.s
  FROM cells c JOIN marg mi ON c.i = mi.i JOIN marg mj ON c.j = mj.i
  CROSS JOIN nv
  WHERE c.i < c.j),
v0 AS (
  SELECT CAST(i - 1 AS BIGINT) AS i, CAST({PCA_VSCALE} AS HUGEINT) AS val
  FROM unnest(generate_series(1, {COV_DIM})) t(i))"""
    rounds = []
    for k in range(1, PCA_ITERS + 1):
        rounds.append(
            f"""
u{k} AS MATERIALIZED (
  SELECT m.i, SUM(m.num * v.val) AS raw
  FROM m JOIN v{k - 1} v ON m.j = v.i GROUP BY m.i),
x{k} AS MATERIALIZED (SELECT MAX(ABS(raw)) AS mx FROM u{k}),
v{k} AS MATERIALIZED (
  SELECT u.i,
         CASE WHEN x.mx = 0 THEN 0
              ELSE (u.raw * {PCA_VSCALE}) // x.mx END AS val
  FROM u{k} u CROSS JOIN x{k} x)"""
        )
    tail = f""",
sg AS (
  SELECT CASE WHEN val < 0 THEN -1 ELSE 1 END AS s
  FROM v{PCA_ITERS} ORDER BY ABS(val) DESC, i ASC LIMIT 1),
vf AS MATERIALIZED (SELECT i, val * s AS val FROM v{PCA_ITERS} CROSS JOIN sg),
mq AS (SELECT i, s // n AS mq FROM marg CROSS JOIN nv),
cc AS (
  SELECT COALESCE(SUM(mq.mq * vf.val), 0) AS c
  FROM mq JOIN vf ON mq.i = vf.i),
pr AS (
  SELECT comp.vec_id, SUM(comp.q * vf.val) AS pr_raw
  FROM comp JOIN vf ON comp.i = vf.i GROUP BY comp.vec_id)
SELECT e.vec_id, e.label,
       CAST(pr.pr_raw - cc.c AS BIGINT) AS proj_fp,
       CAST(CAST(pr.pr_raw - cc.c AS BIGINT) AS DOUBLE) / {PCA_PROJ_DEN} AS proj
FROM pr JOIN embeddings e ON pr.vec_id = e.vec_id
CROSS JOIN cc
ORDER BY ABS(CAST(pr.pr_raw - cc.c AS BIGINT)) DESC, e.vec_id ASC
LIMIT {PCA_TOPK}"""
    return head + "," + ",".join(rounds) + tail


# ---------------------------------------------------------------------------
# embed_e2e_pipeline — the embedding-side composite (VERDICT r5 #8):
# chunk -> embed -> stats -> ANN index -> dedup-verify as ONE plan.
# ---------------------------------------------------------------------------

E2E_CHUNK_TOKENS = 64   # same chunking grain as corpus_chunk
E2E_DIM = 16            # stub-embedder dimensionality
E2E_COS_DUP = 0.99      # verify threshold: near-identical chunks only


def _e2e_pairs(valid: DataFrame) -> DataFrame:
    """LAZY candidate-pair stage (bucket equi-join + exact cosine) —
    split out so tests/test_plans.py can pin the pre-checkpoint plan
    shape (the pipeline's localCheckpoint would otherwise hide the
    equi-join behind an ExistingRDD scan)."""
    a = valid.select(
        F.col("key").alias("ka"), F.col("bucket").alias("bk"),
        F.col("fx").alias("fa"), F.col("norm").alias("na"),
    )
    b = valid.select(
        F.col("key").alias("kb"), F.col("bucket").alias("bk"),
        F.col("fx").alias("fb"), F.col("norm").alias("nb"),
    )
    cos = rdet(
        F.expr(
            "CAST(aggregate(zip_with(fa, fb, (x, y) -> x * y), CAST(0 AS BIGINT),"
            " (acc, v) -> acc + v) AS DOUBLE)"
        )
        / (F.col("na") * F.col("nb")),
        6,
    )
    return (
        a.join(b, "bk")
        .filter(F.col("ka") < F.col("kb"))
        .select("ka", "kb", cos.alias("cos_sim"))
    )


def embed_e2e_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-pipeline composite, mirroring what corpus_e2e_funnel
    is for text curation: chunk the corpus -> embed each chunk -> vector
    quality gate + stats -> LSH index -> candidate pairs -> exact-cosine
    dedup verify -> keep-one resolution, all in ONE declarative plan
    with no driver-side seam (the only materialization is the same
    localCheckpoint barrier corpus_e2e_funnel uses; no mid-pipeline
    collect). One summary row whose stage counts reconcile:
    ``n_kept + n_dropped = n_valid``.

    The embed step is a DETERMINISTIC STUB (no embedding model ships in
    this container — the multimodal fake-features precedent): dim j of
    a chunk = md5-int of ``chunk_md5:j`` mapped into [-1000, 1000]. The
    Spark-side plumbing the stub exercises — chunk explode, per-vector
    int64 arithmetic, sign-bucket index, bucket-equi-join, exact
    fixed-point cosine — is the real production path; swap the stub
    for a Pandas-UDF model call and nothing else changes.

    Index = single-band 16-bit sign-LSH (bucket = sign orthant of the
    16 dims): identical vectors always collide, so the dup-verify
    recall for exact near-dups is 1.0 by construction; the multi-band
    recall path for looser thresholds is ann_lsh_hyperplane_pairs.
    Scale: the bucket join is a co-partitioned equi-join (2^16 key
    space; heavy identical-content skew concentrates in few buckets —
    the same caveat, and the same salting remedy, as every LSH dedup
    op here); everything else is map-side or a single-row aggregate.

    Determinism: integer embeddings (no float scaling needed), int64
    dots, sqrt-double norms, rdet(6) cosine, positive-int fixed-point
    everywhere (convention #7).
    """
    docs = load_table(spark, sf_dir, "documents")
    chunk_arr = (
        f"transform(sequence(0, CAST(ceil(size(w) / {E2E_CHUNK_TOKENS}.0) AS INT) - 1), "
        f"c -> array_join(slice(w, c * {E2E_CHUNK_TOKENS} + 1, {E2E_CHUNK_TOKENS}), ' '))"
    )
    chunks = (
        docs.select("doc_id", words().alias("w"))
        .select("doc_id", F.posexplode_outer(F.expr(chunk_arr)).alias("idx", "chunk"))
        .filter(F.col("chunk").isNotNull())
        .select(
            # 1e6 chunk slots per doc = 64M-word documents before a key
            # collision could corrupt the pair dedup (code-review r6);
            # doc_id stays collision-free in int64 below ~9.2e12 docs
            (F.col("doc_id") * 1_000_000 + F.col("idx")).cast("long").alias("key"),
            F.md5("chunk").alias("h"),
        )
    )
    fx = (
        f"transform(sequence(0, {E2E_DIM - 1}), j -> "
        f"CAST(conv(substr(md5(concat(h, ':', CAST(j AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        f" % 2001 - 1000)"
    )
    bucket = (
        f"aggregate(sequence(0, {E2E_DIM - 1}), CAST(0 AS BIGINT), (acc, j) -> "
        f"acc + CASE WHEN element_at(fx, CAST(j + 1 AS INT)) > 0 "
        f"THEN CAST(shiftleft(1, CAST(j AS INT)) AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    )
    norm2 = (
        "aggregate(zip_with(fx, fx, (x, y) -> x * y), CAST(0 AS BIGINT), "
        "(acc, v) -> acc + v)"
    )
    emb = (
        chunks.withColumn("fx", F.expr(fx))
        .withColumn("norm2", F.expr(norm2))
        .withColumn("bucket", F.expr(bucket))
        # one barrier: five stage aggregates + both pair sides consume
        # this md5-heavy subtree (same rationale as corpus_e2e_funnel)
        .localCheckpoint()
    )
    valid = emb.filter(F.col("norm2") > 0).withColumn(
        "norm", F.sqrt(F.col("norm2").cast("double"))
    )
    pairs = _e2e_pairs(valid).localCheckpoint()
    dup = pairs.filter(F.col("cos_sim") >= E2E_COS_DUP)
    s_docs = docs.agg(F.count("*").cast("long").alias("n_docs"))
    s_chunks = emb.agg(F.count("*").cast("long").alias("n_chunks"))
    s_valid = valid.agg(
        F.count("*").cast("long").alias("n_valid"),
        F.sum("norm2").cast("long").alias("total_norm2"),
        F.countDistinct("bucket").cast("long").alias("n_buckets"),
    )
    s_cand = pairs.agg(F.count("*").cast("long").alias("n_cand_pairs"))
    s_dup = dup.agg(
        F.count("*").cast("long").alias("n_dup_pairs"),
        F.countDistinct("kb").cast("long").alias("n_dropped"),
    )
    return (
        s_docs.crossJoin(F.broadcast(s_chunks))
        .crossJoin(F.broadcast(s_valid))
        .crossJoin(F.broadcast(s_cand))
        .crossJoin(F.broadcast(s_dup))
        .select(
            "n_docs", "n_chunks", "n_valid", "total_norm2", "n_buckets",
            "n_cand_pairs", "n_dup_pairs", "n_dropped",
            (F.col("n_valid") - F.col("n_dropped")).cast("long").alias("n_kept"),
        )
    )


_E2E_PIPELINE_SQL = f"""
WITH s AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w FROM documents),
c AS (
  SELECT doc_id, unnest(list_transform(
           range(0, CAST(ceil(len(w) / {E2E_CHUNK_TOKENS}.0) AS INT)),
           c -> struct_pack(idx := c,
                chunk := array_to_string(
                    w[c * {E2E_CHUNK_TOKENS} + 1 : c * {E2E_CHUNK_TOKENS} + {E2E_CHUNK_TOKENS}], ' ')))) AS u
  FROM s),
ch AS (
  SELECT CAST(doc_id * 1000000 + u.idx AS BIGINT) AS key, md5(u.chunk) AS h FROM c),
emb AS (
  SELECT key,
         list_transform(range(0, {E2E_DIM}),
             j -> ('0x' || substr(md5(h || ':' || CAST(j AS VARCHAR)), 1, 8))::BIGINT
                  % 2001 - 1000) AS fx
  FROM ch),
en AS (
  SELECT key, fx,
         CAST(list_sum(list_transform(range(1, {E2E_DIM} + 1), i -> fx[i] * fx[i])) AS BIGINT) AS norm2,
         CAST(list_sum(list_transform(range(1, {E2E_DIM} + 1),
             i -> CASE WHEN fx[i] > 0 THEN 1 << (i - 1) ELSE 0 END)) AS BIGINT) AS bucket
  FROM emb),
valid AS (
  SELECT key, fx, norm2, bucket, sqrt(CAST(norm2 AS DOUBLE)) AS norm
  FROM en WHERE norm2 > 0),
pairs AS (
  SELECT a.key AS ka, b.key AS kb,
         {rdet_sql(
             "CAST(list_sum(list_transform(range(1, " + str(E2E_DIM) + " + 1), "
             "i -> a.fx[i] * b.fx[i])) AS BIGINT) / (a.norm * b.norm)", 6)} AS cos_sim
  FROM valid a JOIN valid b ON a.bucket = b.bucket AND a.key < b.key),
sd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
sc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks FROM en),
sv AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_valid,
         CAST(SUM(norm2) AS BIGINT) AS total_norm2,
         CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_buckets
  FROM valid),
sp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand_pairs FROM pairs),
sdup AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
         CAST(COUNT(DISTINCT kb) AS BIGINT) AS n_dropped
  FROM pairs WHERE cos_sim >= {E2E_COS_DUP})
SELECT n_docs, n_chunks, n_valid, total_norm2, n_buckets,
       n_cand_pairs, n_dup_pairs, n_dropped,
       CAST(n_valid - n_dropped AS BIGINT) AS n_kept
FROM sd, sc, sv, sp, sdup
"""


KM_K = 4  # Lloyd clusters
KM_ITERS = 3  # fixed unrolled assignment rounds (oracle matches)


def _km_comp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, i, q): 1e4 fixed-point components (the COV_SCALE
    convention) — the shared explode for the k-means/purity family."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", F.posexplode("embedding").alias("i", "x")).select(
        "vec_id",
        "i",
        F.expr(
            f"CAST(floor(CAST(x AS DOUBLE) * {COV_SCALE} + 0.5) AS BIGINT)"
        ).alias("q"),
    )


def _km_dist_py(a, cv):
    """Driver-twin of one (vector, cluster) long-format distance:
    SUM((q-c)^2) over the JOINED dims (the common 0..min(len)-1
    prefix), NULL terms skipped by SUM, None when every term is NULL.
    The pair always exists (both prefixes are >= 1 by construction),
    so every cluster is a candidate — unlike the array-zip semantics
    of the IVF path, a length mismatch here just shortens the sum."""
    cd = min(len(a), len(cv))
    d, seen = 0, False
    for i in range(cd):
        if a[i] is not None and cv[i] is not None:
            d += (int(a[i]) - int(cv[i])) ** 2
            seen = True
    return d if seen else None


def _km_round_udf(cents, final):
    """One fused Lloyd round over the 1e4-quantized ARRAY frame
    (vec_id, qarr): numpy argmin assignment against the driver-side
    codebook + (non-final) per-partition partial sums/counts, or
    (final) the (vec_id, cluster, d) assignment rows.

    Replicates the old exploded-comp join semantics exactly:
    distances sum over the common dim prefix with SUM's NULL-skipping
    (see _km_dist_py; a NULL d sorts FIRST in the struct-min, lowest
    cluster wins ties — verified against Spark's interpreted
    ordering); update partials mirror SUM(q)/COUNT(*) per (cluster,
    i): COUNT(*) counts every member row whose array REACHES dim i
    (NULL elements included), SUM skips the NULLs. Rows with NULL or
    empty qarr produce no comp rows and are filtered before this UDF.
    Fast path is one int64 matmul per (row-length, cluster) — exact
    (|q| <= 2e4, 64-dim sums <= ~1e11 << 2^63)."""
    import numpy as np
    import pandas as pd

    srt = sorted((int(cl), list(cv)) for cl, cv in cents.items())
    cl_ids = np.array([cl for cl, _ in srt], dtype=np.int64)
    cents_clean = all(all(v is not None for v in cv) for _, cv in srt)
    cnp = [np.array(cv, dtype=np.int64) if cents_clean else None for _, cv in srt]

    def _row_key(a):
        best = None
        for cl, cv in srt:
            d = _km_dist_py(a, cv)
            key = (0, 0, cl) if d is None else (1, d, cl)
            if best is None or key < best:
                best = key
        return best  # (nullflag, d, cluster)

    def f(it):
        for pdf in it:
            av = pdf["qarr"].to_numpy()
            vv = pdf["vec_id"].to_numpy()
            out_rows = []
            acc: dict = {}  # cluster -> [width, counts, sums, pres]

            def _acc_row(cl, a):
                ent = acc.setdefault(int(cl), [0, [], [], []])
                width = len(a)
                while len(ent[1]) < width:
                    ent[1].append(0)
                    ent[2].append(0)
                    ent[3].append(0)
                for i in range(width):
                    ent[1][i] += 1
                    if a[i] is not None:
                        ent[2][i] += int(a[i])
                        ent[3][i] += 1

            lens = np.fromiter((len(x) for x in av), dtype=np.int64, count=len(av))
            for length in np.unique(lens):
                idx = np.nonzero(lens == length)[0]
                sub, vids = av[idx], vv[idx]
                # Arrow hands a batch with ANY null element over as
                # float64 (null -> NaN); null-free batches stay int64
                # and the float64 round-trip is exact below 2^53.
                clean = cents_clean
                X = None
                if clean:
                    try:
                        stacked = np.stack(sub.tolist())
                        if np.issubdtype(stacked.dtype, np.floating) and np.isnan(
                            stacked
                        ).any():
                            clean = False
                        else:
                            X = stacked.astype(np.int64)
                    except (TypeError, ValueError):
                        clean = False
                if clean:
                    L = int(length)
                    D = np.empty((len(idx), len(srt)), dtype=np.int64)
                    for j, c in enumerate(cnp):
                        cd = min(L, len(c))
                        Xc, cc = X[:, :cd], c[:cd]
                        D[:, j] = (
                            (Xc * Xc).sum(axis=1)
                            - 2 * (Xc @ cc)
                            + int(cc @ cc)
                        )
                    amin = np.argmin(D, axis=1)
                    if final:
                        for r, j in enumerate(amin):
                            out_rows.append(
                                (int(vids[r]), int(cl_ids[j]), int(D[r, j]))
                            )
                    else:
                        for j in np.unique(amin):
                            sel = X[amin == j]
                            n = int(sel.shape[0])
                            ent = acc.setdefault(int(cl_ids[j]), [0, [], [], []])
                            width = sel.shape[1]
                            while len(ent[1]) < width:
                                ent[1].append(0)
                                ent[2].append(0)
                                ent[3].append(0)
                            csum = sel.sum(axis=0)
                            for i in range(width):
                                ent[1][i] += n
                                ent[2][i] += int(csum[i])
                                ent[3][i] += n
                    continue
                for a, vid in zip(sub, vids):
                    al = [None if v is None or v != v else int(v) for v in a]
                    key = _row_key(al)
                    if final:
                        out_rows.append(
                            (int(vid), key[2], None if key[0] == 0 else key[1])
                        )
                    else:
                        _acc_row(key[2], al)
            if final:
                yield pd.DataFrame(
                    out_rows, columns=["vec_id", "cluster", "d"]
                ) if out_rows else pd.DataFrame(
                    {
                        "vec_id": pd.Series([], dtype="int64"),
                        "cluster": pd.Series([], dtype="int64"),
                        "d": pd.Series([], dtype="float64"),
                    }
                )
            else:
                yield pd.DataFrame(
                    [
                        (cl, cnts, sums, pres)
                        for cl, (_, cnts, sums, pres) in sorted(acc.items())
                    ]
                    if acc
                    else [],
                    columns=["cluster", "cnts", "sums", "pres"],
                )

    return f


def _km_qarr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qarr): the 1e4-quantized int64 ARRAY frame — the same
    floor(x*COV_SCALE + 0.5) integers _km_comp explodes, kept packed
    for the driver-side Lloyd loop. Rows with NULL/empty embeddings
    are excluded (they produce no comp rows and never assign)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {COV_SCALE} + 0.5) AS BIGINT))"
        ).alias("qarr"),
    ).filter(F.col("qarr").isNotNull() & (F.size("qarr") > 0))


def _km_assign(spark: SparkSession, sf_dir: str):
    """(comp, assign): the KM_ITERS integer Lloyd loop shared by
    embed_kmeans_sse and dedup_semdedup_prune — final per-vector
    assignment (vec_id, cluster, d) under the round-(K-1) centroids,
    exactly the oracle's unrolled a{{K}} CTE.

    r11 restructure (guide §1.2/§4.2, the ann_topk_ivf_kmeans shape):
    the K x 64 codebook lives DRIVER-SIDE between rounds. Each round
    is ONE fused mapInPandas pass over the cached qarr frame
    (_km_round_udf: numpy argmin + per-partition partial sums), its
    K-bounded partials merged driver-side with the same
    SUM(q) DIV COUNT(*) truncating integer mean (convention #7:
    Python // floors, so the merge uses an explicit trunc-toward-zero
    divmod). The old shape checkpointed the 128k-row exploded comp
    eagerly and ran 3 joins + 3 shuffles per round; this runs one
    Arrow pass + one tiny collect per round. comp is still returned
    (lazily) for consumers that want the exploded view."""
    qarr = _km_qarr(spark, sf_dir).cache()
    seed_rows = qarr.orderBy("vec_id").limit(KM_K).collect()
    cents = {
        cl: list(r["qarr"]) for cl, r in enumerate(seed_rows)
    }

    def _trunc_div(s: int, c: int) -> int:
        q, r = divmod(s, c)
        if q < 0 and r != 0:
            q += 1
        return q

    # KM_ITERS - 1 update rounds: the returned assignment is the
    # round-KM_ITERS one, taken under the round-(KM_ITERS-1) centroids
    # (the oracle's a{KM_ITERS} under c{KM_ITERS-1})
    for _ in range(KM_ITERS - 1):
        if not cents:
            break
        part = qarr.mapInPandas(
            _km_round_udf(cents, final=False),
            "cluster long, cnts array<long>, sums array<long>, pres array<long>",
        )
        merged: dict = {}
        for r in part.collect():
            ent = merged.setdefault(r["cluster"], [[], [], []])
            for i in range(len(r["cnts"])):
                while len(ent[0]) <= i:
                    ent[0].append(0)
                    ent[1].append(0)
                    ent[2].append(0)
                ent[0][i] += r["cnts"][i]
                ent[1][i] += r["sums"][i]
                ent[2][i] += r["pres"][i]
        cents = {
            cl: [
                _trunc_div(sums[i], cnts[i]) if pres[i] > 0 else None
                for i in range(len(cnts))
            ]
            for cl, (cnts, sums, pres) in sorted(merged.items())
        }

    if cents:
        assign = qarr.mapInPandas(
            _km_round_udf(cents, final=True),
            "vec_id long, cluster long, d long",
        )
    else:
        assign = spark.createDataFrame([], "vec_id long, cluster long, d long")
    return _km_comp(spark, sf_dir), assign


def embed_kmeans_sse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KM_ITERS Lloyd k-means rounds over the embedding corpus (K=4,
    seeded with the K smallest vec_ids — deterministic, no RNG), ending
    in per-cluster sizes and the exact within-cluster SSE — the
    clustering-quality loop a corpus-curation pipeline runs before
    stratified sampling (MacQueen 1967 / Lloyd 1982).

    Determinism: components quantize at 1e4 (COV_SCALE); every
    distance is an exact int64 sum of squared integer differences;
    centroid updates are integer mean via DIV (both engines' integer
    division truncates toward zero — convention #7); argmin ties break
    on smallest cluster id. No float exists anywhere in the loop, so
    the unrolled DuckDB twin hash-matches bit-for-bit. Clusters that
    lose all members drop out on both engines identically.

    Scale shape per round: posexplode (64 rows/vector) joined to the
    BROADCAST K x 64 centroid table, one (vec, cluster) partial-
    aggregated distance sum, one per-vec struct-min argmax, one
    (cluster, dim) partial-aggregated mean — shuffles carry vec-keyed
    rows only; centroid state is K x 64 cells at any corpus size.
    """
    comp, assign = _km_assign(spark, sf_dir)
    return (
        assign.groupBy("cluster")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum("d").cast("long").alias("sse_fp"),
        )
        .select(
            "cluster",
            "n_vecs",
            "sse_fp",
            F.expr(f"CAST(sse_fp AS DOUBLE) / ({COV_SCALE} * {COV_SCALE})").alias(
                "sse"
            ),
        )
        .orderBy("cluster")
    )


def _km_ctes() -> str:
    """The unrolled Lloyd CTE chain (through a{{KM_ITERS}}) shared by
    the kmeans_sse and semdedup oracles — MATERIALIZED per convention
    #11 (comp and every c{{k}} feed multiple references; all frames
    are |vectors|- or K x 64-sized)."""
    head = f"""
WITH comp AS MATERIALIZED (
  SELECT vec_id, i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {COV_SCALE} + 0.5) AS BIGINT) AS q
  FROM embeddings, unnest(generate_series(1, {COV_DIM})) t(i)
  -- i <= len() makes this relation EQUIVALENT to Spark's posexplode
  -- (an empty/short array yields fewer rows, not NULL-q rows; ADVICE r8)
  WHERE i <= len(embedding)),
seeds AS (
  -- seed from the SAME relation as Spark (comp, i.e. post-explode):
  -- a vec_id with an empty embedding array exists in `embeddings`
  -- but produces no comp rows, and must not seed on either engine
  -- (ADVICE r8 — the 64-dim contract must not be load-bearing)
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster
  FROM (SELECT DISTINCT vec_id FROM comp ORDER BY vec_id LIMIT {KM_K})),
c0 AS MATERIALIZED (
  SELECT s.cluster, comp.i, comp.q AS c FROM comp JOIN seeds s USING (vec_id))"""
    parts = [head]
    for k in range(1, KM_ITERS + 1):
        parts.append(
            f"""
d{k} AS (
  SELECT comp.vec_id, c.cluster,
         CAST(SUM((comp.q - c.c) * (comp.q - c.c)) AS BIGINT) AS d
  FROM comp JOIN c{k - 1} c USING (i)
  GROUP BY 1, 2),
a{k} AS MATERIALIZED (
  SELECT vec_id, cluster, d FROM d{k}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1),
c{k} AS MATERIALIZED (
  SELECT a.cluster, comp.i, CAST(SUM(comp.q) AS BIGINT) // COUNT(*) AS c
  FROM comp JOIN a{k} a USING (vec_id)
  GROUP BY 1, 2)"""
        )
    return ",".join(parts)


def _kmeans_sql() -> str:
    return (
        _km_ctes()
        + f"""
SELECT cluster, COUNT(*)::BIGINT AS n_vecs,
       CAST(SUM(d) AS BIGINT) AS sse_fp,
       CAST(CAST(SUM(d) AS BIGINT) AS DOUBLE) / ({COV_SCALE} * {COV_SCALE}) AS sse
FROM a{KM_ITERS}
GROUP BY cluster ORDER BY cluster"""
    )


def embed_nearest_centroid_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid label purity: build each LABEL's centroid, snap
    every vector to its nearest centroid, and report the per-label
    confusion diagonal — the embedding-space QA check that labels are
    separable (a label whose members mostly snap elsewhere is noisy or
    duplicated training data).

    Same integer regime as embed_kmeans_sse: 1e4 components, truncating
    integer centroid means (convention #7), exact int64 distances,
    argmin ties to the smallest label. purity = n_correct / n under
    rdet(6) is the only float.

    Scale: one posexplode pass for centroids (|labels| x 64 cells,
    map-side combined), one broadcast-join assignment pass; the
    confusion matrix is |labels|^2 at most.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = _km_comp(spark, sf_dir)
    lbl = emb.select("vec_id", F.col("label").cast("long").alias("label"))
    cent = (
        comp.join(lbl, "vec_id")
        .groupBy("label", "i")
        .agg(F.expr("CAST(SUM(q) AS BIGINT) DIV COUNT(*)").alias("c"))
        .select(F.col("label").alias("cl"), "i", "c")
    )
    dist = (
        comp.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "cl")
        .agg(F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))).alias("d"))
    )
    snap = (
        dist.groupBy("vec_id")
        .agg(F.min(F.struct("d", "cl")).alias("m"))
        .select("vec_id", F.col("m.cl").alias("assigned"))
    )
    per = (
        lbl.join(snap, "vec_id")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum((F.col("assigned") == F.col("label")).cast("long"))
            .cast("long")
            .alias("n_correct"),
        )
    )
    return per.select(
        "label",
        "n_vecs",
        "n_correct",
        rdet(F.expr("CAST(n_correct AS DOUBLE) / CAST(n_vecs AS DOUBLE)"), 6).alias(
            "purity"
        ),
    ).orderBy("label")


def _purity_sql() -> str:
    return f"""
WITH comp AS MATERIALIZED (
  SELECT vec_id, i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {COV_SCALE} + 0.5) AS BIGINT) AS q
  FROM embeddings, unnest(generate_series(1, {COV_DIM})) t(i)
  -- i <= len() makes this relation EQUIVALENT to Spark's posexplode
  -- (an empty/short array yields fewer rows, not NULL-q rows; ADVICE r8)
  WHERE i <= len(embedding)),
lbl AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
cent AS MATERIALIZED (
  SELECT l.label AS cl, comp.i, CAST(SUM(comp.q) AS BIGINT) // COUNT(*) AS c
  FROM comp JOIN lbl l USING (vec_id) GROUP BY 1, 2),
dist AS (
  SELECT comp.vec_id, cent.cl,
         CAST(SUM((comp.q - cent.c) * (comp.q - cent.c)) AS BIGINT) AS d
  FROM comp JOIN cent USING (i) GROUP BY 1, 2),
snap AS (
  SELECT vec_id, cl AS assigned FROM dist
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cl) = 1),
per AS (
  SELECT l.label, COUNT(*)::BIGINT AS n_vecs,
         CAST(SUM(CASE WHEN s.assigned = l.label THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct
  FROM lbl l JOIN snap s USING (vec_id) GROUP BY 1)
SELECT label, n_vecs, n_correct,
       {rdet_sql("CAST(n_correct AS DOUBLE) / CAST(n_vecs AS DOUBLE)", 6)} AS purity
FROM per ORDER BY label
"""


QUERIES = {
    "embed_kmeans_sse": embed_kmeans_sse,
    "embed_nearest_centroid_purity": embed_nearest_centroid_purity,
    "embed_pca_outliers": embed_pca_outliers,
    "embed_quantize_int8": embed_quantize_int8,
    "embed_e2e_pipeline": embed_e2e_pipeline,
    "embed_covariance": embed_covariance,
    "embed_group_stats": embed_group_stats,
    "embed_feature_hash": embed_feature_hash,
    "embed_centroid_outliers": embed_centroid_outliers,
}

ORACLES = {
    "embed_kmeans_sse": _kmeans_sql(),
    "embed_nearest_centroid_purity": _purity_sql(),
    "embed_pca_outliers": _pca_sql(),
    "embed_covariance": _COV_SQL,
    "embed_e2e_pipeline": _E2E_PIPELINE_SQL,
    "embed_centroid_outliers": _centroid_sql(),
    "embed_quantize_int8": _QUANT_SQL,
    "embed_group_stats": _GROUP_STATS_SQL,
    "embed_feature_hash": _FEATURE_HASH_SQL,
}
