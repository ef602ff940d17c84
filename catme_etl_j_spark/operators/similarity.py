"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

North-Star surface (SURVEY.md §7.5): approximate-nearest-neighbor over
an embedding column.

* ``ann_topk_bruteforce`` — exact cosine top-k against a query vector:
  one scan, no shuffle (top-k is per-partition heap + driver merge).
  The 100 TB baseline: brute force is embarrassingly parallel and is
  what every candidate set gets re-ranked with.
* ``ann_topk_ivf`` — IVF-style: ``label`` is used as the coarse
  cluster id (nprobe=1): partition pruning cuts the scan to one
  cluster. At scale the cluster id would come from a k-means codebook;
  the plumbing (filter -> scan subset -> exact re-rank) is identical.
* ``ann_nn_within_label`` — blocked all-pairs top-1 neighbor: the
  equi-join on the block key turns a quadratic cross join into
  per-block work — the same blocking trick the dedup module uses.

Determinism: cosine is computed from EXACT fixed-point (int64 at 1e8)
dot products — products and sums are exact integers, so both engines
get identical numerators/denominators — followed by identical IEEE
double division/sqrt and ``rdet`` rounding. Floating-point summation
order — the classic cross-engine hazard — never enters the picture.
Vectors are pre-scaled and norms precomputed once per vector, so the
pairwise stages do exactly one 64-element dot product per pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from catme_etl_j_spark.functions.numeric import rdet, rdet_sql
from catme_etl_j_spark.sources.tables import load_table

QUERY_VEC_ID = 0
TOP_K = 10

# Fixed-point convention: scale each float component to an int64 at
# 1e8 (deterministic floor(x*1e8+0.5), the rdet trick), then dot
# products are EXACT int64 sums — order-independent, overflow-safe
# (64 * (4*1e8)^2 < 2^63), and identical on every engine. The 1e8
# scale cancels out of the cosine ratio. Spark's decimal `aggregate`
# can't do this: its accumulator type degrades (38,18)+(37,18)->(38,17).
_FXP = "100000000.0"


def _fxp_expr(a: str) -> str:
    return f"transform({a}, x -> CAST(floor(CAST(x AS DOUBLE) * {_FXP} + 0.5) AS BIGINT))"


def _dot_duck(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST(floor(({a}[i])::DOUBLE * {_FXP} + 0.5) AS BIGINT)"
        f" * CAST(floor(({b}[i])::DOUBLE * {_FXP} + 0.5) AS BIGINT))) AS BIGINT)"
    )


def _norm_duck(a: str) -> str:
    return f"sqrt(CAST({_dot_duck(a, a)} AS DOUBLE))"


def _fxp_py(v: float) -> int:
    """Python twin of the fixed-point scaling — identical IEEE ops
    (x*1e8 + 0.5 then floor), so driver-side constants match engine-side."""
    import math

    return math.floor(float(v) * 1e8 + 0.5)


def _query_fx(spark: SparkSession, sf_dir: str) -> tuple[list[int], int]:
    """ONE driver-side key lookup of the query vector; returns its fxp
    int64 components and label (shared by every query-vector consumer
    so none pays a second Spark job)."""
    row = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding", "label")
        .first()
    )
    return [_fxp_py(v) for v in row["embedding"]], row["label"]


def _fx_literal(fx: list[int]) -> str:
    return "array(" + ", ".join(f"CAST({x} AS BIGINT)" for x in fx) + ")"


def _fx_norm(fx: list[int]) -> float:
    import math

    return math.sqrt(float(sum(x * x for x in fx)))  # exact int sum -> same sqrt


def _query_vec(spark: SparkSession, sf_dir: str) -> tuple[str, float, int]:
    """(bigint-literal fxp array expr, norm, label) of the query vector."""
    fx, label = _query_fx(spark, sf_dir)
    return _fx_literal(fx), _fx_norm(fx), label


def _prescaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with the fxp int64 array and norm computed ONCE per
    vector (the pairwise stages below reuse them — at 500k vectors this
    is the difference between O(pairs*dim) and O(pairs*dim*3)).

    Zero-norm vectors are EXCLUDED at this index boundary: a zero
    vector has no direction, so cosine against it is undefined —
    under ANSI it is a DIVIDE_BY_ZERO crash (found by the degenerate
    full-sweep probe; production vector stores reject such rows at
    ingest). The fxp norm makes sub-1e-8 components identical to zero
    on both engines, so the oracle twin (_EMB_NZ) agrees bit-for-bit
    on what is "zero"."""
    emb = load_table(spark, sf_dir, "embeddings")
    # NO §2.5 spread here, deliberately (r12 negative result): unlike
    # _minhash_df — whose spread parallelizes a Python md5 stage with a
    # narrow downstream — every _prescaled consumer reshuffles by its
    # own key (cogroup (label,salt), (band,bucket) groups, join keys),
    # so a round-robin repartition of the raw embedding arrays is a
    # pure EXTRA payload shuffle. Measured same-session A/B at sf0.1:
    # ann_nn_within_label 0.93 vs 0.58 s, dedup_embedding_cosine 1.85
    # vs 1.58 s medians WITH vs WITHOUT the spread; at sf1.0 the
    # spread moved neither (their walls are checkpoint/cogroup fixed
    # costs, not scan compute).
    return (
        emb.select(
            "vec_id",
            "label",
            F.expr(_fxp_expr("embedding")).alias("fx"),
        )
        .withColumn("norm", F.expr(_norm_fx("fx")))
        .filter(F.col("norm") > F.lit(0.0))
    )


def _dot_fx(a: str, b: str) -> str:
    """Dot product of two already-scaled int64 arrays (exact)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _norm_fx(a: str) -> str:
    return f"sqrt(CAST({_dot_fx(a, a)} AS DOUBLE))"


# DuckDB twin of _prescaled's index boundary: every CORPUS-side
# embeddings scan in the oracles below reads this relation, so both
# engines exclude exactly the same zero-norm rows. Query-vector
# lookups by QUERY_VEC_ID stay on the raw table (the query vector is
# contracted nonzero; _query_fx reads it raw too). _EMB_NZ carries its
# own "embeddings" alias for unaliased FROM sites; _EMB_NZ_BARE is for
# sites that alias the relation themselves (a, b, e).
_EMB_NZ_BARE = "(SELECT * FROM embeddings WHERE " + _norm_duck("embedding") + " > 0)"
_EMB_NZ = _EMB_NZ_BARE + " embeddings"


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for the query vector, excluding itself."""
    qfx, qnorm, _ = _query_vec(spark, sf_dir)
    emb = _prescaled(spark, sf_dir).filter(F.col("vec_id") != QUERY_VEC_ID)
    cos = rdet(
        F.expr(f"CAST({_dot_fx('fx', qfx)} AS DOUBLE)") / (F.col("norm") * F.lit(qnorm)),
        6,
    )
    return (
        emb.select("vec_id", "label", cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


_TOPK_CORE = """
WITH q AS (SELECT embedding AS qe, label AS qlabel FROM embeddings WHERE vec_id = {qid})
SELECT vec_id, label, {cos} AS cos_sim
FROM {nz}, q
WHERE vec_id <> {qid}{extra_where}
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


def _topk_sql(extra_where: str = "") -> str:
    cos = rdet_sql(
        f"CAST({_dot_duck('embedding', 'qe')} AS DOUBLE) / ({_norm_duck('embedding')} * {_norm_duck('qe')})",
        6,
    )
    return _TOPK_CORE.format(
        qid=QUERY_VEC_ID, cos=cos, extra_where=extra_where, k=TOP_K, nz=_EMB_NZ
    )


ANN_FILTER_MOD = 2  # metadata predicate: label % 2 == 0
ANN_OVERFETCH = 3 * TOP_K


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: exact top-k among vectors passing a
    metadata predicate (label %% 2 == 0), annotated with whether the
    cheaper POST-filter strategy (global top-3k overfetch, then
    filter, then take k) would have found each hit.

    Pre-filter is the recall-complete strategy (predicate pushes into
    the scan, cosine runs only on survivors); post-filter reuses an
    unfiltered index but loses any hit ranked below the overfetch
    horizon — the found_by_postfilter column IS that recall audit,
    and at 100 TB it is how you size the overfetch factor per
    predicate selectivity. TakeOrderedAndProject handles both top-k
    pulls distributed; the rank windows run on the <=3k pooled rows.

    Determinism: ranks order by (rdet-1e6 cosine DESC, vec_id) — the
    fixed-point cosine convention plus a unique tie-break.
    """
    from pyspark.sql import Window as W

    qfx, qnorm, _ = _query_vec(spark, sf_dir)
    allv = _prescaled(spark, sf_dir).filter(F.col("vec_id") != QUERY_VEC_ID)
    cos = rdet(
        F.expr(f"CAST({_dot_fx('fx', qfx)} AS DOUBLE)")
        / (F.col("norm") * F.lit(qnorm)),
        6,
    )
    scored = allv.select("vec_id", "label", cos.alias("cos_sim"))
    pred = F.col("label") % ANN_FILTER_MOD == 0
    pre_topk = (
        scored.filter(pred)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )
    pool = scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(ANN_OVERFETCH)
    wg = W.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    pool_ranked = pool.select(
        F.col("vec_id").alias("p_id"), F.row_number().over(wg).alias("post_rank")
    )
    filt_ranked = (
        pool.filter(pred)
        .select(F.col("vec_id").alias("f_id"), F.row_number().over(wg).alias("fr"))
        .filter(F.col("fr") <= TOP_K)
    )
    return (
        pre_topk.join(pool_ranked, pre_topk["vec_id"] == F.col("p_id"), "left")
        .join(filt_ranked, pre_topk["vec_id"] == F.col("f_id"), "left")
        .select(
            "vec_id",
            "label",
            "cos_sim",
            F.col("post_rank").cast("long").alias("post_rank"),
            F.col("f_id").isNotNull().alias("found_by_postfilter"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    )


def _filtered_topk_sql() -> str:
    cos = rdet_sql(
        f"CAST({_dot_duck('embedding', 'qe')} AS DOUBLE)"
        f" / ({_norm_duck('embedding')} * {_norm_duck('qe')})",
        6,
    )
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  SELECT vec_id, label, {cos} AS cos_sim
  FROM {_EMB_NZ}, q WHERE vec_id <> {QUERY_VEC_ID}),
pre_topk AS (
  SELECT vec_id, label, cos_sim FROM scored WHERE label % {ANN_FILTER_MOD} = 0
  ORDER BY cos_sim DESC, vec_id ASC LIMIT {TOP_K}),
pool AS (
  SELECT vec_id, label, cos_sim,
         ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS post_rank
  FROM scored ORDER BY cos_sim DESC, vec_id ASC LIMIT {ANN_OVERFETCH}),
filt AS (
  SELECT vec_id,
         ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS fr
  FROM pool WHERE label % {ANN_FILTER_MOD} = 0)
SELECT t.vec_id, t.label, t.cos_sim,
       CAST(p.post_rank AS BIGINT) AS post_rank,
       f.vec_id IS NOT NULL AS found_by_postfilter
FROM pre_topk t
LEFT JOIN pool p ON t.vec_id = p.vec_id
LEFT JOIN (SELECT vec_id FROM filt WHERE fr <= {TOP_K}) f ON t.vec_id = f.vec_id
ORDER BY t.cos_sim DESC, t.vec_id ASC
"""


BATCH_Q = 5  # vec_id < BATCH_Q play the query batch
BATCH_TOP = 3


def ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED vector search — the shape real retrieval workloads run:
    Q queries answered in ONE corpus scan instead of Q scans. The
    query batch (vec_id < 5) broadcasts; every corpus vector scores
    against all of it in a single pass (the broadcast nested loop is
    the intended plan here — |corpus| x Q is the work, and Q is tiny);
    a per-query window takes top-3.

    At 100 TB this is why retrieval services batch: the corpus scan
    amortizes across the whole query batch, and the per-query state is
    a Q x k heap — compare one scan per query for the naive loop.
    Same fixed-point cosine + (qid, cos DESC, vec_id) determinism as
    the single-query paths.
    """
    from pyspark.sql import Window as W

    pre = _prescaled(spark, sf_dir)
    queries = pre.filter(F.col("vec_id") < BATCH_Q).select(
        F.col("vec_id").alias("qid"),
        F.col("fx").alias("qfx"),
        F.col("norm").alias("qnorm"),
    )
    corpus = pre.select("vec_id", "label", "fx", "norm")
    cos = rdet(
        F.expr(f"CAST({_dot_fx('fx', 'qfx')} AS DOUBLE)")
        / (F.col("norm") * F.col("qnorm")),
        6,
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "label", cos.alias("cos_sim"))
    )
    wq = W.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= BATCH_TOP)
        .select("qid", F.col("rank").cast("long").alias("rank"), "vec_id", "label", "cos_sim")
        .orderBy("qid", "rank")
    )


def _batch_topk_sql() -> str:
    cos = rdet_sql(
        f"CAST({_dot_duck('e.embedding', 'q.qe')} AS DOUBLE)"
        f" / ({_norm_duck('e.embedding')} * {_norm_duck('q.qe')})",
        6,
    )
    return f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qe FROM {_EMB_NZ} WHERE vec_id < {BATCH_Q}),
scored AS (
  SELECT q.qid, e.vec_id, e.label, {cos} AS cos_sim
  FROM {_EMB_NZ_BARE} e CROSS JOIN q
  WHERE e.vec_id <> q.qid),
ranked AS (
  SELECT qid, vec_id, label, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored)
SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, label, cos_sim
FROM ranked WHERE rank <= {BATCH_TOP}
ORDER BY qid, rank
"""


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style top-k: scan only the query's coarse cluster (label)."""
    qfx, qnorm, qlabel = _query_vec(spark, sf_dir)
    emb = _prescaled(spark, sf_dir).filter(
        (F.col("vec_id") != QUERY_VEC_ID) & (F.col("label") == qlabel)
    )
    cos = rdet(
        F.expr(f"CAST({_dot_fx('fx', qfx)} AS DOUBLE)") / (F.col("norm") * F.lit(qnorm)),
        6,
    )
    return (
        emb.select("vec_id", "label", cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


# Salt factor for the within-label all-pairs join: the left side gets a
# deterministic salt, the right side is replicated to every salt value,
# so one hot label spreads over NN_SALT reducers instead of flooding
# one. Semantics are EXACTLY the unsalted join (each (a,b) pair matches
# exactly once); only the shuffle-key cardinality changes.
NN_SALT = 8

# Candidate-pool cap (VERDICT r9 #4): the b-side of the per-label NN
# join is bounded to the NN_POOL_CAP lowest-vec_id members of each
# label, so per-label pair count is |label| * min(|label|, CAP) —
# LINEAR in the corpus for fixed CAP instead of sum(|label|^2). Every
# driver gate fixture has max block <= 218 (sf0.001: 63, sf0.01: 59,
# sf0.1: 218), so below the cap the output is BIT-IDENTICAL to the
# uncapped exact form (pinned by test; the oracle applies the same
# cap). The sf1.0 probe's 2,180-row blocks — the one query that
# needed a 48g/600s env carve-out in r9 — drop from ~40M to ~5M pairs
# and run in the default 8g/180s envelope.
NN_POOL_CAP = 256


def _nn_pool(emb: DataFrame) -> DataFrame:
    """Per-label candidate pool: the NN_POOL_CAP lowest vec_ids.

    Two-stage top-C so no task ever sorts a whole hot label (the
    theil_sen no-global-window discipline): stage 1 ranks within
    (label, vec_id % NN_SALT) — bounded partitions of |label|/SALT —
    and keeps C per salt; stage 2 ranks the <= SALT*C survivors per
    label. Identical result to a single per-label top-C by vec_id.
    """
    from pyspark.sql import Window

    w1 = Window.partitionBy("label", F.col("vec_id") % NN_SALT).orderBy("vec_id")
    w2 = Window.partitionBy("label").orderBy("vec_id")
    return (
        emb.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= NN_POOL_CAP)
        .withColumn("rn2", F.row_number().over(w2))
        .filter(F.col("rn2") <= NN_POOL_CAP)
        .drop("rn1", "rn2")
    )


def _nn_argmax_cogroup(left, right):
    """Cogrouped top-1 for one (label, salt) block: probe rows
    (vec_id, label, fa, na) x pool rows (nn_id, fb, nb) -> one row per
    probe vector with its argmax-cosine pool neighbor (self excluded).
    One exact numpy int64 matmul per block; cosine replicates the
    column expression bit-for-bit (exact dot -> float64 divide ->
    rdet-6 floor), ties break to the smallest nn_id, and ragged
    degenerate rows fall to a per-pair loop with the join path's
    NULL-cos ordering (a NULL cosine loses to any non-NULL; all-NULL
    keeps the smallest nn_id with NULL cos_sim). See
    ann_nn_within_label for why this replaced the pair equi-join."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "vec_id": pd.Series([], dtype="int64"),
            "label": pd.Series([], dtype=object),
            "nn_id": pd.Series([], dtype="int64"),
            "cos_sim": pd.Series([], dtype="float64"),
        }
    )
    if left.empty or right.empty:
        return empty
    lv = left["vec_id"].to_numpy()
    ll = left["label"].to_numpy()
    ln = left["na"].to_numpy()
    lq = left["fa"].to_numpy()
    rv = right["nn_id"].to_numpy()
    rn = right["nb"].to_numpy()
    rq = right["fb"].to_numpy()
    try:
        A = np.stack(lq).astype(np.int64)
        B = np.stack(rq).astype(np.int64)
        ok = A.ndim == 2 and B.ndim == 2 and A.shape[1] == B.shape[1]
    except (TypeError, ValueError):
        ok = False
    if ok:
        D = A @ B.T  # exact int64 (1e8-scale dots <= 6.4e17 < 2^63)
        cosm = np.floor((D / (ln[:, None] * rn[None, :])) * 1e6 + 0.5) / 1e6
        self_mask = lv[:, None] == rv[None, :]
        cosm = np.where(self_mask, -np.inf, cosm)
        rows = []
        order = np.argsort(rv, kind="stable")  # candidates by nn_id ASC
        for i in range(len(lv)):
            ci = cosm[i]
            if len(rv) == 1 and self_mask[i, 0]:
                continue  # only candidate is self: no output row
            best = ci.max()
            if best == -np.inf:
                continue
            js = order[ci[order] == best]
            rows.append((int(lv[i]), ll[i], int(rv[js[0]]), float(best)))
        if not rows:
            return empty
        return pd.DataFrame(rows, columns=["vec_id", "label", "nn_id", "cos_sim"])
    rows = []
    for i in range(len(lv)):
        best_key, best = None, None
        for j in range(len(rv)):
            if lv[i] == rv[j]:
                continue
            try:
                xv = np.asarray(lq[i], dtype=np.int64)
                yv = np.asarray(rq[j], dtype=np.int64)
                c = (
                    np.floor((int(xv @ yv) / (ln[i] * rn[j])) * 1e6 + 0.5) / 1e6
                    if xv.ndim == 1 and yv.ndim == 1 and len(xv) == len(yv)
                    else None
                )
            except (TypeError, ValueError):
                c = None
            key = (1, c, -int(rv[j])) if c is not None else (0, 0.0, -int(rv[j]))
            if best_key is None or key > best_key:
                best_key, best = key, (int(lv[i]), ll[i], int(rv[j]), c)
        if best is not None:
            rows.append(best)
    if not rows:
        return empty
    return pd.DataFrame(rows, columns=["vec_id", "label", "nn_id", "cos_sim"])


def ann_nn_within_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 cosine neighbor per vector, blocked by label (cluster),
    against the NN_POOL_CAP-bounded deterministic candidate pool.

    EXACT (recall-complete within label) whenever blocks fit the pool
    cap — true at every driver gate SF — and degrades to a
    deterministic-pool approximation above it, keeping pair count
    linear in the corpus (VERDICT r9 #4: the uncapped O(block^2) form
    stalled the sf1.0 probe until it got a 48g/600s env; a verify path
    that needs a bespoke env at 100x needs a cap at 1000x). Skew
    posture at 100 TB: the join key is (label, salt) — a label holding
    p% of the corpus produces NN_SALT reducer tasks of p%/NN_SALT each
    rather than one p%-sized straggler; raise NN_SALT with cluster
    size. The pool build itself is two bounded-partition windows,
    never a whole-label sort on one task.
    """
    emb = _prescaled(spark, sf_dir).cache()  # reused by both join sides
    a = emb.select(
        F.col("vec_id").alias("vec_id"),
        F.col("label").alias("label"),
        F.col("fx").alias("fa"),
        F.col("norm").alias("na"),
        (F.col("vec_id") % NN_SALT).cast("int").alias("salt"),
    )
    b = _nn_pool(emb).select(
        F.col("vec_id").alias("nn_id"),
        F.col("label").alias("label"),
        F.col("fx").alias("fb"),
        F.col("norm").alias("nb"),
    ).withColumn("salt", F.explode(F.array(*[F.lit(s) for s in range(NN_SALT)])))
    # r11 (guide §2.3/§4.2): COGROUP on (label, salt) instead of the
    # pair equi-join — the join shipped both 64-int64 arrays once per
    # PAIR through Arrow (~0.5 GB at sf0.1); cogrouping ships each
    # vector once per group and one numpy int64 matmul scores the
    # whole probe x pool block, emitting the per-vector argmax
    # directly (so the shuffle after the UDF carries |vectors| rows,
    # same as the old map-side-combined aggregate). Bit-identical to
    # the join + max(struct(cos, -nn_id)) path — exact int64 dots,
    # same IEEE divide and rdet(6), same (DESC cos, ASC nn_id)
    # tie-break, same NULL-cos ordering for ragged degenerate rows —
    # pinned against an independent uncapped join + struct-max
    # formulation by test_nn_within_label_cap_exact_below_pool_cap,
    # and against the oracle on the degenerate fixtures. The (label,
    # salt) key keeps the skew posture: a hot label still fans out
    # over NN_SALT tasks.
    label_t = emb.schema["label"].dataType.simpleString()
    return (
        a.groupBy("label", "salt")
        .cogroup(b.groupBy("label", "salt"))
        .applyInPandas(
            _nn_argmax_cogroup,
            f"vec_id long, label {label_t}, nn_id long, cos_sim double",
        )
    )


def _nn_within_label_sql() -> str:
    cos = rdet_sql(
        f"CAST({_dot_duck('a.embedding', 'b.embedding')} AS DOUBLE) / ({_norm_duck('a.embedding')} * {_norm_duck('b.embedding')})",
        6,
    )
    # same NN_POOL_CAP candidate pool as the Spark side: the C lowest
    # vec_ids per label (a single top-C rank — equivalent to Spark's
    # two-stage skew-safe form)
    return f"""
WITH pool AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS prn
    FROM {_EMB_NZ_BARE} p0) p1
  WHERE prn <= {NN_POOL_CAP}
),
scored AS (
  SELECT a.vec_id AS vec_id, a.label AS label, b.vec_id AS nn_id, {cos} AS cos_sim
  FROM {_EMB_NZ_BARE} a JOIN pool b ON a.label = b.label AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT vec_id, label, nn_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nn_id ASC) AS rn
  FROM scored)
SELECT vec_id, label, nn_id, cos_sim FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Random-hyperplane LSH near-dup pairs (the scale path when no cluster
# id exists). 16 fixed hyperplanes, banded 4x4: a pair is a candidate if
# it matches all 4 sign bits of ANY band; candidates are then exactly
# re-ranked. Like all LSH this trades recall for linearity — the oracle
# runs the SAME planes/bands, so the output is still deterministic and
# hash-checkable. (The recall-complete blocked variant is
# ann_nn_within_label; the exact baseline is ann_topk_bruteforce.)
# ---------------------------------------------------------------------------

import random as _random

N_PLANES = 16
LSH_BANDS, LSH_ROWS = 4, 4
COS_THRESHOLD = 0.4
_prng = _random.Random(7)
# integer plane components: exact int64 dot products, no float ambiguity
PLANES = [[_prng.randrange(-1000, 1001) for _ in range(64)] for _ in range(N_PLANES)]


def _plane_dot_spark(j: int) -> str:
    lits = ", ".join(str(v) for v in PLANES[j])
    return (
        f"aggregate(zip_with(fx, array({lits}), (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _band_expr_spark(b: int) -> str:
    bits = " + ".join(
        f"(CASE WHEN {_plane_dot_spark(b * LSH_ROWS + r)} > 0 THEN {1 << r} ELSE 0 END)"
        for r in range(LSH_ROWS)
    )
    return bits


def buckets_pandas():
    """Arrow-batched band buckets: ``buckets_pandas()(fx)`` yields the
    LSH_BANDS bucket values of one vector as array<long> — the
    vectorized twin of LSH_BANDS x LSH_ROWS `_band_expr_spark`
    evaluations (r11, guide §4.2: the interpreted HOF plane dots were
    ~0.5 s of the pair stage at sf0.1; one numpy int64 matmul per
    batch replaces 16 per-row fold lambdas). Exact: |plane| <= 1000,
    |fx| <= ~1e8 -> products <= 1e11, 64-term sums < 2^53 << 2^63 —
    no int64 overflow, bit-identical signs. Degenerate rows replicate
    the JVM CASE semantics: any row whose fx is not a clean 64-long
    int array has every plane dot NULL (zip_with pads -> product
    poisons the fold), so `CASE WHEN NULL > 0` contributes 0 bits ->
    bucket 0 per band; the fallback path returns exactly that."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.array(PLANES, dtype=np.int64).T  # 64 x N_PLANES
    W = np.array([1 << r for r in range(LSH_ROWS)], dtype=np.int64)

    def _bk(fx):
        av = fx.to_numpy()
        if len(av):
            try:
                A = np.stack(av).astype(np.int64)
                ok = A.ndim == 2 and A.shape[1] == 64
            except (TypeError, ValueError):
                ok = False
            if ok:
                D = A @ P  # n x N_PLANES, exact int64
                bits = (D > 0).astype(np.int64).reshape(len(av), LSH_BANDS, LSH_ROWS)
                return pd.Series(list((bits * W).sum(axis=2)))
        out = []
        for x in av:
            try:
                xv = np.asarray(x, dtype=np.int64)
                ok = xv.ndim == 1 and len(xv) == 64
            except (TypeError, ValueError):
                ok = False
            if ok:
                bits = ((xv @ P) > 0).astype(np.int64).reshape(LSH_BANDS, LSH_ROWS)
                out.append((bits * W).sum(axis=1))
            else:
                out.append(np.zeros(LSH_BANDS, dtype=np.int64))
        return pd.Series(out)

    _bk.__annotations__ = {"fx": pd.Series, "return": pd.Series}
    return pandas_udf(_bk, "array<long>")


def _bucket_pairs_pandas(pdf):
    """Per-(band, bucket) candidate pairs with their rdet-6 cosine —
    the grouped twin of the old banded self-join + per-pair Arrow dot.
    Arithmetic is replicated operation-for-operation: exact int64 dot
    (matmul products <= 1e16, 64-term sums < 2^63), float64(dot) (the
    same round-to-nearest CAST both engines apply), one IEEE divide by
    the float64 norm product, floor(x*1e6 + 0.5)/1e6 — so a pair
    colliding in several bands yields the identical cos in each group
    and the downstream distinct collapses it. Pairs whose fx lengths
    differ keep the zip_with NULL semantics (never emitted); a group
    mixing lengths falls to the per-pair loop."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame({
        "vec_a": pd.Series(dtype="int64"),
        "vec_b": pd.Series(dtype="int64"),
        "cos_sim": pd.Series(dtype="float64"),
    })
    n = len(pdf)
    if n < 2:
        return empty
    pdf = pdf.sort_values("vec_id")  # i<j positions == vec_a < vec_b
    vids = pdf["vec_id"].to_numpy()
    fxs = pdf["fx"].to_numpy()
    norms = pdf["norm"].to_numpy(dtype=np.float64)
    lens = {len(x) for x in fxs}
    out_a: list = []
    out_b: list = []
    out_c: list = []
    if len(lens) == 1:
        A = np.stack(fxs).astype(np.int64)
        # chunk rows so the chunk x n dot block stays ~32 MB whatever
        # the bucket size (hot buckets are quadratic in PAIRS either
        # way — exactly like the old self-join — but never in memory)
        ch = max(1, (1 << 22) // max(1, n))
        for lo in range(0, n, ch):
            hi = min(n, lo + ch)
            D = A[lo:hi] @ A.T  # exact int64
            C = D.astype(np.float64) / (norms[lo:hi, None] * norms[None, :])
            C = np.floor(C * 1e6 + 0.5) / 1e6
            ii, jj = np.nonzero(C >= COS_THRESHOLD)
            keep = jj > (ii + lo)  # strict upper triangle by sorted position
            ii, jj = ii[keep], jj[keep]
            out_a.append(vids[ii + lo])
            out_b.append(vids[jj])
            out_c.append(C[ii, jj])
        if not out_a:
            return empty
        return pd.DataFrame({
            "vec_a": np.concatenate(out_a),
            "vec_b": np.concatenate(out_b),
            "cos_sim": np.concatenate(out_c),
        })
    # ragged group (degenerate short embeddings): per-pair loop with
    # zip_with semantics — unequal lengths -> NULL cos -> dropped
    ra, rb, rc = [], [], []
    fx64 = [np.asarray(x, dtype=np.int64) for x in fxs]
    for i in range(n):
        for j in range(i + 1, n):
            if len(fx64[i]) != len(fx64[j]):
                continue
            d = float(np.dot(fx64[i], fx64[j]))
            c = np.floor(d / (norms[i] * norms[j]) * 1e6 + 0.5) / 1e6
            if c >= COS_THRESHOLD:
                ra.append(vids[i])
                rb.append(vids[j])
                rc.append(c)
    if not ra:
        return empty
    return pd.DataFrame({"vec_a": ra, "vec_b": rb, "cos_sim": rc})


def ann_lsh_hyperplane_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _prescaled(spark, sf_dir)
    # r11 (guide §2.3/§4.2, second pass): ONE cogrouped stage replaces
    # the banded self-join + distinct + two fx joins + per-pair Arrow
    # dot. Each vector ships ONCE per band through the (band, bucket)
    # shuffle (~80 MB at sf0.1) instead of once per CANDIDATE PAIR
    # (~470 MB); a numpy int64 block matmul scores each bucket and the
    # cross-band duplicates collapse in one distinct on the (already
    # threshold-filtered) pair stream. Skew posture unchanged: the
    # grouping key is exactly the key the old self-join hashed on.
    # Measured 1.43 s -> ~0.75 s for the full pair stage at sf0.1 at a
    # matched q03 control; bit-identical output (exceptAll both ways =
    # 0 incl. the degenerate short/NULL-element rows, pinned by
    # test_lsh_pairs_cogroup_matches_join).
    banded = emb.select(
        "vec_id",
        "fx",
        "norm",
        F.posexplode(buckets_pandas()("fx")).alias("band", "bucket"),
    )
    return (
        banded.groupBy("band", "bucket")
        .applyInPandas(
            _bucket_pairs_pandas, "vec_a long, vec_b long, cos_sim double"
        )
        .distinct()
    )


def _lsh_sql() -> str:
    # Native-dot rewrite (r10, the sf1.0 wall-time finding): DuckDB's
    # list_dot_product is vectorized C++ but returns DOUBLE, which is
    # only exact below 2^53 — the full 1e8-scale products (up to
    # ~1.6e17 each) would lose bits. Splitting each fixed-point
    # component v into (v // 1e4, v % 1e4) keeps EVERY partial dot an
    # exact integer in double (|hi|,|lo| <= 1e4+eps; 64 * (1e4)^2 * 1e4
    # ~ 6.4e13 < 2^53 even with any summation order), and the BIGINT
    # recombination hi*1e8 + cross*1e4 + lo reproduces the exact int64
    # dot the Spark side computes — bit-identical values, ~10x less
    # per-pair lambda overhead on the 46M-candidate sf1.0 stage.
    # (DuckDB // truncates and % is sign-of-dividend, so
    # hi*1e4 + lo == v holds for NEGATIVE components too.)
    def plane_dot(j: int) -> str:
        lits = ", ".join(f"{float(v)}" for v in PLANES[j])
        # plane entries <= 1000, |fx| <= ~1e8: products <= 1e11, sum
        # 64 of them < 2^53 — exact in double at any summation order
        return f"CAST(list_dot_product(fxd, [{lits}]) AS BIGINT)"

    def band(b: int) -> str:
        return " + ".join(
            f"(CASE WHEN {plane_dot(b * LSH_ROWS + r)} > 0 THEN {1 << r} ELSE 0 END)"
            for r in range(LSH_ROWS)
        )

    bands_sql = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {b} AS band, {band(b)} AS bucket FROM fxd_t"
        for b in range(LSH_BANDS)
    )
    pair_dot = (
        "(CAST(list_dot_product(a.fhi, b.fhi) AS BIGINT) * 100000000"
        " + (CAST(list_dot_product(a.fhi, b.flo) AS BIGINT)"
        "    + CAST(list_dot_product(a.flo, b.fhi) AS BIGINT)) * 10000"
        " + CAST(list_dot_product(a.flo, b.flo) AS BIGINT))"
    )
    self_dot = (
        "(CAST(list_dot_product(fhi, fhi) AS BIGINT) * 100000000"
        " + 2 * CAST(list_dot_product(fhi, flo) AS BIGINT) * 10000"
        " + CAST(list_dot_product(flo, flo) AS BIGINT))"
    )
    cos = rdet_sql(f"CAST({pair_dot} AS DOUBLE) / (a.norm * b.norm)", 6)
    # ONE self-join, carrying (fhi, flo, norm) on the band rows
    # themselves — the r10 sf1.0 rebuild after three separate
    # pathologies were measured in this DuckDB:
    #  * any CTE referenced twice AUTO-materializes, and materialized-
    #    CTE scans are SINGLE-THREADED (200M-row scan: 2.05 s as a
    #    mat-CTE vs 0.06 s as a table) — a mat-CTE source serializes
    #    the whole downstream pipeline, so NO shared CTEs here
    #    (convention #11 is for small multi-ref frames, not this);
    #  * with separate candidate/vector subqueries the join ORDERER is
    #    free to move the narrow band self-join above or below the
    #    vector-payload joins on opaque estimates — both orders it
    #    picked turned the 46M-candidate stage into >10 min;
    #  * a pre-join DISTINCT's output estimate made the 46M stream a
    #    hash-join BUILD side.
    # With a single join there is nothing to reorder and the build
    # side is the 80k-row banded frame (~80 MB); list vectors flow
    # by buffer reference, so the wide rows are not deep-copied. The
    # dedup of multi-band matches (51.7M raw vs 46.3M distinct,
    # measured — <12%) runs AFTER the threshold filter over the
    # ~139k surviving pairs, where it is free. The per-branch
    # re-derivation of fx/fhi/flo costs a few extra |vectors|-row
    # lambda passes — noise against the pair stage.
    fx_subq = (
        "(SELECT vec_id, "
        f"list_transform(embedding::DOUBLE[], v -> CAST(floor(v * {_FXP} + 0.5) AS BIGINT)) AS fx "
        f"FROM {_EMB_NZ})"
    )
    banded_subq = (
        "(\n"
        + "\n  UNION ALL\n".join(
            f"  SELECT vec_id, {b} AS band, {band(b)} AS bucket, fhi, flo,"
            f" sqrt(CAST({self_dot} AS DOUBLE)) AS norm"
            f" FROM (SELECT vec_id, list_transform(fx, v -> CAST(v AS DOUBLE)) AS fxd,"
            f" list_transform(fx, v -> CAST(v // 10000 AS DOUBLE)) AS fhi,"
            f" list_transform(fx, v -> CAST(v % 10000 AS DOUBLE)) AS flo"
            f" FROM {fx_subq} fq{b}) bq{b}"
            for b in range(LSH_BANDS)
        )
        + "\n)"
    )
    return f"""
SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cos_sim
FROM {banded_subq} a JOIN {banded_subq} b
  ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {cos} >= {COS_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# IVF with a REAL codebook: deterministic Lloyd's k-means (seeds =
# vec_id < K, fixed iteration count), assignment by exact fixed-point
# L2 (1e4 scale — |x| < 1 so 64 * (2e4)^2 ≈ 2.6e10 is exact in int64
# AND in double, no overflow on either engine), then nprobe=2 cluster
# scan + exact 1e8-precision cosine re-rank. The whole pipeline —
# codebook included — is expressed in-plan on BOTH engines, so the
# oracle reproduces the identical centroids with no literal passing.
# 100 TB posture: each k-means pass is a broadcast (K rows) join —
# linear scans, no wide shuffle; the probe is a semi-join on cluster id.
# ---------------------------------------------------------------------------

K_IVF = 8
IVF_ITERS = 2
NPROBE = 2
_FXP4 = "10000.0"
_DIM = 64


def _fx4_expr(a: str) -> str:
    return f"transform({a}, x -> CAST(floor(CAST(x AS DOUBLE) * {_FXP4} + 0.5) AS BIGINT))"


def _pyl2(a, b):
    """Driver-side twin of _l2_fx on collected rows: exact int squared
    L2, or None wherever the JVM fold yields NULL (either side NULL,
    length mismatch, or a NULL element poisoning the sum)."""
    if a is None or b is None or len(a) != len(b):
        return None
    d = 0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        d += (int(x) - int(y)) ** 2
    return d


def argmin_cid_pandas(cents):
    """Map-only nearest-centroid assignment column:
    ``argmin_cid_pandas(cents)("fx4")`` -> cid of the exact-int64
    argmin squared-L2 centroid, ties to the lowest cid. ``cents`` is
    the collected [(cid, [int64...] | None)] codebook — a K-bounded
    model artifact, the MLlib KMeans shape (r11, guide §4.2/§2.1: the
    old broadcast crossJoin evaluated an interpreted aggregate/zip_with
    fold per (vector, centroid) pair and shuffled the argmin; this is
    one numpy int64 matmul per Arrow batch with NO join and NO
    shuffle). Bit-identical to crossJoin + min(struct(_l2_fx, cid)),
    including the NULL edges: a NULL distance (either array NULL, a
    length mismatch, or a NULL element) sorts FIRST in Spark's
    struct-min, so when any centroid's distance is NULL for a row the
    lowest such cid wins. Exactness: components are |x| <= ~2e4
    (1e4 fixed point), so diffs^2 <= 1.6e9 and 64-dim sums <= ~1e11 —
    no int64 overflow on either path."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    resolve = _cents_resolver(cents)

    def _amin(col):
        return pd.Series(resolve(col.to_numpy()))

    _amin.__annotations__ = {"col": pd.Series, "return": pd.Series}
    return pandas_udf(_amin, "long")


def _cents_resolver(cents):
    """Build f(object-ndarray of int arrays) -> int64 cid ndarray for
    one codebook — the numpy core shared by argmin_cid_pandas (IVF)
    and the keyed PQ variant. Semantics per argmin_cid_pandas."""
    import numpy as np

    srt = sorted((int(c), None if a is None else list(a)) for c, a in cents)
    all_min = srt[0][0]
    cid_arr = {}  # length -> (np cid vector, C matrix, ||c||^2) or min-mismatch cid
    for length in {len(a) for _, a in srt if a is not None}:
        mism = [c for c, a in srt if a is None or len(a) != length]
        if mism:
            cid_arr[length] = (min(mism), None, None)
        else:
            C = np.array([a for _, a in srt], dtype=np.int64)
            cid_arr[length] = (
                np.array([c for c, _ in srt], dtype=np.int64),
                C,
                (C * C).sum(axis=1),
            )

    def _row_pick(a):
        best = None
        for c, arr in srt:
            d = _pyl2(a, arr)
            key = (0, 0, c) if d is None else (1, d, c)
            if best is None or key < best:
                best = key
        return best[2]

    def resolve(av):
        out = np.empty(len(av), dtype=np.int64)
        lens = np.fromiter(
            (len(x) if x is not None else -1 for x in av), dtype=np.int64, count=len(av)
        )
        for length in np.unique(lens):
            idx = np.nonzero(lens == length)[0]
            if length < 0:
                out[idx] = all_min  # NULL row: every dist NULL, min cid
                continue
            ent = cid_arr.get(int(length))
            if ent is None:  # no centroid of this length: all dists NULL
                out[idx] = all_min
                continue
            if ent[1] is None:  # some centroid mismatches: it wins
                out[idx] = ent[0]
                continue
            cids, C, cc = ent
            try:
                X = np.stack(av[idx].tolist()).astype(np.int64)
            except (TypeError, ValueError):  # NULL elements inside arrays
                out[idx] = [_row_pick(list(x)) for x in av[idx]]
                continue
            d = (X * X).sum(axis=1)[:, None] - 2 * (X @ C.T) + cc[None, :]
            out[idx] = cids[np.argmin(d, axis=1)]
        return out

    return resolve


def _lloyd_round_cents(df, cols, cents, dim, keyed=False):
    """ONE Lloyd round, fused: assignment + per-partition partial sums
    in a single mapInPandas pass (no join, no shuffle, no wide
    aggregate), merged driver-side into the next codebook. Returns the
    new [(cid, cfx)] list (or {key: [(cid, cfx)]} when ``keyed``).

    r11 (guide §1.2/§4.2): the per-round cost of the old shape was one
    fresh 64-expression HashAggregate codegen + an exchange + a
    separate UDF stage per round (~0.7-1.3 s of pure overhead at
    sf0.1); this is one Arrow pass per round (~0.2 s) emitting
    K-bounded (cid, cnt, sums, present) partials. The merged mean is
    floor(CAST(sum AS DOUBLE) / count) with the sum an exact Python
    int — float(int) is the same round-half-even conversion both
    engines apply to the integer sum, so the centroid values are
    bit-identical to the old Spark aggregate (_update). NULL edges
    match sum(element_at)/count(1): a NULL array or element is skipped
    per-dim by the sum but still counted by count(1); an array SHORTER
    than dim raises (mirroring ANSI element_at, which the old
    aggregate would have thrown on); longer arrays contribute their
    first dim elements. Per-dim all-NULL groups yield a NULL centroid
    component, exactly like the old floor(NULL) path."""
    import math

    import numpy as np
    import pandas as pd

    keycol = cols[0] if keyed else None
    valcol = cols[-1]
    resolvers = (
        {int(k): _cents_resolver(cs) for k, cs in cents.items() if cs}
        if keyed
        else {None: _cents_resolver(cents)}
    )

    def _partials(it):
        for pdf in it:
            av = pdf[valcol].to_numpy()
            kv = pdf[keycol].to_numpy() if keyed else np.zeros(len(av))
            rows = []
            for key in np.unique(kv) if keyed else [None]:
                res = resolvers.get(int(key) if keyed else None)
                if res is None:
                    continue
                sel = np.nonzero(kv == key)[0] if keyed else np.arange(len(av))
                sub = av[sel]
                asg = res(sub)
                clean = True
                try:
                    X = np.stack(sub.tolist()).astype(np.int64)
                    if X.ndim != 2 or X.shape[1] < dim:
                        clean = False
                    else:
                        X = X[:, :dim]
                except (TypeError, ValueError):
                    clean = False
                if clean:
                    for cid in np.unique(asg):
                        grp = X[asg == cid]
                        rows.append(
                            (
                                None if not keyed else int(key),
                                int(cid),
                                int(grp.shape[0]),
                                [int(v) for v in grp.sum(axis=0)],
                                [int(grp.shape[0])] * dim,
                            )
                        )
                    continue
                # degenerate batch: per-row accumulate with the JVM
                # sum/count NULL rules
                acc: dict = {}
                for a, cid in zip(sub, asg):
                    cnt, sums, pres = acc.setdefault(
                        int(cid), [0, [0] * dim, [0] * dim]
                    )
                    acc[int(cid)][0] = cnt + 1
                    if a is None:
                        continue
                    if len(a) < dim:
                        raise ValueError(
                            f"embedding shorter than {dim} dims in Lloyd "
                            f"update (ANSI element_at contract)"
                        )
                    for i in range(dim):
                        if a[i] is not None:
                            sums[i] += int(a[i])
                            pres[i] += 1
                for cid, (cnt, sums, pres) in acc.items():
                    rows.append(
                        (None if not keyed else int(key), cid, cnt, sums, pres)
                    )
            yield pd.DataFrame(
                rows, columns=["k", "cid", "cnt", "sums", "pres"]
            )

    part = df.select(*cols).mapInPandas(
        _partials, "k int, cid long, cnt long, sums array<long>, pres array<long>"
    )
    merged: dict = {}
    for r in part.collect():
        ent = merged.setdefault(
            (r["k"], r["cid"]), [0, [0] * dim, [0] * dim]
        )
        ent[0] += r["cnt"]
        for i in range(dim):
            ent[1][i] += r["sums"][i]
            ent[2][i] += r["pres"][i]
    out: dict = {}
    for (k, cid), (cnt, sums, pres) in sorted(merged.items(), key=lambda t: (t[0][0] or 0, t[0][1])):
        cfx = [
            int(math.floor(float(sums[i]) / cnt)) if pres[i] > 0 else None
            for i in range(dim)
        ]
        out.setdefault(k, []).append((cid, cfx))
    return out if keyed else out.get(None, [])


def argmin_cid_by_key_pandas(codebooks):
    """Keyed twin of argmin_cid_pandas for PQ: ``(m, sfx) -> cid``
    against ``codebooks[m]``; a key with no codebook yields NULL (the
    old inner broadcast join dropped those rows — downstream inner
    joins on cid drop the NULLs identically)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    resolvers = {int(m): _cents_resolver(cs) for m, cs in codebooks.items() if cs}

    def _amin(mcol, col):
        mv = mcol.to_numpy()
        av = col.to_numpy()
        out = np.full(len(av), np.nan, dtype="float64")
        for m in np.unique(mv):
            r = resolvers.get(int(m))
            if r is None:
                continue
            idx = np.nonzero(mv == m)[0]
            out[idx] = r(av[idx])
        return pd.Series(out).astype("Int64")

    _amin.__annotations__ = {"mcol": pd.Series, "col": pd.Series, "return": pd.Series}
    return pandas_udf(_amin, "long")


def ann_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with a k-means codebook and nprobe=2.

    Pipeline: seed centroids (vec_id < K) -> IVF_ITERS Lloyd rounds
    (one fused assign+partial-update Arrow pass each, merged driver-
    side) -> final assignment -> probe the query's NPROBE nearest
    centroids (pure-int driver-side sort of K rows) -> exact cosine
    re-rank of just those clusters' vectors.

    r11 restructure (guide §1.2/§4.2): the codebook lives DRIVER-SIDE
    between rounds — each round is ONE mapInPandas pass over the
    cached fx4 (_lloyd_round_cents: numpy argmin + per-partition
    partial sums, K-bounded partial rows collected and merged — the
    MLlib KMeans shape). The old lazy-fused loop paid 2 shuffle stages
    + an AQE replan + fresh 64-expression aggregate codegen per round
    plus interpreted aggregate/zip_with folds per (vector, centroid)
    pair; now each round is one Arrow pass + a tiny collect, and the
    final plan has NO join before the re-rank. Assignments, centroid
    means, probes, and the re-rank are bit-identical to the joined
    formulation (argmin_cid_pandas and _lloyd_round_cents docstrings
    carry the NULL-edge and float(int) arguments). Construction now
    runs real jobs (the Lloyd rounds' collects)."""
    emb = load_table(spark, sf_dir, "embeddings")
    fx4 = emb.select(
        "vec_id", "label", F.expr(_fx4_expr("embedding")).alias("fx4")
    ).cache()

    seed_rows = (
        fx4.filter(
            (F.col("vec_id") < K_IVF) | (F.col("vec_id") == QUERY_VEC_ID)
        )
        .select(F.col("vec_id").alias("cid"), F.col("fx4").alias("cfx"))
        .collect()
    )
    cents = [
        (r["cid"], None if r["cfx"] is None else list(r["cfx"]))
        for r in seed_rows
        if r["cid"] < K_IVF
    ]
    qfx4s = [
        None if r["cfx"] is None else list(r["cfx"])
        for r in seed_rows
        if r["cid"] == QUERY_VEC_ID
    ]
    for _ in range(IVF_ITERS):
        if not cents:
            break
        cents = _lloyd_round_cents(fx4, ["fx4"], cents, _DIM)

    if cents:
        final_asg = fx4.select(
            "vec_id", argmin_cid_pandas(cents)("fx4").alias("cid")
        )
    else:  # no seed vectors: empty result, same as the joined path
        final_asg = fx4.select(
            "vec_id", F.lit(None).cast("long").alias("cid")
        ).filter(F.lit(False))

    # query's NPROBE nearest centroids: pure-int driver-side sort of K
    # collected rows — same (qdist ASC NULLS FIRST, cid ASC) order as
    # the old row_number window (qfx4 rode the seeds collect:
    # QUERY_VEC_ID < K_IVF, one fewer action)
    probed: list = []
    if qfx4s and cents:
        qfx4 = qfx4s[0]
        keyed = []
        for cid, arr in cents:
            d = _pyl2(qfx4, arr)
            keyed.append(((0, 0, cid) if d is None else (1, d, cid), cid))
        probed = [cid for _, cid in sorted(keyed)[:NPROBE]]

    cand = (
        final_asg.filter(
            F.col("cid").isin(probed) if probed else F.lit(False)
        )
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id")
    )

    qfx, qnorm, _ = _query_vec(spark, sf_dir)
    scored = _prescaled(spark, sf_dir).join(cand, "vec_id")
    cos = rdet(
        F.expr(f"CAST({_dot_fx('fx', qfx)} AS DOUBLE)") / (F.col("norm") * F.lit(qnorm)),
        6,
    )
    return (
        scored.select("vec_id", "label", cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _ivf_kmeans_sql() -> str:
    l2 = (
        "CAST(list_sum(list_transform(range(1, 65), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )
    means = ", ".join(
        f"CAST(floor(CAST(SUM(fx4[{i + 1}]) AS DOUBLE) / COUNT(*)) AS BIGINT)"
        for i in range(_DIM)
    )

    def assign_cte(name: str, cent: str) -> str:
        dist = l2.format(a="a.fx4", b="c.cfx")
        return (
            f"{name} AS (\n"
            f"  SELECT vec_id, fx4, cid FROM (\n"
            f"    SELECT a.vec_id, a.fx4, c.cid,\n"
            f"           ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY {dist}, c.cid) AS rn\n"
            f"    FROM fx4t a CROSS JOIN {cent} c) WHERE rn = 1)"
        )

    ctes = [
        f"""fx4t AS (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[], v -> CAST(floor(v * {_FXP4} + 0.5) AS BIGINT)) AS fx4
  FROM embeddings)""",
        f"cent0 AS (SELECT vec_id AS cid, fx4 AS cfx FROM fx4t WHERE vec_id < {K_IVF})",
    ]
    for it in range(IVF_ITERS):
        ctes.append(assign_cte(f"asg{it}", f"cent{it}"))
        ctes.append(f"cent{it + 1} AS (SELECT cid, [{means}] AS cfx FROM asg{it} GROUP BY cid)")
    final_cent = f"cent{IVF_ITERS}"
    qdist = l2.format(a="c.cfx", b="q.fx4")
    cos = rdet_sql(
        f"CAST({_dot_duck('e.embedding', 'q.qe')} AS DOUBLE)"
        f" / ({_norm_duck('e.embedding')} * {_norm_duck('q.qe')})",
        6,
    )
    ctes.append(assign_cte("finalasg", final_cent))
    ctes.append(
        f"""probed AS (
  SELECT cid FROM (
    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY {qdist}, c.cid) AS rn
    FROM {final_cent} c CROSS JOIN (SELECT fx4 FROM fx4t WHERE vec_id = {QUERY_VEC_ID}) q)
  WHERE rn <= {NPROBE})"""
    )
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT e.vec_id, e.label, {cos} AS cos_sim
FROM {_EMB_NZ_BARE} e
JOIN finalasg f ON e.vec_id = f.vec_id
JOIN probed p ON f.cid = p.cid
CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
WHERE e.vec_id <> {QUERY_VEC_ID}
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC) —
# the FAISS-standard memory/compute scale path for billion-vector ANN:
# split the 64-dim vector into PQ_M=4 16-dim subspaces, k-means each
# subspace to PQ_K=16 centroids (same deterministic Lloyd's as IVF),
# store each vector as 4 one-byte codes, and answer queries by summing
# 4 precomputed query-to-centroid distances per candidate (a 64-entry
# broadcast LUT — no per-pair dot product at all).
# Distances are EXACT int64 end to end (fixed-point 1e4 per component),
# so the result — including every k-means round — is bit-identical in
# DuckDB with no literal passing.
# 100 TB posture: codebook training is PQ_M independent broadcast-
# assign/tiny-agg loops; encoding is a map-only pass; the query scan is
# linear with 4 broadcast hash joins against 16-row LUTs and a global
# top-k (TakeOrderedAndProject) — nothing shuffles the big side.
# ---------------------------------------------------------------------------

PQ_M = 4
PQ_SUBDIM = _DIM // PQ_M  # 16
PQ_K = 16
PQ_ITERS = 2


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k nearest neighbors of the query vector by PQ/ADC
    approximate squared-L2 (exact int64 arithmetic; ascending distance,
    vec_id tie-break).

    All PQ_M subspaces train in ONE long-format pass: rows are
    (vec_id, m, subvector), the codebook is (m, cid, centroid), and
    each Lloyd round is a single broadcast join + argmin + tiny mean
    aggregate covering every subspace at once — PQ_ITERS+1 assignment
    stages total instead of PQ_M*(PQ_ITERS+1), and the ADC probe is one
    broadcast LUT join + per-vector sum instead of PQ_M chained joins.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    fx = emb.select(
        "vec_id", "label", F.expr(_fx4_expr("embedding")).alias("fv")
    ).cache()
    subs = fx.select(
        "vec_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(m).alias("m"),
                    F.expr(
                        f"slice(fv, {m * PQ_SUBDIM + 1}, {PQ_SUBDIM})"
                    ).alias("sfx"),
                )
                for m in range(PQ_M)
            ])
        ).alias("s"),
    ).select("vec_id", "s.m", "s.sfx").cache()

    # r11 restructure (guide §1.2/§4.2, the ann_topk_ivf_kmeans shape):
    # the 4 subspace codebooks live DRIVER-SIDE between rounds — each
    # round collects the (m, cid) centroid rows (<= PQ_M*PQ_K = 64, a
    # bounded model artifact) and assignment is a map-only Arrow
    # matmul per subspace (argmin_cid_by_key_pandas) with NO broadcast
    # join and NO update-side join-back (the assign output carries sfx
    # through). Centroid values still come from the unchanged Spark
    # floor-mean aggregate; the query LUT is computed driver-side in
    # pure int (same _l2_fx semantics incl. NULL on length mismatch)
    # and re-enters the plan as a literal 64-row broadcast frame, so
    # codes/adist/top-k are bit-identical to the joined formulation.
    # Construction now runs real jobs (the codebook collects).
    seed_rows = subs.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("cid"), F.col("sfx").alias("cfx")
    ).collect()
    cb: dict = {}
    for r in seed_rows:
        cb.setdefault(int(r["m"]), []).append(
            (r["cid"], None if r["cfx"] is None else list(r["cfx"]))
        )
    # qsubs ride the seeds collect (QUERY_VEC_ID < PQ_K)
    qrows = {
        int(r["m"]): None if r["cfx"] is None else list(r["cfx"])
        for r in seed_rows
        if r["cid"] == QUERY_VEC_ID
    }
    for _ in range(PQ_ITERS):
        if not cb:
            break
        cb = _lloyd_round_cents(subs, ["m", "sfx"], cb, PQ_SUBDIM, keyed=True)

    if cb:
        # asNondeterministic stops Catalyst pushing the lut join's
        # isnotnull(cid) below this Project, which re-evaluated the
        # whole UDF a second time inside the pushed Filter (the
        # function IS deterministic; the mark is pure plan hygiene —
        # one ArrowEvalPython instead of two stacked ones)
        codes = subs.select(
            "vec_id",
            "m",
            argmin_cid_by_key_pandas(cb)
            .asNondeterministic()("m", "sfx")
            .alias("cid"),
        )
    else:  # no seed vectors: empty result, same as the joined path
        codes = subs.select(
            "vec_id", "m", F.lit(None).cast("long").alias("cid")
        ).filter(F.lit(False))

    # driver-side query LUT: qd = _l2_fx(cfx, qsfx) in pure int (exact;
    # None wherever the JVM fold is NULL); qrows came from the seeds
    # collect above
    lut_rows = [
        (m, cid, _pyl2(arr, qrows[m]))
        for m, cs in sorted(cb.items())
        if m in qrows
        for cid, arr in cs
    ]
    if lut_rows:
        lut = spark.createDataFrame(lut_rows, "m int, cid long, qd long")
    else:
        lut = spark.createDataFrame([], "m int, cid long, qd long")
    adist = (
        codes.join(F.broadcast(lut), ["m", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("qd").cast("long").alias("adist"))
    )
    return (
        adist.join(fx.select("vec_id", "label"), "vec_id")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", "adist")
        .orderBy(F.asc("adist"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _pq_sql() -> str:
    sub_l2 = (
        "CAST(list_sum(list_transform(range(1, {d} + 1), "
        "i -> ({{a}}[i] - {{b}}[i]) * ({{a}}[i] - {{b}}[i]))) AS BIGINT)"
    ).format(d=PQ_SUBDIM)
    means = ", ".join(
        f"CAST(floor(CAST(SUM(fx4[{i + 1}]) AS DOUBLE) / COUNT(*)) AS BIGINT)"
        for i in range(PQ_SUBDIM)
    )

    def assign_cte(name: str, sub: str, cent: str) -> str:
        dist = sub_l2.format(a="a.fx4", b="c.cfx")
        return (
            f"{name} AS (\n"
            f"  SELECT vec_id, fx4, cid FROM (\n"
            f"    SELECT a.vec_id, a.fx4, c.cid,\n"
            f"           ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY {dist}, c.cid) AS rn\n"
            f"    FROM {sub} a CROSS JOIN {cent} c) WHERE rn = 1)"
        )

    ctes = [
        f"""fxt AS (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[], v -> CAST(floor(v * {_FXP4} + 0.5) AS BIGINT)) AS fv
  FROM embeddings)"""
    ]
    code_joins = []
    lut_joins = []
    dist_terms = []
    for m in range(PQ_M):
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        ctes.append(
            f"sub{m} AS (SELECT vec_id, fv[{lo}:{hi}] AS fx4 FROM fxt)"
        )
        ctes.append(
            f"c{m}_0 AS (SELECT vec_id AS cid, fx4 AS cfx FROM sub{m} WHERE vec_id < {PQ_K})"
        )
        for it in range(PQ_ITERS):
            ctes.append(assign_cte(f"a{m}_{it}", f"sub{m}", f"c{m}_{it}"))
            ctes.append(
                f"c{m}_{it + 1} AS (SELECT cid, [{means}] AS cfx FROM a{m}_{it} GROUP BY cid)"
            )
        ctes.append(assign_cte(f"code{m}", f"sub{m}", f"c{m}_{PQ_ITERS}"))
        qd = sub_l2.format(a="c.cfx", b=f"q.fv[{lo}:{hi}]")
        ctes.append(
            f"lut{m} AS (SELECT c.cid, {qd} AS qd FROM c{m}_{PQ_ITERS} c "
            f"CROSS JOIN (SELECT fv FROM fxt WHERE vec_id = {QUERY_VEC_ID}) q)"
        )
        code_joins.append(f"JOIN code{m} k{m} ON e.vec_id = k{m}.vec_id")
        lut_joins.append(f"JOIN lut{m} l{m} ON k{m}.cid = l{m}.cid")
        dist_terms.append(f"l{m}.qd")
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT e.vec_id, e.label, CAST({" + ".join(dist_terms)} AS BIGINT) AS adist
FROM fxt e
{" ".join(code_joins)}
{" ".join(lut_joins)}
WHERE e.vec_id <> {QUERY_VEC_ID}
ORDER BY adist ASC, e.vec_id ASC
LIMIT {TOP_K}
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup keep-one — the embedding-space twin of
    dedup_minhash_keep: hyperplane-LSH candidate pairs at
    ``cos_sim >= COS_THRESHOLD`` -> min-label-propagation connected
    components -> keep the min vec_id per near-dup cluster.

    100 TB posture: candidates come from the banded LSH join (linear,
    never all-pairs); the component closure is per-round co-partitioned
    join + agg (see dedup._connected_components). This is how you dedup
    a corpus by semantic similarity rather than surface text.
    """
    from catme_etl_j_spark.operators.dedup import _connected_components

    pairs = ann_lsh_hyperplane_pairs(spark, sf_dir)
    nodes = load_table(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("nid"))
    labels = _connected_components(nodes, pairs.select("vec_a", "vec_b"))
    return labels.select(
        F.col("nid").alias("vec_id"),
        F.col("rep").alias("rep_id"),
        (F.col("nid") == F.col("rep")).cast("int").alias("kept"),
    )


_EMB_CC_ROUNDS = 10  # unrolled label-prop rounds; path-halving makes
# the reachable diameter ~2^K (~1000). Measured on the sf1.0 replica
# fixture: 5 rounds left 1516 components vs the 1515 fixpoint, 6
# converged; the rounds are ~free (the oracle's 4 min is all in the
# LSH pairs CTE), so 10 buys a 2^10 margin for deeper chains.


def _emb_keep_sql() -> str:
    """Oracle: same LSH pairs wrapped as a CTE, closure via a BOUNDED
    unrolled min-label propagation with path halving instead of the
    old ``WITH RECURSIVE`` min-reachability closure (VERDICT r8 #2:
    that closure materialized O(|component|^2) reach rows and re-
    expanded the LSH chain on the sf1.0 replica fixture — 35+ min of
    un-interruptible DuckDB while the Spark side finished in 184 s).

    Each round k: m_{k+1}(v) = least(m_k(v), min over in-neighbors of
    m_k(u), m_k(m_k(v))). The rep-of-rep shortcut halves label paths,
    so {_EMB_CC_ROUNDS} rounds reach the fixpoint for any component of
    diameter <= ~2^{_EMB_CC_ROUNDS} — and the Spark side's fixpoint
    loop computes the identical min-in-component labelling, so the
    hash gate compares two independently-converged results. Every
    round is AS MATERIALIZED (convention #11: each references the
    previous round three times)."""
    base = _lsh_sql()
    rounds = []
    for k in range(_EMB_CC_ROUNDS):
        rounds.append(f"""
r{k + 1} AS MATERIALIZED (
  SELECT r.node,
         LEAST(r.m,
               COALESCE(nb.nm, r.m),
               COALESCE(pp.m, r.m)) AS m
  FROM r{k} r
  LEFT JOIN (SELECT bi.b AS node, MIN(r2.m) AS nm
             FROM bi JOIN r{k} r2 ON bi.a = r2.node
             GROUP BY bi.b) nb ON nb.node = r.node
  LEFT JOIN r{k} pp ON pp.node = r.m)""")
    # the pairs stage is CTE-free (see _lsh_sql: DuckDB materialized-
    # CTE scans are single-threaded, so it inlines everything); wrap
    # it whole. pairs/bi/r{k} MATERIALIZED is fine — they are
    # |pairs|- and |vectors|-sized, not candidate-sized.
    return f"""
WITH pairs AS MATERIALIZED ({base}),
bi AS MATERIALIZED (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION ALL
  SELECT vec_b, vec_a FROM pairs),
r0 AS MATERIALIZED (SELECT vec_id AS node, vec_id AS m FROM embeddings),
{",".join(rounds)}
SELECT node AS vec_id, m AS rep_id,
       CAST(CASE WHEN node = m THEN 1 ELSE 0 END AS INT) AS kept
FROM r{_EMB_CC_ROUNDS}
"""


def _query_buckets(fx: list[int]) -> list[int]:
    """The query vector's LSH band buckets from its fxp components
    (exact int64 arithmetic — identical to what both engines compute
    in-plan). Pure function: no Spark job."""
    out = []
    for b in range(LSH_BANDS):
        bucket = 0
        for r in range(LSH_ROWS):
            plane = PLANES[b * LSH_ROWS + r]
            if sum(p * x for p, x in zip(plane, fx)) > 0:
                bucket += 1 << r
        out.append(bucket)
    return out


def ann_lsh_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval, the production ANN shape: stage 1 filters
    to vectors sharing at least one hyperplane-LSH band bucket with
    the query (a pure scan filter — no self-join, no index build);
    stage 2 exact-cosine re-ranks ONLY the candidates and takes the
    top-k. At 100 TB stage 1 is a partition-prunable bucket lookup
    (store vectors bucketed by band hash) and stage 2 touches a few
    thousand rows.
    """
    fx, _ = _query_fx(spark, sf_dir)  # one key lookup serves all three
    qfx, qnorm, qbuckets = _fx_literal(fx), _fx_norm(fx), _query_buckets(fx)
    emb = _prescaled(spark, sf_dir).filter(F.col("vec_id") != QUERY_VEC_ID)
    cand_cond = None
    for b in range(LSH_BANDS):
        c = F.expr(_band_expr_spark(b)).cast("long") == qbuckets[b]
        cand_cond = c if cand_cond is None else (cand_cond | c)
    cos = rdet(
        F.expr(f"CAST({_dot_fx('fx', qfx)} AS DOUBLE)") / (F.col("norm") * F.lit(qnorm)),
        6,
    )
    return (
        emb.filter(cand_cond)
        .select("vec_id", cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _lsh_rerank_sql() -> str:
    def plane_dot(j: int, col: str) -> str:
        lits = ", ".join(str(v) for v in PLANES[j])
        return (
            f"CAST(list_sum(list_transform(range(1, 65), "
            f"i -> {col}[i] * ([{lits}])[i])) AS BIGINT)"
        )

    def band(b: int, col: str) -> str:
        return " + ".join(
            f"(CASE WHEN {plane_dot(b * LSH_ROWS + r, col)} > 0 THEN {1 << r} ELSE 0 END)"
            for r in range(LSH_ROWS)
        )

    match = " OR ".join(
        f"({band(b, 'x.fx')}) = ({band(b, 'q.qfx')})" for b in range(LSH_BANDS)
    )
    cos = rdet_sql(
        "CAST(list_sum(list_transform(range(1, 65), i -> x.fx[i] * q.qfx[i])) AS BIGINT)"
        " / (x.norm * q.qnorm)",
        6,
    )
    return f"""
WITH fxe AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], v -> CAST(floor(v * {_FXP} + 0.5) AS BIGINT)) AS fx
  FROM {_EMB_NZ}),
fxn AS (
  SELECT vec_id, fx,
         sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> fx[i] * fx[i])) AS BIGINT) AS DOUBLE)) AS norm
  FROM fxe),
q AS (SELECT fx AS qfx, norm AS qnorm FROM fxn WHERE vec_id = {QUERY_VEC_ID})
SELECT x.vec_id, {cos} AS cos_sim
FROM fxn x CROSS JOIN q
WHERE x.vec_id <> {QUERY_VEC_ID} AND ({match})
ORDER BY cos_sim DESC, x.vec_id ASC
LIMIT {TOP_K}
"""


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF (label-restricted) top-k against the exact
    brute-force top-k — the evaluation loop every ANN deployment needs
    before trading recall for scan cost. One row: k, overlap count,
    recall. Both candidate lists are tiny (k rows), so the overlap
    join is trivially broadcast; the heavy lifting is the two scans,
    which at 100 TB are exactly the production ANN paths under test.
    """
    bf = ann_topk_bruteforce(spark, sf_dir).select("vec_id")
    ivf = ann_topk_ivf(spark, sf_dir).select("vec_id")
    overlap = bf.join(ivf, "vec_id").agg(F.count("*").alias("n_overlap"))
    return overlap.select(
        F.lit(TOP_K).cast("int").alias("k"),
        "n_overlap",
        rdet(F.col("n_overlap").cast("double") / F.lit(float(TOP_K)), 4).alias(
            "recall_at_k"
        ),
    )


def _ivf_recall_sql() -> str:
    recall = rdet_sql(f"CAST(COUNT(*) AS DOUBLE) / {float(TOP_K)}", 4)
    return f"""
WITH bf AS ({_topk_sql()}),
ivf AS ({_topk_sql(" AND label = qlabel")})
SELECT CAST({TOP_K} AS INT) AS k, COUNT(*) AS n_overlap,
       {recall} AS recall_at_k
FROM bf JOIN ivf USING (vec_id)
"""


_MMR_N = 20  # stage-1 candidate pool (distributed retrieval)
_MMR_K = 5  # diversified picks (bounded driver-side rerank)
# lambda = 0.7 expressed as INTEGER weights (score x10 = 7*rel - 3*maxsim)
# so the greedy argmax is pure int64 arithmetic — engine-identical.


def _rel_e6(qfx: str, qnorm: float) -> str:
    return (
        f"CAST(floor(CAST({_dot_fx('fx', qfx)} AS DOUBLE) / (norm * {qnorm!r}) "
        f"* 1000000.0 + 0.5) AS BIGINT)"
    )


def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k: stage 1 retrieves
    the 20 most cosine-similar candidates DISTRIBUTED (per-partition
    heap + driver merge, same shape as ann_topk_bruteforce); stage 2
    greedily picks 5 maximizing ``0.7*relevance - 0.3*max_sim_to_
    selected`` over the collected candidates. The rerank is driver-side
    BY DESIGN: the candidate set is bounded at N=20 regardless of
    corpus size — this is the production retrieve-then-rerank shape
    (the 100 TB scan never sees the quadratic term; only the N×N
    candidate block does, and it is computed in-plan before collect).

    Determinism: rel/sim are fixed-point int64 (1e6) from the exact
    fxp dot products; the MMR score is ``7*rel_e6 - 3*max_sim_e6``
    (integers), tie-broken by vec_id — so Spark's greedy loop and the
    oracle's unrolled 5-step SQL agree bit-for-bit.
    """
    qfx, qnorm, _ = _query_vec(spark, sf_dir)
    emb = _prescaled(spark, sf_dir).filter(F.col("vec_id") != QUERY_VEC_ID)
    cand = (
        emb.select("vec_id", "fx", "norm", F.expr(_rel_e6(qfx, qnorm)).alias("rel_e6"))
        .orderBy(F.desc("rel_e6"), F.asc("vec_id"))
        .limit(_MMR_N)
    )
    a = cand.select(
        F.col("vec_id").alias("av"), F.col("fx").alias("afx"), F.col("norm").alias("an")
    )
    b = cand.select(
        F.col("vec_id").alias("bv"), F.col("fx").alias("bfx"), F.col("norm").alias("bn")
    )
    sims_df = (
        a.join(b, F.col("av") != F.col("bv"))
        .select(
            "av",
            "bv",
            F.expr(
                f"CAST(floor(CAST({_dot_fx('afx', 'bfx')} AS DOUBLE) / (an * bn) "
                f"* 1000000.0 + 0.5) AS BIGINT)"
            ).alias("sim_e6"),
        )
    )
    rel = {r["vec_id"]: r["rel_e6"] for r in cand.select("vec_id", "rel_e6").collect()}
    sim = {(r["av"], r["bv"]): r["sim_e6"] for r in sims_df.collect()}
    selected: list[tuple[int, int, int, int]] = []  # (rank, vid, rel, score)
    chosen: list[int] = []
    for rank in range(1, _MMR_K + 1):
        best = None
        for vid, r6 in rel.items():
            if vid in chosen:
                continue
            max_sim = max((sim[(vid, s)] for s in chosen), default=0)
            score = 7 * r6 - 3 * max_sim
            key = (-score, vid)
            if best is None or key < best[0]:
                best = (key, vid, r6, score)
        _, vid, r6, score = best
        chosen.append(vid)
        selected.append((rank, vid, r6, score))
    return spark.createDataFrame(
        selected, "rank INT, vec_id BIGINT, rel_e6 BIGINT, mmr_score_e6x10 BIGINT"
    )


def _mmr_sql() -> str:
    """Unrolled 5-step greedy (recursion-free): each CTE picks the
    argmax of 7*rel - 3*GREATEST(sims to all prior picks)."""
    rel = (
        f"CAST(floor(CAST({_dot_duck('embedding', 'qe')} AS DOUBLE) / "
        f"({_norm_duck('embedding')} * {_norm_duck('qe')}) * 1000000.0 + 0.5) AS BIGINT)"
    )
    pair = (
        f"CAST(floor(CAST({_dot_duck('a.embedding', 'b.embedding')} AS DOUBLE) / "
        f"({_norm_duck('a.embedding')} * {_norm_duck('b.embedding')}) "
        f"* 1000000.0 + 0.5) AS BIGINT)"
    )
    steps = []
    for i in range(2, _MMR_K + 1):
        prior = list(range(1, i))
        tables = ", ".join([f"s{j}" for j in prior] + [f"sims p{j}" for j in prior])
        on = " AND ".join(
            f"p{j}.av = c.vec_id AND p{j}.bv = s{j}.vec_id" for j in prior
        )
        not_in = ", ".join(f"s{j}.vec_id" for j in prior)
        greatest = (
            f"p{prior[0]}.sim_e6"
            if len(prior) == 1
            else "GREATEST(" + ", ".join(f"p{j}.sim_e6" for j in prior) + ")"
        )
        steps.append(
            f"s{i} AS (\n"
            f"  SELECT c.vec_id, c.rel_e6, 7 * c.rel_e6 - 3 * {greatest} AS score\n"
            f"  FROM cand c, {tables}\n"
            f"  WHERE {on} AND c.vec_id NOT IN ({not_in})\n"
            f"  ORDER BY score DESC, c.vec_id LIMIT 1\n)"
        )
    arms = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INTEGER) AS rank, vec_id, rel_e6, score AS mmr_score_e6x10 FROM s{i}"
        for i in range(1, _MMR_K + 1)
    )
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
  SELECT vec_id, embedding, {rel} AS rel_e6
  FROM {_EMB_NZ}, q WHERE vec_id <> {QUERY_VEC_ID}
  ORDER BY rel_e6 DESC, vec_id LIMIT {_MMR_N}
),
sims AS (
  SELECT a.vec_id AS av, b.vec_id AS bv, {pair} AS sim_e6
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
s1 AS (
  SELECT vec_id, rel_e6, 7 * rel_e6 AS score
  FROM cand ORDER BY rel_e6 DESC, vec_id LIMIT 1
),
{",".join(steps)}
{arms}
ORDER BY rank
"""


MRR_Q = 20       # vec_id < MRR_Q play the query set
MRR_DEPTH = 50   # MRR@50: no same-label hit in depth -> RR = 0


def rank_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Reciprocal Rank of exact cosine retrieval, labels as
    ground truth: for each of the {MRR_Q} query vectors, RR = 1/rank
    of the FIRST same-label neighbor within depth {MRR_DEPTH} (0 if
    none) — the second standard IR eval metric next to rank_ndcg_eval
    (which grades one lexical ranking; this grades the vector side,
    completing the hybrid-retrieval evaluation loop).

    Determinism: the same fixed-point cosine + (cos DESC, vec_id)
    rank pinning as every ANN path; RR is integer 1e9 DIV rank and
    MRR is the exact int sum DIV n_queries (positive ints — conv #7).
    Shape: one corpus scan against the broadcast query batch (the
    batched-retrieval plan of ann_batch_topk), one per-query window.
    """
    from pyspark.sql import Window as W

    pre = _prescaled(spark, sf_dir)
    queries = pre.filter(F.col("vec_id") < MRR_Q).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("fx").alias("qfx"),
        F.col("norm").alias("qnorm"),
    )
    cos = rdet(
        F.expr(f"CAST({_dot_fx('fx', 'qfx')} AS DOUBLE)")
        / (F.col("norm") * F.col("qnorm")),
        6,
    )
    wq = W.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    firsts = (
        pre.select("vec_id", "label", "fx", "norm")
        .crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "qlabel", "vec_id", "label", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= MRR_DEPTH)
        .groupBy("qid")
        .agg(
            F.min(F.when(F.col("label") == F.col("qlabel"), F.col("rank")))
            .alias("first_hit_rank")
        )
    )
    return firsts.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum((F.col("first_hit_rank").isNotNull()).cast("long"))
        .cast("long")
        .alias("n_hit"),
        F.expr(
            "CAST(SUM(COALESCE(1000000000 DIV first_hit_rank, 0)) AS BIGINT)"
            " DIV COUNT(*)"
        ).alias("mrr_e9"),
    )


def _mrr_sql() -> str:
    cos = rdet_sql(
        f"CAST({_dot_duck('e.embedding', 'q.embedding')} AS DOUBLE)"
        f" / ({_norm_duck('e.embedding')} * {_norm_duck('q.embedding')})",
        6,
    )
    return f"""
WITH scored AS (
  SELECT q.vec_id AS qid, q.label AS qlabel, e.vec_id, e.label,
         {cos} AS cos_sim
  FROM {_EMB_NZ_BARE} e, {_EMB_NZ_BARE} q
  WHERE q.vec_id < {MRR_Q} AND e.vec_id <> q.vec_id),
ranked AS (
  SELECT qid, qlabel, label,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored),
firsts AS (
  SELECT qid, MIN(CASE WHEN label = qlabel THEN rank END) AS first_hit_rank
  FROM ranked WHERE rank <= {MRR_DEPTH} GROUP BY qid)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN first_hit_rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(CAST(SUM(COALESCE(1000000000 // first_hit_rank, 0)) AS BIGINT) // COUNT(*) AS BIGINT) AS mrr_e9
FROM firsts
"""


# ---------------------------------------------------------------------------
# Matryoshka truncation eval (Kusupati et al., "Matryoshka Representation
# Learning", NeurIPS 2022 — public): MRL-trained embeddings keep most of
# their retrieval quality when truncated to a prefix of the dimensions,
# so an index can store d=16 prefixes and rerank with full vectors. The
# question a 100 TB deployment asks before committing to that layout is
# exactly this operator: recall@k of prefix-truncated search vs the
# full-dimension exact top-k.
# ---------------------------------------------------------------------------

MRL_DIMS = (16, 32, 64)


def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of dimension-truncated cosine search against the
    full-dimension exact top-k, per truncation prefix (16/32/64 of the
    64-dim embeddings; d=64 is the self-recall sanity row = 100%).

    ONE pass over the prescaled embeddings computes all three
    truncated cosines (prefix slices of the SAME fxp array — the
    Matryoshka property that prefixes are themselves embeddings);
    the frame is localCheckpoint'd so the per-dim top-k pulls
    (TakeOrderedAndProject — per-partition top-k merges, no global
    sort) read the materialized frame instead of rescanning parquet.
    Recall joins each truncated top-k against the full-dim top-k ids.
    (The synthetic embeddings are random, not MRL-trained, so small
    prefixes score LOW — 10%@16 / 50%@32 at sf0.01 — which is exactly
    what this eval exists to reveal before committing to a truncated
    index layout.)

    Determinism: fixed-point int64 dots (convention #4), rdet-1e6
    cosines, (cos DESC, vec_id ASC) tie-breaks (convention #6). A
    zero-norm prefix NULLs its cosine on BOTH engines (convention #9;
    Spark ANSI would throw on /0) and sorts last (explicit NULLS LAST
    in the oracle — DuckDB DESC defaults NULLS FIRST).
    """
    from functools import reduce

    qfx, _ = _query_fx(spark, sf_dir)
    emb = _prescaled(spark, sf_dir).filter(F.col("vec_id") != QUERY_VEC_ID)
    sel = [F.col("vec_id")]
    for d in MRL_DIMS:
        q_d = _fx_literal(qfx[:d])
        qn_d = _fx_norm(qfx[:d])
        fx_d = f"slice(fx, 1, {d})"
        if qn_d == 0.0:
            sel.append(F.lit(None).cast("double").alias(f"cos_{d}"))
            continue
        cos = rdet(
            F.expr(f"CAST({_dot_fx(fx_d, q_d)} AS DOUBLE)")
            / (F.expr(_norm_fx(fx_d)) * F.lit(qn_d)),
            6,
        )
        sel.append(
            F.when(F.expr(f"{_dot_fx(fx_d, fx_d)} = 0"), F.lit(None).cast("double"))
            .otherwise(cos)
            .alias(f"cos_{d}")
        )
    scored = emb.select(*sel).localCheckpoint()
    full = (
        scored.orderBy(F.desc(f"cos_{MRL_DIMS[-1]}"), F.asc("vec_id"))
        .limit(TOP_K)
        .select(F.col("vec_id").alias("f_id"))
    )
    frames = []
    for d in MRL_DIMS:
        topd = (
            scored.orderBy(F.desc(f"cos_{d}"), F.asc("vec_id"))
            .limit(TOP_K)
            .select(F.col("vec_id").alias("d_id"))
        )
        hits = topd.join(full, topd["d_id"] == full["f_id"], "left")
        frames.append(
            hits.agg(
                F.count("*").cast("long").alias("n_topk"),
                F.expr("coalesce(sum(CAST(f_id IS NOT NULL AS INT)), 0)")
                .cast("long")
                .alias("n_hits"),
            ).withColumn("dim", F.lit(d))
        )
    out = reduce(lambda a, b: a.unionByName(b), frames)
    return out.select(
        "dim",
        "n_topk",
        "n_hits",
        F.expr(
            "CASE WHEN n_topk = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE floor(CAST(n_hits AS DOUBLE) * 100.0 / n_topk * 100.0 + 0.5)"
            " / 100.0 END"
        ).alias("recall_pct"),
    ).orderBy("dim")


def _mrl_sql() -> str:
    cos_cols = []
    for d in MRL_DIMS:
        a, q = f"(embedding[1:{d}])", f"(qe[1:{d}])"
        core = rdet_sql(
            f"CAST({_dot_duck(a, q)} AS DOUBLE)"
            f" / ({_norm_duck(a)} * {_norm_duck(q)})",
            6,
        )
        cos_cols.append(
            f"CASE WHEN {_dot_duck(a, a)} = 0 OR {_dot_duck(q, q)} = 0"
            f" THEN CAST(NULL AS DOUBLE) ELSE {core} END AS cos_{d}"
        )
    tops = ",\n".join(
        f"t{d} AS (SELECT vec_id FROM scored"
        f" ORDER BY cos_{d} DESC NULLS LAST, vec_id ASC LIMIT {TOP_K})"
        for d in MRL_DIMS
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT {d} AS dim, CAST(COUNT(*) AS BIGINT) AS n_topk,"
        f" CAST(COALESCE(SUM(CAST(f.vec_id IS NOT NULL AS INT)), 0) AS BIGINT)"
        f" AS n_hits"
        f" FROM t{d} d LEFT JOIN t{MRL_DIMS[-1]} f ON d.vec_id = f.vec_id"
        for d in MRL_DIMS
    )
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  SELECT vec_id, {", ".join(cos_cols)}
  FROM {_EMB_NZ}, q WHERE vec_id <> {QUERY_VEC_ID}),
{tops},
rows3 AS (
{rows})
SELECT dim, n_topk, n_hits,
       CASE WHEN n_topk = 0 THEN CAST(NULL AS DOUBLE)
            ELSE floor(CAST(n_hits AS DOUBLE) * 100.0 / n_topk * 100.0 + 0.5)
              / 100.0 END AS recall_pct
FROM rows3 ORDER BY dim
"""


QUERIES = {
    "rank_mrr_eval": rank_mrr_eval,
    "ann_matryoshka_recall": ann_matryoshka_recall,
    "ann_topk_bruteforce": ann_topk_bruteforce,
    "ann_filtered_topk": ann_filtered_topk,
    "ann_batch_topk": ann_batch_topk,
    "ann_topk_ivf": ann_topk_ivf,
    "ann_topk_ivf_kmeans": ann_topk_ivf_kmeans,
    "ann_pq_topk": ann_pq_topk,
    "ann_nn_within_label": ann_nn_within_label,
    "ann_lsh_hyperplane_pairs": ann_lsh_hyperplane_pairs,
    "ann_ivf_recall": ann_ivf_recall,
    "ann_lsh_rerank_topk": ann_lsh_rerank_topk,
    "ann_mmr_rerank": ann_mmr_rerank,
    "dedup_embedding_cosine": dedup_embedding_cosine,
}

ORACLES = {
    "rank_mrr_eval": _mrr_sql(),
    "ann_matryoshka_recall": _mrl_sql(),
    "ann_topk_bruteforce": _topk_sql(),
    "ann_filtered_topk": _filtered_topk_sql(),
    "ann_batch_topk": _batch_topk_sql(),
    "ann_topk_ivf": _topk_sql(" AND label = qlabel"),
    "ann_topk_ivf_kmeans": _ivf_kmeans_sql(),
    "ann_pq_topk": _pq_sql(),
    "ann_nn_within_label": _nn_within_label_sql(),
    "ann_lsh_hyperplane_pairs": _lsh_sql(),
    "ann_ivf_recall": _ivf_recall_sql(),
    "ann_lsh_rerank_topk": _lsh_rerank_sql(),
    "ann_mmr_rerank": _mmr_sql(),
    "dedup_embedding_cosine": _emb_keep_sql(),
}
