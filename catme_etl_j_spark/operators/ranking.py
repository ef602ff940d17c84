"""Term-weighting / retrieval ranking over the documents corpus.

TF-IDF and BM25 are the standard lexical relevance scores a training-
data pipeline uses for corpus curation (query-based filtering, topical
sampling, boilerplate down-weighting). Both are pure DataFrame
aggregation pipelines: tokenize -> per-(doc, term) counts -> corpus
statistics -> score. Joins whose build side is genuinely bounded
(per-TERM stats, the 1-row N / avgdl aggregates) are broadcast; the
per-DOCUMENT length table is NOT — it grows with the corpus, so it
joins as a plain shuffle join co-partitioned with the per-(doc, term)
stream on doc_id (both sides already hash on it; the exchange is
reused).

Cross-engine determinism: IEEE +,*,/ are bit-identical across engines;
``ln`` may differ in the last ulp, so ranks are taken over the
FIXED-POINT (1e4) score with a term/doc tie-break, and the same
fixed-point value is the displayed score — both engines round the same
way except within ~1e-11 of a rounding boundary (see
functions/numeric.py for the rationale; corpus_doc_frequency set the
precedent for ln-on-the-gate).

The reference (waldfalke/catme-etl-j) has no analytics operators
(SURVEY.md §2.4); this extends the engine's own training-data surface.

100 TB posture: the term-stats side (df per term, avgdl) is tiny and
broadcast; the per-(doc, term) aggregate map-side combines on a key
whose cardinality is bounded by sum(doc lengths); no all-pairs
anything. The BM25 probe filters to query terms BEFORE the tf
aggregate, so the big exploded stream is pruned immediately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catme_etl_j_spark.functions.numeric import rdet, rdet_sql
from catme_etl_j_spark.functions.tokens import words
from catme_etl_j_spark.sources.tables import load_table

TFIDF_TOP_PER_DOC = 5
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 20
BM25_QUERY_TERMS = ("join", "vector", "stream")


def rank_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per document by smoothed TF-IDF.

    score = tf * (ln((N + 1) / (df + 1)) + 1), reported and ranked as
    floor(score * 1e4 + 0.5) fixed-point; rank ties break on term ASC.
    """
    docs = load_table(spark, sf_dir, "documents")
    # 1-row corpus size as a broadcast aggregate — no driver-side
    # .count() action; the scalar folds into the one plan.
    ndf = docs.agg(F.count("*").alias("n_docs"))
    pairs = (
        docs.select("doc_id", F.explode(words()).alias("term"))
        .filter("term <> ''")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfs = pairs.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        pairs.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(ndf))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.expr(
                "CAST(floor(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)"
                " * 10000.0 + 0.5) AS BIGINT)"
            ).alias("score_fp"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_fp"), F.asc("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_PER_DOC)
        .select(
            "doc_id",
            "rn",
            "term",
            "tf",
            "df",
            F.expr("CAST(score_fp AS DOUBLE) / 10000.0").alias("tfidf"),
        )
    )


_TFIDF_SQL = f"""
WITH pairs AS (
  SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS term
    FROM documents) u
  WHERE term <> ''
  GROUP BY doc_id, term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
dfs AS (SELECT term, COUNT(*)::BIGINT AS df FROM pairs GROUP BY term),
scored AS (
  SELECT p.doc_id, p.term, p.tf, d.df,
         CAST(floor(p.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0)
              * 10000.0 + 0.5) AS BIGINT) AS score_fp
  FROM pairs p JOIN dfs d ON p.term = d.term, n),
ranked AS (
  SELECT doc_id, term, tf, df, score_fp,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_fp DESC, term ASC) AS rn
  FROM scored)
SELECT doc_id, rn, term, tf, df,
       CAST(score_fp AS DOUBLE) / 10000.0 AS tfidf
FROM ranked WHERE rn <= {TFIDF_TOP_PER_DOC}
"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) fixed-point scores (doc_id,
    score_fp) of every document matching the fixed query ``join vector
    stream`` — the ONE implementation both the top-k search and the
    RRF fusion consume, so the determinism-sensitive formula exists
    exactly once.

    idf uses the standard smoothed form ln(1 + (N - df + 0.5) /
    (df + 0.5)); dl/avgdl is exact rational arithmetic.

    Shape at 100 TB (r11): ONE token explode + ONE per-doc aggregate
    produce (dl, tf per query term) together; the only remaining joins
    are broadcasts of two 1-row aggregates (avgdl+df, n_docs). No
    per-document shuffle join at all — the old shape exploded the
    corpus three times and shuffle-joined dl back per doc.
    """
    docs = load_table(spark, sf_dir, "documents")
    ndf = docs.agg(F.count("*").alias("n_docs"))
    terms = BM25_QUERY_TERMS
    # r11 (guide §1.2): ONE token explode + ONE per-doc aggregate carry
    # dl and every query term's tf together — the old shape exploded
    # the corpus three times (dl, avgdl's re-expansion of dl, qtf) and
    # joined dl back per doc. per_doc has two consumers (the 1-row
    # global aggregate below and the parts stream) but is NOT cached:
    # the r12 A/B (VERDICT r11 #5, BENCH_LOG 2026-08-18) measured
    # cached == uncached within noise on all three consumers
    # (bm25 0.304 vs 0.307 s, rrf 0.345 vs 0.344, ndcg 0.443 vs 0.449
    # medians) — AQE's runtime exchange reuse already dedupes the
    # identical aggregate (the sketch_kmv_jaccard lesson), and the
    # r11-ADVICE leak (one never-unpersisted ~|docs|-row frame per
    # call in selfcheck/run_query sessions) disappears with it.
    per_doc = (
        docs.select("doc_id", F.explode(words()).alias("term"))
        .filter("term <> ''")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("dl"),
            *[
                F.count(F.when(F.col("term") == t, F.lit(1))).alias(f"tf_{i}")
                for i, t in enumerate(terms)
            ],
        )
    )
    # avgdl + per-term df in one 1-row aggregate (df = docs with tf>0,
    # exactly the old qtf->qdf count)
    glob = per_doc.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.count(F.when(F.col(f"tf_{i}") > 0, F.lit(1))).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    # parts: same (doc_id, part) multiset as the old qtf/qdf/dl join —
    # stack emits one (tf, df) row per term, tf=0 rows (term absent
    # from the doc) are filtered exactly like the old inner join
    stack_args = ", ".join(f"tf_{i}, df_{i}" for i in range(len(terms)))
    parts = (
        per_doc.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(ndf))
        .select(
            "doc_id",
            "dl",
            "avgdl",
            "n_docs",
            F.expr(f"stack({len(terms)}, {stack_args}) AS (tf, df)"),
        )
        .filter("tf > 0")
        .select(
            "doc_id",
            F.expr(
                f"ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
                f" * (tf * ({BM25_K1} + 1.0))"
                f" / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))"
            ).alias("part"),
        )
    )
    return parts.groupBy("doc_id").agg(
        F.expr("CAST(floor(SUM(part) * 10000.0 + 0.5) AS BIGINT)").alias(
            "score_fp"
        )
    )


def rank_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 docs by fixed-point BM25 score with doc_id tie-break
    (see :func:`_bm25_scored` for the formula and join strategy)."""
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score_fp"), F.asc("doc_id"))
        .limit(BM25_TOP)
        .select(
            "doc_id",
            F.expr("CAST(score_fp AS DOUBLE) / 10000.0").alias("bm25"),
        )
    )


# The BM25 CTE chain, shared verbatim by _BM25_SQL and _rrf_sql so the
# determinism-sensitive formula exists exactly once on the oracle side
# too (mirror of _bm25_scored).
_BM25_CTES = f"""toks AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS term
    FROM documents) u
  WHERE term <> ''),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
dl AS (SELECT doc_id, COUNT(*)::BIGINT AS dl FROM toks GROUP BY doc_id),
avgdl AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
qtf AS (
  SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM toks
  WHERE term IN ({", ".join("'" + t + "'" for t in BM25_QUERY_TERMS)})
  GROUP BY doc_id, term),
qdf AS (SELECT term, COUNT(*)::BIGINT AS df FROM qtf GROUP BY term),
parts AS (
  SELECT q.doc_id,
         ln(1.0 + (n.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (q.tf * ({BM25_K1} + 1.0))
           / (q.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * d.dl / a.avgdl))
           AS part
  FROM qtf q
  JOIN qdf f ON q.term = f.term
  JOIN dl d ON q.doc_id = d.doc_id, n, avgdl a),
scored AS (
  SELECT doc_id,
         CAST(floor(SUM(part) * 10000.0 + 0.5) AS BIGINT) AS score_fp
  FROM parts GROUP BY doc_id)"""

_BM25_SQL = f"""
WITH {_BM25_CTES}
SELECT doc_id, CAST(score_fp AS DOUBLE) / 10000.0 AS bm25
FROM scored ORDER BY score_fp DESC, doc_id ASC LIMIT {BM25_TOP}
"""


POSTINGS_TOP = 20


def rank_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: for the POSTINGS_TOP highest-df
    terms, the full sorted posting list (doc ids) as an array column —
    the retrieval-side data structure BM25/TF-IDF queries probe.

    Scale shape: explode -> distinct (doc, term) -> per-term aggregate
    with ``sort_array(collect_list(...))``; posting lists live one per
    term key, so the shuffle is on the term and each task materializes
    only its own terms' lists. (At web scale, cap or shard giant
    stopword postings — here the top-k selection itself bounds output.)

    Gate representation (VERDICT r7 #1): the driver's pandas
    canonicalizer cannot sort an ``array<bigint>`` cell, so the GATED
    output serializes the list as a space-joined string — a scalar,
    deterministic because both engines sort the ids first. The
    array-typed form stays available via :func:`rank_postings_array`
    for library callers.
    """
    return rank_postings_array(spark, sf_dir).select(
        "term",
        "df",
        F.array_join("postings", " ").alias("postings"),
    )


def rank_postings_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library API: the posting lists as a true ``array<bigint>``
    column (not registered in ``queries()`` — non-scalar outputs are
    banned from the gate by tests/test_operators.py's schema policy).
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select("doc_id", F.explode(words()).alias("term"))
        .filter("term <> ''")
        .distinct()
    )
    per_term = pairs.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sort_array(F.collect_list("doc_id")).alias("postings"),
    )
    return per_term.orderBy(F.desc("df"), F.asc("term")).limit(POSTINGS_TOP)


_POSTINGS_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(trim(text), ' +')) AS term
  FROM documents),
clean AS (SELECT * FROM pairs WHERE term <> '')
SELECT term, COUNT(*) AS df,
       array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings
FROM clean GROUP BY term
ORDER BY df DESC, term ASC
LIMIT {POSTINGS_TOP}
"""


RRF_K = 60  # the standard reciprocal-rank-fusion constant
RRF_TOP = 20
RRF_SCALE = 1_000_000_000  # integer 1e9 // (k + rank) — no floats at all


def _bm25_all_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every BM25-scored doc with its rank — :func:`_bm25_scored`
    without the top-k cut."""
    w = Window.orderBy(F.desc("score_fp"), F.asc("doc_id"))
    return _bm25_scored(spark, sf_dir).select(
        "doc_id", F.row_number().over(w).cast("long").alias("r_bm25")
    )


def rank_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of the lexical
    BM25 ranking and the embedding-cosine ranking for the same corpus
    (testdata aligns doc_id and vec_id 1:1) — the standard hybrid
    retrieval combiner. A doc absent from one list contributes 0 from
    that list.

    Determinism: the fused score is PURE INTEGER arithmetic —
    ``1e9 // (60 + rank)`` summed over the two lists — so no float
    ever enters the fusion; ranks themselves come from the fixed-point
    BM25 score and the fixed-point cosine with doc-id tie-breaks.

    Scale: two rankings (each already scale-shaped: see
    rank_bm25_search and ann_topk_bruteforce), one full-outer join on
    the id, a global top-20. The single-partition rank windows over
    the scored lists are the local-scale artifact; at 100 TB ranks
    come from the same per-partition top-k + merge as the ANN path.
    """
    from catme_etl_j_spark.operators.similarity import (
        QUERY_VEC_ID,
        _prescaled,
        _query_vec,
        _rel_e6,
    )

    bm25 = _bm25_all_ranks(spark, sf_dir)
    qfx, qnorm, _ = _query_vec(spark, sf_dir)
    emb = _prescaled(spark, sf_dir).filter(F.col("vec_id") != QUERY_VEC_ID)
    wc = Window.orderBy(F.desc("rel_e6"), F.asc("vec_id"))
    cos = (
        emb.select("vec_id", F.expr(_rel_e6(qfx, qnorm)).alias("rel_e6"))
        .select("vec_id", F.row_number().over(wc).cast("long").alias("r_cos"))
    )
    fused = bm25.join(
        cos, bm25.doc_id == cos.vec_id, "full_outer"
    ).select(
        F.coalesce(bm25.doc_id, cos.vec_id).alias("doc_id"),
        "r_bm25",
        "r_cos",
        (
            F.coalesce(
                F.expr(f"CAST({RRF_SCALE} DIV ({RRF_K} + r_bm25) AS BIGINT)"),
                F.lit(0),
            )
            + F.coalesce(
                F.expr(f"CAST({RRF_SCALE} DIV ({RRF_K} + r_cos) AS BIGINT)"),
                F.lit(0),
            )
        ).alias("rrf_e9"),
    )
    wf = Window.orderBy(F.desc("rrf_e9"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("rank") <= RRF_TOP)
        .select("rank", "doc_id", "r_bm25", "r_cos", "rrf_e9")
        .orderBy("rank")
    )


def _rrf_sql() -> str:
    from catme_etl_j_spark.operators.similarity import (
        _EMB_NZ,
        QUERY_VEC_ID,
        _dot_duck,
        _norm_duck,
    )

    rel = (
        f"CAST(floor(CAST({_dot_duck('embedding', 'qe')} AS DOUBLE) / "
        f"({_norm_duck('embedding')} * {_norm_duck('qe')}) * 1000000.0 + 0.5) AS BIGINT)"
    )
    q_terms = ", ".join("'" + t + "'" for t in BM25_QUERY_TERMS)
    return f"""
WITH {_BM25_CTES},
bm25 AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id ASC) AS BIGINT) AS r_bm25
  FROM scored),
qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
cos AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY {rel} DESC, vec_id ASC) AS BIGINT) AS r_cos
  FROM {_EMB_NZ}, qv WHERE vec_id <> {QUERY_VEC_ID}),
fused AS (
  SELECT COALESCE(b.doc_id, c.vec_id) AS doc_id, b.r_bm25, c.r_cos,
         COALESCE({RRF_SCALE} // ({RRF_K} + b.r_bm25), 0)
           + COALESCE({RRF_SCALE} // ({RRF_K} + c.r_cos), 0) AS rrf_e9
  FROM bm25 b FULL OUTER JOIN cos c ON b.doc_id = c.vec_id)
SELECT CAST(row_number() OVER (ORDER BY rrf_e9 DESC, doc_id ASC) AS INTEGER) AS rank,
       doc_id, r_bm25, r_cos, CAST(rrf_e9 AS BIGINT) AS rrf_e9
FROM fused
ORDER BY rrf_e9 DESC, doc_id ASC
LIMIT {RRF_TOP}
"""


import math as _math

# 1/log2(r+1) DCG discounts at 1e9 fixed-point, Python-precomputed so
# neither engine evaluates a log (the one cross-engine float risk).
_NDCG_W = tuple(
    int(_math.floor(1e9 / _math.log2(r + 1) + 0.5)) for r in range(1, BM25_TOP + 1)
)


def rank_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@k curve (k = 1..20) of the BM25 ranking against a graded
    pseudo-relevance label — the IR evaluation loop that closes the
    retrieval family: rel(d) = number of DISTINCT query terms d
    contains (0..3), gain = 2^rel - 1, discount = 1/log2(rank+1).

    Determinism: the discounts are Python-precomputed 1e9 integers
    (neither engine computes a log), gains are integer shifts, so
    both DCG and IDCG are exact int64 prefix sums; the single
    division per rank closes out nDCG. The ideal ranking orders by
    (rel DESC, doc_id) — any descending-gain order maximizes DCG, so
    the tie-break changes nothing but is pinned anyway.
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    q = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    rel = (
        docs.select("doc_id", F.explode(words()).alias("term"))
        .filter(f"term IN ({q})")
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("rel"))
    )
    warr = "array(" + ", ".join(str(w) for w in _NDCG_W) + ")"
    wr = W.orderBy("rank")
    ranked = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score_fp"), F.asc("doc_id"))
        .limit(BM25_TOP)
        .withColumn(
            "rank",
            F.row_number().over(W.orderBy(F.desc("score_fp"), F.asc("doc_id"))),
        )
        .join(rel, "doc_id")
        .withColumn("gain", F.expr("shiftleft(1, rel) - 1").cast("long"))
        .withColumn("gw", F.expr(f"gain * element_at({warr}, rank)"))
        .withColumn(
            "dcg_cum_e9",
            F.sum("gw").over(wr.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
    )
    ideal = (
        rel.orderBy(F.desc("rel"), F.asc("doc_id"))
        .limit(BM25_TOP)
        .withColumn(
            "rank", F.row_number().over(W.orderBy(F.desc("rel"), F.asc("doc_id")))
        )
        .withColumn("igain", F.expr("shiftleft(1, rel) - 1").cast("long"))
        .withColumn("igw", F.expr(f"igain * element_at({warr}, rank)"))
        .withColumn(
            "idcg_cum_e9",
            F.sum("igw").over(wr.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .select("rank", "idcg_cum_e9")
    )
    return (
        ranked.join(ideal, "rank")
        .select(
            F.col("rank").cast("long").alias("rank"),
            "doc_id",
            F.col("rel").cast("long").alias("rel"),
            F.col("dcg_cum_e9").cast("long").alias("dcg_cum_e9"),
            F.col("idcg_cum_e9").cast("long").alias("idcg_cum_e9"),
            rdet(
                F.col("dcg_cum_e9").cast("double")
                / F.col("idcg_cum_e9").cast("double"),
                6,
            ).alias("ndcg_at_k"),
        )
        .orderBy("rank")
    )


def _ndcg_sql() -> str:
    q = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    wlist = "list_value(" + ", ".join(str(w) for w in _NDCG_W) + ")"
    return f"""
WITH {_BM25_CTES},
rel AS (
  SELECT doc_id, COUNT(DISTINCT term)::BIGINT AS rel
  FROM toks WHERE term IN ({q}) GROUP BY doc_id),
ranked AS (
  SELECT s.doc_id, r.rel,
         ROW_NUMBER() OVER (ORDER BY s.score_fp DESC, s.doc_id ASC) AS rank
  FROM (SELECT * FROM scored ORDER BY score_fp DESC, doc_id ASC
        LIMIT {BM25_TOP}) s
  JOIN rel r ON s.doc_id = r.doc_id),
dcg AS (
  SELECT rank, doc_id, rel,
         CAST(SUM(((1::BIGINT << rel) - 1) * {wlist}[CAST(rank AS INTEGER)])
              OVER (ORDER BY rank
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS dcg_cum_e9
  FROM ranked),
iranked AS (
  SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id ASC) AS rank
  FROM (SELECT * FROM rel ORDER BY rel DESC, doc_id ASC LIMIT {BM25_TOP}) i),
idcg AS (
  SELECT rank,
         CAST(SUM(((1::BIGINT << rel) - 1) * {wlist}[CAST(rank AS INTEGER)])
              OVER (ORDER BY rank
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS idcg_cum_e9
  FROM iranked)
SELECT CAST(d.rank AS BIGINT) AS rank, d.doc_id, d.rel,
       d.dcg_cum_e9, i.idcg_cum_e9,
       {rdet_sql("CAST(d.dcg_cum_e9 AS DOUBLE) / CAST(i.idcg_cum_e9 AS DOUBLE)", 6)}
         AS ndcg_at_k
FROM dcg d JOIN idcg i ON d.rank = i.rank
ORDER BY rank
"""


QL_MU = 2000  # Dirichlet prior (Zhai & Lafferty 2001's standard mu)
QL_TOP = 20


def rank_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    2001) for the BM25_QUERY_TERMS query — the language-modeling
    baseline that completes the lexical triple (TF-IDF, BM25, QL).

    score(d) = sum_t ln((tf_td + mu*P(t|C)) / (dl_d + mu)), rearranged
    so the expensive part is CANDIDATE-ONLY:

        score = sum_t ln(mu*P_t)  - |q| * ln(dl_d + mu)
                + sum_{t: tf>0} [ln(tf + mu*P_t) - ln(mu*P_t)]

    The first term is a query-constant scalar, the second needs only
    each doc's length, and the delta sum touches only (doc, term) pairs
    that actually match — so at 100 TB the exploded stream is pruned to
    query terms immediately (the BM25 shape) while still scoring EVERY
    document exactly, including those with zero matches.

    Collection model P_t = (ctf_t + 1) / (|C| + V) (add-one over the
    vocabulary so an unseen query term cannot ln(0)). Determinism:
    every ln(...) term fixed-points to 1e9 BEFORE any cross-term sum
    (the PSI convention) — the scalar part sums <=|q| integers, the
    delta part sums per-doc integers — so score_e9 is exact int64 and
    ranks (score_e9 DESC, doc_id ASC) cannot flip between engines.

    Degenerate guard (convention #9; ADVICE r8): an ALL-empty-text
    corpus has c_tot + v = 0, making mu_p infinite — ln/floor/CAST
    then throws on both engines. The collection-model terms are gated
    on c_tot + v > 0 and degrade to NULL identically on both sides
    (every score_e9 NULL-propagates; the doc_id ASC tie-break alone
    then orders the top-k the same way on both engines).
    """
    docs = load_table(spark, sf_dir, "documents")
    # cached (r11, convention #12): four consumers (dl, the |C|/V
    # aggregate, ctf, the match prune) re-exploded the corpus into 7
    # documents scans in the static plan; one tokenize pass now feeds
    # them all
    toks = (
        docs.select("doc_id", F.explode(words()).alias("term"))
        .filter("term <> ''")
        .cache()
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    # |C| (total tokens) and V (vocabulary) in one bounded aggregate
    cv = toks.agg(
        F.count("*").cast("long").alias("c_tot"),
        F.countDistinct("term").cast("long").alias("v"),
    )
    terms_df = spark.createDataFrame(
        [(t,) for t in BM25_QUERY_TERMS], "term STRING"
    )
    # filter BEFORE the aggregate: a full-vocab groupBy just to keep
    # |q| rows would be a second corpus-keyed shuffle (self-review r8);
    # the only full-vocab aggregate left is cv's countDistinct, which
    # V genuinely requires
    ctf = (
        terms_df.join(
            toks.join(F.broadcast(terms_df), "term")
            .groupBy("term")
            .agg(F.count("*").alias("ctf")),
            "term",
            "left",
        )
        .select("term", F.coalesce("ctf", F.lit(0)).cast("long").alias("ctf"))
    )
    # mu * P_t as a per-term double; its ln fixed-points per term.
    # Both exprs gate on c_tot + v > 0 (all-empty corpus => NULL, not
    # an Inf->BIGINT crash; convention #9)
    mp = f"({QL_MU}.0 * (CAST(ctf + 1 AS DOUBLE) / CAST(c_tot + v AS DOUBLE)))"
    term_stats = ctf.crossJoin(F.broadcast(cv)).select(
        "term",
        F.expr(
            f"CASE WHEN c_tot + v > 0 THEN {mp} ELSE NULL END"
        ).alias("mu_p"),
        F.expr(
            f"CASE WHEN c_tot + v > 0 THEN "
            f"CAST(floor(ln({mp}) * 1000000000.0 + 0.5) AS BIGINT) "
            f"ELSE NULL END"
        ).alias("ln_mp_e9"),
    )
    base = term_stats.agg(F.sum("ln_mp_e9").cast("long").alias("base_e9"))
    # matched (doc, term) deltas: prune the exploded stream FIRST
    qtf = (
        toks.join(F.broadcast(terms_df), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    delta = (
        qtf.join(F.broadcast(term_stats), "term")
        .select(
            "doc_id",
            F.expr(
                "CAST(floor((ln(tf + mu_p) - ln(mu_p)) * 1000000000.0 + 0.5)"
                " AS BIGINT)"
            ).alias("d_e9"),
        )
        .groupBy("doc_id")
        .agg(F.sum("d_e9").cast("long").alias("delta_e9"))
    )
    nq = len(BM25_QUERY_TERMS)
    scored = (
        docs.select("doc_id")
        .join(dl, "doc_id", "left")
        .join(delta, "doc_id", "left")
        .crossJoin(F.broadcast(base))
        .select(
            "doc_id",
            F.expr(
                f"base_e9 + COALESCE(delta_e9, 0)"
                f" - CAST(floor({nq}.0 * ln(COALESCE(dl, 0) + {QL_MU}.0)"
                f" * 1000000000.0 + 0.5) AS BIGINT)"
            ).alias("score_e9"),
        )
    )
    return (
        scored.orderBy(F.desc("score_e9"), F.asc("doc_id"))
        .limit(QL_TOP)
        .select(
            "doc_id",
            "score_e9",
            F.expr("CAST(score_e9 AS DOUBLE) / 1000000000.0").alias("ql_score"),
        )
    )


def _ql_sql() -> str:
    terms = ", ".join(f"('{t}')" for t in BM25_QUERY_TERMS)
    in_list = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    mp = f"({QL_MU}.0 * (CAST(ctf + 1 AS DOUBLE) / CAST(c_tot + v AS DOUBLE)))"
    nq = len(BM25_QUERY_TERMS)
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS term
  FROM documents),
clean AS MATERIALIZED (SELECT * FROM toks WHERE term <> ''),
dl AS (SELECT doc_id, COUNT(*)::BIGINT AS dl FROM clean GROUP BY doc_id),
cv AS (SELECT COUNT(*)::BIGINT AS c_tot, COUNT(DISTINCT term)::BIGINT AS v
       FROM clean),
qterms(term) AS (VALUES {terms}),
ctf AS (
  SELECT q.term, CAST(COALESCE(c.ctf, 0) AS BIGINT) AS ctf
  FROM qterms q LEFT JOIN (
    SELECT term, COUNT(*)::BIGINT AS ctf FROM clean GROUP BY term) c
    ON q.term = c.term),
ts AS MATERIALIZED (
  SELECT term,
         CASE WHEN c_tot + v > 0 THEN {mp} ELSE NULL END AS mu_p,
         CASE WHEN c_tot + v > 0 THEN
           CAST(floor(ln({mp}) * 1000000000.0 + 0.5) AS BIGINT)
         ELSE NULL END AS ln_mp_e9
  FROM ctf, cv),
base AS (SELECT CAST(SUM(ln_mp_e9) AS BIGINT) AS base_e9 FROM ts),
qtf AS (
  SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM clean
  WHERE term IN ({in_list}) GROUP BY doc_id, term),
delta AS (
  SELECT doc_id, CAST(SUM(CAST(floor((ln(tf + mu_p) - ln(mu_p))
         * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS delta_e9
  FROM qtf JOIN ts USING (term) GROUP BY doc_id),
scored AS (
  SELECT d.doc_id,
         CAST(b.base_e9 + COALESCE(dd.delta_e9, 0)
              - CAST(floor({nq}.0 * ln(COALESCE(l.dl, 0) + {QL_MU}.0)
                     * 1000000000.0 + 0.5) AS BIGINT) AS BIGINT) AS score_e9
  FROM documents d
  LEFT JOIN dl l ON d.doc_id = l.doc_id
  LEFT JOIN delta dd ON d.doc_id = dd.doc_id, base b)
SELECT doc_id, score_e9,
       CAST(score_e9 AS DOUBLE) / 1000000000.0 AS ql_score
FROM scored ORDER BY score_e9 DESC, doc_id ASC LIMIT {QL_TOP}
"""


# --- SMART lnc.ltc pivoted cosine retrieval (Salton & Buckley 1988;
# --- Singhal 1996 SMART notation, public) -----------------------------
SMART_TOP = 20
SMART_FP = 1_000_000  # 1e6 fixed point for the log weights


def rank_smart_lnc_ltc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMART lnc.ltc cosine retrieval for the shared query ``join
    vector stream`` — the vector-space classic the probabilistic
    rankers are usually benchmarked against (BM25 = rank_bm25_search,
    Dirichlet QL = rank_query_likelihood; this completes the triad).
    Documents weigh terms log-tf with NO idf and cosine-normalize
    (``lnc``); the query weighs log-tf * idf, cosine-normalized
    (``ltc``); score = dot(d_hat, q_hat).

    Determinism: per-term weights fix-point to 1e6 BIGINTs right after
    the single ``ln`` call (same-integer inputs -> same double on both
    engines, the BM25/QL precedent); the dot product is an EXACT
    DECIMAL(38,0) sum of int64 products; norms are sqrt over exact
    integer sums. Docs with a zero denominator are filtered BEFORE the
    top-k (no NULL-ordering divergence, conventions #6/#10); the
    all-query-terms-in-every-doc corner zeroes the query norm and
    yields zero rows on both engines.

    Scale shape: the (doc, term) tf aggregate is the one corpus-sized
    pass (map-side combined; it is the inverted-index build every
    retrieval op here shares); the doc-norm reduction reuses its
    output; query-side stats are <= |query| rows and broadcast, and
    the scored join prunes to docs matching >= 1 query term before
    the TakeOrderedAndProject top-k. The (doc, term) weight frame is
    lazily localCheckpoint'd (the corpus_dsir single-pass discipline:
    on a cluster, persist(DISK_ONLY)), so the doc-norm reduction, the
    query-term match, and the df stats all read the materialized
    frame instead of re-expanding the tokenize+aggregate lineage per
    consumer — ONE corpus tokenization pass total (plan-pinned); the
    only remaining parquet reads are column-pruned count-star scans
    for N.
    """
    docs = load_table(spark, sf_dir, "documents")
    ndf = docs.agg(F.count("*").alias("n_docs"))
    toks = docs.select("doc_id", F.explode(words()).alias("term")).filter("term <> ''")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    wdt = tf.select(
        "doc_id",
        "term",
        F.expr(
            f"CAST(floor((1.0 + ln(tf)) * {SMART_FP} + 0.5) AS BIGINT)"
        ).alias("wd"),
    ).localCheckpoint(eager=False)  # the ONE corpus pass (dsir precedent):
    # dnorm, the query-term match, and the df stats all read the
    # materialized (doc, term, wd) frame instead of re-scanning the
    # corpus; on a cluster swap for persist(DISK_ONLY)
    dnorm = wdt.groupBy("doc_id").agg(
        F.sum((F.col("wd") * F.col("wd")).cast("decimal(38,0)")).alias("nd2")
    )
    q = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    qmatch = wdt.filter(f"term IN ({q})")
    qw = (
        qmatch.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(ndf))
        .select(
            "term",
            F.expr(
                f"CAST(floor(ln(CAST(n_docs AS DOUBLE) / df) * {SMART_FP}"
                " + 0.5) AS BIGINT)"
            ).alias("wq"),
        )
    )
    qnorm = qw.agg(
        F.sum((F.col("wq") * F.col("wq")).cast("decimal(38,0)")).alias("nq2")
    )
    scored = (
        qmatch.join(F.broadcast(qw), "term")
        .groupBy("doc_id")
        .agg(F.sum((F.col("wd") * F.col("wq")).cast("decimal(38,0)")).alias("num"))
        .join(dnorm, "doc_id")  # per-doc side: plain shuffle join
        .crossJoin(F.broadcast(qnorm))
        .filter("nd2 > 0 AND nq2 > 0")
        .select(
            "doc_id",
            F.expr(
                f"CAST(floor(CAST(num AS DOUBLE) / (sqrt(CAST(nd2 AS DOUBLE))"
                f" * sqrt(CAST(nq2 AS DOUBLE))) * {SMART_FP} + 0.5) AS BIGINT)"
            ).alias("s_fp"),
        )
    )
    return (
        scored.orderBy(F.desc("s_fp"), F.asc("doc_id"))
        .limit(SMART_TOP)
        .select(
            "doc_id",
            F.expr(f"CAST(s_fp AS DOUBLE) / {SMART_FP}.0").alias("smart_score"),
        )
    )


def _smart_sql() -> str:
    in_list = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS term
    FROM documents) u
  WHERE term <> ''),
n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents),
tf AS MATERIALIZED (
  SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM toks
  GROUP BY doc_id, term),
wdt AS MATERIALIZED (
  SELECT doc_id, term,
         CAST(floor((1.0 + ln(tf)) * {SMART_FP} + 0.5) AS BIGINT) AS wd
  FROM tf),
dnorm AS (
  SELECT doc_id, CAST(SUM(CAST(wd AS DECIMAL(38,0)) * wd) AS DECIMAL(38,0))
           AS nd2
  FROM wdt GROUP BY doc_id),
qmatch AS MATERIALIZED (
  SELECT * FROM wdt WHERE term IN ({in_list})),
qw AS (
  SELECT term,
         CAST(floor(ln(CAST(n.n_docs AS DOUBLE) / df) * {SMART_FP} + 0.5)
              AS BIGINT) AS wq
  FROM (SELECT term, COUNT(*)::BIGINT AS df FROM qmatch GROUP BY term), n),
qnorm AS (
  SELECT CAST(SUM(CAST(wq AS DECIMAL(38,0)) * wq) AS DECIMAL(38,0)) AS nq2
  FROM qw),
scored AS (
  SELECT m.doc_id,
         CAST(floor(CAST(num AS DOUBLE) / (sqrt(CAST(d.nd2 AS DOUBLE))
              * sqrt(CAST(q.nq2 AS DOUBLE))) * {SMART_FP} + 0.5) AS BIGINT)
           AS s_fp
  FROM (SELECT doc_id,
               CAST(SUM(CAST(wd AS DECIMAL(38,0)) * wq) AS DECIMAL(38,0))
                 AS num
        FROM qmatch JOIN qw USING (term) GROUP BY doc_id) m
  JOIN dnorm d USING (doc_id), qnorm q
  WHERE d.nd2 > 0 AND q.nq2 > 0)
SELECT doc_id, CAST(s_fp AS DOUBLE) / {SMART_FP}.0 AS smart_score
FROM scored ORDER BY s_fp DESC, doc_id ASC LIMIT {SMART_TOP}
"""


QUERIES = {
    "rank_smart_lnc_ltc": rank_smart_lnc_ltc,
    "rank_query_likelihood": rank_query_likelihood,
    "rank_tfidf_topterms": rank_tfidf_topterms,
    "rank_ndcg_eval": rank_ndcg_eval,
    "rank_bm25_search": rank_bm25_search,
    "rank_postings": rank_postings,
    "rank_rrf_fusion": rank_rrf_fusion,
}

ORACLES = {
    "rank_smart_lnc_ltc": _smart_sql(),
    "rank_query_likelihood": _ql_sql(),
    "rank_tfidf_topterms": _TFIDF_SQL,
    "rank_ndcg_eval": _ndcg_sql(),
    "rank_bm25_search": _BM25_SQL,
    "rank_postings": _POSTINGS_SQL,
    "rank_rrf_fusion": _rrf_sql(),
}
