"""Fluent vector-search API over the similarity operators.

The user-facing surface for the ANN family (the CorpusPipeline of the
vector side): a ``VectorIndex`` wraps the embeddings table and exposes
the search strategies the gated queries implement, so a pipeline can
pick exact / IVF / LSH-rerank / filtered search with one argument
instead of knowing operator internals. Every method delegates to the
SAME code the oracle gate hash-checks (tests pin the equality), and
returns a lazy DataFrame.

    from catme_etl_j_spark.vector import VectorIndex

    idx = VectorIndex(spark, "/data/sf1")
    idx.topk(10)                          # exact cosine top-k
    idx.topk(10, strategy="ivf")          # coarse-cluster probe
    idx.topk(10, strategy="lsh")          # bucket filter + exact re-rank
    idx.topk(10, where="label % 2 = 0")   # filtered search (pre-filter)
    idx.pairs(strategy="lsh")             # all near-pair candidates
    idx.recall_at_k()                     # quality audit (IVF vs exact)

Scale posture is the delegated operators': see each docstring in
operators/similarity.py and SCALE.md §Similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from catme_etl_j_spark.operators import similarity as S
from catme_etl_j_spark.session import apply_query_conf

__all__ = ["VectorIndex"]

_TOPK_STRATEGIES = ("exact", "ivf", "ivf_kmeans", "pq", "lsh")


class VectorIndex:
    """Thin, immutable facade; construction is free (lazy plans)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        apply_query_conf(spark)
        self._spark = spark
        self._sf_dir = sf_dir

    def topk(
        self, k: int = S.TOP_K, *, strategy: str = "exact", where: str | None = None
    ) -> DataFrame:
        """Top-k neighbors of the corpus query vector.

        ``where`` (a SQL predicate over vec_id/label) switches to the
        recall-complete pre-filter search; it composes only with the
        exact strategy (pre-filtering an ANN structure changes its
        recall — see ann_filtered_topk for the audit of that trade).
        """
        if where is not None:
            if strategy != "exact":
                raise ValueError(
                    "filtered search is exact-only; audit overfetch with "
                    "ann_filtered_topk before post-filtering an ANN strategy"
                )
            base = S.ann_topk_bruteforce(self._spark, self._sf_dir)
            # ann_topk_bruteforce already limited to TOP_K; recompute
            # with the predicate pushed below the top-k instead.
            qfx, qnorm, _ = S._query_vec(self._spark, self._sf_dir)
            emb = S._prescaled(self._spark, self._sf_dir).filter(
                F.col("vec_id") != S.QUERY_VEC_ID
            )
            from catme_etl_j_spark.functions.numeric import rdet

            cos = rdet(
                F.expr(f"CAST({S._dot_fx('fx', qfx)} AS DOUBLE)")
                / (F.col("norm") * F.lit(qnorm)),
                6,
            )
            return (
                emb.filter(where)
                .select("vec_id", "label", cos.alias("cos_sim"))
                .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
                .limit(k)
            )
        fns = {
            "exact": S.ann_topk_bruteforce,
            "ivf": S.ann_topk_ivf,
            "ivf_kmeans": S.ann_topk_ivf_kmeans,
            "pq": S.ann_pq_topk,
            "lsh": S.ann_lsh_rerank_topk,
        }
        if strategy not in fns:
            raise ValueError(f"strategy must be one of {_TOPK_STRATEGIES}")
        return fns[strategy](self._spark, self._sf_dir).limit(k)

    def pairs(self, *, strategy: str = "lsh") -> DataFrame:
        """Near-duplicate candidate pairs over the whole corpus."""
        fns = {
            "lsh": S.ann_lsh_hyperplane_pairs,
            "exact_within_label": S.ann_nn_within_label,
        }
        if strategy not in fns:
            raise ValueError(f"pairs strategy must be one of {sorted(fns)}")
        return fns[strategy](self._spark, self._sf_dir)

    def recall_at_k(self) -> DataFrame:
        """Recall@k of the IVF strategy against the exact scan."""
        return S.ann_ivf_recall(self._spark, self._sf_dir)
