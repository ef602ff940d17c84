"""Fluent training-corpus pipeline API.

The user-facing composition surface over the corpus operators: each
stage is a lazy DataFrame transformation, so the whole chain compiles
to ONE Catalyst plan (the same plan ``corpus_e2e_funnel`` gates — a
test pins the two in agreement). Nothing executes until an action.

    from catme_etl_j_spark.pipelines import CorpusPipeline

    pipe = (
        CorpusPipeline(spark, "/data/sf1")
        .scrub_pii()
        .quality_filter(min_words=20)
        .dedup_normalized()
        .split(eval_pct=10)
        .decontaminate(n=8)
    )
    pipe.train().write.parquet(...)   # decontaminated train split
    pipe.funnel().show()              # per-source stage counts

At 100 TB: call ``materialize()`` after the expensive staging point
(mirrors corpus_e2e_funnel's single-text-pass barrier) before fanning
out to multiple consumers; on a cluster back it with persist(DISK_ONLY)
or a checkpoint dir instead of localCheckpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from catme_etl_j_spark.functions.tokens import normalized, word_ngrams, words
from catme_etl_j_spark.operators.corpus import DECON_N, EMAIL_RE, EVAL_PCT, URL_RE
from catme_etl_j_spark.session import apply_query_conf
from catme_etl_j_spark.sources.tables import load_table


class CorpusPipeline:
    """Lazy fluent builder; every stage returns a NEW pipeline (the
    underlying DataFrames are immutable, so is this)."""

    def __init__(self, spark: SparkSession, sf_dir: str, df: DataFrame | None = None):
        apply_query_conf(spark)
        self._spark = spark
        self._sf_dir = sf_dir
        self._df = (
            df
            if df is not None
            else load_table(spark, sf_dir, "documents").select(
                "doc_id", "source", "text"
            )
        )

    # -- plumbing -----------------------------------------------------

    def _with(self, df: DataFrame) -> "CorpusPipeline":
        return CorpusPipeline(self._spark, self._sf_dir, df)

    def df(self) -> DataFrame:
        """The current lazy DataFrame (doc_id, source, text, ...)."""
        return self._df

    def materialize(self) -> "CorpusPipeline":
        """Barrier: compute once, truncate lineage (localCheckpoint
        locally; swap for persist/checkpoint on a cluster)."""
        return self._with(self._df.localCheckpoint())

    # -- stages -------------------------------------------------------

    def scrub_pii(self) -> "CorpusPipeline":
        """Mask emails and URLs (RE2-safe patterns shared with the
        oracle-gated corpus_scrub_pii)."""
        scrubbed = F.regexp_replace(
            F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
        )
        return self._with(self._df.withColumn("text", scrubbed))

    def quality_filter(self, min_words: int = 20) -> "CorpusPipeline":
        n_words = F.size(words())
        return self._with(self._df.filter(n_words >= min_words))

    def dedup_normalized(self) -> "CorpusPipeline":
        """Exact dedup on the case/punct/space-normalized text; keeps
        the min doc_id per group (one fp-partitioned window)."""
        from pyspark.sql import Window

        w = Window.partitionBy("fp").orderBy("doc_id")
        staged = self._df.withColumn("fp", F.md5(normalized()))
        kept = (
            staged.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .drop("_rn", "fp")
        )
        return self._with(kept)

    def split(self, eval_pct: int = EVAL_PCT) -> "CorpusPipeline":
        """Deterministic hash split (same portable-md5 bucket as the
        gated corpus_split)."""
        bucket = F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"
        )
        return self._with(
            self._df.withColumn(
                "split", F.when(bucket < eval_pct, "eval").otherwise("train")
            )
        )

    def decontaminate(self, n: int = DECON_N) -> "CorpusPipeline":
        """Drop train docs sharing any word-n-gram with the eval split
        (requires .split() first). One gram equi-join, never a cross
        product."""
        if "split" not in self._df.columns:
            raise ValueError("call .split() before .decontaminate()")
        grams = (
            self._df.select("doc_id", "split", words().alias("w"))
            .select(
                "doc_id", "split", F.explode_outer(word_ngrams("w", n, hashed=True)).alias("gh")
            )
            .filter(F.col("gh").isNotNull())
        )
        eval_grams = grams.filter("split = 'eval'").select("gh").distinct()
        contaminated = (
            grams.filter("split = 'train'")
            .join(eval_grams, "gh")
            .select("doc_id")
            .distinct()
        )
        clean = self._df.filter("split = 'eval'").unionByName(
            self._df.filter("split = 'train'").join(
                contaminated, "doc_id", "left_anti"
            )
        )
        return self._with(clean)

    # -- outputs ------------------------------------------------------

    def _require_split(self) -> None:
        if "split" not in self._df.columns:
            raise ValueError("call .split() before selecting a split")

    def train(self) -> DataFrame:
        self._require_split()
        return self._df.filter("split = 'train'")

    def eval_split(self) -> DataFrame:
        self._require_split()
        return self._df.filter("split = 'eval'")

    def funnel(self) -> DataFrame:
        """Per-source doc counts of the CURRENT stage."""
        return self._df.groupBy("source").agg(F.count("*").alias("n_docs"))
