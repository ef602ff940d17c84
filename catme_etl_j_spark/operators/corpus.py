"""Corpus-level operators for training-data pipelines.

The other half of the North-Star text surface (operators/text.py is
per-document): corpus-wide term statistics, PII scrubbing, and
deterministic corpus splitting — the operations that precede/follow
dedup in an LLM data pipeline. All built-ins, all oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from catme_etl_j_spark.functions.numeric import rdet, rdet_sql
from catme_etl_j_spark.functions.tokens import normalized, windows, word_ngrams, words
from catme_etl_j_spark.sources.tables import load_table

# RE2-safe (and Java-regex-identical) patterns — keep to character
# classes and bounded quantifiers so both engines match byte-for-byte.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
URL_RE = "https?://[A-Za-z0-9./_%?&=#-]+"

TOP_TERMS = 50
EVAL_PCT = 10  # percent of docs routed to the eval split


def corpus_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide term frequencies, top-k — the canonical map-reduce.

    Scale shape: explode -> partial count (map-side combine) -> final
    count -> per-partition top-k merge. No driver-side loops.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.explode(words()).alias("word")
    counts = docs.select(toks).groupBy("word").agg(F.count("*").alias("n"))
    return counts.orderBy(F.desc("n"), F.asc("word")).limit(TOP_TERMS)


_WORD_COUNTS_SQL = f"""
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS word FROM documents) t
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT {TOP_TERMS}
"""


def corpus_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency + smoothed IDF per term (distinct per doc)."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # one scalar action; reused as a literal
    terms = docs.select(
        "doc_id",
        F.explode(F.array_distinct(words())).alias("word"),
    )
    df_counts = terms.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    idf = rdet(F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)), 6)
    return (
        df_counts.select("word", "df", idf.alias("idf"))
        .orderBy(F.desc("df"), F.asc("word"))
        .limit(TOP_TERMS)
    )


_DOC_FREQ_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), ' +'))) AS word
  FROM documents),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
dfc AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY word)
SELECT word, df,
       {rdet_sql("ln((n.n_docs + 1.0) / (df + 1.0))", 6)} AS idf
FROM dfc, n
ORDER BY df DESC, word ASC
LIMIT {TOP_TERMS}
"""


def corpus_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails/URLs; report per-doc redaction counts.

    (The synthetic corpus contains none — the counts prove it — but the
    operator is the real production shape: two vectorized
    regexp_replace passes, zero shuffles.)
    """
    docs = load_table(spark, sf_dir, "documents")
    n_emails = F.regexp_count("text", F.lit(EMAIL_RE)).cast("long")
    n_urls = F.regexp_count("text", F.lit(URL_RE)).cast("long")
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
    )
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_urls.alias("n_urls"),
        F.md5(scrubbed).alias("scrubbed_md5"),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
    )


_SCRUB_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '{URL_RE}')) AS n_urls,
       md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'), '{URL_RE}', '<URL>', 'g')) AS scrubbed_md5,
       length(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'), '{URL_RE}', '<URL>', 'g')) AS scrubbed_len
FROM documents
"""


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/eval split.

    The portable-hash trick again (int(md5[:8],16)): the split is a pure
    function of doc_id — reproducible across engines, runs, cluster
    sizes, and insertion order, which ``rand(seed)``-based sampling is
    not (it depends on partitioning).
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"
    )
    split = F.when(bucket < EVAL_PCT, "eval").otherwise("train")
    per_doc = docs.select("doc_id", split.alias("split"))
    return per_doc.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


_SPLIT_SQL = f"""
WITH tagged AS (
  SELECT doc_id,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < {EVAL_PCT}
              THEN 'eval' ELSE 'train' END AS split
  FROM documents)
SELECT split, COUNT(*) AS n_docs, min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM tagged GROUP BY split
"""


def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation in one plan:
    PII scrub -> quality filter -> normalized dedup -> train/eval split.

    This is the composition the engine exists for; Catalyst collapses
    the whole chain into scan -> project/filter -> one aggregate
    (dedup) -> project, so it costs ONE shuffle regardless of how many
    "stages" the pipeline has conceptually.
    """
    docs = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
    )
    n_words = F.size(words("scrubbed")).cast("long")
    staged = (
        docs.select("doc_id", scrubbed.alias("scrubbed"))
        .withColumn("n_words", n_words)
        .filter(F.col("n_words") >= 20)
        .select("doc_id", "n_words", F.md5(normalized("scrubbed")).alias("fp"))
    )
    deduped = staged.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").alias("n_copies"),
        F.min("n_words").alias("n_words"),
    )
    bucket = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"
    )
    return deduped.select(
        "doc_id",
        "fp",
        "n_copies",
        "n_words",
        F.when(bucket < EVAL_PCT, "eval").otherwise("train").alias("split"),
    )


_CLEAN_PIPELINE_SQL = f"""
WITH scrub AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'), '{URL_RE}', '<URL>', 'g') AS scrubbed
  FROM documents),
staged AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(scrubbed), ' +')) AS n_words,
         md5(trim(regexp_replace(regexp_replace(lower(scrubbed), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
  FROM scrub
  WHERE len(regexp_split_to_array(trim(scrubbed), ' +')) >= 20),
deduped AS (
  SELECT fp, min(doc_id) AS doc_id, count(*) AS n_copies, min(n_words) AS n_words
  FROM staged GROUP BY fp)
SELECT doc_id, fp, n_copies, n_words,
       CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < {EVAL_PCT}
            THEN 'eval' ELSE 'train' END AS split
FROM deduped
"""


# Per-language sampling rates (percent) for the stratified sampler —
# the up/down-weighting step of corpus mixing (e.g. cap English, keep
# all of a low-resource language).
STRATA_RATES = {"en": 10, "de": 25, "fr": 25, "es": 25, "zh": 50}
STRATA_DEFAULT = 5


def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling by language.

    Each doc is kept iff its portable md5 bucket (of doc_id) falls below
    its language's rate — a pure function of (doc_id, lang), so the
    sample is reproducible across engines, runs, cluster sizes, and
    partitionings (rand(seed) sampling is none of those). Reports per-
    language totals, sampled counts, and an exact doc_id checksum of the
    kept set. One groupBy(lang) shuffle over pre-aggregated map-side
    partials; rates ride along as a CASE expression, no join.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"
    )
    rate = F.lit(STRATA_DEFAULT)
    for lang, pct in STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, pct).otherwise(rate)
    tagged = docs.select(
        "lang", "doc_id", rate.alias("rate"), (bucket < rate).alias("keep")
    )
    return tagged.groupBy("lang").agg(
        F.max("rate").cast("long").alias("rate_pct"),
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_sampled"),
        F.sum(F.when(F.col("keep"), F.col("doc_id")).otherwise(F.lit(0)))
        .cast("long")
        .alias("sampled_id_sum"),
    )


def _strata_case() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {pct}" for lang, pct in STRATA_RATES.items()
    )
    return f"CASE {whens} ELSE {STRATA_DEFAULT} END"


_SAMPLE_SQL = f"""
WITH tagged AS (
  SELECT lang, doc_id, {_strata_case()} AS rate,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
          < {_strata_case()}) AS keep
  FROM documents)
SELECT lang,
       CAST(max(rate) AS BIGINT) AS rate_pct,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(SUM(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT) AS sampled_id_sum
FROM tagged
GROUP BY lang
"""


def corpus_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation report: the rollup a pipeline operator reads
    before deciding which domains to keep, upsample, or drop — doc
    count, language diversity, exact-duplicate rate, and size stats per
    ``source``.

    One groupBy(source) over per-row expressions plus a normalized-text
    duplicate count derived from a (source, fp) pre-aggregate — two
    keyed shuffles, all map-side combining. Ratios are single divisions
    under rdet.
    """
    from catme_etl_j_spark.functions.numeric import rdet as _rdet

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "source", F.md5(F.expr("trim(lower(text))")).alias("fp")
    )
    dup = (
        fp.groupBy("source", "fp")
        .agg(F.count("*").alias("k"))
        .groupBy("source")
        .agg(
            F.sum(F.col("k") - 1).cast("long").alias("n_dups"),
        )
    )
    base = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    return base.join(dup, "source").select(
        "source",
        "n_docs",
        "n_langs",
        "n_dups",
        _rdet(F.col("n_dups").cast("double") / F.col("n_docs").cast("double"), 4).alias(
            "dup_rate"
        ),
        "min_chars",
        "max_chars",
        _rdet(F.col("sum_chars").cast("double") / F.col("n_docs").cast("double"), 2).alias(
            "mean_chars"
        ),
    )


_SOURCE_PROFILE_SQL = f"""
WITH dup AS (
  SELECT source, CAST(SUM(k - 1) AS BIGINT) AS n_dups
  FROM (SELECT source, md5(trim(lower(text))) AS fp, COUNT(*) AS k
        FROM documents GROUP BY source, fp) t
  GROUP BY source),
base AS (
  SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
         CAST(MIN(n_chars) AS BIGINT) AS min_chars,
         CAST(MAX(n_chars) AS BIGINT) AS max_chars,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM documents GROUP BY source)
SELECT b.source, b.n_docs, b.n_langs, d.n_dups,
       {rdet_sql("CAST(d.n_dups AS DOUBLE) / b.n_docs", 4)} AS dup_rate,
       b.min_chars, b.max_chars,
       {rdet_sql("CAST(b.sum_chars AS DOUBLE) / b.n_docs", 2)} AS mean_chars
FROM base b JOIN dup d ON b.source = d.source
"""


DECON_N = 8  # n-gram width for contamination matching
# The published eval-decontamination standard (GPT-3 appendix C uses
# 13-gram overlap; The Pile / PaLM follow): a SECOND registered width,
# because 8-gram flags ~every doc sharing a sentence while 13-gram only
# flags near-verbatim inclusion — a curation pipeline runs both and
# diffs them (VERDICT r9 #6).
DECON_N_STRICT = 13


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every EVAL-split document that
    shares at least one word 8-gram with any TRAIN-split document — the
    standard n-gram-overlap check run before an eval set is trusted
    (train/eval membership is the same deterministic hash split as
    corpus_split, so the whole check is a pure function of the corpus).

    Output: one row per eval doc with its 8-gram count, the number of
    distinct 8-grams also present in train, and the contaminated flag.

    Scale shape: both sides explode to (gram-hash) streams; train grams
    deduplicate with a map-side-combining DISTINCT and the overlap is
    ONE equi-join co-partitioned on the gram hash — at 100 TB this is
    exactly the production decontamination join, skew-bounded because
    an 8-gram repeating across many train docs still collapses to one
    row before the join.
    """
    return _decontaminate(spark, sf_dir, DECON_N)


def corpus_decontaminate_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_decontaminate at the PUBLISHED standard width n=13
    (GPT-3 appendix C's eval-contamination filter; VERDICT r9 #6) —
    same plan shape, same degenerate-row guard (docs under 13 words
    produce zero grams on both engines, never a descending
    ``sequence(1, 0)``)."""
    return _decontaminate(spark, sf_dir, DECON_N_STRICT)


def _decontaminate(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"
    )
    staged = docs.select(
        "doc_id",
        (bucket < EVAL_PCT).alias("is_eval"),
        words().alias("w"),
    )
    grams = staged.select(
        "doc_id", "is_eval", F.explode_outer(word_ngrams("w", n, hashed=True)).alias("gh")
    ).filter(F.col("gh").isNotNull())
    eval_grams = grams.filter("is_eval").select("doc_id", "gh").distinct()
    train_grams = grams.filter("NOT is_eval").select("gh").distinct()
    # r11 (guide §1.2): gram totals and train hits come from ONE pass
    # over eval_grams — a LEFT join against the distinct train grams
    # (1:1, so no duplication) counted in a single aggregate, instead
    # of re-running the eval explode+distinct for a separate totals
    # aggregate. Identical values: COUNT(*) is the eval gram count,
    # COUNT(hit) counts the matched ones.
    per_doc = (
        eval_grams.join(train_grams.withColumn("hit", F.lit(1)), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
        )
    )
    eval_docs = staged.filter("is_eval").select("doc_id")
    return (
        eval_docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
            (F.coalesce("n_contaminated", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


def _decon_sql(n: int) -> str:
    return f"""
WITH staged AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < {EVAL_PCT} AS is_eval,
         regexp_split_to_array(trim(text), ' +') AS w
  FROM documents),
grams AS (
  SELECT doc_id, is_eval,
         unnest(list_transform(range(1, greatest(len(w) - {n - 1}, 0) + 1),
                i -> md5(array_to_string(w[i:i+{n - 1}], ' ')))) AS gh
  FROM staged),
eval_grams AS (SELECT DISTINCT doc_id, gh FROM grams WHERE is_eval),
train_grams AS (SELECT DISTINCT gh FROM grams WHERE NOT is_eval),
hits AS (
  SELECT doc_id, COUNT(*) AS n_contaminated
  FROM eval_grams JOIN train_grams USING (gh)
  GROUP BY doc_id),
totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM eval_grams GROUP BY doc_id)
SELECT s.doc_id,
       CAST(COALESCE(t.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       CAST(CASE WHEN COALESCE(h.n_contaminated, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
FROM staged s
LEFT JOIN totals t ON s.doc_id = t.doc_id
LEFT JOIN hits h ON s.doc_id = h.doc_id
WHERE s.is_eval
"""


_DECON_SQL = _decon_sql(DECON_N)
_DECON_13_SQL = _decon_sql(DECON_N_STRICT)


# The supplied-eval-corpus variant (VERDICT r10 #5): real pipelines
# decontaminate the TRAIN side against an EXTERNAL benchmark, not
# against a hash-carved split of themselves. The registry fixture
# designates one source as the supplied benchmark; `eval_docs` lets a
# caller hand in any (doc_id, text) frame instead.
DECON_EVAL_SOURCE = "src0"


def corpus_decontaminate_vs(
    spark: SparkSession,
    sf_dir: str,
    eval_docs: DataFrame = None,
    n: int = DECON_N,
) -> DataFrame:
    """Decontaminate the training corpus against a SUPPLIED eval set:
    one row per TRAIN document with its distinct word-``n``-gram count,
    how many of those grams appear anywhere in the eval corpus, and the
    contaminated flag — the removal-candidate list a curation pipeline
    acts on before training (the direction the in-corpus hash-split
    variants above cannot express; VERDICT r10 #5).

    The registered fixture treats ``source = 'src0'`` as the external
    benchmark; every other document (unknown/NULL sources included —
    null-safe membership on both engines) is train. ``eval_docs``
    overrides the eval side with any (doc_id, text) frame.

    Scale shape: eval benchmarks are MBs where train is the 100 TB
    side, so the deduplicated eval gram set is broadcast — the overlap
    is a broadcast semi-probe of the train gram stream, never a
    shuffle of the corpus; train grams still DISTINCT map-side per doc
    before counting. Degenerate guard (conv. #9): docs under ``n``
    words produce zero grams on both engines (the CASE in
    :func:`_word_grams`), and an empty eval side flags nothing.
    """
    docs = load_table(spark, sf_dir, "documents")
    if eval_docs is None:
        eval_docs = docs.filter(F.expr(f"source <=> '{DECON_EVAL_SOURCE}'"))
    train = docs.filter(F.expr(f"NOT (source <=> '{DECON_EVAL_SOURCE}')"))
    eval_grams = _word_grams(eval_docs, n).select("gh").distinct()
    train_grams = _word_grams(train, n).select("doc_id", "gh").distinct()
    # ONE pass over the train gram stream: broadcast LEFT-probe marks
    # each distinct gram, and a single map-side-combining aggregate
    # yields both the total and the hit count (three corpus re-scans
    # in the naive totals/hits/spine form collapse to this probe plus
    # the 1-column doc spine)
    per_doc = (
        train_grams.join(
            F.broadcast(eval_grams.withColumn("hit", F.lit(1))), "gh", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_contaminated"),
        )
    )
    return (
        train.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
            (F.coalesce("n_contaminated", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


def _word_grams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, gh): every word ``n``-gram of ``text`` as a portable
    md5 hash — the shared gram shape of the decontamination family
    (same CASE guard as :func:`_decontaminate`: under-``n``-word docs
    yield zero grams, never a descending ``sequence(1, 0)``)."""
    return (
        docs.select("doc_id", words().alias("w"))
        .select("doc_id", F.explode_outer(word_ngrams("w", n, hashed=True)).alias("gh"))
        .filter(F.col("gh").isNotNull())
    )


_DECON_VS_SQL = f"""
WITH evald AS (
  SELECT doc_id, text FROM documents WHERE source IS NOT DISTINCT FROM '{DECON_EVAL_SOURCE}'),
traind AS (
  SELECT doc_id, text FROM documents WHERE source IS DISTINCT FROM '{DECON_EVAL_SOURCE}'),
eval_grams AS (
  SELECT DISTINCT gh FROM (
    SELECT unnest(list_transform(range(1, greatest(len(w) - {DECON_N - 1}, 0) + 1),
                  i -> md5(array_to_string(w[i:i+{DECON_N - 1}], ' ')))) AS gh
    FROM (SELECT regexp_split_to_array(trim(text), ' +') AS w FROM evald) t) u),
train_grams AS (
  SELECT DISTINCT doc_id, gh FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(w) - {DECON_N - 1}, 0) + 1),
                  i -> md5(array_to_string(w[i:i+{DECON_N - 1}], ' ')))) AS gh
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w FROM traind) t) u),
hits AS (
  SELECT doc_id, COUNT(*) AS n_contaminated
  FROM train_grams JOIN eval_grams USING (gh)
  GROUP BY doc_id),
totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM train_grams GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(t.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       CAST(CASE WHEN COALESCE(h.n_contaminated, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
FROM traind d
LEFT JOIN totals t ON d.doc_id = t.doc_id
LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


# ---------------------------------------------------------------------------
# DoReMi-style mixture weights (Xie et al. 2023, "DoReMi: Optimizing
# Data Mixtures Speeds Up Language Model Pretraining" — public). The
# real algorithm runs multiplicative-weights updates on domain weights
# driven by a proxy model's EXCESS LOSS per domain; the pipeline-side
# analogue here applies one multiplicative step to the token-share
# baseline using an OBSERVABLE excess proxy (normalized-text
# redundancy: duplicated docs carry no marginal signal, so redundant
# domains downweight — the first-order (1 - eta*excess) stand-in for
# exp(-eta*excess)). Integer-rational throughout so it sits on the
# hash gate like DSIR (VERDICT r9 #7).
# ---------------------------------------------------------------------------

DOREMI_ETA_PPM = 500_000  # step size: a fully-duplicated domain halves
DOREMI_SCALE = 1_000_000


def corpus_doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source training mixture weights: token-share baseline times
    one DoReMi-style multiplicative reweight against the redundancy
    excess proxy, renormalized to ppm.

    Output per source: doc/token supply, duplicate count, the excess
    proxy (ppm of docs that are normalized-text duplicates), the
    baseline token share (ppm), and the reweighted mixture weight
    (ppm) — what a sampler like corpus_sample_temperature would
    consume as its target distribution.

    Determinism: all ratios are integer DIV in ppm (convention #7:
    every operand nonnegative, so Spark DIV == DuckDB //); the score
    product routes through DECIMAL(38,0) (Spark) / HUGEINT (DuckDB)
    because tokens * 1e6 crosses int64 at ~9e12 corpus tokens —
    trivially reached at 100 TB (convention #2 discipline).

    Scale shape: ONE corpus scan map-side combines to |sources| rows
    (token sums + the (source, fingerprint) duplicate pre-aggregate —
    two keyed shuffles, both combining); the reweight arithmetic runs
    over that bounded aggregate with one unpartitioned window across
    |sources| rows (documented bounded domain, the budget_mix
    precedent).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("source", F.md5(F.expr("trim(lower(text))")).alias("fp"))
    dup = (
        fp.groupBy("source", "fp")
        .agg(F.count("*").alias("k"))
        .groupBy("source")
        .agg(F.sum(F.col("k") - 1).cast("long").alias("n_dups"))
    )
    per = (
        docs.select(
            "source",
            F.size(words()).cast("long").alias("n_tok"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .join(dup, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_dups",
            F.expr(f"n_dups * {DOREMI_SCALE} DIV n_docs").alias("excess_ppm"),
        )
    )
    scored = per.select(
        "*",
        # first-order multiplicative factor (1 - eta*excess), in ppm;
        # eta = 0.5 keeps it in [5e5, 1e6] so score stays positive
        F.expr(
            f"CAST(n_tokens AS DECIMAL(38,0)) * "
            f"({DOREMI_SCALE} - {DOREMI_ETA_PPM} * excess_ppm DIV {DOREMI_SCALE})"
        ).alias("score"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    totals = scored.select(
        "*",
        F.sum("score").over(w_all).alias("total_score"),
        F.sum("n_tokens").over(w_all).alias("total_tokens"),
    )
    return totals.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_dups",
        "excess_ppm",
        # defensive CASE (conv. #9): n_tokens >= n_docs by the split
        # convention (an empty text still counts one token), so the
        # denominators are only 0 when the frame is empty — but a DIV 0
        # would THROW under ANSI where DuckDB errors too; the guard
        # keeps both engines total
        # the baseline ratio routes through DECIMAL(38,0) like `score`
        # (ADVICE r10): n_tokens * 1e6 crosses int64 at ~9e12 corpus
        # tokens — the same design scale the score path guards against
        F.expr(
            f"CASE WHEN total_tokens > 0 THEN "
            f"CAST(CAST(n_tokens AS DECIMAL(38,0)) * {DOREMI_SCALE} "
            f"DIV total_tokens AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("baseline_ppm"),
        F.expr(
            f"CASE WHEN total_score > 0 THEN CAST(score * {DOREMI_SCALE} DIV total_score AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("weight_ppm"),
    ).orderBy("source")


_DOREMI_SQL = f"""
WITH dup AS (
  SELECT source, CAST(SUM(k - 1) AS BIGINT) AS n_dups
  FROM (SELECT source, md5(trim(lower(text))) AS fp, COUNT(*) AS k
        FROM documents GROUP BY source, fp) t
  GROUP BY source),
per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(trim(text), ' +'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
joined AS (
  SELECT p.source, p.n_docs, p.n_tokens, d.n_dups,
         n_dups * {DOREMI_SCALE} // n_docs AS excess_ppm
  FROM per p JOIN dup d ON p.source = d.source),
scored AS (
  SELECT *,
         CAST(n_tokens AS HUGEINT)
           * ({DOREMI_SCALE} - {DOREMI_ETA_PPM} * excess_ppm // {DOREMI_SCALE}) AS score
  FROM joined),
totals AS (
  SELECT *, SUM(score) OVER () AS total_score,
         SUM(n_tokens) OVER () AS total_tokens
  FROM scored)
SELECT source, n_docs, n_tokens, n_dups,
       CAST(excess_ppm AS BIGINT) AS excess_ppm,
       CAST(CASE WHEN total_tokens > 0
                 THEN CAST(n_tokens AS HUGEINT) * {DOREMI_SCALE} // total_tokens
                 ELSE 0 END AS BIGINT) AS baseline_ppm,
       CAST(CASE WHEN total_score > 0
                 THEN score * {DOREMI_SCALE} // total_score
                 ELSE 0 END AS BIGINT) AS weight_ppm
FROM totals
ORDER BY source
"""


TEMP_SCALE = 1_000_000  # fixed-point for sqrt(n) weights


def corpus_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (T=0.5, i.e. sqrt
    weighting — the standard multilingual-LM trick that up-weights rare
    languages): per-language budgets ``target = budget * sqrt(n_l) /
    sum(sqrt(n_l))`` over a half-corpus budget, then a deterministic
    per-language take of the target count ordered by the portable md5
    hash (reproducible across engines, runs, and partitionings —
    rand(seed) sampling is none of those). Output is the per-language
    summary with an exact doc_id checksum of the kept set.

    Determinism: sqrt is exact IEEE and immediately fixed-pointed at
    1e6; budgets are pure int64 arithmetic (``budget * s DIV total``).
    Exactness bound: the product ``(tot_n DIV 2) * s`` must stay under
    2^63, and s ≈ sqrt(n_l)·1e6, so with budget ≈ n/2 this holds while
    n·sqrt(n_max) < ~1.8e13 — comfortably past any tested scale but
    reached around n ≈ 1e9 docs (NOT "trillion-doc": at 1e12 docs the
    product overflows by ~3 orders of magnitude). Past that, drop
    TEMP_SCALE so that budget * max(s) < 2^63; the floor-division
    arithmetic is otherwise scale-free. Per-language take uses
    row_number over (hash, doc_id) — fully ordered, no ties.

    Scale shape: language stats are a tiny broadcast; the take is ONE
    window pass partitioned by lang (skew bounded by the largest
    language — salt the window's sort if one language dominates).
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    weights = counts.select(
        "lang",
        "n_docs",
        F.expr(
            f"CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * {TEMP_SCALE}.0 + 0.5) AS BIGINT)"
        ).alias("s"),
    )
    tot = weights.agg(F.sum("s").alias("tot_s"), F.sum("n_docs").alias("tot_n"))
    targets = (
        weights.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            F.least(
                F.expr("((tot_n DIV 2) * s) DIV tot_s"), F.col("n_docs")
            ).alias("target_n"),
        )
    )
    h = F.expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)")
    w = W.partitionBy("lang").orderBy("h", "doc_id")
    ranked = docs.withColumn("h", h).withColumn("rn", F.row_number().over(w))
    kept = ranked.join(F.broadcast(targets), "lang").filter(
        F.col("rn") <= F.col("target_n")
    )
    return kept.groupBy("lang").agg(
        F.max("n_docs").cast("long").alias("n_docs"),
        F.max("target_n").cast("long").alias("target_n"),
        F.count("*").alias("n_sampled"),
        F.sum("doc_id").cast("long").alias("sampled_id_sum"),
    )


_TEMP_SQL = f"""
WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
weights AS (
  SELECT lang, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * {TEMP_SCALE}.0 + 0.5) AS BIGINT) AS s
  FROM counts),
tot AS (SELECT CAST(SUM(s) AS BIGINT) AS tot_s, CAST(SUM(n_docs) AS BIGINT) AS tot_n
        FROM weights),
targets AS (
  SELECT lang, n_docs,
         least(((tot_n // 2) * s) // tot_s, n_docs) AS target_n
  FROM weights, tot),
ranked AS (
  SELECT d.doc_id, d.lang,
         ROW_NUMBER() OVER (PARTITION BY d.lang
           ORDER BY ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT,
                    d.doc_id) AS rn
  FROM documents d),
kept AS (
  SELECT r.lang, r.doc_id, t.n_docs, t.target_n
  FROM ranked r JOIN targets t ON r.lang = t.lang
  WHERE r.rn <= t.target_n)
SELECT lang,
       CAST(MAX(n_docs) AS BIGINT) AS n_docs,
       CAST(MAX(target_n) AS BIGINT) AS target_n,
       COUNT(*) AS n_sampled,
       CAST(SUM(doc_id) AS BIGINT) AS sampled_id_sum
FROM kept
GROUP BY lang
"""


CHUNK_TOKENS = 32  # tokens per training chunk
SEQ_LEN = 128  # tokens per packed training sequence
PACK_BUCKET = 64  # doc_ids per prefix-sum bucket (see pack docstring)


def corpus_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document's token stream into fixed-size training
    chunks (CHUNK_TOKENS whitespace tokens, last chunk ragged).

    One row per (doc, chunk) with the chunk's md5 — the shape a
    tokenize-and-shard stage hands to a trainer. Pure per-row map +
    generate: zero shuffles, embarrassingly parallel at any scale.
    ``posexplode_outer`` keeps InferFiltersFromGenerate from re-inlining
    the staged chunk transform into a pushed filter (plan-guarded).
    """
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", words().alias("w"))
    chunks = (
        f"transform(sequence(0, CAST(ceil(size(w) / {CHUNK_TOKENS}.0) AS INT) - 1), "
        f"c -> array_join(slice(w, c * {CHUNK_TOKENS} + 1, {CHUNK_TOKENS}), ' '))"
    )
    exploded = staged.select(
        "doc_id",
        F.expr("size(w)").cast("long").alias("n_w"),
        F.posexplode_outer(F.expr(chunks)).alias("chunk_idx", "chunk"),
    ).filter(F.col("chunk").isNotNull())
    n_tokens = F.least(
        F.lit(CHUNK_TOKENS).cast("long"),
        F.col("n_w") - F.col("chunk_idx") * CHUNK_TOKENS,
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        n_tokens.alias("n_tokens"),
        F.length("chunk").cast("long").alias("chunk_chars"),
        F.md5("chunk").alias("chunk_md5"),
    )


_CHUNK_SQL = f"""
WITH s AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w FROM documents),
c AS (
  SELECT doc_id, len(w) AS n_w,
         unnest(list_transform(range(0, CAST(ceil(len(w) / {CHUNK_TOKENS}.0) AS INT)),
                c -> struct_pack(idx := c,
                                 chunk := array_to_string(w[c * {CHUNK_TOKENS} + 1 : c * {CHUNK_TOKENS} + {CHUNK_TOKENS}], ' ')))) AS u
  FROM s)
SELECT doc_id,
       CAST(u.idx AS BIGINT) AS chunk_idx,
       CAST(least({CHUNK_TOKENS}, n_w - u.idx * {CHUNK_TOKENS}) AS BIGINT) AS n_tokens,
       CAST(length(u.chunk) AS BIGINT) AS chunk_chars,
       md5(u.chunk) AS chunk_md5
FROM c
"""


def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-cut sequence packing (GPT-style): lay the corpus
    token stream end-to-end in doc_id order and cut every SEQ_LEN
    tokens; each document is attributed to the sequence where it starts.

    The global prefix sum is computed scalably: per-doc token counts
    roll up into PACK_BUCKET-sized doc_id buckets, the tiny bucket-total
    table (corpus_size / PACK_BUCKET rows) gets a cumulative offset via
    a single-partition window — acceptable because it is ~PACK_BUCKET
    times smaller than the corpus and can be re-bucketed hierarchically
    if ever needed — and the per-doc cumsum window is PARTITIONED BY
    bucket, so no full-corpus single-partition window ever runs. The
    result is identical to DuckDB's straight global cumsum.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(words()).cast("long").alias("n_tok"),
        F.expr(f"doc_id DIV {PACK_BUCKET}").alias("bucket"),
    )
    bucket_tot = toks.groupBy("bucket").agg(F.sum("n_tok").alias("btot"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_tot.select(
        "bucket", F.coalesce(F.sum("btot").over(w_b), F.lit(0)).alias("boff")
    )
    w_d = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    placed = (
        toks.join(F.broadcast(offsets), "bucket")
        .withColumn("start", F.col("boff") + F.coalesce(F.sum("n_tok").over(w_d), F.lit(0)))
        .withColumn("seq_id", F.expr(f"CAST(start DIV {SEQ_LEN} AS BIGINT)"))
    )
    return placed.groupBy("seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_PACK_SQL = f"""
WITH toks AS (
  SELECT doc_id, len(regexp_split_to_array(trim(text), ' +')) AS n_tok
  FROM documents),
placed AS (
  SELECT doc_id, n_tok,
         coalesce(SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM toks)
SELECT CAST(start // {SEQ_LEN} AS BIGINT) AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM placed
GROUP BY 1
"""


MIX_SCALE = 1_000_000_000  # interleave stride fixed-point
MIX_TAKE = 400


def corpus_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic proportional source interleaving — the "data
    mixing" step that turns per-source corpora into one training-order
    stream without starving small sources: doc with per-source rank rn
    (ordered by portable hash — a stable shuffle) gets stride key
    ``rn * SCALE DIV n_src``, so each source's docs spread uniformly
    over [0, SCALE] and merging by key yields proportional round-robin
    (source k appears ~every total/n_src positions).

    Scale shape: per-source ranks are ONE window pass partitioned by
    source; counts are a broadcast; the global take is
    TakeOrderedAndProject (no full sort); the position numbering runs
    on the <=MIX_TAKE survivors only. A full-corpus materialization at
    100 TB would replace the limit with a range-partitioned sort on
    key — still one shuffle.

    All-integer key arithmetic -> bit-stable across engines.
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    h = F.expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)")
    ranked = docs.withColumn("h", h).withColumn(
        "rn", F.row_number().over(W.partitionBy("source").orderBy("h", "doc_id"))
    )
    counts = docs.groupBy("source").agg(F.count("*").alias("n_src"))
    keyed = ranked.join(F.broadcast(counts), "source").select(
        "doc_id",
        "source",
        F.expr(f"CAST(rn AS BIGINT) * {MIX_SCALE} DIV n_src").alias("key"),
    )
    top = keyed.orderBy("key", "source", "doc_id").limit(MIX_TAKE)
    return top.select(
        F.row_number()
        .over(W.orderBy("key", "source", "doc_id"))
        .cast("long")
        .alias("pos"),
        "doc_id",
        "source",
        "key",
    )


_INTERLEAVE_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                    doc_id) AS rn
  FROM documents),
counts AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source),
keyed AS (
  SELECT r.doc_id, r.source,
         CAST(r.rn * {MIX_SCALE} // c.n_src AS BIGINT) AS key
  FROM ranked r JOIN counts c USING (source)),
top AS (SELECT * FROM keyed ORDER BY key, source, doc_id LIMIT {MIX_TAKE})
SELECT CAST(ROW_NUMBER() OVER (ORDER BY key, source, doc_id) AS BIGINT) AS pos,
       doc_id, source, key
FROM top
"""


BLOCK_W = 5  # words per block
BOILERPLATE_DF = 10  # blocks in >= this many distinct docs are removed


def corpus_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal (the C4/RefinedWeb "drop
    lines seen in many pages" step, at {BLOCK_W}-word block granularity
    since the synthetic docs have no newlines): any exact block
    occurring in >= BOILERPLATE_DF distinct docs is cut from every doc;
    the survivors are reassembled in order and fingerprinted.

    Scale shape: explode to (doc, pos, block) -> block document
    frequency is ONE hash aggregation -> the keep/cut decision is an
    equi-join on the block string (hash-partitioned both sides, no
    broadcast needed — block df output is corpus-sized) -> per-doc
    reassembly is one groupBy(doc_id) with an order-restoring
    array_sort over (pos, block) structs, not collect_list order.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    blocks = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, CAST(ceil(size(split(text, ' ')) / {BLOCK_W}.0) AS INT)),"
                f" i -> array_join(slice(split(text, ' '), (i - 1) * {BLOCK_W} + 1, {BLOCK_W}), ' '))"
            )
        ).alias("pos", "block"),
    )
    bdf = blocks.groupBy("block").agg(F.countDistinct("doc_id").alias("df"))
    tagged = blocks.join(bdf, "block").withColumn(
        "keep", (F.col("df") < BOILERPLATE_DF).cast("int")
    )
    return tagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum("keep").cast("long").alias("n_kept"),
        F.md5(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "CASE WHEN keep = 1 THEN struct(pos, block) END)),"
                " s -> s.block), ' ')"
            )
        ).alias("clean_md5"),
    )


_DEDUP_LINES_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
blocks AS (
  SELECT doc_id, CAST(t.i AS INT) AS pos,
         array_to_string(ws[((t.i - 1) * {BLOCK_W} + 1):(t.i * {BLOCK_W})], ' ') AS block
  FROM w, UNNEST(range(1, CAST(ceil(len(ws) / {BLOCK_W}.0) AS BIGINT) + 1)) AS t(i)),
bdf AS (SELECT block, COUNT(DISTINCT doc_id) AS df FROM blocks GROUP BY block)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN d.df < {BOILERPLATE_DF} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(COALESCE(string_agg(CASE WHEN d.df < {BOILERPLATE_DF} THEN b.block END, ' '
                               ORDER BY b.pos), '')) AS clean_md5
FROM blocks b JOIN bdf d USING (block)
GROUP BY b.doc_id
"""


def corpus_e2e_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data pipeline as one declarative plan, reported
    as a per-source funnel: PII scrub -> quality gate (>=20 words) ->
    normalized exact dedup (keep min doc_id) -> train/eval split ->
    8-gram decontamination of the train split against the eval split.

    Output per source: n_raw, n_quality, n_unique (dedup survivors),
    n_train (train-split survivors), n_final (train survivors sharing
    NO 8-gram with any eval survivor).

    Scale: one fp-partitioned window (co-partitioned like the groupBy
    it replaces), one gram equi-join (|train grams| x matching eval
    grams, never a cross product), and five tiny per-source aggregates
    that map-side combine to |sources| rows each. At 100 TB the gram
    join is the cost center — identical to corpus_decontaminate, which
    benches it in isolation.
    """
    from pyspark.sql import Window

    # NO §2.5 spread here, deliberately (r12 negative result, the
    # _prescaled twin): A/B'd spread-vs-not at sf0.1 (1.51 vs 1.36 s
    # medians) and sf1.0 (flat ~5.2 s both core counts) — this
    # pipeline's wall is the eager checkpoint + fp window + gram join,
    # not the scan-fused scrub, so the spread only adds an exchange.
    docs = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
    )
    bucket = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"
    )
    # r11 (guide §1.2/§2.4): ONE annotated frame carries every funnel
    # flag. qrn is the running count of QUALITY rows per fingerprint
    # ordered by doc_id, so `quality AND qrn = 1` is exactly the old
    # row_number()-over-quality-rows = 1 dedup survivor (doc_id is
    # unique, so the running frame is deterministic); the old shape
    # recomputed that window for three consumers and the gram explode
    # twice, then built the funnel from five per-source aggregates
    # joined pairwise. Materialize ONCE: the stages below consume this
    # subtree, and without a barrier each would re-run the scrub
    # regexes + split + md5 over the full corpus (measured 5x the text
    # cost). On a cluster swap localCheckpoint for persist(DISK_ONLY)
    # or a checkpoint dir — the trade is the same at 100 TB.
    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    staged = (
        docs.select("doc_id", "source", scrubbed.alias("scrubbed"))
        .withColumn("w", words("scrubbed"))
        .withColumn("n_words", F.expr("size(w)").cast("long"))
        .withColumn("fp", F.md5(normalized("scrubbed")))
        .drop("scrubbed")
        .withColumn("q", (F.col("n_words") >= 20).cast("long"))
        .withColumn(
            "qrn",
            F.sum("q").over(
                w_fp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            "is_surv", (F.col("q") == 1) & (F.col("qrn") == 1)
        )
        .withColumn(
            "split", F.when(bucket < EVAL_PCT, "eval").otherwise("train")
        )
        .localCheckpoint()
    )
    grams = staged.filter("is_surv").select(
        "doc_id",
        "split",
        F.explode(word_ngrams("w", DECON_N, hashed=True)).alias("gh"),
    )
    eval_grams = grams.filter("split = 'eval'").select("gh").distinct()
    contaminated = (
        grams.filter("split = 'train'")
        .join(eval_grams, "gh")
        .select("doc_id")
        .distinct()
        .withColumn("cont", F.lit(1))
    )
    # contaminated is DISTINCT on doc_id, so the left join cannot
    # duplicate rows; `cont IS NULL` on a surviving train row is the
    # old left_anti condition
    agg = (
        staged.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_raw"),
            F.sum("q").cast("long").alias("n_quality"),
            F.sum(F.col("is_surv").cast("long")).cast("long").alias("n_unique"),
            F.sum(
                (F.col("is_surv") & (F.col("split") == "train")).cast("long")
            )
            .cast("long")
            .alias("n_train"),
            F.sum(
                (
                    F.col("is_surv")
                    & (F.col("split") == "train")
                    & F.col("cont").isNull()
                ).cast("long")
            )
            .cast("long")
            .alias("n_final"),
        )
    )
    fill = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)  # noqa: E731
    return agg.select(
        "source",
        fill("n_raw"),
        fill("n_quality"),
        fill("n_unique"),
        fill("n_train"),
        fill("n_final"),
    ).orderBy("source")


_E2E_FUNNEL_SQL = f"""
WITH base AS (
  SELECT doc_id, source,
         regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'), '{URL_RE}', '<URL>', 'g') AS scrubbed
  FROM documents),
staged AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(scrubbed), ' +') AS w,
         len(regexp_split_to_array(trim(scrubbed), ' +')) AS n_words,
         md5(trim(regexp_replace(regexp_replace(lower(scrubbed), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
  FROM base),
quality AS (SELECT * FROM staged WHERE n_words >= 20),
surv AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM quality) t
  WHERE rn = 1),
split_t AS (
  SELECT *, CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < {EVAL_PCT}
                 THEN 'eval' ELSE 'train' END AS split
  FROM surv),
grams AS (
  SELECT doc_id, split,
         unnest(list_transform(range(1, greatest(len(w) - {DECON_N - 1}, 0) + 1),
                i -> md5(array_to_string(w[i:i+{DECON_N - 1}], ' ')))) AS gh
  FROM split_t),
eval_grams AS (SELECT DISTINCT gh FROM grams WHERE split = 'eval'),
contaminated AS (
  SELECT DISTINCT doc_id FROM grams
  WHERE split = 'train' AND gh IN (SELECT gh FROM eval_grams))
SELECT r.source,
       CAST(r.n_raw AS BIGINT) AS n_raw,
       CAST(COALESCE(q.n_quality, 0) AS BIGINT) AS n_quality,
       CAST(COALESCE(u.n_unique, 0) AS BIGINT) AS n_unique,
       CAST(COALESCE(tr.n_train, 0) AS BIGINT) AS n_train,
       CAST(COALESCE(f.n_final, 0) AS BIGINT) AS n_final
FROM (SELECT source, COUNT(*) AS n_raw FROM documents GROUP BY source) r
LEFT JOIN (SELECT source, COUNT(*) AS n_quality FROM quality GROUP BY source) q USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n_unique FROM split_t GROUP BY source) u USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n_train FROM split_t WHERE split = 'train' GROUP BY source) tr USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n_final FROM split_t
           WHERE split = 'train'
             AND doc_id NOT IN (SELECT doc_id FROM contaminated)
           GROUP BY source) f USING (source)
ORDER BY source
"""


SOURCE_CAP = 50


def corpus_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the per-domain cap every web-crawl
    pipeline applies so one mega-domain can't dominate the training
    mix: keep the ``SOURCE_CAP`` longest docs per source
    (``n_chars`` DESC, ``doc_id`` ASC tie-break), emitting the kept
    membership with its in-source rank.

    Scale shape: one window PARTITIONED BY source — domains are many
    and individually small relative to the corpus, so the partitions
    parallelize; there is no global ordering anywhere. A pathological
    mega-domain is bounded by the cap itself (rank computation is a
    per-partition sort; at 100 TB pre-filter with an approximate
    per-source count to short-circuit sources under the cap).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w).alias("source_rank"),
    ).filter(F.col("source_rank") <= SOURCE_CAP)


_SOURCE_CAP_SQL = f"""
SELECT doc_id, source, n_chars, CAST(source_rank AS INT) AS source_rank
FROM (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS source_rank
  FROM documents) t
WHERE source_rank <= {SOURCE_CAP}
"""


def corpus_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams — the n-gram statistics pass that
    feeds LM-style quality scoring and contamination screens.

    The split array is staged ONCE per row (Catalyst keeps a
    multiply-referenced non-cheap alias as its own Project), then the
    bigram list is built with ``transform`` over index pairs —
    all built-ins, map-side combinable, one shuffle on the bigram key.
    """
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(words().alias("w"))
    bg = staged.select(F.explode(word_ngrams("w", 2)).alias("bigram"))
    return (
        bg.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


_BIGRAM_TOPK_SQL = """
WITH w AS (SELECT regexp_split_to_array(trim(text), ' +') AS ws FROM documents),
b AS (
  SELECT unnest(CASE WHEN len(ws) >= 2
                THEN list_transform(generate_series(1, len(ws) - 1),
                                    i -> ws[i] || ' ' || ws[i + 1])
                ELSE [] END) AS bigram
  FROM w)
SELECT bigram, COUNT(*) AS n
FROM b GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 20
"""


def corpus_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training pair-count step: the weighted frequency of every
    adjacent character pair, counted over DISTINCT words x word
    frequency (the classic byte-pair-encoding accumulation — the top
    pair is the next merge). Two shuffles: word frequencies (map-side
    combined), then pair sums over the DISTINCT-word set — the second
    stage's input is |vocab|, not |tokens|, which is what makes BPE
    training tractable at corpus scale.

    Determinism: pure integer counting; DuckDB's SUM(BIGINT)->HUGEINT
    is cast back (convention #5); top-k tie-breaks on (a, b).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(words()).alias("word"))
    freq = toks.groupBy("word").agg(F.count("*").alias("n_word"))
    wf = freq.filter(F.char_length("word") >= 2)
    pairs = wf.select(
        "word",
        "n_word",
        F.explode(F.expr("sequence(1, char_length(word) - 1)")).alias("i"),
    ).select(
        F.expr("substring(word, i, 1)").alias("a"),
        F.expr("substring(word, i + 1, 1)").alias("b"),
        "n_word",
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.sum("n_word").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


_BPE_SQL = """
WITH w AS (
  SELECT word, COUNT(*) AS n_word
  FROM (SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS word FROM documents) t
  GROUP BY word
),
p AS (
  SELECT substr(word, CAST(i AS INTEGER), 1) AS a,
         substr(word, CAST(i AS INTEGER) + 1, 1) AS b,
         n_word
  FROM w, unnest(range(1, length(word))) AS u(i)
  WHERE length(word) >= 2
)
SELECT a, b, CAST(SUM(n_word) AS BIGINT) AS pair_count
FROM p GROUP BY a, b
ORDER BY pair_count DESC, a ASC, b ASC
LIMIT 20
"""

def corpus_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One COMPLETE BPE training iteration: count pairs, pick the
    argmax merge (pair_count DESC, then (a, b) — deterministic), APPLY
    it to the vocabulary's symbol sequences, and recount — the
    post-merge top-20 shows the old top pair collapsed and the new
    2-char symbol's adjacencies appearing (flagged ``touches_merge``).

    The merge applies on the spaced-symbol string form ('h e l l o');
    ``replace`` is left-to-right non-overlapping in both engines,
    which is exactly BPE's greedy merge-application order, and with
    single-char initial symbols the pattern always aligns to symbol
    boundaries. Everything stays on the |vocab| x word-frequency
    aggregate — the property that makes BPE training tractable at
    corpus scale (the token stream is touched once, for frequencies).

    Pure integer counting; SUM cast per convention #5.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(words()).alias("word"))
    freq = toks.groupBy("word").agg(F.count("*").alias("n_word"))
    wf = freq.filter(F.char_length("word") >= 2)
    pre_pairs = wf.select(
        "word",
        "n_word",
        F.explode(F.expr("sequence(1, char_length(word) - 1)")).alias("i"),
    ).select(
        F.expr("substring(word, i, 1)").alias("a"),
        F.expr("substring(word, i + 1, 1)").alias("b"),
        "n_word",
    )
    top1 = (
        pre_pairs.groupBy("a", "b")
        .agg(F.sum("n_word").alias("pc"))
        .orderBy(F.desc("pc"), F.asc("a"), F.asc("b"))
        .limit(1)
        .select(
            F.expr("concat(a, ' ', b)").alias("pat"),
            F.expr("concat(a, b)").alias("mrg"),
        )
    )
    spaced = wf.withColumn(
        "sp",
        F.expr(
            "array_join(transform(sequence(1, char_length(word)),"
            " i -> substring(word, i, 1)), ' ')"
        ),
    )
    merged = spaced.crossJoin(F.broadcast(top1)).withColumn(
        "syms", F.split(F.expr("replace(sp, pat, mrg)"), " ")
    )
    pairs = windows(
        "syms",
        2,
        lambda i: F.named_struct(
            F.lit("a"), F.element_at("syms", i), F.lit("b"), F.element_at("syms", i + 1)
        ),
    )
    post = (
        merged.select("n_word", "mrg", F.explode_outer(pairs).alias("p"))
        .filter(F.col("p").isNotNull())
        .select("p.a", "p.b", "n_word", "mrg")
    )
    return (
        post.groupBy("a", "b", "mrg")
        .agg(F.sum("n_word").alias("pair_count"))
        .select(
            "a",
            "b",
            F.col("mrg").alias("merged_pair"),
            "pair_count",
            ((F.col("a") == F.col("mrg")) | (F.col("b") == F.col("mrg"))).alias(
                "touches_merge"
            ),
        )
        .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


_BPE_MERGE_SQL = """
WITH w AS (
  SELECT word, COUNT(*) AS n_word
  FROM (SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS word FROM documents) t
  GROUP BY word),
wf AS (SELECT word, n_word FROM w WHERE length(word) >= 2),
pre AS (
  SELECT substr(word, CAST(i AS INTEGER), 1) AS a,
         substr(word, CAST(i AS INTEGER) + 1, 1) AS b,
         n_word
  FROM wf, unnest(range(1, length(word))) AS u(i)),
top1 AS (
  SELECT a || ' ' || b AS pat, a || b AS mrg
  FROM (SELECT a, b, SUM(n_word) AS pc FROM pre GROUP BY a, b
        ORDER BY pc DESC, a ASC, b ASC LIMIT 1) s),
spaced AS (
  SELECT n_word,
         COALESCE(array_to_string(list_transform(range(1, length(word) + 1),
             i -> substr(word, CAST(i AS INTEGER), 1)), ' '), '') AS sp
  FROM wf),
merged AS (
  SELECT n_word, mrg, string_split(replace(sp, pat, mrg), ' ') AS syms
  FROM spaced, top1),
post AS (
  SELECT syms[CAST(i AS INTEGER)] AS a, syms[CAST(i AS INTEGER) + 1] AS b,
         n_word, mrg
  FROM merged, unnest(range(1, len(syms))) AS u(i)
  WHERE len(syms) >= 2)
SELECT a, b, mrg AS merged_pair, CAST(SUM(n_word) AS BIGINT) AS pair_count,
       (a = mrg OR b = mrg) AS touches_merge
FROM post GROUP BY a, b, mrg
ORDER BY pair_count DESC, a ASC, b ASC
LIMIT 20
"""


BPE_MERGES = 50     # merge-table size the trained tokenizer applies
BPE_TOP_V = 2000    # train on the TOP_V most frequent words (n DESC, word ASC)

# Spaced char form of a word ('query' -> 'q u e r y'). CASE guard: ''
# (empty doc's token) makes sequence(1, 0) the DESCENDING [1, 0].
_SPACED_SPARK = (
    "CASE WHEN char_length(word) >= 1 THEN "
    "array_join(transform(sequence(1, char_length(word)),"
    " i -> substring(word, i, 1)), ' ') ELSE '' END"
)


def _bpe_train(
    vocab: list[tuple[str, int]], n_merges: int = BPE_MERGES
) -> list[tuple[str, int]]:
    """Greedy BPE trainer over a (word, count) table — pure exact-int
    Python, replayed bit-identically by the oracle's recursive CTE.
    Returns the ordered merge table as (pattern, pair_count-at-merge-
    time) tuples.

    Semantics pinned by corpus_bpe_merge_step: pair counts = adjacent
    symbol positions weighted by word frequency; argmax tie-break =
    (count DESC, pattern ASC — ASCII, both engines binary-collate);
    application = leftmost non-overlapping string replace of the
    spaced pattern (deliberately symbol-boundary-agnostic; divergence
    from canonical BPE documented in corpus_bpe_tokenize).
    """
    state = [(" ".join(word), n) for word, n in vocab]
    merges: list[tuple[str, int]] = []
    for _ in range(n_merges):
        counts: dict[str, int] = {}
        for sp, n in state:
            sy = sp.split(" ")
            for i in range(len(sy) - 1):
                pat = sy[i] + " " + sy[i + 1]
                counts[pat] = counts.get(pat, 0) + n
        if not counts:
            break
        pat, c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((pat, c))
        mrg = pat.replace(" ", "")
        state = [(sp.replace(pat, mrg), n) for sp, n in state]
    return merges


def corpus_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with a TRAINED BPE merge table (VERDICT r5
    #7 — the operator that turns the bpe_pair_counts/merge_step
    machinery into a usable tokenizer): train ``BPE_MERGES`` merges by
    iterating the proven greedy step, apply the ordered merge list to
    every document, and report per-source tokens/doc plus the
    compression ratio vs the whitespace baseline.

    Scale shape: the corpus-sized work is ONE aggregation to the
    (source, word, n_occ) table; training runs on the collected
    TOP_V=2000 word-frequency rows — a BOUNDED driver-side collect
    (vocabulary is Heaps-sublinear in corpus size; single-node training
    over the word-count dict is how production tokenizer trainers work
    at any corpus scale), and application is a static chain of 50
    JVM-side ``replace`` calls over the distinct-word dictionary (one
    whole-stage-codegen projection, no UDF, no join — token count is a
    function of the word alone), re-weighted by ``n_occ``.

    Determinism: training is exact-int with (count DESC, pat ASC)
    tie-breaks; the oracle replays the SAME trainer inside a
    single-row-state recursive CTE (state = the spaced vocab list;
    aggregation happens over unnest of the carried LIST column, which
    recursive SQL permits) and applies merges via list_reduce. Merge
    application is leftmost non-overlapping string replace on the
    spaced form — deliberately symbol-boundary-agnostic (a pattern may
    match a symbol's suffix), the greedy-replay semantics pinned
    cross-engine by corpus_bpe_merge_step. All ratios are positive
    int64 fixed-point (DIV == // == trunc == floor, convention #7).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = docs.select("source", F.explode(words()).alias("word"))
    wc = toks.groupBy("source", "word").agg(
        F.count("*").alias("n_occ")
    ).localCheckpoint()  # the ONE corpus pass; vocab + application share it
    top = (
        wc.groupBy("word")
        .agg(F.sum("n_occ").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(BPE_TOP_V)
        .collect()
    )
    merges = [p for p, _ in _bpe_train([(r["word"], r["n"]) for r in top])]
    col = F.expr(_SPACED_SPARK)
    for pat in merges:
        col = F.replace(col, F.lit(pat), F.lit(pat.replace(" ", "")))
    per = wc.select(
        "source",
        "n_occ",
        (F.size(F.split(col, " ")).cast("long") * F.col("n_occ")).alias("tok"),
        (F.char_length("word").cast("long") * F.col("n_occ")).alias("chars"),
    ).groupBy("source").agg(
        F.sum("n_occ").cast("long").alias("ws_tokens"),
        F.sum("tok").cast("long").alias("bpe_tokens"),
        F.sum("chars").cast("long").alias("char_tokens"),
    )
    nd = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    return (
        per.join(nd, "source")
        .select(
            "source",
            "n_docs",
            F.lit(len(merges)).cast("long").alias("n_merges"),
            "ws_tokens",
            "char_tokens",
            "bpe_tokens",
            # ws_tokens >= n_docs >= 1 always (split('') = ['']); but a
            # source of ONLY empty docs has char_tokens = 0 (conv. #9)
            F.expr("bpe_tokens * 1000000 DIV ws_tokens").alias("bpe_per_ws_ppm"),
            F.expr(
                "CASE WHEN char_tokens > 0 THEN bpe_tokens * 1000000 DIV char_tokens END"
            ).alias("bpe_per_char_ppm"),
            (F.expr("bpe_tokens * 100 DIV n_docs").cast("double") / 100.0).alias(
                "bpe_tok_per_doc"
            ),
        )
        .orderBy("source")
    )


# NB: DuckDB's array_to_string([], ' ') is NULL, not '' — every spaced
# form below is COALESCE'd so the EMPTY word ('' from blank docs)
# tokenizes to 1 like Spark/Python instead of NULL-ing out of the sums
# (degenerate-probe find: src-level bpe_tokens silently undercounted).
_BPE_TOKENIZE_SQL = f"""
WITH RECURSIVE wpd AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), ' +')) AS word
  FROM documents),
wc AS (SELECT source, word, COUNT(*) AS n_occ FROM wpd GROUP BY source, word),
vtop AS (
  SELECT word, CAST(SUM(n_occ) AS BIGINT) AS n FROM wc GROUP BY word
  ORDER BY n DESC, word ASC LIMIT {BPE_TOP_V}),
tr(step, vocab, merges) AS (
  SELECT 0,
         (SELECT list(struct_pack(
              sp := COALESCE(array_to_string(list_transform(range(1, length(word) + 1),
                                                   i -> word[i]), ' '), ''),
              n := n)) FROM vtop),
         []::VARCHAR[]
  UNION ALL
  SELECT step + 1,
         list_transform(tr.vocab, e -> struct_pack(
             sp := replace(e.sp, best.pat, replace(best.pat, ' ', '')),
             n := e.n)),
         list_append(tr.merges, best.pat)
  FROM tr, LATERAL (
    SELECT pat FROM (
      SELECT sy[i] || ' ' || sy[i + 1] AS pat, SUM(e.n) AS c
      FROM unnest(tr.vocab) AS t(e),
           LATERAL (SELECT string_split(e.sp, ' ') AS sy) s,
           UNNEST(range(1, len(sy))) AS r(i)
      GROUP BY 1
    ) ORDER BY c DESC, pat ASC LIMIT 1
  ) best
  WHERE tr.step < {BPE_MERGES}),
m AS (SELECT merges FROM tr ORDER BY step DESC LIMIT 1),
tok AS (
  SELECT source, n_occ,
         CAST(len(string_split(list_reduce(
             list_prepend(COALESCE(array_to_string(list_transform(
                 range(1, length(word) + 1), i -> word[i]), ' '), ''), merges),
             (acc, pat) -> replace(acc, pat, replace(pat, ' ', ''))), ' '))
           AS BIGINT) * n_occ AS tok,
         CAST(length(word) AS BIGINT) * n_occ AS chars
  FROM wc, m),
agg AS (
  SELECT source,
         CAST(SUM(n_occ) AS BIGINT) AS ws_tokens,
         CAST(SUM(tok) AS BIGINT) AS bpe_tokens,
         CAST(SUM(chars) AS BIGINT) AS char_tokens
  FROM tok GROUP BY source),
nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source)
SELECT a.source, nd.n_docs,
       (SELECT CAST(len(merges) AS BIGINT) FROM m) AS n_merges,
       ws_tokens, char_tokens, bpe_tokens,
       CAST(bpe_tokens * 1000000 // ws_tokens AS BIGINT) AS bpe_per_ws_ppm,
       CAST(CASE WHEN char_tokens > 0 THEN bpe_tokens * 1000000 // char_tokens END AS BIGINT) AS bpe_per_char_ppm,
       CAST(CAST(bpe_tokens * 100 // nd.n_docs AS BIGINT) AS DOUBLE) / 100.0 AS bpe_tok_per_doc
FROM agg a JOIN nd ON nd.source = a.source
ORDER BY a.source
"""


def corpus_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing plan: given a token budget of 2x the corpus and an
    equal target share per source, how many epochs of each source does
    the training run consume? (epochs > 1 means the source repeats;
    << 1 means it is subsampled.) One aggregation to per-source token
    counts + a broadcast total — the planning arithmetic is
    SF-invariant.

    Determinism: token counts are exact ints; epochs is integer
    fixed-point ``(budget * 1e4) // (n_sources * src_tokens)`` — no
    floats until the display division.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(words())).cast("long").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("n_sources"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr(
                "CAST((2 * total_tokens * 10000) DIV (n_sources * n_tokens) AS BIGINT)"
            ).alias("epochs_e4"),
        )
        .withColumn(
            "epochs", F.expr("CAST(epochs_e4 AS DOUBLE) / 10000.0")
        )
        .orderBy("source")
    )


_MIX_EPOCHS_SQL = """
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(trim(text), ' +'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         COUNT(*) AS n_sources
  FROM per
)
SELECT source, n_docs, n_tokens,
       CAST((2 * total_tokens * 10000) // (n_sources * n_tokens) AS BIGINT) AS epochs_e4,
       CAST(CAST((2 * total_tokens * 10000) // (n_sources * n_tokens) AS BIGINT) AS DOUBLE) / 10000.0 AS epochs
FROM per, tot
ORDER BY source
"""


VOCAB_BUCKET = 10  # docs per growth-curve bucket


def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (the Heaps'-law measurement) over word
    BIGRAMS: distinct NEW bigrams introduced per bucket of
    VOCAB_BUCKET docs (in doc_id order) and the cumulative vocabulary
    size. (Bigrams, not unigrams: the synthetic corpus draws from ~31
    words, all seen within the first few docs, so the unigram curve is
    a single point; the ~900-bigram vocabulary spreads its first
    occurrences across hundreds of docs and produces a real curve.)
    Each bigram collapses to its first-occurrence doc (one map-side-
    combined min aggregation), so the curve costs |vocab| rows after
    the first shuffle — no cumulative re-scans.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", words().alias("w"))
        .select("doc_id", F.explode_outer(word_ngrams("w", 2)).alias("word"))
        .filter("word <> ''")
    )
    from pyspark.sql import Window as W

    firsts = toks.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    buckets = firsts.groupBy(
        (F.col("first_doc") / VOCAB_BUCKET).cast("long").alias("bucket")
    ).agg(F.count("*").alias("new_words"))
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        buckets.withColumn("cum_vocab", F.sum("new_words").over(w))
        .select("bucket", "new_words", F.col("cum_vocab").cast("long").alias("cum_vocab"))
        .orderBy("bucket")
    )


_VOCAB_GROWTH_SQL = f"""
WITH w0 AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w FROM documents),
words AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS word
    FROM w0) t
  WHERE word <> ''
),
firsts AS (SELECT word, MIN(doc_id) AS first_doc FROM words GROUP BY word),
buckets AS (
  SELECT first_doc // {VOCAB_BUCKET} AS bucket, COUNT(*) AS new_words
  FROM firsts GROUP BY 1
)
SELECT bucket, new_words,
       CAST(SUM(new_words) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
FROM buckets
ORDER BY bucket
"""


PAD_BATCH = 32  # sequences per training batch


def corpus_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Why length-bucketed batching exists, quantified: padding a batch
    to its longest sequence wastes (batch_max - len) tokens per doc;
    batching docs SORTED by length makes batch members similar and
    collapses that waste versus arrival-order batching. Both
    strategies' waste computed exactly: batch id = (rank - 1) DIV 32
    over the respective orders (unique doc_id tie-breaks), padded
    size = count * max per batch, waste in exact tokens and ppm of
    the padded volume.

    Everything runs on the |docs|-row (doc, n_tokens) aggregate; the
    two rank windows are the only sorts. At 100 TB the same numbers
    come from the histogram sketch instead of exact ranks — this exact
    version is the audit that justifies the bucketing stage in
    corpus_pack_sequences.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.size(words()).cast("long").alias("n"))

    out = []
    for strategy, order_sql in (
        ("length_bucketed", "n, doc_id"),
        ("arrival_order", "doc_id"),
    ):
        batched = toks.withColumn(
            "b",
            F.expr(
                f"CAST((row_number() OVER (ORDER BY {order_sql}) - 1)"
                f" DIV {PAD_BATCH} AS BIGINT)"
            ),
        )
        per_batch = batched.groupBy("b").agg(
            F.count("*").alias("c"), F.max("n").alias("mx"), F.sum("n").alias("s")
        )
        out.append(
            per_batch.agg(
                F.count("*").cast("long").alias("n_batches"),
                F.sum("s").cast("long").alias("total_tokens"),
                F.sum(F.col("c") * F.col("mx")).cast("long").alias("padded_tokens"),
            ).select(
                F.lit(strategy).alias("strategy"),
                "n_batches",
                "total_tokens",
                "padded_tokens",
                (F.col("padded_tokens") - F.col("total_tokens")).alias("waste_tokens"),
                F.expr(
                    "(padded_tokens - total_tokens) * 1000000 DIV padded_tokens"
                ).alias("waste_ppm"),
            )
        )
    return out[0].unionByName(out[1]).orderBy("strategy")


_PADDING_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n
  FROM documents),
sorted_b AS (
  SELECT n, (ROW_NUMBER() OVER (ORDER BY n, doc_id) - 1) // {PAD_BATCH} AS b
  FROM toks),
arrival_b AS (
  SELECT n, (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // {PAD_BATCH} AS b
  FROM toks),
s1 AS (
  SELECT 'length_bucketed' AS strategy,
         CAST(COUNT(*) AS BIGINT) AS n_batches,
         CAST(SUM(s) AS BIGINT) AS total_tokens,
         CAST(SUM(c * mx) AS BIGINT) AS padded_tokens
  FROM (SELECT b, COUNT(*) AS c, MAX(n) AS mx, SUM(n) AS s
        FROM sorted_b GROUP BY b) t),
s2 AS (
  SELECT 'arrival_order' AS strategy,
         CAST(COUNT(*) AS BIGINT) AS n_batches,
         CAST(SUM(s) AS BIGINT) AS total_tokens,
         CAST(SUM(c * mx) AS BIGINT) AS padded_tokens
  FROM (SELECT b, COUNT(*) AS c, MAX(n) AS mx, SUM(n) AS s
        FROM arrival_b GROUP BY b) t),
u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
SELECT strategy, n_batches, total_tokens, padded_tokens,
       padded_tokens - total_tokens AS waste_tokens,
       (padded_tokens - total_tokens) * 1000000 // padded_tokens AS waste_ppm
FROM u ORDER BY strategy
"""



def corpus_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge TABLE itself — rank, spaced pattern,
    merged symbol, and the weighted pair count at merge time: the
    artifact a tokenizer ships (and the strongest trainer gate — the
    DuckDB recursion must reproduce not just the patterns but every
    intermediate argmax COUNT).

    The table is driver-resident by construction (it IS the trained
    model, 50 rows); the corpus-sized work is the same single
    word-frequency aggregation corpus_bpe_tokenize shares.
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    top = (
        docs.select(F.explode(words()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(BPE_TOP_V)
        .collect()
    )
    merges = _bpe_train([(r["word"], r["n"]) for r in top])
    return spark.createDataFrame(
        [
            (i + 1, pat, pat.replace(" ", ""), c)
            for i, (pat, c) in enumerate(merges)
        ],
        "rank BIGINT, pattern STRING, merged STRING, pair_count BIGINT",
    ).orderBy("rank")


_BPE_VOCAB_SQL = f"""
WITH RECURSIVE w AS (
  SELECT word, COUNT(*) AS n
  FROM (SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS word FROM documents) t
  GROUP BY word ORDER BY n DESC, word ASC LIMIT {BPE_TOP_V}),
tr(step, vocab, pats, cs) AS (
  SELECT 0,
         (SELECT list(struct_pack(
              sp := COALESCE(array_to_string(list_transform(range(1, length(word) + 1),
                                                   i -> word[i]), ' '), ''),
              n := n)) FROM w),
         []::VARCHAR[], []::BIGINT[]
  UNION ALL
  SELECT step + 1,
         list_transform(tr.vocab, e -> struct_pack(
             sp := replace(e.sp, best.pat, replace(best.pat, ' ', '')),
             n := e.n)),
         list_append(tr.pats, best.pat),
         list_append(tr.cs, best.c)
  FROM tr, LATERAL (
    SELECT pat, c FROM (
      SELECT sy[i] || ' ' || sy[i + 1] AS pat, CAST(SUM(e.n) AS BIGINT) AS c
      FROM unnest(tr.vocab) AS t(e),
           LATERAL (SELECT string_split(e.sp, ' ') AS sy) s,
           UNNEST(range(1, len(sy))) AS r(i)
      GROUP BY 1
    ) ORDER BY c DESC, pat ASC LIMIT 1
  ) best
  WHERE tr.step < {BPE_MERGES}),
m AS (SELECT pats, cs FROM tr ORDER BY step DESC LIMIT 1)
SELECT CAST(i AS BIGINT) AS rank,
       pats[CAST(i AS INT)] AS pattern,
       replace(pats[CAST(i AS INT)], ' ', '') AS merged,
       cs[CAST(i AS INT)] AS pair_count
FROM m, UNNEST(range(1, len(pats) + 1)) AS r(i)
ORDER BY rank
"""


N_SHARDS = 16


def corpus_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic output sharding — the write-side op a corpus runs
    before emitting training shards: shard = portable-md5(doc_id) %
    N_SHARDS (stable across engines, reruns, and cluster sizes, unlike
    Spark's own hashpartitioning), with the per-shard balance report
    (doc/token counts and each shard's load as ppm of the ideal equal
    share) that tells you whether the hash is safe to write by.

    Map-only until one N_SHARDS-key combine; the total broadcasts back
    as a single row. All-int arithmetic (convention #7).
    """
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select(
            F.expr(
                "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
                f" AS BIGINT) % {N_SHARDS}"
            ).alias("shard"),
            F.size(words()).cast("long").alias("n_tok"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )
    tot = per.agg(F.sum("n_tokens").cast("long").alias("total_tokens"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            F.expr(
                f"n_tokens * {N_SHARDS} * 1000000 DIV total_tokens"
            ).alias("load_ppm_of_ideal"),
        )
        .orderBy("shard")
    )


_SHARD_SQL = f"""
WITH per AS (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {N_SHARDS} AS shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(trim(text), ' +'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM per)
SELECT shard, n_docs, n_tokens,
       CAST(n_tokens * {N_SHARDS} * 1000000 // total_tokens AS BIGINT) AS load_ppm_of_ideal
FROM per, tot
ORDER BY shard
"""


# --- DSIR-style importance weighting --------------------------------------
# Data Selection via Importance Resampling (Xie et al. 2023): score every
# candidate document by how much its hashed-unigram profile looks like a
# TARGET distribution relative to the raw SOURCE pool, then keep the
# top-scoring candidates. The published estimator uses a log likelihood
# ratio over hashed n-gram buckets; this variant keeps the same
# bucket-ratio structure but scores with an INTEGER fixed-point
# likelihood ratio w_f = ((cnt_target_f + 1) * 1e6) DIV (cnt_source_f + 1)
# (add-one smoothing; the global T/S normalizer is a constant factor
# across buckets, so dropping it cannot change the ranking) — log-free so
# the score is exact int64 and bit-identical across engines.
#
# Target proxy: documents from DSIR_TARGET_SOURCES (the "wiki-like"
# slice); candidates = every other source. Headroom: w_f <= (target
# words + 1) * 1e6 and per-doc counts are doc-bounded, so scores stay
# far under 2^63 for any corpus whose largest single hash bucket holds
# < ~9e9 target tokens (pre-bucket-split territory long before that).
DSIR_BUCKETS = 256
DSIR_SCALE = 1_000_000
DSIR_TARGET_SOURCES = ("src0", "src1", "src2")
DSIR_TOPK = 50


def corpus_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 candidate docs by hashed-unigram importance score.

    Scale shape: ONE explode pass compresses to (doc_id, bucket)
    counts (map-side combined — the shuffle carries per-doc feature
    rows, not words), lazily localCheckpoint'd so the weight
    aggregation AND the scoring join both read the materialized
    compressed frame instead of re-scanning the corpus (plan-audited:
    exactly one parquet scan; the same single-pass discipline as the
    BPE trainer). The 256-row weight table broadcast-joins back onto
    it; no driver-side state beyond the top-k merge.
    Empty/whitespace-only docs contribute no words on either engine
    (split-of-empty guard, conv. #9)."""
    docs = load_table(spark, sf_dir, "documents")
    tgt = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(words()).alias("word"),
    ).filter(F.col("word") != "")
    dfc = (
        toks.withColumn(
            "f",
            F.expr(
                f"CAST(conv(substr(md5(word), 1, 8), 16, 10) AS BIGINT) % {DSIR_BUCKETS}"
            ),
        )
        .groupBy("doc_id", "source", "f")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    bucket = dfc.groupBy("f").agg(
        (
            F.coalesce(
                F.sum(F.when(F.expr(f"source IN ({tgt})"), F.col("c"))), F.lit(0)
            )
            + 1
        )
        .cast("long")
        .alias("ct"),
        (
            F.coalesce(
                F.sum(F.when(~F.expr(f"source IN ({tgt})"), F.col("c"))), F.lit(0)
            )
            + 1
        )
        .cast("long")
        .alias("cs"),
    )
    w = bucket.select("f", F.expr(f"(ct * {DSIR_SCALE}) DIV cs").alias("wf"))
    scored = (
        dfc.filter(~F.expr(f"source IN ({tgt})"))
        .join(F.broadcast(w), "f")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("wf")).cast("long").alias("score_fp"),
        )
    )
    return scored.orderBy(
        F.desc("score_fp"), F.asc("doc_id")
    ).limit(DSIR_TOPK)


def _dsir_sql() -> str:
    tgt = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    return f"""
WITH wrd AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(word), 1, 8))::BIGINT % {DSIR_BUCKETS} AS f,
         COUNT(*)::BIGINT AS c
  FROM (SELECT doc_id, source,
               unnest(regexp_split_to_array(trim(text), ' +')) AS word
        FROM documents) t
  WHERE word <> ''
  GROUP BY 1, 2, 3),
b AS (
  SELECT f,
         (COALESCE(CAST(SUM(CASE WHEN source IN ({tgt}) THEN c END) AS BIGINT), 0) + 1) AS ct,
         (COALESCE(CAST(SUM(CASE WHEN source NOT IN ({tgt}) THEN c END) AS BIGINT), 0) + 1) AS cs
  FROM wrd GROUP BY f),
w AS (SELECT f, (ct * {DSIR_SCALE}) // cs AS wf FROM b)
SELECT doc_id, source,
       CAST(SUM(c) AS BIGINT) AS n_words,
       CAST(SUM(c * wf) AS BIGINT) AS score_fp
FROM wrd JOIN w USING (f)
WHERE source NOT IN ({tgt})
GROUP BY doc_id, source
ORDER BY score_fp DESC, doc_id ASC
LIMIT {DSIR_TOPK}
"""


# Token-budget mixing: rank sources by a quality score and fill a fixed
# training-token budget greedily — the "data mixing" allocation step of
# an LLM pre-training pipeline (sources ordered by curated quality; the
# budget cut decides which sources enter in full, partially, or not at
# all). Budget = 60% of the total corpus tokens so the cut always lands
# mid-ranking at every SF; quality = per-mille of docs meeting a length
# floor (pure integers: SF-invariant semantics, engine-identical DIV).
MIX_BUDGET_PCT = 60
MIX_QUALITY_MIN_CHARS = 300


def corpus_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget allocation across sources, quality-first.

    Per source: token supply (whitespace tokens, the corpus counting
    convention) and a quality score in ppm (docs with >=
    MIX_QUALITY_MIN_CHARS chars per million docs). Sources are ranked
    by (quality DESC, source ASC — deterministic tie-break,
    convention #6) and a budget of MIX_BUDGET_PCT% of total tokens is
    filled in rank order: full take while the budget lasts, one
    partial take at the boundary, excluded after. ``tokens_taken`` is
    clamp(budget - cum_before, 0, supply) — all non-negative int64
    (convention #7).

    Scale shape: ONE corpus scan map-side combines to |sources| rows;
    every window (rank, running total) runs over that bounded
    aggregate, never over data — the allocation itself costs nothing
    at 100 TB. The budget scalar derives from the same aggregate via
    an unpartitioned window over |sources| rows (documented bounded
    domain).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select(
            "source",
            F.size(words()).cast("long").alias("n_tok"),
            F.expr(
                f"CAST(n_chars >= {MIX_QUALITY_MIN_CHARS} AS INT)"
            ).alias("passes"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("tokens_available"),
            F.sum("passes").alias("n_pass"),
        )
        .select(
            "source",
            "n_docs",
            "tokens_available",
            F.expr("n_pass * 1000000 DIV n_docs").alias("quality_ppm"),
        )
    )
    w_rank = Window.orderBy(F.col("quality_ppm").desc(), F.col("source").asc())
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, -1)
    ranked = per.select(
        "source",
        "n_docs",
        "quality_ppm",
        "tokens_available",
        F.row_number().over(w_rank).alias("mix_rank"),
        F.coalesce(F.sum("tokens_available").over(w_cum), F.lit(0)).alias("cum_before"),
        F.expr(
            f"sum(tokens_available) OVER () * {MIX_BUDGET_PCT} DIV 100"
        ).alias("budget"),
    )
    return ranked.select(
        "source",
        "mix_rank",
        "quality_ppm",
        "n_docs",
        "tokens_available",
        F.expr(
            "greatest(CAST(0 AS BIGINT),"
            " least(tokens_available, budget - cum_before))"
        ).alias("tokens_taken"),
        F.expr(
            "CASE WHEN least(tokens_available, greatest(CAST(0 AS BIGINT),"
            " budget - cum_before)) = tokens_available THEN 'full'"
            " WHEN budget - cum_before > 0 THEN 'partial'"
            " ELSE 'excluded' END"
        ).alias("status"),
    ).orderBy("mix_rank")


_MIX_SQL = f"""
WITH per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(trim(text), ' +'))) AS BIGINT)
           AS tokens_available,
         CAST(SUM(CAST(n_chars >= {MIX_QUALITY_MIN_CHARS} AS INT)) AS BIGINT)
           AS n_pass
  FROM documents GROUP BY source),
scored AS (
  SELECT source, n_docs, tokens_available,
         n_pass * 1000000 // n_docs AS quality_ppm
  FROM per),
ranked AS (
  SELECT source, n_docs, quality_ppm, tokens_available,
         ROW_NUMBER() OVER (ORDER BY quality_ppm DESC, source ASC) AS mix_rank,
         CAST(COALESCE(SUM(tokens_available) OVER (
           ORDER BY quality_ppm DESC, source ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before,
         CAST(SUM(tokens_available) OVER () AS BIGINT) * {MIX_BUDGET_PCT} // 100
           AS budget
  FROM scored)
SELECT source, CAST(mix_rank AS INT) AS mix_rank, quality_ppm, n_docs,
       tokens_available,
       greatest(CAST(0 AS BIGINT),
                least(tokens_available, budget - cum_before)) AS tokens_taken,
       CASE WHEN least(tokens_available, greatest(CAST(0 AS BIGINT),
                 budget - cum_before)) = tokens_available THEN 'full'
            WHEN budget - cum_before > 0 THEN 'partial'
            ELSE 'excluded' END AS status
FROM ranked ORDER BY mix_rank
"""


_FERT_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"  # text_token_count's regex


def corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per (source, lang): subword tokens per
    whitespace word and bytes per subword — the tokenizer-efficiency
    numbers a data-mixing plan needs (high fertility = the tokenizer
    fragments that slice of the corpus; bytes/token drives compute
    cost per document). Subwords use text_token_count's BPE-ish regex
    (letter runs, digit runs, single punctuation).

    Determinism: all three accumulators are exact int64 sums (counts
    and byte lengths); the two ratios are single double divisions of
    exact integers under rdet(4). Zero-word groups CASE to NULL
    (convention #9 — degenerate all-empty-text slices divide by zero).

    Scale: one map-side-combined groupBy on (source, lang) — output
    rows bounded by slice cardinality, not corpus size; no joins, no
    windows, no explode (regexp_count avoids materializing tokens).
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        "lang",
        F.size(F.filter(words(), lambda x: x != "")).cast("long").alias("nw"),
        F.regexp_count("text", F.lit(_FERT_BPE_RE)).cast("long").alias("nt"),
        F.length(F.encode("text", "UTF-8")).cast("long").alias("nb"),
    )
    agg = per_doc.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("nw").cast("long").alias("n_words"),
        F.sum("nt").cast("long").alias("n_subwords"),
        F.sum("nb").cast("long").alias("n_bytes"),
    )
    return agg.select(
        "source",
        "lang",
        "n_docs",
        "n_words",
        "n_subwords",
        "n_bytes",
        F.when(
            F.col("n_words") > 0,
            rdet(F.expr("CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE)"), 4),
        ).alias("fertility"),
        F.when(
            F.col("n_subwords") > 0,
            rdet(F.expr("CAST(n_bytes AS DOUBLE) / CAST(n_subwords AS DOUBLE)"), 4),
        ).alias("bytes_per_subword"),
    ).orderBy("source", "lang")


_FERTILITY_SQL = f"""
WITH per AS (
  SELECT source, lang,
         len(list_filter(regexp_split_to_array(trim(text), ' +'),
                         w -> w <> '')) AS nw,
         len(regexp_extract_all(text, '{_FERT_BPE_RE}')) AS nt,
         octet_length(encode(text)) AS nb
  FROM documents),
agg AS (
  SELECT source, lang,
         COUNT(*)::BIGINT AS n_docs,
         CAST(SUM(nw) AS BIGINT) AS n_words,
         CAST(SUM(nt) AS BIGINT) AS n_subwords,
         CAST(SUM(nb) AS BIGINT) AS n_bytes
  FROM per GROUP BY source, lang)
SELECT source, lang, n_docs, n_words, n_subwords, n_bytes,
       CASE WHEN n_words > 0 THEN
         {rdet_sql("CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE)", 4)}
       END AS fertility,
       CASE WHEN n_subwords > 0 THEN
         {rdet_sql("CAST(n_bytes AS DOUBLE) / CAST(n_subwords AS DOUBLE)", 4)}
       END AS bytes_per_subword
FROM agg ORDER BY source, lang
"""


# --- paragraph-level exact dedup (keep first occurrence) -------------
# C4 removed any three-sentence span seen before; RefinedWeb exact-
# dedups paragraphs keeping the first occurrence (Raffel 2020 §2.2,
# Penedo 2023 §3.3 — public). The synthetic docs have no newlines or
# sentence punctuation, so the "paragraph" unit is a PARA_W-word
# non-overlapping segment — a larger span than corpus_dedup_lines'
# BLOCK_W=5 boilerplate blocks, and with DIFFERENT semantics: keep-
# FIRST-occurrence ordered by (doc_id, pos) rather than cut-everywhere
# at a document-frequency threshold.
PARA_W = 25  # words per paragraph segment


def corpus_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document paragraph-dedup accounting: segment every doc into
    PARA_W-word paragraphs, mark each occurrence a duplicate when an
    identical segment exists at a strictly smaller (doc_id, pos), and
    report n_paras / n_dup_paras / dup word mass / surviving fraction.

    Determinism: the first-occurrence pick is min(struct(doc_id, pos))
    per exact segment string — a total order, so the duplicate flag is
    bit-stable on both engines; kept_frac guards n_paras = 0 (empty
    docs segment to nothing) with NULL per convention #9.

    Scale shape: ONE explode, ONE hash shuffle on the segment string
    feeding a partition-only min-struct window (no ORDER BY sort
    semantics beyond the partition key; segment groups are tiny), then
    a per-doc re-agg — a single pass over the exploded stream, vs the
    agg+self-join alternative that re-computes the explode on both
    join sides. At 100 TB the segment key is high-cardinality; a
    boilerplate-heavy corpus (one paragraph in millions of docs) would
    salt the hot segments before this window.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    staged = docs.select("doc_id", words().alias("w"))
    segs = (
        staged.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, CAST(ceil(size(w) / {PARA_W}.0) AS INT)),"
                    f" i -> array_join(slice(w, (i - 1) * {PARA_W} + 1, {PARA_W}), ' '))"
                )
            ).alias("pos", "seg"),
        )
        .filter(F.col("seg") != "")
    )
    wseg = Window.partitionBy("seg")
    tagged = segs.withColumn(
        "f", F.min(F.struct("doc_id", "pos")).over(wseg)
    ).select(
        "doc_id",
        "seg",
        (
            (F.col("doc_id") != F.col("f.doc_id"))
            | (F.col("pos") != F.col("f.pos"))
        ).cast("long").alias("is_dup"),
    )
    perdoc = tagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_paras"),
        F.sum("is_dup").cast("long").alias("n_dup_paras"),
        F.sum(
            F.when(F.col("is_dup") == 1, F.expr("size(split(seg, ' '))"))
            .otherwise(F.lit(0))
            .cast("long")
        ).cast("long").alias("dup_words"),
    )
    return (
        docs.select("doc_id")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_paras", F.lit(0)).cast("long").alias("n_paras"),
            F.coalesce("n_dup_paras", F.lit(0)).cast("long").alias("n_dup_paras"),
            F.coalesce("dup_words", F.lit(0)).cast("long").alias("dup_words"),
            F.expr(
                "CASE WHEN coalesce(n_paras, 0) > 0 THEN "
                + _KEEP_FRAC_SPARK
                + " ELSE CAST(NULL AS DOUBLE) END"
            ).alias("kept_frac"),
        )
    )


_KEEP_FRAC_SPARK = rdet_sql(
    "CAST(n_paras - n_dup_paras AS DOUBLE) / n_paras", 6
)

_DEDUP_PARA_SQL = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws FROM documents),
segs AS (
  SELECT doc_id, CAST(t.i - 1 AS INT) AS pos,
         array_to_string(ws[((t.i - 1) * {PARA_W} + 1):(t.i * {PARA_W})], ' ')
           AS seg
  FROM w, UNNEST(range(1, CAST(ceil(len(ws) / {PARA_W}.0) AS BIGINT) + 1)) AS t(i)),
clean AS (SELECT * FROM segs WHERE seg <> ''),
firsts AS (
  SELECT seg, MIN(struct_pack(d := doc_id, p := pos)) AS f
  FROM clean GROUP BY seg),
tagged AS (
  SELECT c.doc_id, c.seg,
         CASE WHEN c.doc_id <> (f.f).d OR c.pos <> (f.f).p
              THEN 1 ELSE 0 END AS is_dup
  FROM clean c JOIN firsts f USING (seg)),
perdoc AS (
  SELECT doc_id,
         COUNT(*)::BIGINT AS n_paras,
         CAST(SUM(is_dup) AS BIGINT) AS n_dup_paras,
         CAST(SUM(CASE WHEN is_dup = 1
                       THEN len(string_split(seg, ' ')) ELSE 0 END)
              AS BIGINT) AS dup_words
  FROM tagged GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(p.n_paras, 0) AS BIGINT) AS n_paras,
       CAST(COALESCE(p.n_dup_paras, 0) AS BIGINT) AS n_dup_paras,
       CAST(COALESCE(p.dup_words, 0) AS BIGINT) AS dup_words,
       CASE WHEN COALESCE(p.n_paras, 0) > 0 THEN
         {rdet_sql("CAST(p.n_paras - p.n_dup_paras AS DOUBLE) / p.n_paras", 6)}
       ELSE CAST(NULL AS DOUBLE) END AS kept_frac
FROM documents d LEFT JOIN perdoc p USING (doc_id)
"""


# --- content-defined chunking (Muthitacharoen 2001 LBFS / FastCDC
# --- family, public) --------------------------------------------------
CDC_MASK = 32   # breakpoint when gram-hash % CDC_MASK == 0 (~32-word chunks)
CDC_TOP = 100   # report rows


def corpus_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking at word granularity: a chunk boundary
    falls after word i whenever the portable hash of the trailing
    3-word gram satisfies H %% CDC_MASK == 0 — so boundaries are
    determined by CONTENT, not offsets, and an insertion early in a
    document shifts only the chunk it lands in (the LBFS/rsync
    property fixed-window chunking lacks; corpus_chunk is the
    fixed-window sibling). The report groups chunks by fingerprint:
    cross-document duplicated spans surface as n_copies > 1 even when
    the enclosing documents differ elsewhere — the shift-robust
    complement to corpus_dedup_paragraphs' aligned segments.

    Chunk fingerprint: position-weighted additive hash
    sum(H(w) * (pos - p0)) + accumulated order-independently as
    (S2 - p0*S1) from per-chunk sums — exact int64 after DECIMAL
    accumulation, no collect_list ordering semantics anywhere.
    (n_words joins the group key, shrinking accidental collisions.)

    Production FastCDC adds min/max chunk bounds; those make boundary
    i depend on boundary i-1 (a recursion), so the pure content-
    defined gear form is what runs gate-side — at 100 TB the bounds
    would ride a mapInPandas over the same exploded stream.

    Scale shape: ONE explode; the lag-gram, breakpoint flag, and
    chunk-id cumsum all share ONE (doc_id, pos) sort within one
    exchange; then two map-side-combined aggregations (per-chunk, then
    per-fingerprint). Degenerate (convention #9): empty text explodes
    to nothing; docs shorter than the gram width never break and
    fingerprint as single chunks.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.posexplode(words()).alias("pos", "w"),
    ).filter(F.col("w") != "")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    grams = toks.select(
        "doc_id",
        "pos",
        "w",
        F.lag("w", 2).over(wd).alias("w2"),
        F.lag("w", 1).over(wd).alias("w1"),
    )
    brk = grams.withColumn(
        "brk",
        F.expr(
            "CASE WHEN w2 IS NOT NULL AND w1 IS NOT NULL AND"
            " CAST(conv(substr(md5(concat(w2, ' ', w1, ' ', w)), 1, 8),"
            f" 16, 10) AS BIGINT) % {CDC_MASK} = 0 THEN 1 ELSE 0 END"
        ),
    )
    chunked = brk.withColumn(
        "chunk_id",
        F.coalesce(
            F.sum("brk").over(wd.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long"),
    )
    hw = "CAST(conv(substr(md5(w), 1, 8), 16, 10) AS BIGINT)"
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.min("pos").cast("long").alias("p0"),
        F.sum(F.expr(hw).cast("decimal(38,0)")).alias("s1"),
        F.sum((F.expr(hw).cast("decimal(38,0)") * F.col("pos"))).alias("s2"),
    )
    rep = (
        chunks.select(
            (F.col("s2") - F.col("p0") * F.col("s1")).cast("long").alias("fp"),
            "n_words",
            "doc_id",
        )
        .groupBy("fp", "n_words")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
    )
    return rep.orderBy(F.desc("n_copies"), "fp", "n_words").limit(CDC_TOP)


_CDC_SQL = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws FROM documents),
words AS (
  SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos, ws[t.i] AS w
  FROM w, UNNEST(range(1, len(ws) + 1)) AS t(i)
  WHERE ws[t.i] <> ''),
grams AS (
  SELECT doc_id, pos, w,
         lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
         lag(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
  FROM words),
brk AS (
  SELECT doc_id, pos, w,
         CASE WHEN w2 IS NOT NULL AND w1 IS NOT NULL AND
              ('0x' || substr(md5(w2 || ' ' || w1 || ' ' || w), 1, 8))::BIGINT
              % {CDC_MASK} = 0 THEN 1 ELSE 0 END AS brk
  FROM grams),
chunked AS (
  SELECT doc_id, pos, w,
         CAST(COALESCE(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS chunk_id
  FROM brk),
chunks AS (
  SELECT doc_id, chunk_id, COUNT(*)::BIGINT AS n_words,
         CAST(MIN(pos) AS BIGINT) AS p0,
         CAST(SUM(CAST(('0x' || substr(md5(w), 1, 8))::BIGINT
                       AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(('0x' || substr(md5(w), 1, 8))::BIGINT
                       AS DECIMAL(38,0)) * pos) AS DECIMAL(38,0)) AS s2
  FROM chunked GROUP BY doc_id, chunk_id),
rep AS (
  SELECT CAST(s2 - p0 * s1 AS BIGINT) AS fp, n_words,
         COUNT(*)::BIGINT AS n_copies,
         COUNT(DISTINCT doc_id)::BIGINT AS n_docs
  FROM chunks GROUP BY 1, 2)
SELECT fp, n_words, n_copies, n_docs
FROM rep ORDER BY n_copies DESC, fp, n_words LIMIT {CDC_TOP}
"""


QUERIES = {
    "corpus_decontaminate_13gram": corpus_decontaminate_13gram,
    "corpus_decontaminate_vs": corpus_decontaminate_vs,
    "corpus_doremi_mixture": corpus_doremi_mixture,
    "corpus_cdc_chunking": corpus_cdc_chunking,
    "corpus_dedup_paragraphs": corpus_dedup_paragraphs,
    "corpus_tokenizer_fertility": corpus_tokenizer_fertility,
    "corpus_dsir_importance": corpus_dsir_importance,
    "corpus_token_budget_mix": corpus_token_budget_mix,
    "corpus_vocab_growth": corpus_vocab_growth,
    "corpus_shard_assignment": corpus_shard_assignment,
    "corpus_bpe_vocab": corpus_bpe_vocab,
    "corpus_mix_epochs": corpus_mix_epochs,
    "corpus_bpe_pair_counts": corpus_bpe_pair_counts,
    "corpus_bpe_merge_step": corpus_bpe_merge_step,
    "corpus_bpe_tokenize": corpus_bpe_tokenize,
    "corpus_clean_pipeline": corpus_clean_pipeline,
    "corpus_word_counts": corpus_word_counts,
    "corpus_doc_frequency": corpus_doc_frequency,
    "corpus_scrub_pii": corpus_scrub_pii,
    "corpus_split": corpus_split,
    "corpus_chunk": corpus_chunk,
    "corpus_pack_sequences": corpus_pack_sequences,
    "corpus_padding_waste": corpus_padding_waste,
    "corpus_sample_stratified": corpus_sample_stratified,
    "corpus_sample_temperature": corpus_sample_temperature,
    "corpus_decontaminate": corpus_decontaminate,
    "corpus_source_profile": corpus_source_profile,
    "corpus_interleave_sources": corpus_interleave_sources,
    "corpus_dedup_lines": corpus_dedup_lines,
    "corpus_source_cap": corpus_source_cap,
    "corpus_bigram_topk": corpus_bigram_topk,
    "corpus_e2e_funnel": corpus_e2e_funnel,
}

ORACLES = {
    "corpus_decontaminate_13gram": _DECON_13_SQL,
    "corpus_decontaminate_vs": _DECON_VS_SQL,
    "corpus_doremi_mixture": _DOREMI_SQL,
    "corpus_cdc_chunking": _CDC_SQL,
    "corpus_dedup_paragraphs": _DEDUP_PARA_SQL,
    "corpus_tokenizer_fertility": _FERTILITY_SQL,
    "corpus_dsir_importance":_dsir_sql(),
    "corpus_token_budget_mix": _MIX_SQL,
    "corpus_vocab_growth": _VOCAB_GROWTH_SQL,
    "corpus_mix_epochs": _MIX_EPOCHS_SQL,
    "corpus_bpe_pair_counts": _BPE_SQL,
    "corpus_bpe_merge_step": _BPE_MERGE_SQL,
    "corpus_bpe_tokenize": _BPE_TOKENIZE_SQL,
    "corpus_bpe_vocab": _BPE_VOCAB_SQL,
    "corpus_shard_assignment": _SHARD_SQL,
    "corpus_interleave_sources": _INTERLEAVE_SQL,
    "corpus_dedup_lines": _DEDUP_LINES_SQL,
    "corpus_clean_pipeline": _CLEAN_PIPELINE_SQL,
    "corpus_word_counts": _WORD_COUNTS_SQL,
    "corpus_doc_frequency": _DOC_FREQ_SQL,
    "corpus_scrub_pii": _SCRUB_SQL,
    "corpus_split": _SPLIT_SQL,
    "corpus_chunk": _CHUNK_SQL,
    "corpus_pack_sequences": _PACK_SQL,
    "corpus_padding_waste": _PADDING_SQL,
    "corpus_sample_stratified": _SAMPLE_SQL,
    "corpus_sample_temperature": _TEMP_SQL,
    "corpus_decontaminate": _DECON_SQL,
    "corpus_source_profile": _SOURCE_PROFILE_SQL,
    "corpus_source_cap": _SOURCE_CAP_SQL,
    "corpus_bigram_topk": _BIGRAM_TOPK_SQL,
    "corpus_e2e_funnel": _E2E_FUNNEL_SQL,
}
