"""Text-analysis operators over the ``documents`` table.

Part of the North-Star LLM-pipeline surface (SURVEY.md §7.5): language
identification, quality scoring, token counting, and document
fingerprinting — all expressed with built-in ``pyspark.sql.functions``
(JVM-side, whole-stage-codegen'd; no Python UDFs), so they scale to a
100 TB corpus as embarrassingly-parallel map work with zero shuffles.

Every query has a DuckDB oracle twin with identical semantics. Double
rounding uses the engine-deterministic ``rdet`` convention
(functions/numeric.py) — plain ``round(double, n)`` diverges between
engines at half-boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catme_etl_j_spark.functions.numeric import rdet, rdet_sql
from catme_etl_j_spark.functions.tokens import normalized, windows, word_ngrams, words
from catme_etl_j_spark.sources.tables import load_table

# Tiny per-language stopword lists for the stopword-vote lang-id
# heuristic. Parity matters more than linguistic accuracy here; ties are
# broken by the fixed CASE order en > de > fr > es > zh.
LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein"),
    "fr": ("le", "la", "et", "les", "des", "est", "une"),
    "es": ("el", "los", "que", "una", "es", "por", "como"),
    "zh": ("de5", "le5", "shi4", "bu4", "wo3"),
}

# Oracle twin of functions/tokens.normalized() over ``text``.
NORM_DUCK = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
)


def _stop_hits(ws: Column, stopwords: tuple[str, ...]) -> Column:
    # NB: the lambda must take exactly one positional arg — pyspark
    # inspects arity, and a second (even defaulted) parameter makes it
    # receive the element *index* as that argument.
    def contains(w: Column) -> Column:
        return w.isin(*stopwords)

    return F.size(F.filter(ws, contains)).cast("long")


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punctuation/stopword quality metrics + a composite score.

    Mirrors the heuristic quality filters used on web-scale corpora:
    penalize very short docs, high punctuation density, and
    stopword-free (likely non-linguistic) text.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = words()
    n_words = F.size(ws).cast("long")
    n_chars = F.length("text").cast("long")
    punct = F.length(F.regexp_replace("text", "[^.,;:!?]", "")).cast("long")
    stop_hits = _stop_hits(ws, LANG_STOPWORDS["en"])
    # Empty text: n_chars = 0 makes punct_ratio a 0/0 — NULL it on both
    # engines (degenerate-probe guard; ANSI threw here) and let the
    # composite score NULL-propagate. n_words is never 0 (split of ''
    # yields [''] identically on both engines).
    punct_ratio = F.when(
        n_chars > 0, rdet(punct.cast("double") / n_chars, 4)
    ).otherwise(F.lit(None).cast("double"))
    stop_ratio = rdet(stop_hits.cast("double") / n_words, 4)
    len_score = F.least(n_words.cast("double") / 100.0, F.lit(1.0))
    score = rdet(0.5 * len_score + 0.3 * stop_ratio + 0.2 * (1.0 - punct_ratio), 4)
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_chars.alias("n_chars_obs"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


_PUNCT_R = (
    "CASE WHEN n_chars_obs = 0 THEN CAST(NULL AS DOUBLE) ELSE "
    + rdet_sql("CAST(punct AS DOUBLE) / n_chars_obs", 4)
    + " END"
)
_STOP_R = rdet_sql("CAST(stop_hits AS DOUBLE) / n_words", 4)
_TEXT_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), ' +')) AS n_words,
         length(text) AS n_chars_obs,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
         len(list_filter(regexp_split_to_array(trim(text), ' +'),
             w -> w IN {LANG_STOPWORDS['en']!r})) AS stop_hits
  FROM documents
)
SELECT doc_id, n_words, n_chars_obs,
       {_PUNCT_R} AS punct_ratio,
       {_STOP_R} AS stopword_ratio,
       {rdet_sql(f"0.5 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0) + 0.3 * ({_STOP_R}) + 0.2 * (1.0 - ({_PUNCT_R}))", 4)} AS quality_score
FROM t
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID with a deterministic CASE tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    ws = words()
    hits = {lang: _stop_hits(ws, sw) for lang, sw in LANG_STOPWORDS.items()}
    en, de, fr, es, zh = (hits[x] for x in ("en", "de", "fr", "es", "zh"))
    pred = (
        F.when((en >= de) & (en >= fr) & (en >= es) & (en >= zh), "en")
        .when((de >= fr) & (de >= es) & (de >= zh), "de")
        .when((fr >= es) & (fr >= zh), "fr")
        .when(es >= zh, "es")
        .otherwise("zh")
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("pred_lang"),
        en.alias("en_hits"),
    )


def _duck_hits(lang: str) -> str:
    return (
        f"len(list_filter(regexp_split_to_array(trim(text), ' +'), "
        f"w -> w IN {LANG_STOPWORDS[lang]!r}))"
    )


_TEXT_LANG_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         {_duck_hits('en')} AS en, {_duck_hits('de')} AS de,
         {_duck_hits('fr')} AS fr, {_duck_hits('es')} AS es,
         {_duck_hits('zh')} AS zh
  FROM documents
)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN en >= de AND en >= fr AND en >= es AND en >= zh THEN 'en'
            WHEN de >= fr AND de >= es AND de >= zh THEN 'de'
            WHEN fr >= es AND fr >= zh THEN 'fr'
            WHEN es >= zh THEN 'es'
            ELSE 'zh' END AS pred_lang,
       en AS en_hits
FROM t
"""


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + a BPE-ish regex token count (letter runs,
    digit runs, and single punctuation marks each count as one token)."""
    docs = load_table(spark, sf_dir, "documents")
    bpe_pattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    return docs.select(
        "doc_id",
        F.size(words()).cast("long").alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(bpe_pattern)).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(words())).cast("long").alias("n_unique_words"),
    )


_TEXT_TOKEN_SQL = """
SELECT doc_id,
       len(regexp_split_to_array(trim(text), ' +')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens,
       len(list_distinct(regexp_split_to_array(trim(text), ' +'))) AS n_unique_words
FROM documents
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MD5 fingerprint of whitespace/case/punct-normalized text.

    The normalized-md5 fingerprint is the standard exact-dedup key for
    web corpora: cheap, order-stable, and groupable at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(normalized()).alias("fingerprint"),
        F.length(normalized()).cast("long").alias("norm_len"),
    )


_TEXT_FP_SQL = f"""
SELECT doc_id,
       md5({NORM_DUCK}) AS fingerprint,
       length({NORM_DUCK}) AS norm_len
FROM documents
"""


def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style corpus filter rules (Rae et al. 2021 §A1.1, public):
    word-count bounds, mean word length, alphabetic-word ratio, and
    bullet-line ratio, plus the combined pass flag.

    All ratios are exact-int / exact-int double divisions, so the
    threshold comparisons are bit-identical across engines; the rounded
    columns are display-only.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the split arrays ONCE per row. String-inlining the
    # split(...) into every consumer re-evaluates the regexp split per
    # use (4x here); Catalyst's CollapseProject keeps a multiply-
    # referenced non-cheap alias as its own Project, so the staged
    # column is evaluated exactly once.
    staged = docs.withColumn("w", words()).withColumn(
        "ln", F.expr("split(text, '\\n')")
    )
    n_words = F.expr("size(w)").cast("long")
    word_chars = F.expr("aggregate(transform(w, x -> length(x)), 0L, (a, x) -> a + x)")
    mean_wl = word_chars.cast("double") / n_words.cast("double")
    alpha = F.expr("size(filter(w, x -> x rlike '[A-Za-z]'))").cast("long")
    alpha_ratio = alpha.cast("double") / n_words.cast("double")
    n_lines = F.expr("size(ln)").cast("long")
    bullets = F.expr("size(filter(ln, l -> trim(l) rlike '^[-*\\u2022]'))").cast("long")
    bullet_ratio = bullets.cast("double") / n_lines.cast("double")
    gopher_pass = (
        (n_words >= 50)
        & (n_words <= 100_000)
        & (mean_wl >= 3.0)
        & (mean_wl <= 10.0)
        & (alpha_ratio >= 0.8)
        & (bullet_ratio <= 0.9)
    )
    return staged.select(
        "doc_id",
        n_words.alias("n_words"),
        rdet(mean_wl, 4).alias("mean_word_len"),
        rdet(alpha_ratio, 4).alias("alpha_word_ratio"),
        rdet(bullet_ratio, 4).alias("bullet_line_ratio"),
        gopher_pass.cast("int").alias("gopher_pass"),
    )


_GOPHER_SQL = f"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), ' +') AS w,
         regexp_split_to_array(text, '\n') AS ln
  FROM documents),
m AS (
  SELECT doc_id,
         len(w) AS n_words,
         CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w) AS mean_wl,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(w) AS alpha_ratio,
         CAST(len(list_filter(ln, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) / len(ln) AS bullet_ratio
  FROM t)
SELECT doc_id,
       n_words,
       {rdet_sql('mean_wl', 4)} AS mean_word_len,
       {rdet_sql('alpha_ratio', 4)} AS alpha_word_ratio,
       {rdet_sql('bullet_ratio', 4)} AS bullet_line_ratio,
       CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
                  AND mean_wl >= 3.0 AND mean_wl <= 10.0
                  AND alpha_ratio >= 0.8 AND bullet_ratio <= 0.9
                 THEN 1 ELSE 0 END AS INT) AS gopher_pass
FROM m
"""


# Winnowing (Schleimer et al., SIGMOD 2003): character-k-gram rolling
# fingerprints, min per sliding window — the classic local document
# fingerprint for near-copy detection. k-gram hash uses the portable
# md5-prefix convention so both engines agree bit-for-bit.
WINNOW_K = 5
WINNOW_W = 4


def winnow_fps(docs: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W) -> DataFrame:
    """``docs(doc_id, text, ...)`` -> staged winnowing columns, ending in
    ``fps: array<bigint>`` (the distinct selected fingerprints).

    Each intermediate array is MATERIALIZED as its own column — ``nt``
    (normalized text) -> ``hashes`` (k-gram rolling hashes) -> ``fps``
    (per-window minima, distinct) — so every stage is evaluated exactly
    once per row: O(L) md5 calls + O(L*w) array_min work. The previous
    string-inlined composition re-evaluated the full regexp chain per
    character position and the whole hash array per window position
    (O(L^3) interpreted eval — unfinishable even at sf0.001; see
    VERDICT r2 "What's wrong #2"). Catalyst's CollapseProject keeps a
    multiply-referenced non-cheap alias in its own Project, so the
    staging survives optimization (asserted in tests/test_plans.py).
    """
    # CASE guard: sequence(1, 0) is DESCENDING [1, 0] in Spark, and
    # substring(nt, 0, k) silently aliases position 1 — a doc shorter
    # than k chars would emit two bogus hashes the DuckDB twin (empty
    # range) never produces (ADVICE r5 sweep).
    hashes = (
        f"CASE WHEN length(nt) >= {k} THEN "
        f"transform(sequence(1, length(nt) - {k - 1}), "
        f"i -> CAST(conv(substr(md5(substring(nt, i, {k})), 1, 8), 16, 10) AS BIGINT)) "
        f"ELSE array() END"
    )
    fps = windows("hashes", w, lambda j: F.array_min(F.slice("hashes", j, w)))
    return (
        docs.withColumn("nt", normalized())
        .withColumn("hashes", F.expr(hashes))
        .withColumn("fps", F.array_distinct(fps))
    )


def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed fingerprint summary per normalized document: number of
    distinct selected fingerprints and their exact int64 checksum."""
    docs = load_table(spark, sf_dir, "documents")
    return winnow_fps(docs).select(
        "doc_id",
        F.expr("size(fps)").cast("long").alias("n_fp"),
        F.expr("aggregate(fps, 0L, (a, x) -> a + x)").alias("fp_checksum"),
    )


def winnow_cte_duck(k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    """DuckDB CTE chain ``t -> h -> m`` ending in ``m(doc_id, fps)`` —
    the oracle twin of :func:`winnow_fps`, shared with the dedup
    module's winnow-pairs oracle."""
    return f"""t AS (SELECT doc_id, {NORM_DUCK} AS nt FROM documents),
h AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(nt) - {k - 1}, 0) + 1),
            i -> ('0x' || substr(md5(substr(nt, i, {k})), 1, 8))::BIGINT) AS hs
  FROM t),
m AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= {w}
              THEN list_distinct(list_transform(range(1, len(hs) - {w - 1} + 1),
                   j -> list_min(hs[j:j + {w - 1}])))
              ELSE [] END AS fps
  FROM h)"""


def _winnow_sql() -> str:
    return f"""
WITH {winnow_cte_duck()}
SELECT doc_id,
       len(fps) AS n_fp,
       CAST(coalesce(list_sum(fps), 0) AS BIGINT) AS fp_checksum
FROM m
"""


# Repetition-removal thresholds (Gopher §A1.1 "repetitious text" family,
# adapted to word n-grams — the synthetic corpus has no newlines, so the
# line/paragraph variants would be degenerate here; the n-gram variants
# are the ones that carry signal at corpus scale anyway). Thresholds are
# compared on EXACT int/int double ratios; rounded columns are display.
TOP_BIGRAM_MAX_FRAC = 0.20
DUP_TRIGRAM_MAX_FRAC = 0.30


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters on word n-grams, per document:

    * ``dup_word_frac`` — fraction of word tokens that are repeats of an
      earlier token (1 - distinct/total);
    * ``top_bigram`` / ``top_bigram_frac`` — the most frequent word
      2-gram (ties broken lexicographically) and the fraction of
      normalized-text characters its occurrences cover;
    * ``dup_trigram_frac`` — fraction of trigram characters contained in
      trigrams that occur more than once;
    * ``rep_pass`` — the combined keep flag.

    Scale shape: explode -> count per (doc_id, gram) -> re-agg per doc —
    partial aggregation applies map-side, every shuffle is keyed on
    doc_id(+gram), and per-key fan-out is the document's own n-gram
    count, so there is no skew amplification at 100 TB. The in-array
    alternative (filter(w, x -> x = d) per distinct gram) is O(len^2)
    per doc and was deliberately avoided.
    """
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", words().alias("w"))
    base = staged.select(
        "doc_id",
        F.expr("size(w)").cast("long").alias("n_words"),
        F.expr("size(array_distinct(w))").cast("long").alias("n_distinct_words"),
        # total chars of the space-joined normalized token stream
        F.expr("length(array_join(w, ' '))").cast("long").alias("norm_chars"),
    )

    def gram_counts(n: int) -> DataFrame:
        # explode_outer: InferFiltersFromGenerate skips outer generates,
        # so the staged `w` pipeline is not re-inlined into a pushed
        # filter (see tests/test_plans.py; VERDICT r2 "what's wrong #2").
        return (
            staged.select(
                "doc_id", F.explode_outer(word_ngrams("w", n)).alias("gram")
            )
            .filter(F.col("gram").isNotNull())
            .groupBy("doc_id", "gram")
            .agg(F.count("*").alias("cnt"))
        )

    bg = (
        gram_counts(2)
        .groupBy("doc_id")
        .agg(
            # min over struct(-cnt, gram) = highest count, then smallest
            # gram — a deterministic argmax without a window pass.
            F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("gram"))).alias("top"),
        )
        .select(
            "doc_id",
            F.col("top.gram").alias("top_bigram"),
            (-F.col("top.neg")).cast("long").alias("top_bigram_n"),
        )
    )
    tg = (
        gram_counts(3)
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("cnt") > 1, F.col("cnt") * F.length("gram")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("dup_tri_chars"),
            F.sum(F.col("cnt") * F.length("gram")).cast("long").alias("tri_chars"),
        )
    )
    j = base.join(bg, "doc_id", "left").join(tg, "doc_id", "left")
    n_words = F.col("n_words").cast("double")
    dup_word_frac = (F.col("n_words") - F.col("n_distinct_words")).cast(
        "double"
    ) / n_words
    # norm_chars = 0 (empty doc): Spark ANSI throws DIVIDE_BY_ZERO where
    # DuckDB yields NULL — both sides CASE to 0.0 (ADVICE r5 sweep)
    top_bigram_frac = F.when(
        F.col("norm_chars") > 0,
        (
            F.coalesce(F.col("top_bigram_n"), F.lit(0))
            * F.length(F.coalesce("top_bigram", F.lit("")))
        ).cast("double")
        / F.col("norm_chars").cast("double"),
    ).otherwise(F.lit(0.0))
    dup_trigram_frac = F.when(
        F.coalesce("tri_chars", F.lit(0)) > 0,
        F.coalesce("dup_tri_chars", F.lit(0)).cast("double")
        / F.col("tri_chars").cast("double"),
    ).otherwise(F.lit(0.0))
    rep_pass = (top_bigram_frac <= TOP_BIGRAM_MAX_FRAC) & (
        dup_trigram_frac <= DUP_TRIGRAM_MAX_FRAC
    )
    return j.select(
        "doc_id",
        "n_words",
        rdet(dup_word_frac, 4).alias("dup_word_frac"),
        F.coalesce("top_bigram", F.lit("")).alias("top_bigram"),
        F.coalesce("top_bigram_n", F.lit(0)).cast("long").alias("top_bigram_n"),
        rdet(top_bigram_frac, 4).alias("top_bigram_frac"),
        rdet(dup_trigram_frac, 4).alias("dup_trigram_frac"),
        rep_pass.cast("int").alias("rep_pass"),
    )


def _duck_ngrams(n: int) -> str:
    parts = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
    return f"list_transform(range(1, greatest(len(w) - {n - 1}, 0) + 1), i -> {parts})"


_REPETITION_SQL = f"""
WITH s AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w FROM documents),
base AS (
  SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_distinct_words,
         length(array_to_string(w, ' ')) AS norm_chars
  FROM s),
bgc AS (
  SELECT doc_id, gram, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest({_duck_ngrams(2)}) AS gram FROM s) t
  GROUP BY doc_id, gram),
bg AS (
  SELECT doc_id, gram AS top_bigram, cnt AS top_bigram_n
  FROM (SELECT doc_id, gram, cnt,
               row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
        FROM bgc) r
  WHERE rn = 1),
tgc AS (
  SELECT doc_id, gram, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest({_duck_ngrams(3)}) AS gram FROM s) t
  GROUP BY doc_id, gram),
tg AS (
  SELECT doc_id,
         SUM(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END) AS dup_tri_chars,
         SUM(cnt * length(gram)) AS tri_chars
  FROM tgc GROUP BY doc_id),
j AS (
  SELECT base.doc_id, n_words, n_distinct_words, norm_chars,
         coalesce(top_bigram, '') AS top_bigram,
         coalesce(top_bigram_n, 0) AS top_bigram_n,
         coalesce(dup_tri_chars, 0) AS dup_tri_chars,
         coalesce(tri_chars, 0) AS tri_chars
  FROM base LEFT JOIN bg USING (doc_id) LEFT JOIN tg USING (doc_id))
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       {rdet_sql("CAST(n_words - n_distinct_words AS DOUBLE) / n_words", 4)} AS dup_word_frac,
       top_bigram,
       CAST(top_bigram_n AS BIGINT) AS top_bigram_n,
       {rdet_sql("CASE WHEN norm_chars > 0 THEN CAST(top_bigram_n * length(top_bigram) AS DOUBLE) / norm_chars ELSE 0.0 END", 4)} AS top_bigram_frac,
       {rdet_sql("CASE WHEN tri_chars > 0 THEN CAST(dup_tri_chars AS DOUBLE) / tri_chars ELSE 0.0 END", 4)} AS dup_trigram_frac,
       CAST(CASE WHEN (CASE WHEN norm_chars > 0 THEN CAST(top_bigram_n * length(top_bigram) AS DOUBLE) / norm_chars ELSE 0.0 END) <= {TOP_BIGRAM_MAX_FRAC}
                  AND (CASE WHEN tri_chars > 0 THEN CAST(dup_tri_chars AS DOUBLE) / tri_chars ELSE 0.0 END) <= {DUP_TRIGRAM_MAX_FRAC}
                 THEN 1 ELSE 0 END AS INT) AS rep_pass
FROM j
"""


def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-diversity metrics used in corpus quality
    scoring: token count, type (distinct-token) count, type-token
    ratio, and hapax ratio (share of types occurring exactly once).

    Counts are exact integers; ratios are single IEEE divisions rounded
    with rdet — deterministic across engines.

    Scale shape: explode -> count per (doc_id, token) -> re-agg per doc
    (``n_types = count of groups``, ``n_hapax = sum(cnt = 1)``) — the
    same linear, map-side-combining shape as text_repetition's
    gram_counts. The in-array alternative (``filter(array_distinct(w),
    t -> size(filter(w, x -> x = t)) = 1)``) evaluates a full array scan
    per distinct token — O(len^2) per document under interpreted HOF
    eval — and was deliberately replaced (VERDICT r3 "what's wrong #2").
    """
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", words().alias("w"))
    base = staged.select("doc_id", F.expr("size(w)").cast("long").alias("n_tokens"))
    # explode_outer: InferFiltersFromGenerate skips outer generates, so
    # the staged `w` pipeline is not re-inlined into a pushed filter
    # (same guard as text_repetition.gram_counts; tests/test_plans.py).
    tok_counts = (
        staged.select("doc_id", F.explode_outer("w").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    typ = tok_counts.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum((F.col("cnt") == 1).cast("long")).cast("long").alias("n_hapax"),
    )
    j = base.join(typ, "doc_id")
    n_tok = F.col("n_tokens").cast("double")
    n_typ = F.col("n_types").cast("double")
    return j.select(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_hapax",
        rdet(n_typ / n_tok, 4).alias("ttr"),
        rdet(F.col("n_hapax").cast("double") / n_typ, 4).alias("hapax_ratio"),
    )


_LEXDIV_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w FROM documents),
base AS (SELECT doc_id, len(w) AS n_tokens FROM t),
tc AS (
  SELECT doc_id, tok, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(w) AS tok FROM t) u
  GROUP BY doc_id, tok),
typ AS (
  SELECT doc_id,
         COUNT(*)::BIGINT AS n_types,
         CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
  FROM tc GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       n_types,
       n_hapax,
       {rdet_sql('CAST(n_types AS DOUBLE) / b.n_tokens', 4)} AS ttr,
       {rdet_sql('CAST(n_hapax AS DOUBLE) / n_types', 4)} AS hapax_ratio
FROM base b JOIN typ USING (doc_id)
"""


def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained bigram language-model quality score: each
    document's average add-one-smoothed bigram log-probability
    ``mean(ln((c12 + 1) / (c1 + V)))`` — the classic cheap LM filter a
    training pipeline runs before an expensive model-based one
    (boilerplate and gibberish score low, fluent text high).

    Scale shape: per-(doc, bigram) counts shuffle once on the gram key;
    corpus bigram totals (c12) re-aggregate the SAME keyed stream
    (exchange reuse), context counts (c1) roll c12 up by first word,
    and V is a 1-row broadcast. ln runs once per DISTINCT bigram type
    (not per occurrence), fixed-pointed at 1e6 (functions/numeric.py
    ln-on-the-gate precedent); per-doc sums are exact ints.
    """
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", words().alias("w"))
    db = (
        staged.select("doc_id", F.explode_outer(word_ngrams("w", 2)).alias("gram"))
        .filter(F.col("gram").isNotNull())
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("k"))
    )
    c12 = (
        db.groupBy("gram")
        .agg(F.sum("k").alias("c12"))
        .withColumn("w1", F.expr("element_at(split(gram, ' '), 1)"))
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        staged.select(F.explode_outer("w").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .agg(F.count_distinct("tok").alias("v"))
    )
    stats = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "gram",
            F.expr(
                "CAST(floor(ln((c12 + 1.0) / (c1 + v)) * 1000000.0 + 0.5) AS BIGINT)"
            ).alias("lp_fp"),
        )
    )
    scored = (
        db.join(stats, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("k") * F.col("lp_fp")).alias("sum_fp"),
            F.sum("k").cast("long").alias("n_bigrams"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        rdet(
            F.col("sum_fp").cast("double") / F.col("n_bigrams") / F.lit(1000000.0), 4
        ).alias("avg_logprob"),
    )


_BIGRAM_LM_SQL = f"""
WITH s AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w FROM documents),
db AS (
  SELECT doc_id, gram, COUNT(*) AS k
  FROM (SELECT doc_id, unnest({_duck_ngrams(2)}) AS gram FROM s) t
  GROUP BY doc_id, gram),
c12 AS (
  SELECT gram, CAST(SUM(k) AS BIGINT) AS c12,
         split_part(gram, ' ', 1) AS w1
  FROM db GROUP BY gram),
c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
vocab AS (
  SELECT COUNT(DISTINCT tok) AS v
  FROM (SELECT unnest(w) AS tok FROM s) u),
stats AS (
  SELECT gram,
         CAST(floor(ln((c12.c12 + 1.0) / (c1.c1 + vocab.v)) * 1000000.0 + 0.5) AS BIGINT) AS lp_fp
  FROM c12 JOIN c1 USING (w1), vocab)
SELECT doc_id,
       CAST(SUM(k) AS BIGINT) AS n_bigrams,
       {rdet_sql("CAST(SUM(k * lp_fp) AS DOUBLE) / CAST(SUM(k) AS BIGINT) / CAST(1000000.0 AS DOUBLE)", 4)} AS avg_logprob
FROM db JOIN stats USING (gram)
GROUP BY doc_id
"""


def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two histogram of document token counts — the corpus
    length-distribution report behind truncation/packing decisions.

    The bucket is ``length(bin(n))`` (= floor(log2 n) + 1, pure integer
    string ops — no float log whose ulp could flip a power-of-two
    boundary). One groupBy over a per-row expression; share is one
    division under rdet against a 1-row broadcast total.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(F.length(F.bin(F.size(words()))).cast("long").alias("bucket"))
    hist = b.groupBy("bucket").agg(F.count("*").alias("n_docs"))
    total = hist.agg(F.sum("n_docs").alias("total"))
    return hist.crossJoin(F.broadcast(total)).select(
        "bucket",
        F.expr("CAST(shiftleft(1L, CAST(bucket AS INT) - 1) AS BIGINT)").alias("lo_tokens"),
        F.expr("CAST(shiftleft(1L, CAST(bucket AS INT)) - 1 AS BIGINT)").alias("hi_tokens"),
        "n_docs",
        rdet(F.col("n_docs").cast("double") / F.col("total").cast("double"), 4).alias(
            "share"
        ),
    )


_LENGTH_HIST_SQL = f"""
WITH b AS (
  SELECT CAST(length(bin(len(regexp_split_to_array(trim(text), ' +')))) AS BIGINT) AS bucket
  FROM documents),
hist AS (SELECT bucket, COUNT(*) AS n_docs FROM b GROUP BY bucket),
total AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM hist)
SELECT bucket,
       CAST(1::BIGINT << CAST(bucket - 1 AS INT) AS BIGINT) AS lo_tokens,
       CAST((1::BIGINT << CAST(bucket AS INT)) - 1 AS BIGINT) AS hi_tokens,
       n_docs,
       {rdet_sql("CAST(n_docs AS DOUBLE) / total", 4)} AS share
FROM hist, total
"""


ENT_SCALE = 1_000_000  # fixed-point for per-char n*log2(n) terms


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    gibberish/boilerplate signal (low entropy = repeated filler, high
    entropy = random noise).

    Cross-engine determinism: H = log2(n) - (1/n) * sum(n_c*log2(n_c))
    has a floating SUM whose accumulation order differs by engine and
    partitioning. Each term is therefore rounded to fixed-point 1e-6
    FIRST (``floor(x*1e6+0.5)`` — pure IEEE, same bits everywhere) and
    summed as exact int64, so the reduction is order-invariant; the
    final two-term expression is deterministic double arithmetic,
    rounded rdet(4) for display.

    Scale shape: explode to (doc, char) -> count (map-side combine:
    at most |alphabet| rows per doc per task) -> per-doc agg. Rows
    after the first combine are bounded by docs x alphabet, not by
    corpus bytes.
    """
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.explode(F.expr("filter(split(text, ''), c -> c <> '')")).alias("ch")
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("n_c"))
    term_fx = F.expr(
        f"CAST(floor(n_c * log2(CAST(n_c AS DOUBLE)) * {ENT_SCALE} + 0.5) AS BIGINT)"
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("n_c").alias("n_chars_obs"),
        F.count("*").alias("n_distinct_chars"),
        F.sum(term_fx).alias("sum_fx"),
    )
    ent = rdet(
        F.expr(
            f"log2(CAST(n_chars_obs AS DOUBLE))"
            f" - (CAST(sum_fx AS DOUBLE) / {ENT_SCALE}) / CAST(n_chars_obs AS DOUBLE)"
        ),
        4,
    )
    return per_doc.select(
        "doc_id",
        F.col("n_chars_obs").cast("long").alias("n_chars_obs"),
        "n_distinct_chars",
        ent.alias("entropy_bits"),
    )


_CHAR_ENTROPY_SQL = f"""
WITH chars AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, ''), c -> c <> '')) AS ch
  FROM documents),
counts AS (
  SELECT doc_id, ch, COUNT(*) AS n_c FROM chars GROUP BY doc_id, ch),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(n_c) AS BIGINT) AS n_chars_obs,
         COUNT(*) AS n_distinct_chars,
         CAST(SUM(CAST(floor(n_c * log2(CAST(n_c AS DOUBLE)) * {ENT_SCALE} + 0.5) AS BIGINT)) AS BIGINT) AS sum_fx
  FROM counts GROUP BY doc_id)
SELECT doc_id, n_chars_obs, n_distinct_chars,
       {rdet_sql(f"log2(CAST(n_chars_obs AS DOUBLE)) - (CAST(sum_fx AS DOUBLE) / {ENT_SCALE}) / CAST(n_chars_obs AS DOUBLE)", 4)} AS entropy_bits
FROM per_doc
"""


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative novelty score per document: the fraction of its
    distinct word-3-grams that appear in NO other document (df == 1).
    Novelty ~1 means unique content worth keeping; ~0 means the doc is
    assembled from corpus boilerplate — the curation signal behind
    near-dup pruning and self-information weighting.

    Scale shape: one explode -> gram df aggregate (map-side combine on
    the gram key) -> join back on the gram — the same linear shuffle
    profile as corpus_doc_frequency. Ratios are exact-int divisions.
    """
    docs = load_table(spark, sf_dir, "documents")
    # stage the split once (multiply-referenced non-cheap alias stays
    # its own Project — see text_gopher_quality)
    grams = docs.withColumn("wx", words()).select(
        "doc_id", F.explode(word_ngrams("wx", 3, distinct=True)).alias("g")
    )
    df_counts = grams.groupBy("g").agg(F.countDistinct("doc_id").alias("df"))
    per_doc = (
        grams.join(df_counts, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
    )
    novelty = rdet(
        F.col("n_unique").cast("double") / F.col("n_grams").cast("double"), 4
    )
    return per_doc.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_unique").cast("long").alias("n_unique"),
        novelty.alias("novelty"),
    )


_NGRAM_NOVELTY_SQL = f"""
WITH grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(w) - 1),
                i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS g
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w FROM documents) t),
dfc AS (SELECT g, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY g),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
  FROM grams JOIN dfc USING (g)
  GROUP BY doc_id)
SELECT doc_id, n_grams, n_unique,
       {rdet_sql("CAST(n_unique AS DOUBLE) / CAST(n_grams AS DOUBLE)", 4)} AS novelty
FROM per_doc
"""


N_TIERS = 4


def text_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality tiering: NTILE(4) buckets per source by document length
    (the (n_chars, doc_id) total order makes the tiling deterministic —
    NTILE's extra-row placement is standard across engines given a
    total order), then per-(source, tier) stats. This is the binning
    step that feeds curriculum sampling / quality-weighted mixing.

    Scale shape: the window is PARTITIONED BY source (never a global
    single-partition window) and the follow-up aggregate map-side
    combines to |sources| x 4 rows.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    tiers = docs.select(
        "source", "n_chars", F.ntile(N_TIERS).over(w).alias("tier")
    )
    return (
        tiers.groupBy("source", "tier")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("source", "tier")
    )


_QUALITY_TIERS_SQL = f"""
SELECT source, CAST(tier AS INT) AS tier, COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM (SELECT source, n_chars,
             NTILE({N_TIERS}) OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id ASC) AS tier
      FROM documents) t
GROUP BY source, tier
ORDER BY source, tier
"""


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease per document (Flesch 1948, public formula:
    206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)) with a
    vowel-group syllable proxy. One map-only pass, three regexp counts
    per row — no shuffle at all until the output sort.

    Determinism: the three counts are exact ints (vowel groups cannot
    span the whitespace that separates words, so whole-text counting
    equals per-word summation); the formula is fixed double constants
    times int->double ratios — identical IEEE both engines, then rdet.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(words()).cast("long")
    n_sent = F.greatest(F.expr("regexp_count(text, '[.!?]+')"), F.lit(1)).cast("long")
    n_syll = F.greatest(
        F.expr("regexp_count(text, '[aeiouyAEIOUY]+')"), F.lit(1)
    ).cast("long")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double"))
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
        rdet(flesch, 4).alias("flesch"),
    ).orderBy("doc_id")


_READABILITY_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_words,
       CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
       CAST(greatest(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')), 1) AS BIGINT) AS n_syllables,
       {rdet_sql(
           "206.835 - 1.015 * (CAST(len(regexp_split_to_array(trim(text), ' +')) AS DOUBLE)"
           " / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))"
           " - 84.6 * (CAST(greatest(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')), 1) AS DOUBLE)"
           " / len(regexp_split_to_array(trim(text), ' +')))", 4)} AS flesch
FROM documents
ORDER BY doc_id
"""


RAKE_STOPWORDS = ("the", "a")
RAKE_TOP_K = 20


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free word runs; each word scores
    degree/frequency over the phrase corpus (degree = total length of
    phrases containing it, self included); a phrase scores the sum of
    its words' scores; output is the corpus-wide top-20 phrases.

    Determinism: word scores are fixed-point ``(deg * 1e6) DIV freq``
    so phrase scores are exact int64 sums (order-independent); the
    top-k breaks ties by phrase text. Stopword split ids come from a
    per-document cumulative count over (pos) — the same
    gaps-and-islands move as sessionization, applied to token streams.

    Scale: one posexplode pass; word stats collapse to |vocab| rows
    (broadcastable); phrase assembly groups on (doc, phrase_id) —
    co-partitioned with the explode. Nothing touches |corpus|² .
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    sw = ", ".join(f"'{s}'" for s in RAKE_STOPWORDS)
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(words()).alias("pos", "w"),
        )
        .filter(F.col("w") != "")
        .withColumn("is_stop", F.expr(f"CAST(w IN ({sw}) AS INT)"))
    )
    wd = W.partitionBy("doc_id").orderBy("pos")
    marked = toks.withColumn(
        "phrase_id",
        F.sum("is_stop").over(wd.rowsBetween(W.unboundedPreceding, W.currentRow)),
    ).filter(F.col("is_stop") == 0)
    phrases = marked.groupBy("doc_id", "phrase_id").agg(
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list(struct(pos, w))),"
            " x -> x.w))"
        ).alias("phrase"),
        F.count("*").alias("plen"),
    )
    stats = (
        marked.join(
            phrases.select("doc_id", "phrase_id", "plen"), ["doc_id", "phrase_id"]
        )
        .groupBy("w")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("deg"))
        .select("w", F.expr("(deg * 1000000) DIV freq").alias("wscore_e6"))
    )
    scored = (
        marked.join(F.broadcast(stats), "w")
        .groupBy("doc_id", "phrase_id")
        .agg(F.sum("wscore_e6").cast("long").alias("score_e6"))
        .join(phrases, ["doc_id", "phrase_id"])
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.count("*").alias("n_occurrences"),
            # phrase text determines its words, so score_e6 is constant
            # across occurrences; MAX just picks that constant
            F.max("score_e6").alias("score_e6"),
        )
        .orderBy(F.desc("score_e6"), F.asc("phrase"))
        .limit(RAKE_TOP_K)
        .select("phrase", "n_occurrences", "score_e6")
    )


def _rake_sql() -> str:
    sw = ", ".join(f"'{s}'" for s in RAKE_STOPWORDS)
    return f"""
WITH arrs AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws FROM documents),
toks AS (
  SELECT doc_id, ws[CAST(i AS INTEGER)] AS w, i AS pos,
         CASE WHEN ws[CAST(i AS INTEGER)] IN ({sw}) THEN 1 ELSE 0 END AS is_stop
  FROM arrs, unnest(generate_series(1, len(ws))) t(i)
  WHERE ws[CAST(i AS INTEGER)] <> ''),
cums AS (
  SELECT doc_id, w, pos, is_stop,
         SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phrase_id
  FROM toks),
marked AS (
  SELECT doc_id, w, pos, phrase_id FROM cums WHERE is_stop = 0),
phrases AS (
  SELECT doc_id, phrase_id,
         string_agg(w, ' ' ORDER BY pos) AS phrase,
         COUNT(*) AS plen
  FROM marked GROUP BY doc_id, phrase_id),
stats AS (
  SELECT m.w,
         (CAST(SUM(p.plen) AS BIGINT) * 1000000) // COUNT(*) AS wscore_e6
  FROM marked m JOIN phrases p USING (doc_id, phrase_id)
  GROUP BY m.w),
scored AS (
  SELECT m.doc_id, m.phrase_id,
         CAST(SUM(s.wscore_e6) AS BIGINT) AS score_e6
  FROM marked m JOIN stats s ON m.w = s.w
  GROUP BY m.doc_id, m.phrase_id)
SELECT p.phrase,
       COUNT(*) AS n_occurrences,
       CAST(MAX(sc.score_e6) AS BIGINT) AS score_e6
FROM scored sc JOIN phrases p USING (doc_id, phrase_id)
GROUP BY p.phrase
ORDER BY score_e6 DESC, phrase ASC
LIMIT {RAKE_TOP_K}
"""


_SPLIT_BUCKET_SPARK = (
    "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"
)
_SPLIT_BUCKET_DUCK = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"
)


def text_lm_heldout_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT bigram perplexity — the proper LM evaluation loop the
    self-trained scorer (text_bigram_lm_score) is not: the add-one LM
    trains on the 90%% train split (the corpus_split hash predicate,
    so train/eval membership is a pure function of doc_id) and scores
    the 10%% eval split, including genuinely UNSEEN bigrams and
    contexts (left joins; lp = ln((c12+1)/(c1+V)) with missing counts
    as 0 — add-one smoothing's whole point). Perplexity = exp(-avg
    logprob), one exp of an identical double per doc.

    ln runs once per DISTINCT eval bigram, fixed-pointed at 1e6 before
    the exact per-doc integer sums (the ln-on-the-gate convention).
    Scale shape: train stats are the usual one-shuffle aggregates; the
    eval side joins them on the gram key, co-partitioned.
    """
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        words().alias("w"),
        (F.expr(_SPLIT_BUCKET_SPARK) < 10).alias("is_eval"),
    )
    grams = (
        staged.select(
            "doc_id", "is_eval", F.explode_outer(word_ngrams("w", 2)).alias("gram")
        )
        .filter(F.col("gram").isNotNull())
        .groupBy("doc_id", "is_eval", "gram")
        .agg(F.count("*").alias("k"))
    )
    train_c12 = (
        grams.filter(~F.col("is_eval"))
        .groupBy("gram")
        .agg(F.sum("k").alias("c12"))
        .withColumn("w1", F.expr("element_at(split(gram, ' '), 1)"))
    )
    train_c1 = train_c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    train_v = (
        staged.filter(~F.col("is_eval"))
        .select(F.explode_outer("w").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .agg(F.count_distinct("tok").alias("v"))
    )
    eval_grams = (
        grams.filter(F.col("is_eval"))
        .withColumn("w1", F.expr("element_at(split(gram, ' '), 1)"))
        .join(train_c12.select("gram", "c12"), "gram", "left")
        .join(F.broadcast(train_c1), "w1", "left")
        .crossJoin(F.broadcast(train_v))
        .withColumn(
            "lp_fp",
            F.expr(
                "CAST(floor(ln((COALESCE(c12, 0) + 1.0)"
                " / (COALESCE(c1, 0) + v)) * 1000000.0 + 0.5) AS BIGINT)"
            ),
        )
    )
    scored = eval_grams.groupBy("doc_id").agg(
        F.sum(F.col("k") * F.col("lp_fp")).alias("sum_fp"),
        F.sum("k").cast("long").alias("n_bigrams"),
        F.sum(F.expr("CAST(c12 IS NULL AS INT) * k")).cast("long").alias("n_oov"),
    )
    avg = F.col("sum_fp").cast("double") / F.col("n_bigrams") / F.lit(1000000.0)
    return scored.select(
        "doc_id",
        "n_bigrams",
        "n_oov",
        rdet(avg, 4).alias("avg_logprob"),
        rdet(F.exp(-avg), 4).alias("perplexity"),
    ).orderBy("doc_id")


def _lm_heldout_sql() -> str:
    return f"""
WITH s AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w,
         {_SPLIT_BUCKET_DUCK} < 10 AS is_eval
  FROM documents),
grams AS (
  SELECT doc_id, is_eval, gram, COUNT(*) AS k
  FROM (SELECT doc_id, is_eval, unnest({_duck_ngrams(2)}) AS gram FROM s) t
  GROUP BY doc_id, is_eval, gram),
c12 AS (
  SELECT gram, CAST(SUM(k) AS BIGINT) AS c12, split_part(gram, ' ', 1) AS w1
  FROM grams WHERE NOT is_eval GROUP BY gram),
c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
vocab AS (
  SELECT COUNT(DISTINCT tok) AS v
  FROM (SELECT unnest(w) AS tok FROM s WHERE NOT is_eval) u),
ev AS (
  SELECT g.doc_id, g.k,
         CAST(floor(ln((COALESCE(t.c12, 0) + 1.0)
              / (COALESCE(c1.c1, 0) + vocab.v)) * 1000000.0 + 0.5) AS BIGINT)
           AS lp_fp,
         CASE WHEN t.c12 IS NULL THEN 1 ELSE 0 END AS oov
  FROM grams g
  LEFT JOIN c12 t ON g.gram = t.gram
  LEFT JOIN c1 ON split_part(g.gram, ' ', 1) = c1.w1
  CROSS JOIN vocab
  WHERE g.is_eval),
scored AS (
  SELECT doc_id,
         CAST(SUM(k * lp_fp) AS BIGINT) AS sum_fp,
         CAST(SUM(k) AS BIGINT) AS n_bigrams,
         CAST(SUM(oov * k) AS BIGINT) AS n_oov
  FROM ev GROUP BY doc_id)
SELECT doc_id, n_bigrams, n_oov,
       {rdet_sql("CAST(sum_fp AS DOUBLE) / n_bigrams / 1000000.0", 4)} AS avg_logprob,
       {rdet_sql("exp(-(CAST(sum_fp AS DOUBLE) / n_bigrams / 1000000.0))", 4)} AS perplexity
FROM scored ORDER BY doc_id
"""


PMI_MIN_COUNT = 5  # collocation count floor (rare-pair PMI is noise)
PMI_TOP_K = 20


def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOP_K} collocations by pointwise mutual information:
    pmi(x, y) = ln( P(x,y) / (P(x) P(y)) ) with the joint over adjacent
    bigram positions and marginals over the token stream — the classic
    phrase-mining statistic (Church & Hanks 1990, public).

    Determinism: all counts exact int64; the single ln() evaluates the
    SAME double expression ln(c12 * Nw * Nw / (Nb * c1 * c2)) on both
    engines and is fixed-pointed to 1e6 (the LM-score convention), so
    ordering by (pmi_fp DESC, bigram ASC) is stable cross-engine.

    Scale shape: one token explode feeding both the unigram count and
    (via the staged array) the guarded bigram explode; two
    co-partitioned joins on the word key (the unigram side is
    vocabulary-sized — skewed hot words are bounded by the count
    aggregation that precedes the join); totals broadcast as one row;
    TakeOrdered for the top-k.
    """
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(words().alias("w"))
    # cached (r11, convention #12): staged feeds both explodes, uni has
    # three consumers and bi_all two — uncached, the corpus scan
    # re-expanded 5x in the static plan
    staged = staged.cache()
    uni = (
        staged.select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
        .cache()
    )
    bi_all = (
        staged.select(
            F.explode_outer(
                windows(
                    "w",
                    2,
                    lambda i: F.named_struct(
                        F.lit("x"), F.element_at("w", i), F.lit("y"), F.element_at("w", i + 1)
                    ),
                )
            ).alias("b")
        )
        .filter(F.col("b").isNotNull())
        .groupBy(F.col("b.x").alias("x"), F.col("b.y").alias("y"))
        .agg(F.count("*").alias("c12"))
        .cache()
    )
    # the count floor prunes CANDIDATES only; the joint normalizer nb
    # must cover every bigram position or P(x,y) is inflated
    bi = bi_all.filter(F.col("c12") >= PMI_MIN_COUNT)
    totals = uni.agg(
        F.sum("c").cast("long").alias("nw"),
    ).crossJoin(
        F.broadcast(
            bi_all.agg(F.sum("c12").cast("long").alias("nb"))
        )
    )
    cx = uni.select(F.col("word").alias("x"), F.col("c").alias("c1"))
    cy = uni.select(F.col("word").alias("y"), F.col("c").alias("c2"))
    scored = (
        bi.join(cx, "x")
        .join(cy, "y")
        .crossJoin(F.broadcast(totals))
        .select(
            F.concat_ws(" ", "x", "y").alias("bigram"),
            "c12",
            "c1",
            "c2",
            F.expr(
                "CAST(floor(ln(CAST(c12 AS DOUBLE) * nw * nw"
                " / (CAST(nb AS DOUBLE) * c1 * c2)) * 1000000.0 + 0.5) AS BIGINT)"
            ).alias("pmi_fp"),
        )
    )
    return scored.orderBy(F.desc("pmi_fp"), F.asc("bigram")).limit(PMI_TOP_K)


_PMI_SQL = f"""
WITH s AS (SELECT regexp_split_to_array(trim(text), ' +') AS w FROM documents),
uni AS (
  SELECT word, COUNT(*) AS c
  FROM (SELECT unnest(w) AS word FROM s) t GROUP BY word),
bi_all AS (
  SELECT x, y, COUNT(*) AS c12
  FROM (SELECT u.p.x AS x, u.p.y AS y
        FROM s, UNNEST(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
             i -> struct_pack(x := w[i], y := w[i+1]))) AS u(p)) t
  GROUP BY x, y),
bi AS (SELECT * FROM bi_all WHERE c12 >= {PMI_MIN_COUNT}),
totals AS (
  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS nw,
         (SELECT CAST(SUM(c12) AS BIGINT) FROM bi_all) AS nb)
SELECT x || ' ' || y AS bigram,
       c12, cx.c AS c1, cy.c AS c2,
       CAST(floor(ln(CAST(c12 AS DOUBLE) * nw * nw
            / (CAST(nb AS DOUBLE) * cx.c * cy.c)) * 1000000.0 + 0.5) AS BIGINT) AS pmi_fp
FROM bi JOIN uni cx ON bi.x = cx.word
        JOIN uni cy ON bi.y = cy.word
        CROSS JOIN totals
ORDER BY pmi_fp DESC, bigram ASC
LIMIT {PMI_TOP_K}
"""


ZIPF_TOP_K = 100  # head terms used for the log-log fit


def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus word-frequency distribution: OLS
    slope of ln(freq) on ln(rank) over the top-100 terms — natural
    language sits near -1; templated/boilerplate corpora flatten
    toward 0, so the slope is a corpus-health number for training-data
    QA (Piantadosi 2014).

    Rank is row_number over (freq DESC, word ASC) — the deterministic
    tie-break, identical on both engines. Each point's x = ln(rank),
    y = ln(freq) fixed-points to 1e9 BEFORE the regression sums (the
    PSI convention); sums of x*y products use DECIMAL(38,0)
    accumulators (e9 x e9 products overflow int64), so the closed-form
    slope/intercept divide exact integers in one deterministic IEEE
    expression.

    Scale: the corpus-sized work is ONE map-side-combined word count;
    the fit runs over the 100-row head (a bounded single-partition
    window — bounded by ZIPF_TOP_K, never by corpus size).
    """
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(words()).alias("word"))
        .filter("word <> ''")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("word"))
    head = freq.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= ZIPF_TOP_K
    )
    pts = head.select(
        F.expr("CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000000.0 + 0.5)"
               " AS BIGINT)").alias("x"),
        F.expr("CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000000.0 + 0.5)"
               " AS BIGINT)").alias("y"),
    )
    m = pts.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x").cast("decimal(38,0)") * F.col("y"))).alias("sxy"),
        F.sum((F.col("x").cast("decimal(38,0)") * F.col("x"))).alias("sxx"),
    )
    kd = "CAST(k AS DOUBLE)"
    den = f"({kd} * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    num = f"({kd} * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    slope = f"({num} / {den})"
    intercept = f"((CAST(sy AS DOUBLE) - {slope} * CAST(sx AS DOUBLE)) / {kd} / 1000000000.0)"
    return m.select(
        F.col("k").alias("n_terms"),
        F.when(F.expr(den) > 0, rdet(F.expr(slope), 6)).alias("zipf_slope"),
        F.when(F.expr(den) > 0, rdet(F.expr(intercept), 6)).alias("zipf_intercept"),
    )


def _zipf_sql() -> str:
    kd = "CAST(k AS DOUBLE)"
    den = f"({kd} * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    num = f"({kd} * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    slope = f"({num} / {den})"
    intercept = (
        f"((CAST(sy AS DOUBLE) - {slope} * CAST(sx AS DOUBLE)) / {kd}"
        " / 1000000000.0)"
    )
    return f"""
WITH freq AS (
  SELECT word, COUNT(*)::BIGINT AS freq FROM (
    SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS word
    FROM documents) WHERE word <> '' GROUP BY word),
head AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, word ASC) AS rank
  FROM freq QUALIFY rank <= {ZIPF_TOP_K}),
pts AS (
  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT) AS x,
         CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT) AS y
  FROM head),
m AS (
  SELECT COUNT(*) AS k,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx
  FROM pts)
SELECT CAST(k AS BIGINT) AS n_terms,
       CASE WHEN {den} > 0 THEN {rdet_sql(slope, 6)} END AS zipf_slope,
       CASE WHEN {den} > 0 THEN {rdet_sql(intercept, 6)} END AS zipf_intercept
FROM m
"""


def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Simpson (Herfindahl) vocabulary concentration
    lambda = sum((n_i/N)^2) and its diversity complement 1 - lambda —
    the corpus-slice health number that flags template farms (a few
    words dominate -> lambda high) where per-doc TTR
    (text_lexical_diversity) cannot, because it averages away
    cross-document repetition.

    Exact plumbing: word counts n_i and the squared sum accumulate as
    exact integers (DECIMAL(38,0) for sum(n_i^2)); lambda is ONE
    double division of exact sums under rdet(9) — at lambda ~ 1e-3
    the 9-decimal rendering keeps ~6 significant digits.

    Scale: one explode -> (source, word) map-side-combined count, one
    per-source aggregate; output rows = |sources|.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(words()).alias("word"))
        .filter("word <> ''")
        .groupBy("source", "word")
        .agg(F.count("*").alias("n"))
    )
    per = counts.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("n")).alias("ss"),
    )
    lam = (
        "(CAST(ss AS DOUBLE)"
        " / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)))"
    )
    return per.select(
        "source",
        "n_tokens",
        "vocab",
        F.when(F.col("n_tokens") > 0, rdet(F.expr(lam), 9)).alias("simpson"),
        F.when(F.col("n_tokens") > 0, rdet(F.expr(f"1.0 - {lam}"), 9)).alias(
            "diversity"
        ),
    ).orderBy("source")


def _simpson_sql() -> str:
    lam = (
        "(CAST(ss AS DOUBLE)"
        " / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)))"
    )
    return f"""
WITH counts AS (
  SELECT source, word, COUNT(*)::BIGINT AS n FROM (
    SELECT source, unnest(regexp_split_to_array(trim(text), ' +')) AS word
    FROM documents) WHERE word <> '' GROUP BY source, word),
per AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
         COUNT(*)::BIGINT AS vocab,
         CAST(SUM(CAST(n AS DECIMAL(38,0)) * n) AS DECIMAL(38,0)) AS ss
  FROM counts GROUP BY source)
SELECT source, n_tokens, vocab,
       CASE WHEN n_tokens > 0 THEN {rdet_sql(lam, 9)} END AS simpson,
       CASE WHEN n_tokens > 0 THEN {rdet_sql(f"1.0 - {lam}", 9)} END
         AS diversity
FROM per ORDER BY source
"""


# --- deterministic quality classifier (the curation "model" stage) ---
# Fixed integer-rational weights over the engine's own heuristic
# features — a frozen logistic scorer in the spirit of the fastText /
# logistic quality classifiers C4, CCNet and Gopher pair with their
# rule filters (Raffel 2020 §2.2, Wenzek 2020, Rae 2021 — public).
# Everything up to the final sigmoid is EXACT int64 fixed-point (e6),
# so the logit hash-matches bit-for-bit; only the display score is a
# float (rdet 6). Weights are integer rationals applied with DIV on
# non-negative operands (convention #7 never bites).
QC_BIAS_E6 = -4_000_000            # intercept
QC_MWL_PEAK_E6 = 4_500_000         # mean-word-length sweet spot (chars)


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-weight logistic quality score per document:

    logit = -4.0 + 0.9*ln(1+n_words) + 2.0*stop_ratio
            - 1.5*dup_word_frac + 1.0*alpha_word_ratio
            - 0.5*|mean_word_len - 4.5|

    combining the length, stopword (text_quality), repetition
    (text_repetition) and Gopher word-shape (text_gopher_quality)
    features into one calibrated-looking score — the classifier stage
    a curation pipeline runs between rule filtering and mixing.
    ``kept`` is the logit>=0 decision. All features are exact integer
    fixed-point at 1e6; the logit is an exact int64 combination of
    them (integer-rational weights via DIV on non-negative operands),
    so ordering and the keep decision cannot drift between engines;
    the sigmoid is display-only.

    Scale shape: ONE map-only projection over documents — no shuffle,
    no join, no window; whole-stage-codegen end to end. Empty text
    needs no guard: split('') = [''] gives n_words = 1 on both engines
    and every ratio stays defined.
    """
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", words().alias("w")).select(
        "doc_id",
        F.expr("CAST(size(w) AS BIGINT)").alias("n_words"),
        F.expr("CAST(size(array_distinct(w)) AS BIGINT)").alias("n_distinct"),
        F.expr(
            "aggregate(transform(w, x -> CAST(length(x) AS BIGINT)),"
            " 0L, (a, x) -> a + x)"
        ).alias("word_chars"),
        _stop_hits(F.col("w"), LANG_STOPWORDS["en"]).alias("stop_hits"),
        F.expr("CAST(size(filter(w, x -> x rlike '[A-Za-z]')) AS BIGINT)").alias(
            "alpha"
        ),
    )
    feats = staged.select(
        "doc_id",
        "n_words",
        F.expr(
            "CAST(floor(ln(1.0 + n_words) * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("f_len_e6"),
        F.expr("stop_hits * 1000000 DIV n_words").alias("f_stop_e6"),
        F.expr("(n_words - n_distinct) * 1000000 DIV n_words").alias("f_dupw_e6"),
        F.expr("alpha * 1000000 DIV n_words").alias("f_alpha_e6"),
        F.expr("word_chars * 1000000 DIV n_words").alias("f_mwl_e6"),
    )
    scored = feats.select(
        "doc_id",
        "n_words",
        F.expr(
            f"CAST({QC_BIAS_E6} + (9 * f_len_e6) DIV 10 + 2 * f_stop_e6"
            f" - (3 * f_dupw_e6) DIV 2 + f_alpha_e6"
            f" - abs(f_mwl_e6 - {QC_MWL_PEAK_E6}) DIV 2 AS BIGINT)"
        ).alias("logit_e6"),
    )
    return scored.select(
        "doc_id",
        "n_words",
        "logit_e6",
        rdet(
            F.expr("1.0 / (1.0 + exp(-CAST(logit_e6 AS DOUBLE) / 1000000.0))"), 6
        ).alias("quality_prob"),
        F.expr("CAST(logit_e6 >= 0 AS INT)").alias("kept"),
    )


_QC_SQL = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w FROM documents),
base AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
         CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
           AS word_chars,
         CAST(len(list_filter(w, x -> x IN {LANG_STOPWORDS["en"]!r}))
              AS BIGINT) AS stop_hits,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
              AS BIGINT) AS alpha
  FROM w),
feats AS (
  SELECT doc_id, n_words,
         CAST(floor(ln(1.0 + n_words) * 1000000.0 + 0.5) AS BIGINT) AS f_len_e6,
         stop_hits * 1000000 // n_words AS f_stop_e6,
         (n_words - n_distinct) * 1000000 // n_words AS f_dupw_e6,
         alpha * 1000000 // n_words AS f_alpha_e6,
         word_chars * 1000000 // n_words AS f_mwl_e6
  FROM base),
scored AS (
  SELECT doc_id, n_words,
         CAST({QC_BIAS_E6} + (9 * f_len_e6) // 10 + 2 * f_stop_e6
              - (3 * f_dupw_e6) // 2 + f_alpha_e6
              - abs(f_mwl_e6 - {QC_MWL_PEAK_E6}) // 2 AS BIGINT) AS logit_e6
  FROM feats)
SELECT doc_id, n_words, logit_e6,
       {rdet_sql("1.0 / (1.0 + exp(-CAST(logit_e6 AS DOUBLE) / 1000000.0))", 6)}
         AS quality_prob,
       CAST(logit_e6 >= 0 AS INT) AS kept
FROM scored
"""


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
# Chen & Goodman 1999 — public). THE production n-gram smoother: the
# continuation probability P_cont(w2) = N1+(.,w2)/|bigram types| ranks
# words by how many distinct contexts they follow, not raw frequency —
# the classic "San Francisco" correction add-k smoothing can't make.
# ---------------------------------------------------------------------------

KN_MIN_CONTEXT = 5  # contexts seen < 5 times are too sparse to rank
KN_TOPK = 30
# per-product magnitude guard: each of c12*D, c1*D, n1f*n1b must stay
# under 2^60 so 4*c12*D + 3*n1f*n1b < 2^63 (ADVICE r9: non-ANSI Spark
# would silently WRAP past int64 while DuckDB errors — a divergence;
# the guard makes both engines fail loudly instead)
_KN_BOUND = (1 << 60) - 1


def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 corpus bigrams by interpolated Kneser-Ney conditional
    probability P_KN(w2|w1), discount d = 3/4, contexts with c(w1) >=
    KN_MIN_CONTEXT.

    Exact-rational determinism: with d = 3/4 everything clears to the
    common denominator 4*c1*D, so P_KN = ((4*c12 - 3)*D + 3*N1f*N1b)
    / (4*c1*D) is ONE ratio of exact int64s and both engines perform a
    single identical double division (no float accumulation anywhere).
    Magnitudes: each product is GUARDED at 2^60 (so the numerator sum
    4*c12*D + 3*N1f*N1b stays under 2^63): a corpus where c12*D,
    c1*D, or N1f*N1b crosses 2^60 raises loudly ON BOTH ENGINES
    (Spark raise_error / DuckDB error) instead of silently wrapping
    on Spark while DuckDB errors — the ADVICE-r9 divergence. At 1e9
    bigram types that still allows ~1.1e9 occurrences of a single
    bigram type; a corpus beyond that would bump the fixed point to
    int128/DECIMAL.

    Scale shape: one explode->groupBy(gram) shuffle builds the
    bigram-TYPE frame (map-side combined, so the shuffle carries types
    not occurrences); context stats (c1 = sum, N1+(w1,.) = count),
    continuation counts (N1+(.,w2)), and the type total D are all
    re-aggregations of that SAME frame — lazily checkpointed so its
    four consumers don't re-expand the corpus scan (conv. #12).
    top-k is a rounded-value sort with a gram tie-break (conv. #6).
    """
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(words().alias("w"))
    bt = (
        staged.select(F.explode_outer(word_ngrams("w", 2)).alias("gram"))
        .filter(F.col("gram").isNotNull())
        .groupBy("gram")
        .agg(F.count("*").cast("long").alias("c12"))
        .select(
            "gram",
            "c12",
            F.expr("element_at(split(gram, ' '), 1)").alias("w1"),
            F.expr("element_at(split(gram, ' '), 2)").alias("w2"),
        )
        .localCheckpoint(eager=False)
    )
    ctx = bt.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count("*").cast("long").alias("n1f"),
    )
    cont = bt.groupBy("w2").agg(F.count("*").cast("long").alias("n1b"))
    dd = bt.agg(F.count("*").cast("long").alias("d_types"))
    return (
        bt.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(dd))
        .filter(F.col("c1") >= KN_MIN_CONTEXT)
        .select(
            "gram",
            "c12",
            "c1",
            "n1f",
            "n1b",
            "d_types",
            F.expr(
                f"CASE WHEN c12 > {_KN_BOUND} DIV d_types "
                f"OR c1 > {_KN_BOUND} DIV d_types "
                f"OR n1f > {_KN_BOUND} DIV n1b "
                "THEN CAST(raise_error('text_kneser_ney_bigram: int64 "
                "fixed-point bound (2^60) exceeded; bump to DECIMAL') "
                "AS DOUBLE) ELSE "
                + rdet_sql(
                    "CAST((4 * c12 - 3) * d_types + 3 * n1f * n1b AS DOUBLE)"
                    " / (CAST(4 AS BIGINT) * c1 * d_types)",
                    8,
                )
                + " END"
            ).alias("p_kn"),
        )
        .orderBy(F.desc("p_kn"), F.asc("gram"))
        .limit(KN_TOPK)
    )


_KNESER_NEY_SQL = f"""
WITH s AS (
  SELECT regexp_split_to_array(trim(text), ' +') AS w FROM documents),
bt AS MATERIALIZED (
  SELECT gram, CAST(COUNT(*) AS BIGINT) AS c12,
         split_part(gram, ' ', 1) AS w1,
         split_part(gram, ' ', 2) AS w2
  FROM (SELECT unnest({_duck_ngrams(2)}) AS gram FROM s) t
  GROUP BY gram),
ctx AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, CAST(COUNT(*) AS BIGINT) AS n1f
  FROM bt GROUP BY w1),
cont AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM bt GROUP BY w2),
dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS d_types FROM bt)
SELECT bt.gram, bt.c12, ctx.c1, ctx.n1f, cont.n1b, dd.d_types,
       CASE WHEN bt.c12 > {_KN_BOUND} // dd.d_types
              OR ctx.c1 > {_KN_BOUND} // dd.d_types
              OR ctx.n1f > {_KN_BOUND} // cont.n1b
            THEN CAST(error('text_kneser_ney_bigram: int64 fixed-point bound (2^60) exceeded; bump to DECIMAL') AS DOUBLE)
            ELSE {rdet_sql("CAST((4 * bt.c12 - 3) * dd.d_types + 3 * ctx.n1f * cont.n1b AS DOUBLE) / (CAST(4 AS BIGINT) * ctx.c1 * dd.d_types)", 8)} END AS p_kn
FROM bt JOIN ctx USING (w1) JOIN cont USING (w2), dd
WHERE ctx.c1 >= {KN_MIN_CONTEXT}
ORDER BY p_kn DESC, gram ASC
LIMIT {KN_TOPK}
"""


QUERIES = {
    "text_kneser_ney_bigram": text_kneser_ney_bigram,
    "text_quality_classifier": text_quality_classifier,
    "text_simpson_diversity": text_simpson_diversity,
    "text_zipf_slope": text_zipf_slope,
    "text_pmi_bigrams": text_pmi_bigrams,
    "text_readability": text_readability,
    "text_lm_heldout_ppl": text_lm_heldout_ppl,
    "text_rake_keywords": text_rake_keywords,
    "text_lexical_diversity": text_lexical_diversity,
    "text_bigram_lm_score": text_bigram_lm_score,
    "text_length_histogram": text_length_histogram,
    "text_quality": text_quality,
    "text_lang_id": text_lang_id,
    "text_token_count": text_token_count,
    "text_fingerprint": text_fingerprint,
    "text_gopher_quality": text_gopher_quality,
    "text_winnow_fingerprint": text_winnow_fingerprint,
    "text_repetition": text_repetition,
    "text_quality_tiers": text_quality_tiers,
    "text_char_entropy": text_char_entropy,
    "text_ngram_novelty": text_ngram_novelty,
}

ORACLES = {
    "text_kneser_ney_bigram": _KNESER_NEY_SQL,
    "text_quality_classifier": _QC_SQL,
    "text_simpson_diversity": _simpson_sql(),
    "text_zipf_slope": _zipf_sql(),
    "text_pmi_bigrams": _PMI_SQL,
    "text_rake_keywords": _rake_sql(),
    "text_lm_heldout_ppl": _lm_heldout_sql(),
    "text_readability": _READABILITY_SQL,
    "text_lexical_diversity": _LEXDIV_SQL,
    "text_bigram_lm_score": _BIGRAM_LM_SQL,
    "text_length_histogram": _LENGTH_HIST_SQL,
    "text_quality": _TEXT_QUALITY_SQL,
    "text_lang_id": _TEXT_LANG_SQL,
    "text_token_count": _TEXT_TOKEN_SQL,
    "text_fingerprint": _TEXT_FP_SQL,
    "text_gopher_quality": _GOPHER_SQL,
    "text_winnow_fingerprint": _winnow_sql(),
    "text_repetition": _REPETITION_SQL,
    "text_quality_tiers": _QUALITY_TIERS_SQL,
    "text_char_entropy": _CHAR_ENTROPY_SQL,
    "text_ngram_novelty": _NGRAM_NOVELTY_SQL,
}
