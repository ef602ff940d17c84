"""Deduplication operators over the ``documents`` table.

The reference feeds a downstream ``Deduplicator`` it never implements
(HighVolumeExcelConverter-Contract-v2.0.1.md:45 names it as the next
ETL stage); this module supplies that stage Spark-first, at the four
standard levels used for LLM training corpora:

* exact           — hash-groupBy on the raw text (one shuffle)
* exact-normalized— same, on case/space/punct-normalized text
* n-gram Jaccard  — exact word-3-gram set similarity via shingle
                    explode + equi-join on shingle (the join key makes
                    this a co-partitioned shuffle join, NOT a cross
                    join; still the quadratic-prone exact variant —
                    at 100 TB run minhash_lsh first and use this only
                    to verify candidates)
* MinHash + LSH   — 32 portable min-hashes, banded 8x4; candidates are
                    pairs sharing a band bucket. Linear shuffle cost;
                    this is the scale path.
* SimHash         — 32-bit signature; near-dup pairs found by the
                    4-block pigeonhole trick (hamming<=3 implies two
                    docs agree on at least one 8-bit block), so the
                    banded self-join is provably equivalent to the
                    exact cross-join the oracle runs.

Everything is built-in-function SQL (no Python UDFs). The hash is
*portable*: h(s) = int(md5(s)[:8], 16), expressible in both Spark
(``conv(substr(md5(s),1,8),16,10)``) and DuckDB
(``('0x'||substr(md5(s),1,8))::BIGINT``), so even the approximate
signatures are bit-for-bit oracle-checkable.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from catme_etl_j_spark.functions.tokens import normalized, split_words, word_ngrams, words
from catme_etl_j_spark.operators.text import NORM_DUCK
from catme_etl_j_spark.plans.iterate import iterate
from catme_etl_j_spark.sources.tables import load_table, spread_small_scan

# --- portable MinHash constants (shared by Spark exprs and oracle SQL) ---
NUM_PERM = 32
BANDS, ROWS_PER_BAND = 8, 4
MERSENNE_P = 4294967311  # smallest prime > 2^32
_rng = random.Random(42)
# a < 2^20 keeps a*h < 2^52 — no int64 overflow in either engine.
PERM_A = [_rng.randrange(1, 1 << 20) for _ in range(NUM_PERM)]
PERM_B = [_rng.randrange(0, MERSENNE_P) for _ in range(NUM_PERM)]

JACCARD_THRESHOLD = 0.7
SIMHASH_MAX_HAMMING = 3
# 64-bit signature carried as two 32-bit halves (hi/lo): a single
# BIGINT would need 1<<63, which overflows signed int64 in BOTH
# engines; two halves keep every value in [0, 2^32) and the hamming
# distance is just the sum of the halves' bit_counts.
SIMHASH_BITS = 64
SIMHASH_BLOCKS = SIMHASH_MAX_HAMMING + 1  # pigeonhole-complete
SIMHASH_BLOCK_BITS = SIMHASH_BITS // SIMHASH_BLOCKS  # 16 -> 65,536 buckets/block
# The banding in dedup_simhash_pairs derives from these constants; they
# must tile the two 32-bit halves exactly or pigeonhole completeness
# (any pair within SIMHASH_MAX_HAMMING shares >=1 intact block) breaks.
assert SIMHASH_BLOCKS * SIMHASH_BLOCK_BITS == SIMHASH_BITS
assert 32 % SIMHASH_BLOCK_BITS == 0

_SHINGLE_CTE_DUCK = """
words AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w FROM documents),
shingles AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(w) - 1),
                i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS s
  FROM words),
hashed AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM shingles)
"""


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, s) exploded distinct word-3-gram shingles.

    The split + HOF shingle transform is interpreted, scan-stage CPU;
    spread_small_scan keeps it off a 1-task scan when the corpus
    arrives as fewer splits than cores (guide §2.5 — every consumer
    reshuffles the gram stream by its own key right after)."""
    docs = spread_small_scan(spark, load_table(spark, sf_dir, "documents"))
    return (
        docs.withColumn("w", words())
        .select("doc_id", F.explode(word_ngrams("w", 3, distinct=True)).alias("s"))
    )


# ---------------------------------------------------------------------------
# Exact dedup.
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the min doc_id of each identical-text group."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies")
    ).select("doc_id", "n_copies")


_EXACT_SQL = """
SELECT min(doc_id) AS doc_id, count(*) AS n_copies
FROM documents GROUP BY text
"""


def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text (case/punct/whitespace-folded)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(normalized()).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("fp", "doc_id", "n_copies")
    )


_EXACT_NORM_SQL = f"""
SELECT md5({NORM_DUCK}) AS fp, min(doc_id) AS doc_id, count(*) AS n_copies
FROM documents GROUP BY fp
"""


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (shuffle join on shingle, not a cross join).
# ---------------------------------------------------------------------------

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNCAPPED exact word-3-gram Jaccard pairs — oracle-twin / verify
    path ONLY. A shingle appearing in k documents emits k^2 candidate
    pairs in the self-join, so a hot stop-phrase makes this quadratic at
    corpus scale. For production near-dedup run
    :func:`dedup_minhash_lsh` (linear LSH candidates) and verify with
    :func:`dedup_ngram_jaccard_capped` (df-capped fan-out). This
    function warns loudly so the unbounded variant is never picked by
    accident; semantics are unchanged (the DuckDB oracle twin is the
    same uncapped join).
    """
    import warnings

    warnings.warn(
        "dedup_ngram_jaccard is the UNCAPPED exact shingle self-join "
        "(O(df^2) per hot shingle) — use dedup_ngram_jaccard_capped or "
        "dedup_minhash_lsh at scale",
        RuntimeWarning,
        stacklevel=2,
    )
    # explicit repartition ON THE JOIN KEY: the documents scan is 1-2
    # files and the shingle frame is small in BYTES, so AQE coalesces
    # the join's exchange to ~2 tasks — blind to the O(df^2) OUTPUT
    # explosion each task then produces (measured r10: the sf1.0
    # self-join ran 334 s on 2 cores). A user-specified partition
    # count survives AQE, the self-join co-partitions on s with no
    # further exchange, and the pair counts partial-aggregate map-side
    # in every task.
    sh = _shingled(spark, sf_dir).repartition(64, "s").cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("i"))
    )
    sx = sizes.alias("x")
    sy = sizes.alias("y")
    jac = F.col("i").cast("double") / (F.col("x.n") + F.col("y.n") - F.col("i"))
    return (
        inter.join(sx, F.col("doc_a") == F.col("x.doc_id"))
        .join(sy, F.col("doc_b") == F.col("y.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# shingles inlined PER REFERENCE (not a shared CTE): this DuckDB
# auto-materializes any twice-referenced CTE and scans the
# materialization single-threaded, serializing the whole self-join
# pipeline (the r10 sf1.0 finding — see similarity._lsh_sql). The
# duplicated shingling costs two extra |docs|-row regex passes; the
# self-join is where the minutes live.
_SHINGLES_SUBQ = (
    "(SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1), "
    "i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS s "
    "FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w "
    "FROM documents) wq)"
)

_JACCARD_SQL = f"""
WITH inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM {_SHINGLES_SUBQ} a JOIN {_SHINGLES_SUBQ} b
    ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sizes AS (
  SELECT doc_id, count(*) AS n FROM {_SHINGLES_SUBQ} sq GROUP BY doc_id)
SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (x.n + y.n - i) AS jaccard
FROM inter JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# MinHash signatures + banded LSH candidates.
# ---------------------------------------------------------------------------

def _minhash_rows_pandas(it):
    """mapInPandas worker for :func:`_minhash_df`: documents
    (doc_id, text) -> one (doc_id, m0..m31) row per document with >=1
    shingle. Replicates the expression pipeline exactly:

    * words = functions.tokens.split_words(text), the Python mirror of
      the Spark split;
    * shingles = distinct 'w[i] w[i+1] w[i+2]' for i in 1..len(w)-2
      (docs with <3 words emit nothing — exactly the rows the old
      explode+groupBy dropped);
    * h = int(md5(s)[:8], 16) over the UTF-8 bytes (the portable hash);
    * m_k = min over shingles of (A_k*h + B_k) % MERSENNE_P, computed
      in numpy int64 — exact (a < 2^20, h < 2^32 => a*h + b < 2^53),
      the same integers the JVM expressions produce.

    The md5 memo is a per-task deterministic-value cache (shingles
    repeat heavily across near-duplicate documents); bounded so a
    pathological corpus cannot grow it without limit.
    """
    import numpy as np
    import pandas as pd
    from hashlib import md5 as _md5

    A = np.array(PERM_A, dtype=np.int64)[:, None]
    B = np.array(PERM_B, dtype=np.int64)[:, None]
    memo: dict[str, int] = {}
    cols = ["doc_id"] + [f"m{i}" for i in range(NUM_PERM)]
    for pdf in it:
        ids: list[int] = []
        hs_all: list[int] = []
        offsets: list[int] = [0]
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if text is None:
                continue
            w = split_words(text)
            n = len(w) - 2
            if n < 1:
                continue
            seen: set[str] = set()
            for i in range(n):
                s = w[i] + " " + w[i + 1] + " " + w[i + 2]
                if s in seen:
                    continue
                seen.add(s)
                h = memo.get(s)
                if h is None:
                    h = int.from_bytes(_md5(s.encode("utf-8")).digest()[:4], "big")
                    if len(memo) < (1 << 21):
                        memo[s] = h
                hs_all.append(h)
            ids.append(doc_id)
            offsets.append(len(hs_all))
        if not ids:
            continue
        arr = np.array(hs_all, dtype=np.int64)
        vals = (A * arr[None, :] + B) % MERSENNE_P  # (32, n_shingles), exact
        mins = np.minimum.reduceat(vals, np.array(offsets[:-1]), axis=1)  # (32, docs)
        out = {"doc_id": np.array(ids, dtype=np.int64)}
        for k in range(NUM_PERM):
            out[f"m{k}"] = mins[k]
        yield pd.DataFrame(out, columns=cols)


def _minhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-permutation MinHash signature.

    r12 (guide §4.2, VERDICT r11 #2): ONE map-only Arrow pass
    (``_minhash_rows_pandas``) replaces the interpreted-HOF shingle
    explode + JVM md5 + 32-way min aggregate — the shingle stream
    never leaves its scan task, so the groupBy(doc_id) shuffle is gone
    and the hot plan has no interpreted lambda. Same-session A/B vs
    the expression pipeline (now ``_minhash_df_expr`` in
    tests/test_operators.py, the equivalence pin) recorded in
    BENCH_LOG.jsonl and OPTIMIZATION_r12.md.
    """
    # Guide §2.5 (input parallelism): the map-only pass inherits the
    # scan's split count — one small parquet file would run the whole
    # shingle+md5 compute serially however many cores exist (measured
    # at sf1.0: dedup_minhash_lsh flat 8.8 s at 8 AND 32 cores before
    # the spread, 1.7 s at 32 cores after).
    docs = spread_small_scan(
        spark, load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    schema = ", ".join(["doc_id bigint"] + [f"m{i} bigint" for i in range(NUM_PERM)])
    return docs.mapInPandas(_minhash_rows_pandas, schema)


def _band_col(j: int, rows_per_band: int = ROWS_PER_BAND):
    cols = [F.col(f"m{j * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
    return F.md5(F.concat_ws(",", *cols))


def minhash_lsh_candidates(
    spark: SparkSession,
    sf_dir: str,
    *,
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    mh: DataFrame | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs ``(doc_a < doc_b)``.

    ``bands``/``rows_per_band`` are the corpus-scale tuning knob: the
    match-probability S-curve is 1-(1-j^rows)^bands, so more rows per
    band = stricter (fewer, higher-jaccard candidates), more bands =
    higher recall. ``bands * rows_per_band`` must fit in the NUM_PERM
    signature.
    """
    if bands * rows_per_band > NUM_PERM:
        raise ValueError(
            f"bands*rows_per_band ({bands}*{rows_per_band}) exceeds NUM_PERM={NUM_PERM}"
        )
    if mh is None:
        mh = _minhash_df(spark, sf_dir)
    # cached: the self-join below consumes this frame twice — uncached,
    # the whole shingle -> hash -> 32-way minhash aggregate pipeline
    # re-expands into BOTH sides (the similarity._lsh banded-frame
    # precedent, r11)
    bands_df = (
        mh.select(
            "doc_id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(j).alias("band_idx"),
                        _band_col(j, rows_per_band).alias("bh"),
                    )
                    for j in range(bands)
                ])
            ).alias("band"),
        )
        .select("doc_id", "band.band_idx", "band.bh")
        .cache()
    )
    a, b = bands_df.alias("a"), bands_df.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs with minhash-estimated similarity.

    One shuffle to build signatures, one to bucket bands, one to join —
    linear in corpus size; the scale path for 100 TB near-dedup.
    """
    mh = _minhash_df(spark, sf_dir).cache()
    pairs = minhash_lsh_candidates(spark, sf_dir, mh=mh)
    x, y = mh.alias("x"), mh.alias("y")
    eq = sum(
        F.when(F.col(f"x.m{i}") == F.col(f"y.m{i}"), 1).otherwise(0) for i in range(NUM_PERM)
    )
    return (
        pairs.join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(y, F.col("doc_b") == F.col("y.doc_id"))
        .select("doc_a", "doc_b", (eq.cast("double") / NUM_PERM).alias("est_jaccard"))
    )


def _minhash_sql() -> str:
    mins = ",\n         ".join(
        f"min(({PERM_A[i]} * h + {PERM_B[i]}) % {MERSENNE_P}) AS m{i}" for i in range(NUM_PERM)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {j} AS band_idx, md5(concat_ws(',', {cols})) AS bh FROM mh".format(
            j=j,
            cols=", ".join(f"m{j * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
        )
        for j in range(BANDS)
    )
    eq = " + ".join(f"CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END" for i in range(NUM_PERM))
    return f"""
WITH {_SHINGLE_CTE_DUCK},
mh AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id),
bands AS (
{band_rows}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(({eq}) AS DOUBLE) / {NUM_PERM} AS est_jaccard
FROM pairs JOIN mh x ON doc_a = x.doc_id JOIN mh y ON doc_b = y.doc_id
"""


# ---------------------------------------------------------------------------
# SimHash signatures + pigeonhole-banded near-dup pairs.
# ---------------------------------------------------------------------------

def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 64-bit SimHash signature as two 32-bit halves.

    Bits 0-31 (``simhash_lo``) come from the portable 32-bit shingle
    hash md5[1:8]; bits 32-63 (``simhash_hi``) from the independent
    md5[9:16] half — together the md5-derived 64 portable bits. Both
    halves stay in [0, 2^32), so no signed-overflow hazard in either
    engine (1<<63 would not fit a BIGINT).
    """
    h = _hashed2(spark, sf_dir)
    half = SIMHASH_BITS // 2
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(shiftright({src}, {i}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"s{name}{i}")
        for src, name in (("h1", "lo"), ("h2", "hi"))
        for i in range(half)
    ]
    per_doc = h.groupBy("doc_id").agg(*bit_sums)

    def _half(name: str):
        return sum(
            F.when(
                F.col(f"s{name}{i}") > 0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            for i in range(half)
        )

    return per_doc.select(
        "doc_id", _half("hi").alias("simhash_hi"), _half("lo").alias("simhash_lo")
    )


def _hashed2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingles with BOTH portable 32-bit hash halves (md5[1:8], md5[9:16])."""
    return _shingled(spark, sf_dir).select(
        "doc_id",
        F.expr("CAST(conv(substr(md5(s), 1, 8), 16, 10) AS BIGINT)").alias("h1"),
        F.expr("CAST(conv(substr(md5(s), 9, 8), 16, 10) AS BIGINT)").alias("h2"),
    )


# Same words/shingles CTEs as the minhash oracle — only the hashed CTE
# differs (both 32-bit md5 halves instead of one), so derive it rather
# than duplicating the shingling SQL.
_SHINGLE2_CTE_DUCK = _SHINGLE_CTE_DUCK.replace(
    "hashed AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM shingles)",
    """hashed AS (SELECT doc_id,
                  ('0x' || substr(md5(s), 1, 8))::BIGINT AS h1,
                  ('0x' || substr(md5(s), 9, 8))::BIGINT AS h2
           FROM shingles)""",
)
assert _SHINGLE2_CTE_DUCK != _SHINGLE_CTE_DUCK  # replace() must have matched


def _simhash_sql_core() -> str:
    half = SIMHASH_BITS // 2
    sums = ",\n         ".join(
        f"sum(CASE WHEN ({src} >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{name}{i}"
        for src, name in (("h1", "lo"), ("h2", "hi"))
        for i in range(half)
    )

    def _half(name: str) -> str:
        return " + ".join(
            f"CASE WHEN s{name}{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
            for i in range(half)
        )

    return f"""
WITH {_SHINGLE2_CTE_DUCK},
bits AS (
  SELECT doc_id,
         {sums}
  FROM hashed GROUP BY doc_id),
sig AS (SELECT doc_id, {_half("hi")} AS simhash_hi, {_half("lo")} AS simhash_lo FROM bits)
"""


def _simhash_sql() -> str:
    return _simhash_sql_core() + "SELECT doc_id, simhash_hi, simhash_lo FROM sig"


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: hamming(simhash_a, simhash_b) <= 3 over the
    64-bit signature.

    Banded self-join on the 4 16-bit blocks of the signature — by
    pigeonhole, any pair within hamming 3 shares at least one intact
    block. 65,536 buckets per block (vs 256 with the old 8-bit blocks
    on a 32-bit signature) keeps per-bucket occupancy — and hence the
    self-join fan-out — ~256x lower at corpus scale, while equaling the
    exact all-pairs scan (which the oracle runs).
    """
    sig = dedup_simhash(spark, sf_dir).cache()
    # Blocks derived from the constants: low half first, then high half
    # (SIMHASH_BLOCK_BITS bits each; mask = 2^bits - 1). With the
    # defaults this is blocks 0,1 from simhash_lo and 2,3 from
    # simhash_hi, 16 bits / 65,536 buckets apiece.
    bb = SIMHASH_BLOCK_BITS
    mask = (1 << bb) - 1
    per_half = 32 // bb
    block_exprs = [
        F.expr(f"(shiftright({half}, {j * bb}) & {mask})")
        for half in ("simhash_lo", "simhash_hi")
        for j in range(per_half)
    ][:SIMHASH_BLOCKS]
    blocks = sig.select(
        "doc_id",
        "simhash_hi",
        "simhash_lo",
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("block_idx"), e.alias("bv"))
                for j, e in enumerate(block_exprs)
            ])
        ).alias("blk"),
    ).select("doc_id", "simhash_hi", "simhash_lo", "blk.block_idx", "blk.bv")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr(
                "bit_count(a.simhash_hi ^ b.simhash_hi)"
                " + bit_count(a.simhash_lo ^ b.simhash_lo)"
            ).cast("long").alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)


def _simhash_pairs_sql() -> str:
    ham = (
        "bit_count(xor(a.simhash_hi, b.simhash_hi))"
        " + bit_count(xor(a.simhash_lo, b.simhash_lo))"
    )
    return _simhash_sql_core() + f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({ham} AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE {ham} <= {SIMHASH_MAX_HAMMING}
"""


MAX_SHINGLE_DF = 100  # document-frequency cap for the scale-safe variant


def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe exact Jaccard: shingles occurring in more than
    MAX_SHINGLE_DF documents are dropped BEFORE the self-join.

    Ultra-common shingles are the skew bomb in shingle joins (a shingle
    in k docs contributes k^2 candidate pairs); df-capping bounds the
    per-key fan-out, at the cost of missing pairs whose only overlap is
    stop-phrase boilerplate — exactly the pairs near-dedup doesn't want
    anyway. Deterministic: the oracle applies the same cap, and the
    Jaccard denominators still use the UNCAPPED shingle sets.
    """
    from pyspark.sql import Window as W

    sh = _shingled(spark, sf_dir).cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # df-cap via a window count instead of groupBy+self-join: one
    # exchange on s (which the following self-join reuses) and no join
    # against the df table — measured 2.4x faster at sf0.1.
    rare = (
        sh.withColumn("df", F.count("*").over(W.partitionBy("s")))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("doc_id", "s")
    )
    a, b = rare.alias("a"), rare.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("i"))
    )
    sx, sy = sizes.alias("x"), sizes.alias("y")
    jac = F.col("i").cast("double") / (F.col("x.n") + F.col("y.n") - F.col("i"))
    return (
        inter.join(sx, F.col("doc_a") == F.col("x.doc_id"))
        .join(sy, F.col("doc_b") == F.col("y.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard_lb"))
        .filter(F.col("jaccard_lb") >= JACCARD_THRESHOLD)
    )


_JACCARD_CAPPED_SQL = f"""
WITH {_SHINGLE_CTE_DUCK.replace("hashed AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM shingles)", "sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id)")},
rare AS (
  SELECT doc_id, s FROM shingles
  WHERE s IN (SELECT s FROM shingles GROUP BY s HAVING count(*) <= {MAX_SHINGLE_DF})),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (x.n + y.n - i) AS jaccard_lb
FROM inter JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Winnowing-based near-dup candidates (the classic MOSS use): documents
# sharing selected k-gram fingerprints are candidate near-copies.
# ---------------------------------------------------------------------------

MAX_WINNOW_DF = 100  # fingerprint document-frequency cap (skew guard)
WINNOW_SIM_THRESHOLD = 0.5


def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via winnowed fingerprints (Schleimer et al.,
    SIGMOD 2003 §4 — the MOSS candidate join), Spark-first:

    explode each document's selected fingerprints (text.winnow_fps, a
    linear per-row computation) -> df-cap fingerprints appearing in more
    than MAX_WINNOW_DF docs (a fingerprint in k docs contributes k^2
    join pairs; the cap bounds per-key fan-out exactly like
    MAX_SHINGLE_DF in the capped shingle join) -> equi-join on the
    fingerprint (co-partitioned shuffle join, never all-pairs) -> count
    shared fingerprints and keep pairs whose fingerprint-set Jaccard
    clears WINNOW_SIM_THRESHOLD. Denominators use the UNCAPPED
    fingerprint sets, so the cap can only drop pairs, never inflate
    similarity.
    """
    from catme_etl_j_spark.operators.text import winnow_fps

    # The fingerprint map is CPU-bound (O(L) interpreted md5 per row),
    # so spread it over all cores even when the input is one small
    # parquet split (sf0.1 documents = 1 partition -> single-threaded
    # otherwise; measured 3.0s -> 0.77s at 32 partitions). The shuffled
    # payload is just raw text, one pass, ahead of a far more expensive
    # stage — at cluster scale the scan's own splits already provide
    # this parallelism and the exchange coalesces under AQE.
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # explode_OUTER deliberately: inner explode triggers Catalyst's
    # InferFiltersFromGenerate, whose synthesized size(fps)>0 filter is
    # then predicate-pushed BELOW the staged winnow Projects with the
    # whole fps expression inlined — re-evaluating the normalization
    # chain per array element (the same O(L^2)+ blowup the staging
    # exists to prevent). The outer variant skips that rule, and the
    # null-filter on the generator OUTPUT attribute cannot be pushed
    # through the Generate (guarded in tests/test_plans.py).
    fp = (
        winnow_fps(docs)
        .select("doc_id", F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
        .cache()
    )
    sizes = fp.groupBy("doc_id").agg(F.count("*").alias("n"))
    # window-count df-cap: same single-exchange trick as the capped
    # shingle join (see dedup_ngram_jaccard_capped)
    from pyspark.sql import Window as W

    rare = (
        fp.withColumn("df", F.count("*").over(W.partitionBy("fp")))
        .filter(F.col("df") <= MAX_WINNOW_DF)
        .select("doc_id", "fp")
    )
    a, b = rare.alias("a"), rare.alias("b")
    inter = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("i"))
    )
    sx, sy = sizes.alias("x"), sizes.alias("y")
    sim = F.col("i").cast("double") / (F.col("x.n") + F.col("y.n") - F.col("i"))
    return (
        inter.join(sx, F.col("doc_a") == F.col("x.doc_id"))
        .join(sy, F.col("doc_b") == F.col("y.doc_id"))
        .select("doc_a", "doc_b", F.col("i").alias("shared_fp"), sim.alias("winnow_sim"))
        .filter(F.col("winnow_sim") >= WINNOW_SIM_THRESHOLD)
    )


def _winnow_pairs_sql() -> str:
    from catme_etl_j_spark.operators.text import winnow_cte_duck

    return f"""
WITH {winnow_cte_duck()},
fp AS (SELECT doc_id, unnest(fps) AS fp FROM m),
sizes AS (SELECT doc_id, count(*) AS n FROM fp GROUP BY doc_id),
rare AS (
  SELECT doc_id, fp FROM fp
  WHERE fp IN (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= {MAX_WINNOW_DF})),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, i AS shared_fp,
       CAST(i AS DOUBLE) / (x.n + y.n - i) AS winnow_sim
FROM inter JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= {WINNOW_SIM_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# The actual Deduplicator stage: LSH pairs -> near-dup clusters
# (connected components) -> keep the min doc_id per cluster.
# ---------------------------------------------------------------------------

def _connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Min-label propagation to fixpoint: (nid) x (src, dst) -> (nid, rep)
    where rep = min doc_id in the node's component.

    Each step is one neighbor-min equi-join + agg over a self-looped
    edge set (the loop edge makes the dst-min include the node's own
    rep, so there is no separate labels-merge join) PLUS a
    path-halving shortcut (rep <- min(rep, rep-of-rep)): halving makes
    label distances contract geometrically, so steps drop from
    O(diameter) to O(log diameter) — measured at sf0.1 the LSH-edge
    components took 9 plain-propagation steps vs 6 with halving
    (shallow 2-step MinHash components are unaffected). Each
    ``iterate`` round (eager checkpoint, convention #15) runs TWO
    steps, so the per-round fixed costs are paid half as often; every
    intermediate has exactly one consumer, so the fused lineage never
    re-expands. Every rep value is itself a node id, so the halving
    shortcut is an equi-join against the round base's checkpointed
    materialization — a scan, not a recompute. The fixpoint (min label
    per component) is unchanged: halving only ever lowers a label
    toward the same minimum the DuckDB oracles converge to (their
    unrolled rounds use the same rep-of-rep shortcut).

    Convergence test: both steps' label sums ride the round's
    checkpoint as observed metrics (convention #16 — no probe job).
    Propagation only ever lowers a label, so equal sums within a round
    (exact integers, per-node monotone non-increasing) mean step 2
    changed nothing: the fixpoint is reached, possibly on the round's
    FIRST step — shallow closures (MinHash components converge in 1-2
    steps) finish in ONE round.
    """
    # Materialize the edge set ONCE before iterating: without this,
    # every round's join re-executes the edges' full upstream pipeline
    # (for LSH edges: shingle -> minhash -> band self-join), multiplying
    # the most expensive stage by rounds-to-fixpoint. This was the
    # round-3 dedup_minhash_keep bench regression (2.18s -> 2.61s).
    # r11: the edge set carries a SELF-LOOP per node, so each step's
    # neighbor-min over dst already includes the node's own rep — the
    # old labels-left-join-neigh merge (one extra join + shuffle per
    # step) is gone, and the groupBy(dst) covers every node.
    edges = edges.union(
        nodes.select(F.col("nid").alias("src"), F.col("nid").alias("dst"))
    ).localCheckpoint()
    labels = nodes.select(F.col("nid"), F.col("nid").alias("rep")).localCheckpoint()

    def _step(cur: DataFrame, halve_vs: DataFrame | None) -> DataFrame:
        nxt = (
            edges.join(cur, edges["src"] == cur["nid"])
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.min("rep").alias("rep"))
        )
        if halve_vs is not None:
            # path halving: rep <- min(rep, labels[rep]); `halve_vs` is
            # the checkpointed round base, so the reference scans a
            # materialization (convention #12 does not bite) and the
            # join chain is linear — each intermediate has exactly one
            # consumer. (r11 A/B: applying it more than once per step
            # does NOT cut rounds — propagation distance, not pointer
            # depth, is binding.)
            pp = halve_vs.select(
                F.col("nid").alias("p_nid"), F.col("rep").alias("p_rep")
            )
            nxt = nxt.join(pp, nxt["rep"] == pp["p_nid"], "left").select(
                "nid",
                F.least(F.col("rep"), F.coalesce("p_rep", F.col("rep"))).alias("rep"),
            )
        return nxt

    obs1 = obs2 = None

    def round_(labels: DataFrame, k: int) -> DataFrame:
        nonlocal obs1, obs2
        # halving is skipped in the first round, where labels is the
        # identity map and the shortcut is provably a no-op join
        base = labels if k > 1 else None
        obs1, obs2 = Observation(), Observation()
        m1 = _step(labels, base).observe(obs1, F.sum("rep").alias("s"))
        return _step(m1, base).observe(obs2, F.sum("rep").alias("s"))

    labels, _ = iterate(
        labels, round_, None, every=1, stop=lambda: obs1.get == obs2.get
    )
    return labels


def dedup_minhash_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicated corpus membership: every document with its near-dup
    cluster representative (min doc_id over the LSH-pair component) and
    a kept flag — the downstream ``Deduplicator`` stage the reference's
    contract names but never implements
    (HighVolumeExcelConverter-Contract-v2.0.1.md:45).
    """
    pairs = minhash_lsh_candidates(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("nid"))
    # one pairs consumer: explode each pair into both directions (the
    # old two-select union re-ran the whole candidate pipeline twice
    # before the edge checkpoint; same edge multiset)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    labels = _connected_components(docs, edges)
    return labels.select(
        F.col("nid").alias("doc_id"),
        F.col("rep").alias("rep_id"),
        (F.col("nid") == F.col("rep")).cast("int").alias("kept"),
    )


def _minhash_keep_sql() -> str:
    """Oracle: same LSH pairs, closure via a recursive CTE (min reachable
    doc_id == the propagation fixpoint)."""
    return f"""
WITH RECURSIVE {_minhash_cte_part()},
bi AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs),
reach(node, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.node, bi.b FROM reach r JOIN bi ON bi.a = r.m)
SELECT node AS doc_id, MIN(m) AS rep_id,
       CAST(CASE WHEN node = MIN(m) THEN 1 ELSE 0 END AS INT) AS kept
FROM reach GROUP BY node
"""


def dedup_minhash_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster resolution: the same LSH near-dup components
    as :func:`dedup_minhash_keep`, but the kept representative is the
    LONGEST member (``n_chars`` DESC, ``doc_id`` ASC tie-break) instead
    of the min doc_id — the policy production corpus pipelines use
    (keep the richest near-duplicate, drop the truncated mirrors).

    Scale shape: linear CC labels (checkpointed, see
    ``_connected_components``) + one co-partitioned join back to
    ``documents`` + one window PARTITIONED BY cluster — no global
    window, no cross product, so it survives a 100 TB corpus.
    """
    pairs = minhash_lsh_candidates(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # one pairs consumer: explode each pair into both directions (the
    # old two-select union re-ran the whole candidate pipeline twice
    # before the edge checkpoint; same edge multiset)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    labels = _connected_components(
        docs.select(F.col("doc_id").alias("nid")), edges
    )
    j = labels.join(docs, labels["nid"] == docs["doc_id"]).select(
        docs["doc_id"], labels["rep"].alias("cluster_id"), docs["n_chars"]
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return j.select(
        "doc_id",
        "cluster_id",
        (F.row_number().over(w) == 1).cast("int").alias("kept"),
    )


def _minhash_keep_best_sql() -> str:
    """Oracle: recursive-CTE closure (as in ``_minhash_keep_sql``) then
    the same longest-member window over the component."""
    return f"""
WITH RECURSIVE {_minhash_cte_part()},
bi AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs),
reach(node, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.node, bi.b FROM reach r JOIN bi ON bi.a = r.m),
comp AS (SELECT node AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY node)
SELECT c.doc_id, c.cluster_id,
       CAST(CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY c.cluster_id
                ORDER BY d.n_chars DESC, c.doc_id ASC) = 1
            THEN 1 ELSE 0 END AS INT) AS kept
FROM comp c JOIN documents d ON d.doc_id = c.doc_id
"""


def _minhash_cte_part() -> str:
    """The shared CTE chain (shingles -> signatures -> bands -> pairs)
    of ``_minhash_sql()``, for composition into derived oracles. Fails
    loudly if the base SELECT is ever reworded, instead of letting
    three call sites silently mangle their SQL."""
    base = _minhash_sql()
    marker = "SELECT doc_a, doc_b,"
    if base.count(marker) != 1:
        raise AssertionError(
            "_minhash_sql() final SELECT was reworded; update _minhash_cte_part"
        )
    cte = base.split(marker)[0].strip()
    assert cte.startswith("WITH")
    return cte[len("WITH"):].strip()


def _minhash_est_select() -> str:
    """The est_jaccard SELECT of ``_minhash_sql()`` (same guard)."""
    base = _minhash_sql()
    marker = "SELECT doc_a, doc_b,"
    return marker + base.split(marker)[1]


def dedup_minhash_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-then-verify: for every banded-LSH candidate pair, the
    minhash-estimated Jaccard NEXT TO the exact 3-gram Jaccard and the
    absolute estimation error — the precision audit that tells you
    whether 32 permutations and an 8x4 banding are enough before you
    trust them on the full corpus.

    Scale shape: the exact intersection is computed ONLY for candidate
    pairs (shingles joined through the pair list on (doc, shingle)),
    so the quadratic exact-join cost is bounded by |candidates| — this
    is exactly the verify stage a 100 TB near-dedup runs after LSH.
    All similarity arithmetic is exact-int division (deterministic
    IEEE), no rounding needed.
    """
    # cached (r11, convention #12): est feeds the intersection join and
    # the output join; sh feeds sizes plus both intersection sides —
    # uncached, the shingle explode ran 3x and the LSH pipeline 2x
    # (6 documents scans in the static plan)
    est = dedup_minhash_lsh(spark, sf_dir).cache()
    sh = _shingled(spark, sf_dir).cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        est.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    xs = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    ys = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = (
        est.join(xs, "doc_a")
        .join(ys, "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("i", F.coalesce("i", F.lit(0)))
    )
    exact = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return j.select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        exact.alias("exact_jaccard"),
        F.abs(F.col("est_jaccard") - exact).alias("abs_err"),
    )


def _minhash_precision_sql() -> str:
    return f"""
WITH {_minhash_cte_part()},
est AS ({_minhash_est_select()}),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS i
  FROM pairs p
  JOIN shingles sa ON sa.doc_id = p.doc_a
  JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.s = sa.s
  GROUP BY 1, 2)
SELECT e.doc_a, e.doc_b, e.est_jaccard,
       CAST(COALESCE(i.i, 0) AS DOUBLE) / (x.n + y.n - COALESCE(i.i, 0)) AS exact_jaccard,
       abs(e.est_jaccard - CAST(COALESCE(i.i, 0) AS DOUBLE) / (x.n + y.n - COALESCE(i.i, 0))) AS abs_err
FROM est e
JOIN sizes x ON e.doc_a = x.doc_id
JOIN sizes y ON e.doc_b = y.doc_id
LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
"""


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram: how big are the MinHash
    components? (size 1 = unique docs). The dedup-audit number a
    curation run reports — e.g. a fat tail of large clusters means the
    corpus has template spam. Composition over the same LSH pairs +
    connected components as dedup_minhash_keep; the histogram itself
    is two tiny aggregations on |docs| rows.
    """
    labels = dedup_minhash_keep(spark, sf_dir)
    sizes = labels.groupBy("rep_id").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def _cluster_sizes_sql() -> str:
    """Oracle: the keep-one closure wrapped as a subquery, then the
    same two aggregations (COUNTs stay BIGINT — convention #5)."""
    keep = _minhash_keep_sql()
    return f"""
SELECT cluster_size, COUNT(*) AS n_clusters
FROM (
  SELECT rep_id, COUNT(*) AS cluster_size
  FROM ({keep}) k
  GROUP BY rep_id
) s
GROUP BY cluster_size
ORDER BY cluster_size
"""


def dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup executive summary: one row per signal with how many
    documents it flags — exact-normalized copies (docs beyond the
    first of each normalized fingerprint), MinHash near-dup members
    (docs whose CC cluster has size > 1), SimHash near-dup members
    (docs with >= 1 hamming<=3 neighbor). The number a curation run
    reports before deciding which dedup tier to apply. Pure
    composition of the three existing signals; pct in ppm stays
    integer arithmetic.
    """
    docs = load_table(spark, sf_dir, "documents")
    total = docs.groupBy().agg(F.count("*").alias("n_docs"))

    exact = dedup_exact_normalized(spark, sf_dir).agg(
        F.sum(F.col("n_copies") - 1).cast("long").alias("n_affected")
    ).select(F.lit("exact_norm").alias("signal"), "n_affected")

    keep = dedup_minhash_keep(spark, sf_dir)
    sizes = keep.groupBy("rep_id").agg(F.count("*").alias("sz"))
    minhash = (
        keep.join(sizes, "rep_id")
        .filter(F.col("sz") > 1)
        .agg(F.count("*").cast("long").alias("n_affected"))
        .select(F.lit("minhash_near").alias("signal"), "n_affected")
    )

    pairs = dedup_simhash_pairs(spark, sf_dir)
    simhash = (
        # one pairs consumer (explode, not a two-select union that
        # would re-run the simhash pipeline twice)
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("d"))
        .distinct()
        .agg(F.count("*").cast("long").alias("n_affected"))
        .select(F.lit("simhash_near").alias("signal"), "n_affected")
    )

    return (
        exact.union(minhash)
        .union(simhash)
        .crossJoin(F.broadcast(total))
        .select(
            "signal",
            "n_docs",
            "n_affected",
            F.expr("CAST((n_affected * 1000000) DIV n_docs AS BIGINT)").alias(
                "affected_ppm"
            ),
        )
        .orderBy("signal")
    )


def _report_sql() -> str:
    keep = _minhash_keep_sql()
    simpairs = _simhash_pairs_sql()
    return f"""
WITH total AS (SELECT COUNT(*) AS n_docs FROM documents),
exact_n AS (
  SELECT CAST(SUM(n_copies - 1) AS BIGINT) AS n_affected
  FROM ({_EXACT_NORM_SQL}) e
),
keep AS ({keep}),
szs AS (SELECT rep_id, COUNT(*) AS sz FROM keep GROUP BY rep_id),
minhash_n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_affected
  FROM keep k JOIN szs s ON k.rep_id = s.rep_id WHERE s.sz > 1
),
simpairs AS ({simpairs}),
simhash_n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_affected FROM (
    SELECT doc_a AS d FROM simpairs UNION SELECT doc_b FROM simpairs) u
),
arms AS (
  SELECT 'exact_norm' AS signal, n_affected FROM exact_n
  UNION ALL
  SELECT 'minhash_near', n_affected FROM minhash_n
  UNION ALL
  SELECT 'simhash_near', n_affected FROM simhash_n
)
SELECT signal, t.n_docs, a.n_affected,
       CAST((a.n_affected * 1000000) // t.n_docs AS BIGINT) AS affected_ppm
FROM arms a, total t
ORDER BY signal
"""


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs an existing MinHash index.
# ---------------------------------------------------------------------------

INCR_SPLIT_MOD = 10
INCR_BATCH_MIN = 8  # doc_id % 10 >= 8 -> the incoming 20% batch
INCR_EQ_THRESHOLD = 23  # eq >= 23 of 32 perms ~ est_jaccard >= 0.71875


def dedup_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: classify an incoming batch against
    an ALREADY-INDEXED corpus without ever re-pairing the corpus.

    ``doc_id % 10 < 8`` plays the indexed corpus (its band table is
    what a real pipeline would persist); ``>= 8`` is the new batch.
    The batch's band hashes equi-join the index's band table, matched
    signatures are scored by permutation agreement, and each incoming
    doc gets its candidate count, its best index match (highest eq,
    then smallest doc_id — deterministic), and an is_dup verdict at
    the eq>=23 (~0.72 estimated Jaccard) threshold.

    Scale: this is the shape that keeps a 100 TB corpus dedupable
    day over day — cost is |batch| x BANDS probe rows joined against
    a bucketed index, independent of corpus size; batch-internal
    duplicates are a separate (tiny) pass, deliberately out of scope
    here. The full-corpus LSH (dedup_minhash_lsh) is the one-time
    backfill; this is the steady state.
    """
    mh = _minhash_df(spark, sf_dir).cache()

    def bands_of(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(j).alias("band_idx"), _band_col(j).alias("bh")
                    )
                    for j in range(BANDS)
                ])
            ).alias("band"),
        ).select("doc_id", "band.band_idx", "band.bh")

    index = mh.filter(F.expr(f"doc_id % {INCR_SPLIT_MOD} < {INCR_BATCH_MIN}"))
    batch = mh.filter(F.expr(f"doc_id % {INCR_SPLIT_MOD} >= {INCR_BATCH_MIN}"))
    cand = (
        bands_of(batch)
        .alias("nb")
        .join(bands_of(index).alias("ib"), ["band_idx", "bh"])
        .select(
            F.col("nb.doc_id").alias("doc_id"), F.col("ib.doc_id").alias("idx_id")
        )
        .distinct()
    )
    x, y = mh.alias("x"), mh.alias("y")
    eq = sum(
        F.when(F.col(f"x.m{i}") == F.col(f"y.m{i}"), 1).otherwise(0)
        for i in range(NUM_PERM)
    )
    est = (
        cand.alias("c")
        .join(x, F.col("c.doc_id") == F.col("x.doc_id"))
        .join(y, F.col("c.idx_id") == F.col("y.doc_id"))
        .select(
            F.col("c.doc_id").alias("doc_id"),
            F.col("c.idx_id").alias("idx_id"),
            eq.cast("long").alias("eq"),
        )
    )
    best = est.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_index_candidates"),
        F.max(F.struct(F.col("eq"), (-F.col("idx_id")).alias("nid"))).alias("b"),
    )
    best2 = best.select(
        "doc_id",
        "n_index_candidates",
        (-F.col("b.nid")).cast("long").alias("best_match_id"),
        F.col("b.eq").cast("long").alias("best_eq"),
    )
    return (
        batch.select("doc_id")
        .join(best2, "doc_id", "left")
        .select(
            "doc_id",
            F.expr("CAST(COALESCE(n_index_candidates, 0) AS BIGINT)").alias(
                "n_index_candidates"
            ),
            "best_match_id",
            "best_eq",
            F.expr(f"COALESCE(best_eq >= {INCR_EQ_THRESHOLD}, false)").alias(
                "is_dup"
            ),
        )
        .orderBy("doc_id")
    )


def _incremental_sql() -> str:
    eq = " + ".join(
        f"CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END" for i in range(NUM_PERM)
    )
    return f"""
WITH {_minhash_cte_part()},
ib AS (SELECT * FROM bands WHERE doc_id % {INCR_SPLIT_MOD} < {INCR_BATCH_MIN}),
nb AS (SELECT * FROM bands WHERE doc_id % {INCR_SPLIT_MOD} >= {INCR_BATCH_MIN}),
cand AS (
  SELECT DISTINCT nb.doc_id AS doc_id, ib.doc_id AS idx_id
  FROM nb JOIN ib ON nb.band_idx = ib.band_idx AND nb.bh = ib.bh),
est AS (
  SELECT c.doc_id, c.idx_id, CAST(({eq}) AS BIGINT) AS eq
  FROM cand c JOIN mh x ON c.doc_id = x.doc_id JOIN mh y ON c.idx_id = y.doc_id),
ranked AS (
  SELECT doc_id, idx_id, eq,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_index_candidates,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY eq DESC, idx_id ASC) AS rn
  FROM est),
best AS (
  SELECT doc_id, CAST(n_index_candidates AS BIGINT) AS n_index_candidates,
         idx_id AS best_match_id, eq AS best_eq
  FROM ranked WHERE rn = 1),
batchdocs AS (
  SELECT DISTINCT doc_id FROM mh WHERE doc_id % {INCR_SPLIT_MOD} >= {INCR_BATCH_MIN})
SELECT b.doc_id,
       CAST(COALESCE(n_index_candidates, 0) AS BIGINT) AS n_index_candidates,
       best_match_id, best_eq,
       COALESCE(best_eq >= {INCR_EQ_THRESHOLD}, false) AS is_dup
FROM batchdocs b LEFT JOIN best USING (doc_id)
ORDER BY doc_id
"""


ER_MAX_EDIT = 3


def dedup_er_similar_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking + edit-distance scoring over part
    names — the structured-data sibling of the text near-dup family.

    The scalable ER shape: resolution runs on the CANONICAL NAME
    vocabulary (distinct names with their entity multiplicities), not
    on the entity rows — with a skewed catalog the same name repeats
    thousands of times, and pairing rows directly is O(dup²) for zero
    information. Names block on their head noun (last token), pair
    within the block under levenshtein <= 3 (both engines implement
    the classic Wagner–Fischer distance — exact integers), and each
    name pair carries n_a * n_b, the number of entity pairs it
    represents. At catalog scale the blocks are the shuffle key; a
    hot noun salts exactly like the NN join in similarity.py.
    """
    part = load_table(spark, sf_dir, "part")
    canon = (
        part.groupBy("p_name")
        .agg(F.count("*").alias("n_parts"))
        .withColumn("noun", F.expr("element_at(split(p_name, ' '), -1)"))
    )
    a, b = canon.alias("a"), canon.alias("b")
    return (
        a.join(
            b,
            (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .withColumn("dist", F.levenshtein(F.col("a.p_name"), F.col("b.p_name")))
        .filter(F.col("dist") <= ER_MAX_EDIT)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.col("dist").cast("long").alias("dist"),
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("b.n_parts").alias("n_parts_b"),
            (F.col("a.n_parts") * F.col("b.n_parts")).alias("n_entity_pairs"),
        )
        .orderBy("dist", "name_a", "name_b")
    )


_ER_SQL = f"""
WITH canon AS (
  SELECT p_name, COUNT(*) AS n_parts,
         string_split(p_name, ' ')[-1] AS noun
  FROM part GROUP BY p_name),
pairs AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b,
         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
         a.n_parts AS n_parts_a, b.n_parts AS n_parts_b,
         a.n_parts * b.n_parts AS n_entity_pairs
  FROM canon a JOIN canon b
    ON a.noun = b.noun AND a.p_name < b.p_name)
SELECT name_a, name_b, dist, n_parts_a, n_parts_b, n_entity_pairs
FROM pairs WHERE dist <= {ER_MAX_EDIT}
ORDER BY dist, name_a, name_b
"""


# The three operating points the tuning sweep compares: same 32-perm
# signatures, different band geometry. The S-curve steepens with rows
# per band: 16x2 recalls low-jaccard pairs, 4x8 keeps only near-exact.
LSH_TUNING_CONFIGS = ((16, 2), (8, 4), (4, 8))


def dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH threshold tuning: the SAME 32-perm MinHash signatures banded
    three ways — (16x2, 8x4, 4x8) — with each configuration's candidate
    count and mean estimated Jaccard. The match-probability S-curve is
    1-(1-j^r)^b, so more rows per band shifts the operating point
    toward precision; this sweep is how the 0.7-threshold production
    config (8x4) is CHOSEN rather than assumed, and at 100 TB it runs
    on the signature table (one signature pass, three cheap band
    bucketings) — never re-shingling the corpus.

    Mean est Jaccard stays integer: sum of per-pair agreement counts
    (0..32) DIV'd once, reported in e6 parts of 32 — no float sums.
    """
    mh = _minhash_df(spark, sf_dir).cache()
    x, y = mh.alias("x"), mh.alias("y")
    eq = sum(
        F.when(F.col(f"x.m{i}") == F.col(f"y.m{i}"), 1).otherwise(0)
        for i in range(NUM_PERM)
    )
    outs = []
    for bands, rows in LSH_TUNING_CONFIGS:
        pairs = minhash_lsh_candidates(
            spark, sf_dir, bands=bands, rows_per_band=rows, mh=mh
        )
        scored = (
            pairs.alias("c")
            .join(x, F.col("c.doc_a") == F.col("x.doc_id"))
            .join(y, F.col("c.doc_b") == F.col("y.doc_id"))
            .select(eq.cast("long").alias("eq"))
        )
        outs.append(
            scored.agg(
                F.count("*").alias("n_candidates"),
                F.sum("eq").cast("long").alias("sum_eq"),
            ).select(
                F.lit(bands).cast("long").alias("bands"),
                F.lit(rows).cast("long").alias("rows_per_band"),
                "n_candidates",
                F.expr(
                    f"CASE WHEN n_candidates > 0 THEN"
                    f" (sum_eq * 1000000) DIV (n_candidates * {NUM_PERM})"
                    f" ELSE 0 END"
                ).alias("mean_est_jaccard_e6"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("rows_per_band")


def _lsh_tuning_sql() -> str:
    mins = ",\n         ".join(
        f"min(({PERM_A[i]} * h + {PERM_B[i]}) % {MERSENNE_P}) AS m{i}"
        for i in range(NUM_PERM)
    )
    eq = " + ".join(
        f"CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END" for i in range(NUM_PERM)
    )
    blocks = []
    for bands, rows in LSH_TUNING_CONFIGS:
        band_rows = "\n  UNION ALL\n".join(
            "  SELECT doc_id, {j} AS band_idx,"
            " md5(concat_ws(',', {cols})) AS bh FROM mh".format(
                j=j,
                cols=", ".join(f"m{j * rows + r}" for r in range(rows)),
            )
            for j in range(bands)
        )
        blocks.append(
            f"""b{bands}x{rows} AS (
{band_rows}),
p{bands}x{rows} AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM b{bands}x{rows} a JOIN b{bands}x{rows} b
    ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id),
s{bands}x{rows} AS (
  SELECT CAST({bands} AS BIGINT) AS bands,
         CAST({rows} AS BIGINT) AS rows_per_band,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(COALESCE(SUM({eq}), 0) AS BIGINT) AS sum_eq
  FROM p{bands}x{rows} c
  JOIN mh x ON c.doc_a = x.doc_id JOIN mh y ON c.doc_b = y.doc_id)"""
        )
    unions = "\n  UNION ALL\n".join(
        f"  SELECT * FROM s{b}x{r}" for b, r in LSH_TUNING_CONFIGS
    )
    return f"""
WITH {_SHINGLE_CTE_DUCK},
mh AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id),
{",".join(blocks)},
allcfg AS (
{unions})
SELECT bands, rows_per_band, n_candidates,
       CASE WHEN n_candidates > 0
            THEN (sum_eq * 1000000) // (n_candidates * {NUM_PERM})
            ELSE 0 END AS mean_est_jaccard_e6
FROM allcfg ORDER BY rows_per_band
"""


def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance contamination matrix: near-dup pairs (the LSH
    candidates) counted per SOURCE pair — which feeds are mirroring
    each other. Off-diagonal mass means two acquisition channels
    deliver the same content (pay for one); diagonal mass is
    within-feed duplication (fix the crawler). The canonical
    curation report over the pair stream: two broadcast-size joins of
    doc->source onto the candidates, then a tiny groupBy; sources are
    canonicalized (least, greatest) so each unordered pair counts
    once.
    """
    pairs = minhash_lsh_candidates(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    b = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
        )
        .groupBy("source_x", "source_y")
        .agg(F.count("*").alias("n_pairs"))
        .withColumn("cross_source", F.col("source_x") != F.col("source_y"))
        .orderBy("source_x", "source_y")
    )


def _cross_source_sql() -> str:
    return f"""
WITH {_minhash_cte_part()},
j AS (
  SELECT least(da.source, db.source) AS source_x,
         greatest(da.source, db.source) AS source_y
  FROM pairs p
  JOIN documents da ON p.doc_a = da.doc_id
  JOIN documents db ON p.doc_b = db.doc_id)
SELECT source_x, source_y, COUNT(*) AS n_pairs,
       source_x <> source_y AS cross_source
FROM j GROUP BY source_x, source_y
ORDER BY source_x, source_y
"""


SUBSTR_N = 8  # token width defining an exact repeated substring


def dedup_substring_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication mass (the Lee et al. 2021 /
    C4-class metric): per source, how many TOKENS sit inside a word
    {SUBSTR_N}-gram that occurs more than once in the whole corpus —
    i.e. the share of text that exact-substring dedup would touch.
    The near-dup operators here answer "which documents"; this one
    answers "how much text", the number a curation budget is set by.

    Shape: one gram-hash count (map-side combine), a co-partitioned
    join back on the gram hash (same profile as corpus_decontaminate),
    then per-doc INTERVAL-UNION coverage via one doc-partitioned
    window — each repeated gram covers token positions [i, i+N); the
    union length is sum(max(0, end_i - max(start_i, running-max of
    prior ends))), exact int64, no per-token explode. Docs shorter
    than N words contribute zero grams (guarded sequence).
    """
    # §2.5 spread: the gram md5 HOF below is interpreted scan-stage CPU
    # and the gram stream is window-shuffled by gh right after
    docs = spread_small_scan(spark, load_table(spark, sf_dir, "documents"))
    staged = docs.select(
        "doc_id", "source", words().alias("w")
    ).withColumn("n_tokens", F.expr("size(w)").cast("long"))
    grams = staged.select(
        "doc_id",
        F.posexplode_outer(word_ngrams("w", SUBSTR_N, hashed=True)).alias("pos", "gh"),
    ).filter(F.col("gh").isNotNull())
    # r11 (guide §2.4): the repeated-gram filter is a COUNT window over
    # the gram-hash partitions — one shuffle of ONE gram pass, instead
    # of the old aggregate + join-back that exploded the corpus twice
    # (identical surviving rows: COUNT(*) OVER (PARTITION BY gh) > 1
    # is the same predicate as the n_occ > 1 join).
    w_gh = Window.partitionBy("gh")
    rep = (
        grams.withColumn("n_occ", F.count("*").over(w_gh))
        .filter(F.col("n_occ") > 1)
        .select("doc_id", "pos")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + SUBSTR_N).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = F.greatest(
        F.lit(0).cast("long"),
        (F.col("pos") + SUBSTR_N)
        - F.greatest(F.col("pos"), F.coalesce(prev_end, F.col("pos"))),
    )
    per_doc = rep.select("doc_id", contrib.alias("c")).groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("dup_tokens")
    )
    return (
        staged.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum(F.coalesce("dup_tokens", F.lit(0))).cast("long").alias("dup_tokens"),
            F.sum((F.coalesce("dup_tokens", F.lit(0)) > 0).cast("long"))
            .cast("long")
            .alias("n_docs_touched"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "dup_tokens",
            "n_docs_touched",
            F.expr("dup_tokens * 1000000 DIV n_tokens").alias("dup_ppm"),
        )
        .orderBy("source")
    )


_SUBSTR_MASS_SQL = f"""
WITH staged AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), ' +') AS w
  FROM documents),
base AS (SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_tokens FROM staged),
grams AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         md5(array_to_string(w[i : i + {SUBSTR_N - 1}], ' ')) AS gh
  FROM staged, UNNEST(range(1, greatest(len(w) - {SUBSTR_N - 2}, 1))) AS r(i)
  WHERE len(w) >= {SUBSTR_N}),
gcount AS (SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) > 1),
rep AS (SELECT g.doc_id, g.pos FROM grams g JOIN gcount USING (gh)),
cov AS (
  SELECT doc_id,
         greatest(0, (pos + {SUBSTR_N})
           - greatest(pos, COALESCE(MAX(pos + {SUBSTR_N}) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), pos))) AS c
  FROM rep),
per_doc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dup_tokens FROM cov GROUP BY doc_id)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(COALESCE(dup_tokens, 0)) AS BIGINT) AS dup_tokens,
       CAST(SUM(CASE WHEN COALESCE(dup_tokens, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_touched,
       CAST(SUM(COALESCE(dup_tokens, 0)) * 1000000 // SUM(n_tokens) AS BIGINT) AS dup_ppm
FROM base LEFT JOIN per_doc USING (doc_id)
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# URL-canonicalization keep-first dedup (VERDICT r9 #8) — the one
# standard dedup family the roster lacked: crawl pipelines dedup by
# CANONICALIZED url/metadata key before any content hashing (CCNet,
# RefinedWeb §3.1 — public). The documents fixture carries no url
# column, so a crawl-style variant url is derived DETERMINISTICALLY
# from (source, lang, doc_id): four scheme/www/trailing-slash/utm
# spellings of the same logical address, exactly the variant set a
# canonicalizer must collapse. The OPERATOR under test is the
# canonicalize + hash-groupBy keep-first; the synthesis is fixture
# plumbing (both engines run the identical expressions, so the gate
# checks the canonicalizer, not the synthesis).
# ---------------------------------------------------------------------------

# shared SQL fragments (valid in Spark SQL and DuckDB alike)
_URL_VARIANT = (
    "CASE CAST(doc_id % 4 AS INT) "
    "WHEN 0 THEN 'https://www.' || {base} || '?utm_source=feed' "
    "WHEN 1 THEN 'http://' || {base} || '/' "
    "WHEN 2 THEN 'HTTPS://' || {base} "
    "ELSE 'https://www.' || {base} || '/?ref=home' END"
)
_URL_CANON = (
    # [.] instead of \\. — Spark SQL strings process backslash escapes
    # while DuckDB's don't, so a dot class is the one spelling that
    # parses to the SAME regex on both engines
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "lower({u}), '^https?://', ''), '^www[.]', ''), '[?#].*$', ''), '/$', '')"
)


def dedup_url_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup by canonicalized URL: lowercase, strip scheme,
    strip leading www., drop query/fragment, drop one trailing slash —
    then ONE hash-groupBy on the canonical key keeping the smallest
    doc_id (crawl order stand-in; deterministic tie-break conv. #6).

    Output: one row per canonical url with the kept doc, the variant
    count, and how many rows the dedup dropped.

    Scale shape: canonicalization is per-row (map-only, whole-stage
    codegen regexes); the dedup is a single map-side-combining
    aggregate on the canonical-key hash — the cheapest dedup in the
    roster and the FIRST one a 100 TB crawl pipeline runs, because it
    shrinks the corpus before any content shingling. Skew: a hot URL
    collapses map-side (min/count are combining aggregates), so a
    billion-variant key still ships one row per mapper.
    """
    docs = load_table(spark, sf_dir, "documents")
    # DIV 70 bucket: sources cycle ~every 10 docs in the fixture, so a
    # 70-id bucket revisits each source ~7x — guaranteeing real
    # multi-variant keys for keep-first to collapse at every SF
    base = "source || '.example.com/item/' || CAST(doc_id DIV 70 AS STRING)"
    url = _URL_VARIANT.format(base=f"({base})")
    canon = _URL_CANON.format(u="url")
    return (
        docs.select("doc_id", F.expr(url).alias("url"))
        .select("doc_id", F.expr(canon).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").cast("long").alias("kept_doc_id"),
            F.count("*").cast("long").alias("n_variants"),
            (F.count("*") - 1).cast("long").alias("n_dropped"),
        )
        .orderBy("canonical_url")
    )


_URL_KEEP_FIRST_SQL = f"""
WITH u AS (
  SELECT doc_id,
         {_URL_VARIANT.format(base="(source || '.example.com/item/' || CAST(doc_id // 70 AS VARCHAR))")} AS url
  FROM documents),
c AS (SELECT doc_id, {_URL_CANON.format(u="url")} AS canonical_url FROM u)
SELECT canonical_url,
       CAST(MIN(doc_id) AS BIGINT) AS kept_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_variants,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
FROM c
GROUP BY canonical_url
ORDER BY canonical_url
"""


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
# efficient learning at web-scale through semantic deduplication" —
# public). Cluster the embedding corpus with k-means, then prune
# within-cluster members whose cosine to a MORE CENTRAL member crosses
# the duplicate threshold — semantic near-dups (paraphrases, template
# text) that no lexical shingle/minhash pass can see. The published
# policy knob (keep centroid-closest vs centroid-farthest) is fixed
# here to centroid-closest: the survivor of every duplicate group is
# its most central member (deterministic; the paper's
# diversity-keeping inverse is the same plan with the order flipped).
# ---------------------------------------------------------------------------

# rdet(6) cosine duplicate threshold. 0.4 matches the repo-wide
# similarity.COS_THRESHOLD for THIS synthetic fixture (its near-dup
# cosine ceiling is ~0.6; production corpora run 0.9+ — the knob, like
# the paper's, is corpus-calibrated).
SEM_TAU = 0.4
SEM_POOL_CAP = 256  # per-cluster comparison pool (the ann_nn cap discipline)
SEM_SALT = 8  # pair-join salt width (skew posture at scale)


def _sem_drop_cogroup(left, right):
    """Cogrouped drop decision for one (cluster, salt) block: probe
    rows (vec_id, d, nrm, qx) x pool rows (p_id, p_d, p_nrm, p_qx) ->
    the probe vec_ids with a strictly-more-central pool member at
    rdet-6 cosine >= SEM_TAU. One exact numpy int64 matmul per block
    replaces the per-pair Arrow array shipping of the old equi-join
    (r11; see dedup_semdedup_prune). The cosine replicates the column
    expression bit-for-bit: exact int64 dot -> float64 divide by the
    Spark-computed norms -> floor(x*1e6 + 0.5)/1e6 (rdet). Ragged /
    malformed qx rows fall to a per-pair loop with zip_with NULL
    semantics (length mismatch -> no cosine -> never drops), the
    degenerate-probe contract."""
    import numpy as np
    import pandas as pd

    if left.empty or right.empty:
        return pd.DataFrame({"vec_id": pd.Series([], dtype="int64")})
    lq, rq = left["qx"].to_numpy(), right["p_qx"].to_numpy()
    ld, lv, ln = left["d"].to_numpy(), left["vec_id"].to_numpy(), left["nrm"].to_numpy()
    rd, rv, rn = right["p_d"].to_numpy(), right["p_id"].to_numpy(), right["p_nrm"].to_numpy()
    pool_ok = rn > 0
    try:
        A = np.stack(lq).astype(np.int64)
        B = np.stack(rq).astype(np.int64)
        ok = A.ndim == 2 and B.ndim == 2 and A.shape[1] == B.shape[1]
    except (TypeError, ValueError):
        ok = False
    if ok:
        D = A @ B.T  # exact: |qx| <= 2e4, 64-dim dots <= 2.6e10 << 2^63
        with np.errstate(divide="ignore", invalid="ignore"):
            # zero-norm pool columns divide to inf/nan here; pool_ok
            # masks them out below (same rows the join path filtered)
            cosm = np.floor((D / (ln[:, None] * rn[None, :])) * 1e6 + 0.5) / 1e6
        central = (rd[None, :] < ld[:, None]) | (
            (rd[None, :] == ld[:, None]) & (rv[None, :] < lv[:, None])
        )
        hit = central & (cosm >= SEM_TAU) & pool_ok[None, :]
        return pd.DataFrame({"vec_id": pd.Series(lv[hit.any(axis=1)], dtype="int64")})
    outs = []
    for i in range(len(lq)):
        for j in range(len(rq)):
            if not pool_ok[j]:
                continue
            if not (rd[j] < ld[i] or (rd[j] == ld[i] and rv[j] < lv[i])):
                continue
            try:
                xv = np.asarray(lq[i], dtype=np.int64)
                yv = np.asarray(rq[j], dtype=np.int64)
            except (TypeError, ValueError):
                continue
            if xv.ndim != 1 or yv.ndim != 1 or len(xv) != len(yv):
                continue
            c = np.floor((int(xv @ yv) / (ln[i] * rn[j])) * 1e6 + 0.5) / 1e6
            if c >= SEM_TAU:
                outs.append(lv[i])
                break
    return pd.DataFrame({"vec_id": pd.Series(outs, dtype="int64")})


def dedup_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embedding corpus: KM_ITERS integer Lloyd
    rounds (the embed_kmeans_sse loop, shared via _km_assign), then
    one row per clustered vector with its cluster, exact int64
    distance-to-centroid, and whether the semantic prune drops it.

    Drop rule (deterministic, single-pass): a vector is dropped iff
    some pool member of its own cluster is strictly MORE CENTRAL
    (smaller (d, vec_id)) and has cosine >= SEM_TAU with it — so the
    most central member of every duplicate group always survives and
    ties can never drop both sides. The pool is the SEM_POOL_CAP most
    central members per cluster (built with the two-stage salted top-C
    of ann_nn_within_label — no whole-cluster sort on one task), so
    pair count is |members| * min(|cluster|, CAP) — LINEAR in the
    corpus for fixed CAP, never all-pairs; below the cap the prune is
    exactly the uncapped SemDeDup step. At 100 TB, K scales with the
    corpus so clusters stay bounded (the paper runs ~50k clusters);
    the fixture pins K = KM_K for the oracle.

    Determinism: components quantize at 1e4 (COV_SCALE) — the SAME
    integers the Lloyd loop consumes — so dot products are exact int64
    (<= 64 * (2e4)^2 ~ 2.6e10), norms are sqrt of exact ints, and the
    cosine is rdet(6) on both engines (convention #4). Zero-norm
    vectors carry no direction: they cluster and survive, but are
    excluded from both sides of the cosine probe (the _prescaled
    boundary; degenerate-probe class).
    """
    from catme_etl_j_spark.operators.embed import COV_SCALE, _km_assign

    comp, assign = _km_assign(spark, sf_dir)
    # 1e4 q-arrays + norms, MAP-ONLY from the raw table: floor(x*1e4
    # + 0.5) is deterministic, so this re-quantization is bit-identical
    # to the comp integers the loop clustered (no collect_list shuffle;
    # the assign join below restricts to the clustered vec_ids)
    qv = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.expr(
                f"transform(embedding, x -> "
                f"CAST(floor(CAST(x AS DOUBLE) * {COV_SCALE} + 0.5) AS BIGINT))"
            ).alias("qx"),
        )
        .withColumn(
            "nrm",
            F.expr(
                "sqrt(CAST(aggregate(qx, CAST(0 AS BIGINT), "
                "(acc, v) -> acc + v * v) AS DOUBLE))"
            ),
        )
    )
    members = (
        assign.join(qv, "vec_id")
        .select("vec_id", "cluster", "d", "qx", "nrm")
        .localCheckpoint(eager=False)  # consumers: probe side, pool, output
    )
    w1 = Window.partitionBy("cluster", F.col("vec_id") % SEM_SALT).orderBy(
        "d", "vec_id"
    )
    w2 = Window.partitionBy("cluster").orderBy("d", "vec_id")
    pool = (
        members.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= SEM_POOL_CAP)
        .withColumn("rn2", F.row_number().over(w2))
        .filter(F.col("rn2") <= SEM_POOL_CAP)
        .select(
            F.col("vec_id").alias("p_id"),
            F.col("cluster").alias("cluster"),
            F.col("d").alias("p_d"),
            F.col("qx").alias("p_qx"),
            F.col("nrm").alias("p_nrm"),
        )
        .withColumn("salt", F.explode(F.array(*[F.lit(s) for s in range(SEM_SALT)])))
    )
    probe = members.filter(F.col("nrm") > 0).withColumn(
        "salt", (F.col("vec_id") % SEM_SALT).cast("int")
    )
    # r11 (guide §2.3/§4.2): the probe is a COGROUP on (cluster, salt),
    # not a pair join — the old equi-join shipped both 64-int64 arrays
    # once per PAIR through Arrow (~0.5 GB for the 512k sf0.1 pairs);
    # cogrouping ships each vector once per GROUP (~5 MB) and one numpy
    # int64 matmul scores the whole probe x pool block. Arithmetic is
    # bit-identical to the join path (exact int64 dots, the same IEEE
    # double divide and rdet(6) floor — pinned independently of either
    # path by test_semdedup_drop_rule_matches_python_reference):
    # measured 1.75 s -> 0.54 s at sf0.1, same 279 dropped ids. The
    # (cluster, salt) key keeps the skew posture: a hot cluster still
    # fans out over SEM_SALT tasks.
    dropped = (
        probe.select("cluster", "salt", "vec_id", "d", "nrm", "qx")
        .groupBy("cluster", "salt")
        .cogroup(
            pool.select(
                "cluster", "salt", "p_id", "p_d", "p_nrm", "p_qx"
            ).groupBy("cluster", "salt")
        )
        .applyInPandas(_sem_drop_cogroup, "vec_id long")
        .distinct()
    )
    return (
        members.join(dropped.withColumn("dr", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.col("d").alias("d_fp"),
            F.coalesce("dr", F.lit(0)).cast("int").alias("dropped"),
        )
        .orderBy("vec_id")
    )


def _semdedup_sql() -> str:
    from catme_etl_j_spark.functions.numeric import rdet_sql
    from catme_etl_j_spark.operators.embed import KM_ITERS, _km_ctes

    # qx as DOUBLE lists: every element is an integral 1e4 quantum and
    # every dot-product partial stays < 2^53, so native
    # list_dot_product is EXACT at any summation order (the
    # similarity._lsh_sql discipline, no hi/lo split needed at this
    # scale) and matches Spark's int64 aggregate bit-for-bit.
    cos = rdet_sql(
        "CAST(list_dot_product(m.qx, p.qx) AS BIGINT) / (m.nrm * p.p_nrm)", 6
    )
    return (
        _km_ctes()
        + f""",
qv AS MATERIALIZED (
  SELECT vec_id,
         list_transform(array_agg(q ORDER BY i), v -> CAST(v AS DOUBLE)) AS qx,
         sqrt(CAST(SUM(q * q) AS DOUBLE)) AS nrm
  FROM comp GROUP BY vec_id),
mem AS MATERIALIZED (
  SELECT a.vec_id, a.cluster, a.d, q.qx, q.nrm
  FROM a{KM_ITERS} a JOIN qv q USING (vec_id)),
pool AS MATERIALIZED (
  SELECT vec_id AS p_id, cluster, d AS p_d, qx, nrm AS p_nrm
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY d, vec_id) AS prn
        FROM mem)
  WHERE prn <= {SEM_POOL_CAP}),
dropped AS (
  SELECT DISTINCT m.vec_id
  FROM mem m JOIN pool p ON m.cluster = p.cluster
   AND (p.p_d < m.d OR (p.p_d = m.d AND p.p_id < m.vec_id))
  WHERE m.nrm > 0 AND p.p_nrm > 0 AND {cos} >= {SEM_TAU})
SELECT m.vec_id, m.cluster, m.d AS d_fp,
       CAST(CASE WHEN dr.vec_id IS NULL THEN 0 ELSE 1 END AS INT) AS dropped
FROM mem m LEFT JOIN dropped dr ON m.vec_id = dr.vec_id
ORDER BY m.vec_id"""
    )


QUERIES = {
    "dedup_url_keep_first": dedup_url_keep_first,
    "dedup_substring_mass": dedup_substring_mass,
    "dedup_cluster_sizes": dedup_cluster_sizes,
    "dedup_cross_source_matrix": dedup_cross_source_matrix,
    "dedup_lsh_tuning": dedup_lsh_tuning,
    "dedup_er_similar_names": dedup_er_similar_names,
    "dedup_incremental_index": dedup_incremental_index,
    "dedup_report": dedup_report,
    "dedup_exact": dedup_exact,
    "dedup_exact_normalized": dedup_exact_normalized,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_ngram_jaccard_capped": dedup_ngram_jaccard_capped,
    "dedup_semdedup_prune": dedup_semdedup_prune,
    "dedup_winnow_pairs": dedup_winnow_pairs,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_precision": dedup_minhash_precision,
    "dedup_minhash_keep": dedup_minhash_keep,
    "dedup_minhash_keep_best": dedup_minhash_keep_best,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_pairs": dedup_simhash_pairs,
}

ORACLES = {
    "dedup_semdedup_prune": _semdedup_sql(),
    "dedup_url_keep_first": _URL_KEEP_FIRST_SQL,
    "dedup_substring_mass": _SUBSTR_MASS_SQL,
    "dedup_cluster_sizes": _cluster_sizes_sql(),
    "dedup_er_similar_names": _ER_SQL,
    "dedup_lsh_tuning": _lsh_tuning_sql(),
    "dedup_cross_source_matrix": _cross_source_sql(),
    "dedup_incremental_index": _incremental_sql(),
    "dedup_report": _report_sql(),
    "dedup_exact": _EXACT_SQL,
    "dedup_exact_normalized": _EXACT_NORM_SQL,
    "dedup_ngram_jaccard": _JACCARD_SQL,
    "dedup_ngram_jaccard_capped": _JACCARD_CAPPED_SQL,
    "dedup_winnow_pairs": _winnow_pairs_sql(),
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_minhash_precision": _minhash_precision_sql(),
    "dedup_minhash_keep": _minhash_keep_sql(),
    "dedup_minhash_keep_best": _minhash_keep_best_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_simhash_pairs": _simhash_pairs_sql(),
}
