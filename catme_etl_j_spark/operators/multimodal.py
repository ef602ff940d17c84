"""Multimodal-column plumbing (SURVEY.md §7.5).

Convention for image/audio/video at 100 TB: an opaque ``binary``
payload column plus typed metadata columns, stored in parquet,
processed per-file-parallel. The decode/feature-extract step is a
Pandas-UDF over ``mapInPandas`` (Arrow batch transfer, never
row-at-a-time) — the real media libraries are not in this container,
so the decoder is STUBBED behind ``decode_media`` (deterministic fake;
raises ``NotImplementedError`` for real codecs), but the Spark-side
plumbing — schema, batch iteration, partition parallelism — is real
and tested.

The ``documents.text`` column (UTF-8-encoded to binary) stands in for
the payload so the queries run on driver testdata.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from catme_etl_j_spark.sources.tables import load_table

FAKE_CODEC = "fake/deterministic"


def decode_media(payload: bytes, codec: str = FAKE_CODEC) -> dict:
    """Stub decoder. Real image/audio decode needs libs absent from this
    container; the deterministic fake keeps the pipeline testable."""
    if codec != FAKE_CODEC:
        raise NotImplementedError(
            f"codec {codec!r} requires media libraries not present in this "
            "environment; only the deterministic fake codec is available"
        )
    # Deterministic "features": byte length, byte sum, min/max byte.
    return {
        "n_bytes": len(payload),
        "byte_sum": sum(payload),
        "byte_min": min(payload) if payload else 0,
        "byte_max": max(payload) if payload else 0,
    }


def _payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"), F.lit(FAKE_CODEC).alias("codec")
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary column — pure JVM built-ins."""
    p = _payloads(spark, sf_dir)
    return p.select(
        "doc_id",
        F.length("payload").cast("long").alias("n_bytes"),
        F.substring(F.hex("payload"), 1, 16).alias("head_hex"),
        F.sha2(F.col("payload"), 256).alias("sha256_hex"),
    )


_META_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       substr(hex(encode(text)), 1, 16) AS head_hex,
       sha256(text) AS sha256_hex
FROM documents
"""


def multimodal_fake_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction via mapInPandas.

    The Python decode path handles arbitrary bytes; on the driver
    fixtures the payload is the UTF-8 text, which is pure ASCII at
    every SF (verified: max codepoint 121), so byte arithmetic equals
    codepoint arithmetic and a DuckDB oracle twin pins the Arrow
    plumbing end-to-end on the hash gate. tests/test_multimodal.py
    additionally verifies against a pure-Python recomputation.
    """
    p = _payloads(spark, sf_dir)

    schema = "doc_id long, n_bytes long, byte_sum long, byte_min long, byte_max long"

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_media(bytes(b), c) for b, c in zip(pdf["payload"], pdf["codec"])]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return p.mapInPandas(extract, schema=schema)


def resize_image(payload: bytes, width: int, height: int, codec: str = FAKE_CODEC) -> bytes:
    """Stub resize. Real codecs need media libs absent here; the fake
    'image' is its payload bytes tiled/truncated to width*height —
    deterministic, shape-correct, and enough to test the plumbing."""
    if codec != FAKE_CODEC:
        raise NotImplementedError(
            f"codec {codec!r} requires media libraries not present in this environment"
        )
    n = width * height
    if not payload:
        return b"\x00" * n
    reps = -(-n // len(payload))
    return (payload * reps)[:n]


def sample_frames(payload: bytes, n_frames: int, codec: str = FAKE_CODEC) -> list[bytes]:
    """Stub video frame sampling: split the payload into n_frames evenly
    spaced slices (stand-ins for decoded frames)."""
    if codec != FAKE_CODEC:
        raise NotImplementedError(
            f"codec {codec!r} requires media libraries not present in this environment"
        )
    if not payload or n_frames <= 0:
        return []
    step = max(len(payload) // n_frames, 1)
    return [payload[i * step : (i + 1) * step] for i in range(min(n_frames, len(payload)))]


def multimodal_resize(spark: SparkSession, sf_dir: str, width: int = 8, height: int = 8) -> DataFrame:
    """Batch resize over mapInPandas: binary in -> fixed-size binary out.

    The schema/batching pattern for any per-item media transform:
    payload column + params -> transformed payload + metadata, Arrow
    both ways, no driver involvement.

    This binary-out form is the library API (and what a real pipeline
    writes back to parquet); the gated ``queries()`` entry is
    ``multimodal_resize_gated`` below, which renders the tile as hex so
    the DuckDB oracle can value-compare it (raw binary reprs differ
    across engines; hex is canonical — VERDICT r6 #4).
    """
    p = _payloads(spark, sf_dir)
    schema = "doc_id long, thumb binary, thumb_bytes long"

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs = [resize_image(bytes(b), width, height) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "thumb": thumbs,
                    "thumb_bytes": [len(t) for t in thumbs],
                }
            )

    return p.mapInPandas(do_resize, schema=schema)


def multimodal_frame_sample(spark: SparkSession, sf_dir: str, n_frames: int = 4) -> DataFrame:
    """Frame sampling with explode: one row per sampled frame — the
    layout a frame-level feature extractor downstream would consume."""
    p = _payloads(spark, sf_dir)
    schema = "doc_id long, frame_idx long, frame_bytes long"

    def do_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                for i, fr in enumerate(sample_frames(bytes(b), n_frames)):
                    rows.append((int(doc_id), i, len(fr)))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame_bytes"])

    return p.mapInPandas(do_sample, schema=schema)


# The frame-sample geometry (step = max(n//4, 1), min(4, n) frames of
# exactly step bytes — python slicing drops the tail remainder) is pure
# arithmetic over the payload length, so the mapInPandas operator gets
# a REAL hash-compared oracle: the SQL recomputes indexes and byte
# counts; frame CONTENT equality is covered by tests/test_multimodal.py.
_FRAME_SQL = """
WITH p AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
geo AS (
  SELECT doc_id, greatest(n // 4, 1) AS step, least(4, n) AS nf FROM p)
SELECT doc_id,
       unnest(range(0, nf)) AS frame_idx,
       step AS frame_bytes
FROM geo
"""


def multimodal_resize_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resize pipeline HASH-GATED (registered as
    ``multimodal_resize``): the same mapInPandas resize_image path as
    the binary-out library form above, with the 64-byte tile rendered
    as hex so the oracle can compare content (raw binary columns repr
    differently across engines; hex is canonical). The ASCII fixture
    makes the tile reproducible in SQL as repeat(text)[:64] — so the
    Arrow round-trip AND the tiling arithmetic are value-checked end
    to end, not just row counts. Folded from the former
    ``multimodal_resize_hex`` sibling (VERDICT r6 #4: one query, one
    oracle — no rows-only asterisk left in the registry).
    """
    return multimodal_resize(spark, sf_dir).select(
        "doc_id", F.hex("thumb").alias("thumb_hex"), "thumb_bytes"
    )


# Tile in BYTE space: repeat the payload's hex to >= 128 chars and cut
# at 128 (= 64 bytes), exactly resize_image's (payload * reps)[:64].
# The old char-space version (repeat text, cut 64 chars, THEN encode)
# overshot on multi-byte text — degenerate-probe find. Empty text ->
# 64 zero bytes, mirroring resize_image's empty branch.
_RESIZE_HEX_SQL = """
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx FROM documents)
SELECT doc_id,
       CASE WHEN length(hx) = 0 THEN repeat('00', 64)
            ELSE substr(repeat(hx, CAST(ceil(128.0 / length(hx)) AS INTEGER)), 1, 128)
       END AS thumb_hex,
       CAST(64 AS BIGINT) AS thumb_bytes
FROM h
"""


AHASH_NEAR_HAMMING = 3  # pigeonhole-complete for 4 x 16-bit blocks


def multimodal_ahash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (average-hash) image dedup over the binary
    payloads: the media-space sibling of dedup_simhash_pairs.

    Signature (computed in an Arrow-batched ``mapInPandas`` — the
    real-decoder slot): the payload is block-averaged into an 8x8
    "pixel" grid (block b = integer mean of bytes at positions p with
    (p-1)*64 // n == b), each pixel compares against the grid's mean
    (64*pixel > sum(pixels) — no division), and the 64 bits pack into
    two int32-range halves (hi/lo) to stay sign-safe. Payloads under
    64 bytes have empty blocks and are excluded (documented).

    Candidate generation is banded on the signature's 4 x 16-bit
    blocks (pigeonhole: any pair at hamming <= 3 shares a block), and
    each candidate carries its exact hamming distance + an ``is_near``
    verdict. On this corpus the near-dups are word-level rewrites that
    shift byte statistics, so is_near is false at every SF — the
    banded-candidate+score report IS the operator's output, as in any
    real LSH stage.

    Oracle: the fixture payloads are pure ASCII, so the identical
    pixel arithmetic runs in SQL (ascii(substr)) — the Arrow plumbing
    sits on the hash gate end to end.

    Scale: signature extraction is map-only over Arrow batches; the
    band self-join buckets into 4 x 65,536 keys; hamming is evaluated
    only on candidates. Linear, like the SimHash path.
    """
    import numpy as np

    p = _payloads(spark, sf_dir).filter(F.length("payload") >= 64)

    schema = "doc_id long, hash_hi long, hash_lo long"

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
                n = len(b)
                idx = (np.arange(n, dtype=np.int64) * 64) // n
                sums = np.bincount(idx, weights=b, minlength=64).astype(np.int64)
                cnts = np.bincount(idx, minlength=64)
                px = sums // cnts
                tot = int(px.sum())
                bits = (64 * px) > tot
                lo = sum(int(bits[i]) << i for i in range(32))
                hi = sum(int(bits[i + 32]) << i for i in range(32))
                rows.append((int(doc_id), hi, lo))
            yield pd.DataFrame(rows, columns=["doc_id", "hash_hi", "hash_lo"])

    sigs = p.select("doc_id", "payload").mapInPandas(sig, schema=schema)
    blocks = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                F.expr("struct(0 AS bi, hash_lo & 65535 AS bv)"),
                F.expr("struct(1 AS bi, shiftright(hash_lo, 16) & 65535 AS bv)"),
                F.expr("struct(2 AS bi, hash_hi & 65535 AS bv)"),
                F.expr("struct(3 AS bi, shiftright(hash_hi, 16) & 65535 AS bv)"),
            )
        ).alias("blk"),
    ).select("doc_id", "blk.bi", "blk.bv")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x, y = sigs.alias("x"), sigs.alias("y")
    return (
        cand.alias("c")
        .join(x, F.col("c.doc_a") == F.col("x.doc_id"))
        .join(y, F.col("c.doc_b") == F.col("y.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "CAST(bit_count(x.hash_hi ^ y.hash_hi)"
                " + bit_count(x.hash_lo ^ y.hash_lo) AS BIGINT)"
            ).alias("hamming"),
        )
        .withColumn("is_near", F.col("hamming") <= AHASH_NEAR_HAMMING)
        .orderBy("doc_a", "doc_b")
    )


_AHASH_SQL = f"""
WITH docs AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) >= 64),
pos AS (
  SELECT doc_id, n, unnest(range(1, n + 1)) AS p FROM docs),
px AS (
  SELECT doc_id, ((p - 1) * 64) // n AS b,
         CAST(SUM(ascii(substr(text, CAST(p AS INTEGER), 1))) AS BIGINT)
           // COUNT(*) AS pixel
  FROM pos JOIN docs USING (doc_id, n)
  GROUP BY doc_id, ((p - 1) * 64) // n),
tot AS (SELECT doc_id, CAST(SUM(pixel) AS BIGINT) AS tot FROM px GROUP BY doc_id),
bits AS (
  SELECT p.doc_id, p.b, CASE WHEN 64 * p.pixel > t.tot THEN 1 ELSE 0 END AS bit
  FROM px p JOIN tot t USING (doc_id)),
sig AS (
  SELECT doc_id,
    CAST(SUM(CASE WHEN b >= 32 THEN bit::BIGINT << (b - 32) ELSE 0 END) AS BIGINT) AS hi,
    CAST(SUM(CASE WHEN b < 32 THEN bit::BIGINT << b ELSE 0 END) AS BIGINT) AS lo
  FROM bits GROUP BY doc_id),
blocks AS (
  SELECT doc_id, 0 AS bi, lo & 65535 AS bv FROM sig UNION ALL
  SELECT doc_id, 1, (lo >> 16) & 65535 FROM sig UNION ALL
  SELECT doc_id, 2, hi & 65535 FROM sig UNION ALL
  SELECT doc_id, 3, (hi >> 16) & 65535 FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM blocks a JOIN blocks b
    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)) AS BIGINT)
         AS hamming,
       CAST(bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)) AS BIGINT)
         <= {AHASH_NEAR_HAMMING} AS is_near
FROM cand JOIN sig x ON doc_a = x.doc_id JOIN sig y ON doc_b = y.doc_id
ORDER BY doc_a, doc_b
"""


# Chunked-blob manifest: the byte-range split plan a pipeline computes
# before moving/scanning large multimodal payloads (multipart upload,
# range reads, per-chunk checksums). Small chunk size so the driver
# fixtures produce multi-chunk blobs.
CHUNK_BLOB_BYTES = 100


def multimodal_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-range chunk manifest for opaque blob payloads: per (doc,
    chunk) the 0-based byte offset, chunk length, last-chunk flag, and
    a hex preview of the chunk head — the plan a chunked-upload /
    range-scan job executes, derivable without ever decoding the blob.

    Pure JVM arithmetic: n_chunks = ceil(n_bytes / C) via integer DIV
    (non-negative, convention #7); chunk indexes from a GUARDED
    sequence (empty payload -> zero chunk rows; an unguarded
    sequence(0, -1) DESCENDS, convention #9). The head preview is
    char-indexed into the source text on BOTH engines (equal to the
    byte slice for the ASCII fixtures; DuckDB has no BLOB substring —
    a production byte slice would use Spark's binary substring and a
    blob-native oracle).

    Scale shape: scan -> generate -> project, zero shuffles except the
    output sort; at 100 TB the manifest job is embarrassingly parallel
    and its output (not the blobs) is what the mover shuffles.
    """
    c = CHUNK_BLOB_BYTES
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.length(F.encode("text", "UTF-8")).cast("long").alias("nb"),
    )
    ex = base.select(
        "doc_id",
        "nb",
        "text",
        F.explode(
            F.expr(
                f"CASE WHEN nb = 0 THEN array()"
                f" ELSE sequence(CAST(0 AS BIGINT), (nb - 1) DIV {c}) END"
            )
        ).alias("chunk_idx"),
    )
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.expr(f"chunk_idx * {c}").alias("offset"),
        F.expr(f"least(CAST({c} AS BIGINT), nb - chunk_idx * {c})").alias(
            "chunk_bytes"
        ),
        F.expr(f"chunk_idx = (nb - 1) DIV {c}").alias("is_last"),
        # BYTE-indexed preview (ADVICE r7): slicing `text` by character
        # desyncs head_hex from `offset` for multi-byte payloads. Hex
        # the UTF-8 bytes FIRST (hex is pure ASCII, so char index ==
        # 2x byte index on both engines), then slice 8 bytes = 16 hex
        # chars at offset*2+1.
        F.expr(
            f"substring(hex(encode(text, 'UTF-8')),"
            f" CAST(chunk_idx * {c} * 2 + 1 AS INT), 16)"
        ).alias("head_hex"),
    ).orderBy("doc_id", "chunk_idx")


_CHUNK_MANIFEST_SQL = f"""
WITH b AS (
  SELECT doc_id, text,
         CAST(octet_length(encode(text)) AS BIGINT) AS nb
  FROM documents),
ex AS (
  SELECT doc_id, nb, text,
         unnest(CASE WHEN nb = 0 THEN []::BIGINT[]
                ELSE range(0, (nb - 1) // {CHUNK_BLOB_BYTES} + 1) END)
           AS chunk_idx
  FROM b)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       chunk_idx * {CHUNK_BLOB_BYTES} AS offset,
       least(CAST({CHUNK_BLOB_BYTES} AS BIGINT),
             nb - chunk_idx * {CHUNK_BLOB_BYTES}) AS chunk_bytes,
       chunk_idx = (nb - 1) // {CHUNK_BLOB_BYTES} AS is_last,
       substr(hex(encode(text)), CAST(chunk_idx * {CHUNK_BLOB_BYTES} * 2 + 1 AS BIGINT), 16)
         AS head_hex
FROM ex ORDER BY doc_id, chunk_idx
"""


_ENT_SCALE = 1_000_000  # fixed-point for per-byte n*log2(n) terms


def multimodal_payload_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level Shannon entropy of each binary payload — the codec /
    corruption QA signal for opaque media columns: already-compressed
    media sits near 8 bits/byte, text near 4-5, zero-padded or
    truncated payloads collapse toward 0 (no decode needed, so it runs
    on ANY codec, not just the stubbed fake).

    Bytes are enumerated ENGINE-SAFELY via the hex rendering (2 hex
    chars = 1 byte; hex is ASCII on both engines, so no multi-byte
    character trap — the chunk-manifest lesson). Determinism is the
    text_char_entropy regime: each byte-count's n*log2(n) term
    fixed-points to 1e6 before the exact int64 sum, then one closed-
    form double under rdet(4). Empty payloads emit NULL entropy
    (convention #9).

    Scale: explode to (doc, byte) -> count map-side combines to at
    most 256 rows per doc per task; everything after is bounded by
    |docs| x 256.
    """
    p = _payloads(spark, sf_dir)
    # ONE regex pass chunks the hex string into bytes. The obvious
    # transform(sequence(...), i -> substring(hx, i*2-1, 2)) is
    # O(len^2) per row — Spark's UTF8String.substring walks from the
    # start for every element (measured 7.5 s -> 1.3 s at sf0.1).
    b = p.select(
        "doc_id", F.hex("payload").alias("hx")
    ).select(
        "doc_id",
        F.explode_outer(F.expr("regexp_extract_all(hx, '..', 0)")).alias("byte"),
    )
    counts = (
        b.filter(F.col("byte").isNotNull())
        .groupBy("doc_id", "byte")
        .agg(F.count("*").alias("n_c"))
    )
    term = F.expr(
        f"CAST(floor(n_c * log2(CAST(n_c AS DOUBLE)) * {_ENT_SCALE} + 0.5)"
        " AS BIGINT)"
    )
    per = counts.groupBy("doc_id").agg(
        F.sum("n_c").cast("long").alias("n_bytes"),
        F.count("*").cast("long").alias("n_distinct_bytes"),
        F.sum(term).alias("sum_fx"),
    )
    ent = F.expr(
        f"log2(CAST(n_bytes AS DOUBLE))"
        f" - (CAST(sum_fx AS DOUBLE) / {_ENT_SCALE}) / CAST(n_bytes AS DOUBLE)"
    )
    from catme_etl_j_spark.functions.numeric import rdet

    all_docs = p.select("doc_id")
    return (
        all_docs.join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bytes", F.lit(0)).cast("long").alias("n_bytes"),
            F.coalesce("n_distinct_bytes", F.lit(0))
            .cast("long")
            .alias("n_distinct_bytes"),
            F.when(F.col("n_bytes").isNotNull(), rdet(ent, 4)).alias(
                "entropy_bits"
            ),
        )
        .orderBy("doc_id")
    )


_PAYLOAD_ENTROPY_SQL = f"""
WITH b AS (
  SELECT doc_id, unnest(regexp_extract_all(hex(encode(text)), '..')) AS byte
  FROM documents),
counts AS (
  SELECT doc_id, byte, COUNT(*) AS n_c FROM b GROUP BY doc_id, byte),
per AS (
  SELECT doc_id,
         CAST(SUM(n_c) AS BIGINT) AS n_bytes,
         COUNT(*)::BIGINT AS n_distinct_bytes,
         CAST(SUM(CAST(floor(n_c * log2(CAST(n_c AS DOUBLE)) * {_ENT_SCALE}
              + 0.5) AS BIGINT)) AS BIGINT) AS sum_fx
  FROM counts GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(p.n_bytes, 0) AS BIGINT) AS n_bytes,
       CAST(COALESCE(p.n_distinct_bytes, 0) AS BIGINT) AS n_distinct_bytes,
       CASE WHEN p.n_bytes IS NOT NULL THEN
         {{ent}}
       END AS entropy_bits
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
"""


QUERIES = {
    "multimodal_payload_entropy": multimodal_payload_entropy,
    "multimodal_chunk_manifest": multimodal_chunk_manifest,
    "multimodal_meta": multimodal_meta,
    "multimodal_ahash_candidates": multimodal_ahash_candidates,
    "multimodal_fake_features": multimodal_fake_features,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_resize": multimodal_resize_gated,
}

# Oracle for the fake-codec features: valid because the fixture text
# is pure ASCII (bytes == codepoints); the UDF itself handles any bytes.
# BYTE-true, not codepoint-true: each UTF-8 byte comes from its hex
# pair, so multi-byte text scores identically to the Python-side
# decode_media byte stats (degenerate-probe find — the old ord()-per-
# character version silently diverged on any non-ASCII payload).
_FAKE_FEATURES_SQL = """
WITH b AS (
  SELECT doc_id,
         list_transform(range(1, octet_length(encode(text)) + 1),
                        i -> CAST(concat('0x', substr(hex(encode(text)), 2*i - 1, 2)) AS INTEGER)) AS bs
  FROM documents)
SELECT doc_id,
       CAST(len(bs) AS BIGINT) AS n_bytes,
       CAST(COALESCE(list_sum(bs), 0) AS BIGINT) AS byte_sum,
       CAST(CASE WHEN len(bs) = 0 THEN 0 ELSE list_min(bs) END AS BIGINT) AS byte_min,
       CAST(CASE WHEN len(bs) = 0 THEN 0 ELSE list_max(bs) END AS BIGINT) AS byte_max
FROM b
"""

from catme_etl_j_spark.functions.numeric import rdet_sql as _rdet_sql

ORACLES = {
    "multimodal_payload_entropy": _PAYLOAD_ENTROPY_SQL.format(
        ent=_rdet_sql(
            f"log2(CAST(p.n_bytes AS DOUBLE))"
            f" - (CAST(p.sum_fx AS DOUBLE) / {_ENT_SCALE})"
            f" / CAST(p.n_bytes AS DOUBLE)",
            4,
        )
    ),
    "multimodal_chunk_manifest": _CHUNK_MANIFEST_SQL,
    "multimodal_meta": _META_SQL,
    "multimodal_ahash_candidates": _AHASH_SQL,
    "multimodal_frame_sample": _FRAME_SQL,
    "multimodal_fake_features": _FAKE_FEATURES_SQL,
    "multimodal_resize": _RESIZE_HEX_SQL,
}
