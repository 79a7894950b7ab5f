"""Multimodal catalog queries: binary-column plumbing over media
synthesized deterministically from ``documents`` (the container has
no image/audio codecs — see ``operators.multimodal`` for what's real
vs. stubbed)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shopify_db_spark.operators import multimodal as MM
from shopify_db_spark.plans.catalog import query
from shopify_db_spark.sources.tables import load_table


@query(
    "q33_media_metadata",
    oracle="""
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS kind,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       sha256(text) AS content_sha256,
       CAST(length(text) % 640 + 16 AS INT) AS width,
       CAST(length(text) % 480 + 16 AS INT) AS height,
       CAST(length(text) * 10 AS INT) AS duration_ms
FROM documents
""",
)
def q33_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata scan: byte length and content hash of
    the opaque blob plus the typed metadata struct — the projection
    a 100 TB media table serves without ever decoding (column
    pruning keeps the blob column unread when only metadata is
    selected)."""
    media = MM.synthesize_media_from_documents(load_table(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        "kind",
        F.length(F.col("content")).cast("int").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.duration_ms").alias("duration_ms"),
    )


#: The fake decoder's feature i is ``sha256(content)[i] / 255`` —
#: SQL-expressible, so the gate query converts each float32 feature
#: back to its source byte (exact: float32 round-trip error is
#: ≪ 0.5) and DuckDB recomputes the digest bytes from hex pairs.
_Q34_FEATURE_COLS = ",\n".join(
    f"       CAST(('0x' || substr(sha256(text), {2 * i + 1}, 2)) AS INT)"
    f" AS f{i:02d}"
    for i in range(MM.FEATURE_DIM)
)

_Q34_ORACLE = f"""
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS kind,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
{_Q34_FEATURE_COLS}
FROM documents
"""


@query("q34_media_features", oracle=_Q34_ORACLE)
def q34_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction through ``mapInPandas``
    (deterministic fake decoder standing in for the codec — the
    Spark-side batch plumbing is the thing under test). The gate
    projection unpacks the ``array<float>`` feature vector into
    scalar byte columns: raw arrays are unhashable to the driver's
    pandas canonicalizer, and the byte form is exactly oracle-
    expressible (the fake decoder is sha256-derived). Library
    callers still get the array API via ``extract_features``."""
    media = MM.synthesize_media_from_documents(load_table(spark, sf_dir, "documents"))
    feats = MM.extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        *[
            F.round(F.col("features")[i].cast("double") * 255.0)
            .cast("int")
            .alias(f"f{i:02d}")
            for i in range(MM.FEATURE_DIM)
        ],
    )


# q118: perceptual-hash image dedup — the multimodal
# tier's missing dedup step. Composition of two driver-certified
# pieces: the injectable codec boundary (q34's mapInPandas plumbing,
# here emitting a packed 64-bit fingerprint instead of a float
# array) and the SimHash pigeonhole block join (q27's geometry,
# factored into ``dedup.hash64_pairs``). The fake codec is a SimHash
# over the blob's distinct byte 4-grams with q27's exact md5 bit
# convention, so the oracle recomputes the fingerprint bit-for-bit
# from the source text — packing into one unsigned 64-bit value via
# UBIGINT multiplication (DuckDB's signed << overflows at bit 63,
# the reason q27's oracle kept two halves; xor/bit_count/>>/& all
# take UBIGINT, so the pair SQL stays one-column).
#
# max_hamming=10 is the measured knee of the corpus's fingerprint
# distance distribution (pairs: 16 at sf0.01, 1206 at sf0.1; the
# density explodes ~2x per bit above it). 11 pigeonhole blocks of
# 5-6 bits means ≤64 bucket values per block — hot at corpus scale —
# so the engine passes max_bucket=50 (the q26 LSH dial) and the
# oracle mirrors the cap declaratively in its `sized` CTE: recall
# loss is only possible where EVERY agreeing block is oversubscribed,
# and the two sides agree exactly by construction.
_Q118_MAX_HAMMING = 10
_Q118_MAX_BUCKET = 50

_Q118_CHARGES = ",\n".join(
    f"         SUM(((h{i // 32} >> {i % 32}) & 1) * 2 - 1) AS b{i:02d}"
    for i in range(64)
)
_Q118_PACK = " + ".join(
    f"CASE WHEN b{i:02d} > 0 THEN {1 << i}::UBIGINT ELSE 0::UBIGINT END"
    for i in range(64)
)


def _q118_oracle() -> str:
    # One UNION ALL branch per pigeonhole block (DuckDB folds the
    # union into one projection — measured sub-second at sf0.01).

    from shopify_db_spark.operators.dedup import _simhash_blocks

    block_rows = "\n  UNION ALL\n".join(
        f"  SELECT media_id, phash, {i} AS block_idx,"
        f" (phash >> {start}) & {(1 << width) - 1}::UBIGINT AS block_value"
        f" FROM sig"
        for i, (start, width) in enumerate(
            _simhash_blocks(_Q118_MAX_HAMMING, 64)
        )
    )
    return f"""
WITH img AS (
  SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 0
),
grams AS (
  SELECT DISTINCT media_id, substring(text, i, 4) AS g
  FROM img, UNNEST(generate_series(1, GREATEST(length(text) - 3, 1))) AS u(i)
),
hs AS (
  SELECT media_id,
         CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) AS h0,
         CAST('0x' || substr(md5(g), 9, 8) AS BIGINT) AS h1
  FROM grams
),
charges AS (
  SELECT media_id,
{_Q118_CHARGES}
  FROM hs GROUP BY media_id
),
sig AS (
  SELECT media_id, {_Q118_PACK} AS phash FROM charges
),
blocks AS (
{block_rows}
),
sized AS (
  SELECT block_idx, block_value FROM blocks
  GROUP BY block_idx, block_value HAVING COUNT(*) <= {_Q118_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.media_id AS media_a, a.phash AS ph_a,
                  b.media_id AS media_b, b.phash AS ph_b
  FROM blocks a
  JOIN sized s ON s.block_idx = a.block_idx AND s.block_value = a.block_value
  JOIN blocks b ON b.block_idx = a.block_idx AND b.block_value = a.block_value
              AND a.media_id < b.media_id
  UNION
  -- identical-fingerprint short-circuit: exact dups survive the
  -- bucket cap (their buckets are hot by definition) — mirrors
  -- hash64_pairs' exact equality tier
  SELECT x.media_id, x.phash, y.media_id, y.phash
  FROM sig x JOIN sig y ON x.phash = y.phash AND x.media_id < y.media_id
)
SELECT media_a, media_b, CAST(bit_count(xor(ph_a, ph_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(ph_a, ph_b)) <= {_Q118_MAX_HAMMING}
"""


@query("q118_image_phash_dedup", oracle=_q118_oracle())
def q118_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection over the image subset of
    the media table: fingerprints come out of the injectable Arrow
    codec boundary (``multimodal.media_fingerprint`` — swap
    ``pil_ahash`` in for real images, one function), pairs out of
    the pigeonhole block join (``dedup.hash64_pairs``, q27's
    driver-certified geometry) with the q26-style bucket cap. Blobs
    are decoded exactly once; everything downstream of the codec
    moves 8-byte fingerprints. Returns (media_a, media_b, hamming ≤
    {_Q118_MAX_HAMMING})."""
    from shopify_db_spark.operators.dedup import hash64_pairs

    media = MM.synthesize_media_from_documents(
        load_table(spark, sf_dir, "documents")
    )
    sig = MM.media_fingerprint(media.filter(F.col("kind") == "image"))
    return hash64_pairs(
        sig,
        max_hamming=_Q118_MAX_HAMMING,
        id_col="media_id",
        hash_col="phash",
        max_bucket=_Q118_MAX_BUCKET,
    ).select(
        F.col("id_a").alias("media_a"),
        F.col("id_b").alias("media_b"),
        "hamming",
    )


@query(
    "q35_frame_sample_plan",
    oracle="""
WITH video AS (
  SELECT doc_id AS media_id, text,
         CAST(length(text) * 10 AS INT) AS duration_ms
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id,
       CAST(UNNEST(generate_series(0, GREATEST(duration_ms - 1, 0), 1000)) AS BIGINT)
           AS frame_ts_ms,
       md5(text) AS content_md5
FROM video
""",
)
def q35_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: metadata-driven explode of sample
    timestamps (1 Hz) — the blob is hashed once, never duplicated
    per frame."""
    media = MM.synthesize_media_from_documents(load_table(spark, sf_dir, "documents"))
    return MM.frame_sample_plan(media, every_ms=1000).withColumn(
        "frame_ts_ms", F.col("frame_ts_ms").cast("long")
    )


# q164: REAL WAV PCM decode, end-to-end. The
# audio-kind documents become genuine RIFF/WAVE blobs (stdlib `wave`
# writer, 16-bit PCM mono @ 8 kHz, sample k = (byte_k - 128) * 256);
# the engine then actually DECODES them — header parse, mono/16-bit
# validation, frame unpack — inside the same Arrow mapInPandas
# boundary as q34/q118, and reduces each to FEATURE_DIM integer band
# energies (window w sums |sample| over k in [wN/D, (w+1)N/D)). All
# integer math, so DuckDB reproduces every decoded sample from the
# source text: the corpus is ASCII (octet_length == length for all
# rows), hence byte_k == ascii(char_{k+1}) and |sample| = 256 *
# abs(ascii - 128). A wrong header, an endianness slip, or an
# off-by-one in the frame unpack shifts a band sum and the hash
# compare goes red — the decode is load-bearing, not decorative.
_Q164_BANDS = ",\n".join(
    f"       CAST(COALESCE(SUM(CASE WHEN (i - 1) * {MM.FEATURE_DIM} // n = {w}"
    f" THEN amp END), 0) AS BIGINT) AS e{w:02d}"
    for w in range(MM.FEATURE_DIM)
)

_Q164_ORACLE = f"""
WITH audio AS (
  SELECT doc_id AS media_id, text, length(text) AS n
  FROM documents WHERE doc_id % 3 = 1
),
-- ADVICE r13: the sample model below indexes CHARS via ascii()
-- while the Spark decode reads utf-8 BYTES, and an empty text
-- yields no oracle row but a zero-energy Spark row. Both are safe
-- only while every audio document is non-empty ASCII
-- (octet_length == length) — verified for all current fixtures; a
-- fixture refresh that breaks the assumption must fail LOUDLY here,
-- not as a confusing hash mismatch.
guard AS (
  SELECT COALESCE(BOOL_AND(n > 0 AND octet_length(encode(text)) = n), TRUE) AS ok
  FROM audio
),
samples AS (
  SELECT media_id, n, i,
         256 * abs(ascii(substring(text, CAST(i AS INT), 1)) - 128) AS amp
  FROM audio, UNNEST(generate_series(1, n)) AS u(i)
)
SELECT media_id,
       CAST({MM.WAV_SAMPLE_RATE} AS INT) AS sample_rate,
       CAST(ANY_VALUE(n) AS INT) AS n_samples,
{_Q164_BANDS}
FROM samples, guard
WHERE CASE WHEN guard.ok THEN TRUE
      ELSE error('q164 oracle: audio documents must be non-empty ASCII '
                 || '(fixture changed? see ADVICE r13 guard)') END
GROUP BY media_id
"""


@query("q164_wav_band_energy", oracle=_Q164_ORACLE)
def q164_wav_band_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-energy extraction through the ONE registered real codec:
    synthesize genuine WAV blobs for the audio documents, decode them
    with the stdlib ``wave`` module inside the Arrow batch boundary
    (``multimodal.wav_energy_features``), emit integer band sums.
    The gate projection unpacks the array<long> into scalar columns
    (q34's convention — raw arrays are unhashable to the driver's
    canonicalizer)."""
    media = MM.synthesize_wav_media(load_table(spark, sf_dir, "documents"))
    feats = MM.wav_energy_features(media)
    return feats.select(
        "media_id",
        "sample_rate",
        "n_samples",
        *[
            F.col("energies")[w].alias(f"e{w:02d}")
            for w in range(MM.FEATURE_DIM)
        ],
    )


# q166: REAL PNG decode, end-to-end (the image
# twin of q164). The image-kind documents become genuine 8-bit
# grayscale PNG blobs (stdlib zlib; CRC-32 chunks; scanline filters
# CYCLE all five standard types), and the engine actually DECODES
# them — signature check, CRC-validated chunk walk, IDAT inflate,
# per-row defilter — inside the Arrow mapInPandas boundary, reducing
# each raster to FEATURE_DIM integer band sums (band b sums pixel k
# over k in [bN/D, (b+1)N/D), N = width*height incl. padding). Pixel
# k = byte_k of the text (padded with ASCII space to the raster), so
# DuckDB reproduces every decoded pixel from the source text: a
# wrong Paeth predictor, a CRC slip, or a scanline-stride off-by-one
# shifts a band sum and the hash compare goes red.
_Q166_BANDS = ",\n".join(
    f"       CAST(COALESCE(SUM(CASE WHEN (k - 1) * {MM.FEATURE_DIM} // N = {b}"
    f" THEN px END), 0) AS BIGINT) AS e{b:02d}"
    for b in range(MM.FEATURE_DIM)
)

_Q166_ORACLE = f"""
WITH img AS (
  SELECT doc_id AS media_id, text, length(text) AS n,
         GREATEST((length(text) + {MM.PNG_WIDTH - 1}) // {MM.PNG_WIDTH}, 1) AS h
  FROM documents WHERE doc_id % 3 = 0
),
-- ADVICE r13 discipline (q164's guard, image flavor): the pixel
-- model below indexes CHARS while the Spark synthesis encodes utf-8
-- BYTES — sound only while the corpus is ASCII. Empty text is fine
-- here (an all-padding 1-row raster on both sides), so the guard is
-- ASCII-only; fail LOUDLY on a fixture refresh, not via the hash.
guard AS (
  SELECT COALESCE(BOOL_AND(octet_length(encode(text)) = n), TRUE) AS ok
  FROM img
),
pixels AS (
  SELECT media_id, h, {MM.PNG_WIDTH} * h AS N, k,
         CASE WHEN k <= n
              THEN ascii(substring(text, CAST(k AS INT), 1))
              ELSE {MM.PNG_PAD_BYTE} END AS px
  FROM img, UNNEST(generate_series(1, {MM.PNG_WIDTH} * h)) AS u(k)
)
SELECT media_id,
       CAST({MM.PNG_WIDTH} AS INT) AS width,
       CAST(ANY_VALUE(h) AS INT) AS height,
{_Q166_BANDS}
FROM pixels, guard
WHERE CASE WHEN guard.ok THEN TRUE
      ELSE error('q166 oracle: image documents must be ASCII '
                 || '(fixture changed? see the guard CTE)') END
GROUP BY media_id
"""


@query("q166_png_band_energy", oracle=_Q166_ORACLE)
def q166_png_band_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-sum extraction through the SECOND registered real codec:
    synthesize genuine PNG blobs for the image documents, decode them
    with the stdlib chunk-walk + inflate + full defilter inside the
    Arrow batch boundary (``multimodal.png_band_features``), emit
    integer band sums. The gate projection unpacks the array<long>
    into scalar columns (q164's convention)."""
    media = MM.synthesize_png_media(load_table(spark, sf_dir, "documents"))
    feats = MM.png_band_features(media)
    return feats.select(
        "media_id",
        "width",
        "height",
        *[
            F.col("bands")[b].alias(f"e{b:02d}")
            for b in range(MM.FEATURE_DIM)
        ],
    )
