"""Multimodal-column queries (extension layer, SURVEY §2c): opaque binary
payloads + typed metadata over `documents`, with metadata math oracle-checked
in DuckDB and the mapInPandas decode paths pytest-verified against a pure-
Python reimplementation (rows-only for the driver).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup
from ..operators import multimodal as M
from ..queries import query
from ..sources.tables import load_table

_FMT_CASE = """
CASE source WHEN 'web' THEN 'image/png'
            WHEN 'books' THEN 'audio/wav'
            WHEN 'code' THEN 'text/plain'
            ELSE 'video/raw' END
"""

# ---------------------------------------------------------------------------
# 1. Metadata-only summary: never touches payload bytes (column pruning)
# ---------------------------------------------------------------------------

_METADATA_ORACLE = f"""
SELECT {_FMT_CASE} AS format,
       count(*) AS n_assets,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       max(octet_length(encode(text))) AS max_bytes,
       CAST(sum((octet_length(encode(text)) + {M.FRAME_SIZE - 1}) // {M.FRAME_SIZE}) AS BIGINT) AS total_frames
FROM documents
GROUP BY 1
"""


@query("mm_metadata_summary", sql=_METADATA_ORACLE)
def mm_metadata_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate typed metadata per media format. The plan reads only the
    struct fields — at scale, parquet column pruning means the multi-TB
    payload column is never scanned for this query."""
    assets = M.attach_payload(load_table(spark, sf_dir, "documents"))
    return assets.groupBy(F.col("meta.format").alias("format")).agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("meta.n_bytes").alias("total_bytes"),
        F.max("meta.n_bytes").alias("max_bytes"),
        F.sum("meta.n_frames").alias("total_frames"),
    )


# ---------------------------------------------------------------------------
# 2. Per-asset frame inventory: integer frame/sample math, oracle-exact
# ---------------------------------------------------------------------------

_INVENTORY_ORACLE = f"""
SELECT doc_id,
       {_FMT_CASE} AS format,
       octet_length(encode(text)) AS n_bytes,
       (octet_length(encode(text)) + {M.FRAME_SIZE - 1}) // {M.FRAME_SIZE} AS n_frames,
       ((octet_length(encode(text)) + {M.FRAME_SIZE - 1}) // {M.FRAME_SIZE}
        + {M.FRAME_STRIDE - 1}) // {M.FRAME_STRIDE} AS n_sampled
FROM documents
"""


@query("mm_frame_inventory", sql=_INVENTORY_ORACLE)
def mm_frame_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-asset frame segmentation plan: how many fixed-size frames the
    payload carves into and how many the every-Nth sampler will emit —
    the planning query a video pipeline runs before the expensive decode."""
    assets = M.attach_payload(load_table(spark, sf_dir, "documents"))
    return assets.select(
        "doc_id",
        F.col("meta.format").alias("format"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.n_frames").alias("n_frames"),
        F.expr(f"(meta.n_frames + {M.FRAME_STRIDE - 1}) div {M.FRAME_STRIDE}")
        .cast("long")
        .alias("n_sampled"),
    )


# ---------------------------------------------------------------------------
# 3. mapInPandas decode paths — oracle-checked per ROW: the deterministic
#    fake decode is integer byte math, which DuckDB can reproduce exactly by
#    hex-expanding the payload (hex(blob) → one row per byte via
#    generate_series → '0x'||pair cast). The decode path is therefore held
#    to the same value-hash bar as the relational queries, not rows-only.
# ---------------------------------------------------------------------------

# one row per payload byte: (doc_id, byte offset k, byte value 0-255)
_BYTES_CTE = """
b AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
  FROM documents
),
u AS (
  SELECT doc_id,
         k,
         CAST('0x' || substr(hx, CAST(k * 2 + 1 AS INT), 2) AS INTEGER) AS byte
  FROM b, unnest(generate_series(0, nb - 1)) AS t(k)
)
"""

_BYTE_FEATURES_ORACLE = f"""
WITH {_BYTES_CTE},
agg AS (
  SELECT doc_id,
         CAST(sum(byte) AS BIGINT) AS sum_bytes,
         CAST(sum(CASE WHEN byte < 64 THEN 1 ELSE 0 END) AS BIGINT) AS hist_0,
         CAST(sum(CASE WHEN byte >= 64 AND byte < 128 THEN 1 ELSE 0 END) AS BIGINT) AS hist_1,
         CAST(sum(CASE WHEN byte >= 128 AND byte < 192 THEN 1 ELSE 0 END) AS BIGINT) AS hist_2,
         CAST(sum(CASE WHEN byte >= 192 THEN 1 ELSE 0 END) AS BIGINT) AS hist_3
  FROM u GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.nb AS BIGINT) AS n_bytes,
       COALESCE(agg.sum_bytes, 0) AS sum_bytes,
       COALESCE(agg.hist_0, 0) AS hist_0,
       COALESCE(agg.hist_1, 0) AS hist_1,
       COALESCE(agg.hist_2, 0) AS hist_2,
       COALESCE(agg.hist_3, 0) AS hist_3
FROM b LEFT JOIN agg USING (doc_id)
"""


# Real WAV codec path (r10): Spark synthesizes genuine RIFF/WAVE files
# (stdlib `wave` encoder) and decodes them back (stdlib `wave` parser +
# PCM16LE frame read). The oracle NEVER sees the bytes — it recomputes
# every decoded feature analytically from the deterministic PCM formula
# (sample i of doc d = (d*31 + 7*i*i) % 65536 - 32768; n_samples =
# 160 + (d % 41)*8; canonical WAV container = 44 header bytes + 2 bytes
# per sample). A header mis-parse, an endianness slip, or a truncated
# frame read each breaks a different column's hash.
_AUDIO_ORACLE = f"""
WITH p AS (
  SELECT doc_id, 160 + (doc_id % 41) * 8 AS ns FROM documents
),
s AS (
  SELECT doc_id, ns, ((doc_id * 31 + 7 * i * i) % 65536) - 32768 AS v
  FROM p, unnest(generate_series(0, ns - 1)) AS t(i)
)
SELECT doc_id,
       CAST({M.AUDIO_RATE} AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(2 AS BIGINT) AS sample_width,
       CAST(ns AS BIGINT) AS n_samples,
       CAST(44 + 2 * ns AS BIGINT) AS n_bytes,
       CAST(sum(v * v) AS BIGINT) AS sum_sq,
       CAST(max(abs(v)) AS BIGINT) AS peak_abs
FROM s GROUP BY doc_id, ns
"""


@query("mm_audio_decode_features", sql=_AUDIO_ORACLE)
def mm_audio_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec decode for the audio modality: per document, synthesize a
    genuine WAV container (stdlib `wave` encoder — RIFF header, fmt chunk,
    PCM16LE mono @8 kHz), then decode it back with the stdlib parser and
    emit header facts + exact integer signal features (energy, peak). The
    DuckDB oracle recomputes all eight columns analytically from the PCM
    formula, so the full encode→decode roundtrip — container framing
    included (n_bytes checks the 44-byte canonical header) — is
    value-hashed. This retires the 'codec slot is a stub' caveat for
    audio; image/video decode remain documented stubs
    (operators/multimodal.py decode_image_real) until codec libraries
    ship. Zero shuffle: one mapInPandas synth, one mapInPandas decode."""
    docs = load_table(spark, sf_dir, "documents")
    return M.audio_features(M.attach_audio_payload(docs))


# Real BMP codec path (r10, the image twin of the WAV move): Spark writes
# genuine 24-bit BMP containers (stdlib struct — file header, DIB header,
# 4-byte-padded bottom-up BGR rows) and parses them back. The oracle never
# sees the bytes: it recomputes every decoded feature analytically from
# the pixel formula channel(d,x,y,c) = (d*7 + 13y + 3x + 11c) % 256 with
# dims w = 8+(d%9), h = 8+(d%7). n_bytes checks the header+stride math, the
# channel sums check the decode, and the position-weighted red checksum
# Σ R(x,y)·(y·w+x+1) is order-sensitive — a top-down/bottom-up row flip or
# padding-byte bleed breaks it while leaving the plain sums intact.
_IMAGE_ORACLE = """
WITH p AS (
  SELECT doc_id,
         8 + (doc_id % 9) AS w,
         8 + (doc_id % 7) AS h
  FROM documents
),
px AS (
  SELECT doc_id, w, h, x, y,
         (doc_id * 7 + 13 * y + 3 * x) % 256 AS b,
         (doc_id * 7 + 13 * y + 3 * x + 11) % 256 AS g,
         (doc_id * 7 + 13 * y + 3 * x + 22) % 256 AS r
  FROM p,
       unnest(generate_series(0, w - 1)) AS tx(x),
       unnest(generate_series(0, h - 1)) AS ty(y)
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(24 AS BIGINT) AS bpp,
       CAST(54 + ((3 * w + 3) // 4) * 4 * h AS BIGINT) AS n_bytes,
       CAST(sum(b) AS BIGINT) AS sum_b,
       CAST(sum(g) AS BIGINT) AS sum_g,
       CAST(sum(r) AS BIGINT) AS sum_r,
       CAST(sum(r * (y * w + x + 1)) AS BIGINT) AS rpos_checksum,
       CAST(max(greatest(b, g, r)) AS BIGINT) AS max_px
FROM px GROUP BY doc_id, w, h
"""


@query("mm_image_decode_features", sql=_IMAGE_ORACLE)
def mm_image_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec decode for the image modality: per document, synthesize a
    genuine 24-bit BMP (stdlib struct — BITMAPFILEHEADER, BITMAPINFOHEADER,
    padded bottom-up BGR rows), parse it back, and emit header facts plus
    exact integer pixel features (per-channel sums, global max, and an
    order-sensitive position-weighted checksum). With the WAV and AVI
    paths this makes all three modalities real stdlib codecs; only
    compressed formats (JPEG/PNG, inter-coded video) remain behind the
    documented decode_image_real gate (no codec libraries in the
    container). Zero shuffle: one mapInPandas synth, one mapInPandas
    decode."""
    docs = load_table(spark, sf_dir, "documents")
    return M.image_decode_features(M.attach_image_payload(docs))


# Real AVI codec path (late r10, completing the modality set): Spark writes
# genuine uncompressed AVI containers (RIFF chunk tree — hdrl LIST with
# avih/strh/strf headers, movi LIST with one raw bottom-up padded BGR
# '00db' chunk per frame) and the decoder WALKS the chunk tree back. The
# oracle recomputes every decoded feature analytically from the pixel
# formula channel(d,f,x,y,c) = (d*7 + 29f + 13y + 3x + 11c) % 256 with
# dims (w,h,frames) = (8+d%5, 6+d%4, 2+d%4); the container-size column
# checks the full RIFF accounting (224 header bytes + per-frame chunk
# overhead + stride math), and the checksum Σ R·(f+1)·(y·w+x+1) is
# sensitive to frame order AND row order.
_VIDEO_ORACLE = """
WITH p AS (
  SELECT doc_id,
         8 + (doc_id % 5) AS w,
         6 + (doc_id % 4) AS h,
         2 + (doc_id % 4) AS nf
  FROM documents
),
px AS (
  SELECT doc_id, w, h, nf, f, x, y,
         (doc_id * 7 + 29 * f + 13 * y + 3 * x) % 256 AS b,
         (doc_id * 7 + 29 * f + 13 * y + 3 * x + 11) % 256 AS g,
         (doc_id * 7 + 29 * f + 13 * y + 3 * x + 22) % 256 AS r
  FROM p,
       unnest(generate_series(0, nf - 1)) AS tf(f),
       unnest(generate_series(0, w - 1)) AS tx(x),
       unnest(generate_series(0, h - 1)) AS ty(y)
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(224 + nf * (8 + ((3 * w + 3) // 4) * 4 * h) AS BIGINT) AS n_bytes,
       CAST(sum(b) AS BIGINT) AS sum_b,
       CAST(sum(g) AS BIGINT) AS sum_g,
       CAST(sum(r) AS BIGINT) AS sum_r,
       CAST(sum(r * (f + 1) * (y * w + x + 1)) AS BIGINT) AS fpos_checksum,
       CAST(max(greatest(b, g, r)) AS BIGINT) AS max_px
FROM px GROUP BY doc_id, w, h, nf
"""


@query("mm_video_decode_features", sql=_VIDEO_ORACLE)
def mm_video_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec decode for the video modality: per document, synthesize a
    genuine uncompressed AVI (stdlib struct — RIFF('AVI ') chunk tree,
    avih/strh/strf headers, raw DIB frames in a movi LIST), walk the chunk
    tree back, decode every frame, and emit header facts plus exact
    integer features (per-channel sums across frames, global max, and a
    frame- and row-order-sensitive checksum). With BMP and WAV this makes
    ALL THREE modalities real container codecs — only compressed formats
    (JPEG/PNG, inter-coded video) remain behind the documented
    decode_image_real gate. Zero shuffle: one mapInPandas synth, one
    mapInPandas chunk-walking decode."""
    docs = load_table(spark, sf_dir, "documents")
    return M.video_decode_features(M.attach_video_payload(docs))


# Audio near-dup (late r10): decode → per-frame energy fingerprint →
# banded candidate join → one-mismatch verify, over the corpus ∪ an
# id-shifted copy carrying re-encode noise (+1 pre-wrap every 13th
# sample). Spark fingerprints the DECODED WAV bytes; the oracle replays
# the identical pipeline analytically from the PCM formula — codec,
# fingerprint, and join are all under the same value hash. A planted pair
# is missed only when ≥2 of its frames sit within the noise drift (≤7) of
# a 256-wide quantization boundary; the oracle misses exactly the same
# pairs, because both sides compute the same integers.
_AUDIO_ND_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + {M.AUDIO_DUP_SHIFT} FROM documents
),
p AS (
  SELECT doc_id, doc_id % {M.AUDIO_DUP_SHIFT} AS canon,
         160 + ((doc_id % {M.AUDIO_DUP_SHIFT}) % 41) * 8 AS ns
  FROM corpus
),
s AS (
  SELECT doc_id, CAST(i // {M.AUDIO_FRAME} AS BIGINT) AS frame_idx,
         abs(((canon * 31 + 7 * i * i
               + CASE WHEN doc_id >= {M.AUDIO_DUP_SHIFT} AND i % 13 = 0
                      THEN 1 ELSE 0 END) % 65536) - 32768) AS av
  FROM p, unnest(generate_series(0, ns - 1)) AS t(i)
),
f AS (
  SELECT doc_id, frame_idx,
         CAST((sum(av) // {M.AUDIO_BUCKET_Q}) % 256 AS BIGINT) AS bucket
  FROM s GROUP BY doc_id, frame_idx
),
nfr AS (SELECT doc_id, count(*) AS n_frames FROM f GROUP BY doc_id),
bands AS (
  SELECT doc_id, frame_idx, bucket,
         lead(bucket) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS bucket_next
  FROM f
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.frame_idx = b.frame_idx AND a.bucket = b.bucket
   AND a.bucket_next = b.bucket_next AND a.doc_id < b.doc_id
  WHERE a.bucket_next IS NOT NULL AND b.bucket_next IS NOT NULL
),
ver AS (
  SELECT c.id_a, c.id_b, na.n_frames,
         sum(CASE WHEN fa.bucket <> fb.bucket THEN 1 ELSE 0 END) AS n_mismatch
  FROM cand c
  JOIN nfr na ON na.doc_id = c.id_a
  JOIN nfr nb ON nb.doc_id = c.id_b AND nb.n_frames = na.n_frames
  JOIN f fa ON fa.doc_id = c.id_a
  JOIN f fb ON fb.doc_id = c.id_b AND fb.frame_idx = fa.frame_idx
  GROUP BY c.id_a, c.id_b, na.n_frames
)
SELECT id_a, id_b,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(n_mismatch AS BIGINT) AS n_mismatch
FROM ver WHERE n_mismatch <= 1
"""


@query("mm_audio_near_dup", sql=_AUDIO_ND_ORACLE)
def mm_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup detection on the real codec path: synthesize the
    corpus ∪ noise-perturbed id-shifted copy as genuine WAV files, DECODE
    them, fingerprint per 80-sample frame (exact integer energy quantized
    to 256 levels), find candidates by a banded equi-join on ADJACENT
    frame-bucket pairs — never all-pairs, and the 65536-level pair key
    keeps bands nearly singleton at corpus scale where a single frame's
    bucket would flood (measured 25×/10× rows with the weak key) — and
    keep pairs with equal frame counts and at most one mismatched frame.
    The audio-domain form of the MinHash banded device, with the codec
    inside the hash-checked path. Fingerprint relation pinned once."""
    docs = load_table(spark, sf_dir, "documents")
    fp = M.audio_frame_fingerprints(M.attach_audio_payload_dups(docs))
    return M.audio_near_dup_pairs(fp.select("doc_id", "frame_idx", "bucket"))


@query("mm_byte_features", sql=_BYTE_FEATURES_ORACLE)
def mm_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched 'decode + featurize' over the binary payload column
    (deterministic fake decode; see operators.multimodal.decode_image_real
    for the clearly-stubbed real-codec slot). Oracle: DuckDB hex-expands
    the same payload to one row per byte and recomputes sum + histogram —
    an exact, engine-independent check on the whole decode path."""
    return M.byte_features(M.attach_payload(load_table(spark, sf_dir, "documents")))


_FRAME_SAMPLE_ORACLE = f"""
WITH {_BYTES_CTE},
f AS (
  SELECT doc_id,
         CAST(k // {M.FRAME_SIZE} AS BIGINT) AS frame_idx,
         CAST(count(*) AS BIGINT) AS frame_bytes,
         CAST(sum(byte) AS BIGINT) AS frame_sum
  FROM u
  GROUP BY doc_id, k // {M.FRAME_SIZE}
)
SELECT doc_id, frame_idx, frame_bytes, frame_sum
FROM f WHERE frame_idx % {M.FRAME_STRIDE} = 0
"""


@query("mm_frame_sample", sql=_FRAME_SAMPLE_ORACLE)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N frame sampling over the binary payload column via mapInPandas.
    Oracle: the byte-expansion CTE grouped into frames, keeping every
    STRIDE-th frame — exact per-frame byte counts and sums."""
    return M.sample_frames(M.attach_payload(load_table(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# 5. Exact frame-level dedup: the multimodal form of exact dedup — identical
#    payload FRAMES across assets collapse to one canonical copy (the
#    storage-dedup / repeated-intro-frame case). Byte-exact in the hex
#    domain because this DuckDB build has no BLOB substring/md5: both
#    engines hash the same lower(hex(payload)) slices (2 hex chars = 1
#    byte), so frame identity is bit-identical cross-engine. True dup
#    groups are manufactured by unioning an id-shifted copy of the corpus
#    (the dedup_exact convention), mirrored in the oracle.
# ---------------------------------------------------------------------------

_FD_SHIFT = 1_000_000
_FD_HEX = 2 * M.FRAME_SIZE  # hex chars per frame

_FRAME_DEDUP_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_FD_SHIFT} AS doc_id, text FROM documents
),
h AS (
  SELECT doc_id, lower(hex(encode(text))) AS hx,
         (octet_length(encode(text)) + {M.FRAME_SIZE - 1}) // {M.FRAME_SIZE} AS nf
  FROM base WHERE octet_length(encode(text)) > 0
),
fr AS (
  SELECT doc_id, k AS frame_no,
         md5(substring(hx, k * {_FD_HEX} + 1, {_FD_HEX})) AS fhash
  FROM h, unnest(generate_series(0, nf - 1)) AS t(k)
)
SELECT fhash,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(doc_id * 4294967296 + frame_no) // 4294967296 AS BIGINT) AS canon_doc_id,
       CAST(min(doc_id * 4294967296 + frame_no) % 4294967296 AS BIGINT) AS canon_frame_no
FROM fr
GROUP BY fhash
HAVING count(*) >= 2
"""


@query("mm_frame_dedup", sql=_FRAME_DEDUP_ORACLE)
def mm_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate payload frames across the doubled corpus: every group of
    byte-identical frames with its copy count and canonical (min doc,
    frame) owner. Scale shape: frame hashes are built INSIDE a per-row
    ``transform`` over the frame-index sequence — the payload is sliced in
    place, never replicated per frame — then only (hash, doc, frame) rows
    shuffle for the group-by; payload bytes stay map-side. The canonical
    pick is an integer-packed min (doc·2^32 + frame), the same
    order-independent argmin trick on both engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionAll(
        docs.select((F.col("doc_id") + _FD_SHIFT).alias("doc_id"), "text")
    )
    payload = F.encode(F.col("text"), "UTF-8")
    hx = F.lower(F.hex(payload))
    nf = F.floor((F.length(payload) + F.lit(M.FRAME_SIZE - 1)) / F.lit(M.FRAME_SIZE)).cast(
        "int"
    )
    hashes = F.transform(
        F.sequence(F.lit(0), nf - 1),
        lambda k: F.md5(hx.substr(k * _FD_HEX + 1, F.lit(_FD_HEX))),
    )
    frames = (
        corpus.where(F.length(payload) > 0)
        .select("doc_id", F.posexplode(hashes).alias("frame_no", "fhash"))
    )
    packed = F.col("doc_id") * F.lit(4294967296) + F.col("frame_no")
    return (
        frames.groupBy("fhash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(packed).alias("__m"),
        )
        .where(F.col("n_copies") >= 2)
        .select(
            "fhash",
            "n_copies",
            F.expr("__m div 4294967296").cast("bigint").alias("canon_doc_id"),
            F.pmod(F.col("__m"), F.lit(4294967296)).cast("bigint").alias("canon_frame_no"),
        )
    )


# ---------------------------------------------------------------------------
# 6. Perceptual frame near-dup: aHash (average hash) per frame + Hamming
#    pigeonhole candidates — the realistic image-corpus need mm_frame_dedup's
#    byte-exact form can't serve (a re-encoded frame hashes differently but
#    LOOKS the same). Near-identical frames are planted by unioning a
#    deterministically perturbed copy (byte + k%3 — a fake lossy re-encode:
#    same frames land 0-5 bits apart, most within the ham<=2 decision).
#    The ORACLE is the brute-force all-pairs sweep, so the hash check IS
#    the completeness proof of dedup.hamming_pairs: any pair the pigeonhole
#    missed would break the match.
# ---------------------------------------------------------------------------

_AHASH_PERTURB = 3
_PACK = 4294967296  # frame key k = doc_id * 2^32 + frame_no

# Shared CTE chain (byte expansion → frame stats → signatures) for the
# near-dup and collapse oracles.
_AHASH_CTES = f"""b AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
  FROM documents WHERE octet_length(encode(text)) > 0
),
u0 AS (
  SELECT doc_id, k, CAST('0x' || substr(hx, CAST(k * 2 + 1 AS INT), 2) AS INTEGER) AS byte
  FROM b, unnest(generate_series(0, nb - 1)) AS t(k)
),
u AS (
  SELECT doc_id, k, byte FROM u0
  UNION ALL
  SELECT doc_id + {_FD_SHIFT} AS doc_id, k, (byte + k % {_AHASH_PERTURB}) % 256 AS byte
  FROM u0
),
fb AS (
  SELECT doc_id, k // {M.FRAME_SIZE} AS frame_no, k % {M.FRAME_SIZE} AS i, byte FROM u
),
fs AS (
  SELECT doc_id, frame_no, CAST(sum(byte) AS BIGINT) AS fsum, count(*) AS n
  FROM fb GROUP BY doc_id, frame_no
),
sig AS MATERIALIZED (
  SELECT fb.doc_id, fb.frame_no,
         CAST(sum(CASE WHEN i < 32  AND n * byte > fsum THEN (2::BIGINT) ^ (31 - i) ELSE 0 END) AS BIGINT) AS hi,
         CAST(sum(CASE WHEN i >= 32 AND n * byte > fsum THEN (2::BIGINT) ^ (63 - i) ELSE 0 END) AS BIGINT) AS lo
  FROM fb JOIN fs USING (doc_id, frame_no)
  GROUP BY fb.doc_id, fb.frame_no
),
fpairs AS (
  SELECT a.doc_id * 4294967296 + a.frame_no AS id_a,
         c.doc_id * 4294967296 + c.frame_no AS id_b,
         CAST(bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo)) AS BIGINT) AS ham
  FROM sig a JOIN sig c
    ON (a.doc_id * 4294967296 + a.frame_no) < (c.doc_id * 4294967296 + c.frame_no)
   AND bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo)) <= {M.AHASH_MAX_HAM}
)"""

_FRAME_NEARDUP_ORACLE = f"""
WITH {_AHASH_CTES}
SELECT id_a // 4294967296 AS doc_a, id_a % 4294967296 AS frame_a,
       id_b // 4294967296 AS doc_b, id_b % 4294967296 AS frame_b,
       ham
FROM fpairs
"""


@query("mm_frame_near_dup", sql=_FRAME_NEARDUP_ORACLE)
def mm_frame_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate frames over the corpus ∪ perturbed copy:
    per-frame 64-bit aHash (bit i = byte i above the frame mean, integer-
    exact), then every frame pair within Hamming distance 2. The DuckDB
    oracle recomputes the signatures AND sweeps ALL pairs brute-force, so
    the value hash doubles as the candidate generator's completeness
    proof.

    Exact-signature pre-contraction (VERDICT r08 item 3 — the
    mm_frame_dedup_collapse r07 treatment applied to the pair query,
    which must still EMIT every pair): frames sharing an exact
    (sig_hi, sig_lo) are pairwise ham=0, so (a) intra-group pairs come
    from a plain equi-self-join on the signature — no band fan-out, no
    popcount, output-bound; (b) the pigeonhole join ``dedup.hamming_pairs``
    runs over ONE representative per DISTINCT signature (~10× fewer rows
    at sf0.1, and the degenerate constant-payload signature that makes
    the hottest piece bucket collapses to one row); (c) each rep-rep
    pair at ham h expands to all member×member cross pairs — same h, since members
    carry identical signatures. Union of (a) and (c) is exactly the
    all-pairs ham<=2 set: intra pairs share both sig halves, cross pairs
    never do, so no pair is emitted twice. This is the 100 TB shape:
    exact-dup contraction before the near-dup join. Scale shape:
    signatures leave the map side as 2 BIGINTs/frame (payload never
    shuffles)."""
    sigs, groups, reps = _sig_groups(spark, sf_dir)
    members = sigs.join(groups, ["sig_hi", "sig_lo"]).select("rep", "k")
    # (a) intra-group ham=0 pairs, ordered by the packed key
    intra = (
        sigs.select("sig_hi", "sig_lo", F.col("k").alias("__ka"))
        .join(sigs.select("sig_hi", "sig_lo", F.col("k").alias("__kb")), ["sig_hi", "sig_lo"])
        .where(F.col("__ka") < F.col("__kb"))
        .select("__ka", "__kb", F.lit(0).cast("bigint").alias("ham"))
    )
    # (b) pigeonhole join over one rep per distinct signature
    rep_pairs = dedup.hamming_pairs(reps, "k", M.AHASH_MAX_HAM)
    # (c) expand each rep-rep pair to all member×member cross pairs
    cross = (
        rep_pairs.join(
            members.select(F.col("rep").alias("id_a"), F.col("k").alias("ka")), "id_a"
        )
        .join(members.select(F.col("rep").alias("id_b"), F.col("k").alias("kb")), "id_b")
        .select(
            F.least("ka", "kb").alias("__ka"),
            F.greatest("ka", "kb").alias("__kb"),
            F.col("hamming").alias("ham"),
        )
    )
    return intra.unionAll(cross).select(
        F.expr(f"__ka div {_PACK}").cast("bigint").alias("doc_a"),
        F.pmod(F.col("__ka"), F.lit(_PACK)).cast("bigint").alias("frame_a"),
        F.expr(f"__kb div {_PACK}").cast("bigint").alias("doc_b"),
        F.pmod(F.col("__kb"), F.lit(_PACK)).cast("bigint").alias("frame_b"),
        "ham",
    )


def _sig_groups(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Exact-signature groups of the planted frames: ``sigs`` (k, sig_hi,
    sig_lo) with k the packed (doc_id, frame_no) key, ``groups`` (sig_hi,
    sig_lo, rep) with rep the min k per distinct signature, and ``reps``
    (k, sig_hi, sig_lo), one representative frame per distinct
    signature. ``sigs`` and ``groups`` are pinned: each is
    consumed twice, and every unpinned use re-runs the signature pass or
    the distinct-signature agg."""
    sigs = (
        _ahash_planted_sigs(spark, sf_dir)
        .select(
            (F.col("doc_id") * F.lit(_PACK) + F.col("frame_no")).alias("k"),
            "sig_hi",
            "sig_lo",
        )
        .localCheckpoint(eager=True)
    )
    groups = (
        sigs.groupBy("sig_hi", "sig_lo")
        .agg(F.min("k").alias("rep"))
        .localCheckpoint(eager=True)
    )
    reps = groups.select(F.col("rep").alias("k"), "sig_hi", "sig_lo")
    return sigs, groups, reps


def _ahash_planted_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aHash signatures of the corpus ∪ perturbed ('re-encoded') copy.

    The per-byte hex-slice expansion is the dominant cost of the whole
    aHash family; it runs ONCE here and both signature variants — base and
    perturbed twin — are emitted by ONE numpy pass over the decoded byte
    matrix (r13: ``ahash_sigs_from_frames(..., twin=...)``). Before r13
    the frame relation was eagerly pinned and each variant aggregated it
    separately (two JVM fold passes + two Arrow transfers of the byte
    arrays); before the r12 split each variant re-sliced the payload from
    scratch (~2x the map work, measured ~25s → ~15s on the collapse query
    at sf0.1). With a single consumer left, the decode output no longer
    needs a checkpoint at all — decode → signatures is one pipelined
    stage and only (id, frame_no, two BIGINTs) ever leave it."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    frames = M.frame_byte_arrays(docs)
    return M.ahash_sigs_from_frames(frames, twin=(_AHASH_PERTURB, _FD_SHIFT))


# ---------------------------------------------------------------------------
# 7. Perceptual dedup COLLAPSE: near-dup pairs are transitive in practice
#    (re-encodes of re-encodes), so the dedup decision needs connected
#    components over the pair graph and one canonical survivor per
#    perceptual cluster — the frame analog of pipeline_dedup_keep_best.
# ---------------------------------------------------------------------------

# edges is MATERIALIZED: inlined, DuckDB re-runs the brute-force fpairs sweep
# in every step of the recursion (sf0.1: over 20 min against 82 s).
_FRAME_COLLAPSE_ORACLE = f"""
WITH RECURSIVE {_AHASH_CTES},
edges AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM fpairs
  UNION
  SELECT id_b AS a, id_a AS b FROM fpairs
),
lbl(node, label) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, min(lbl.label) FROM lbl JOIN edges e ON e.a = lbl.node GROUP BY e.b
),
comp AS (SELECT node, min(label) AS component FROM lbl GROUP BY node),
csize AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
SELECT comp.node // 4294967296 AS doc_id,
       comp.node % 4294967296 AS frame_no,
       comp.component // 4294967296 AS canon_doc_id,
       comp.component % 4294967296 AS canon_frame_no,
       csize.cluster_size,
       comp.node = comp.component AS is_canonical
FROM comp JOIN csize USING (component)
"""


@query("mm_frame_dedup_collapse", sql=_FRAME_COLLAPSE_ORACLE)
def mm_frame_dedup_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-cluster collapse over the planted corpus: aHash ham<=2
    pairs → alternating large-star/small-star connected components
    (operators/dedup.py — O(log n) rounds of fixed-width shuffles) → the
    min packed (doc, frame) key as each cluster's canonical survivor.
    One row per clustered frame with its canonical owner and cluster
    size; the oracle recomputes pairs brute-force and labels each node
    with the min node it reaches by a recursive min-label propagation, so
    cluster membership AND canonical choice are value-checked end to
    end."""
    # Identical-signature pre-contraction: frames sharing an exact
    # (sig_hi, sig_lo) are pairwise ham=0 cliques — at sf0.1 they inflate
    # the raw pair graph to ~350k edges (~7 partners/frame) and dominate
    # both the pair join and the CC rounds. Component-equivalence:
    # each group contracts to a star on its min packed key (all genuine
    # ham-0 pairs), and the pair join runs over one representative per
    # DISTINCT signature (any member-member ham equals the rep-rep ham,
    # so rep-rep edges preserve exactly the cross-group connectivity).
    # Nodes with no ham<=2 partner still never enter the graph: a
    # singleton group emits no star edge and its rep only appears via a
    # cross pair. Same components, same min-node canonicals, ~10x fewer
    # edges — and the degenerate-signature hot bucket the pair join's
    # docstring warns about collapses to ONE row per piece. This is the
    # 100 TB shape: exact-dup contraction before the near-dup join.
    sigs, groups, reps = _sig_groups(spark, sf_dir)
    star = (
        sigs.join(groups, ["sig_hi", "sig_lo"])
        .where(F.col("k") != F.col("rep"))
        .select(F.col("k").alias("id_a"), F.col("rep").alias("id_b"))
    )
    cross = dedup.hamming_pairs(reps, "k", M.AHASH_MAX_HAM).select("id_a", "id_b")
    cc = dedup.connected_components(star.unionAll(cross))
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "component").select(
        F.expr(f"node div {_PACK}").cast("bigint").alias("doc_id"),
        F.pmod(F.col("node"), F.lit(_PACK)).cast("bigint").alias("frame_no"),
        F.expr(f"component div {_PACK}").cast("bigint").alias("canon_doc_id"),
        F.pmod(F.col("component"), F.lit(_PACK)).cast("bigint").alias("canon_frame_no"),
        "cluster_size",
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )
