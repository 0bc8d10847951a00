"""Multimodal column support (extension layer, SURVEY §2c).

The reference has no notion of media data (its sole type is a flat int array,
SequentialQuickInsert.c:60 — SURVEY §1.1); a 100 TB training-data pipeline
needs image/audio/video columns. The model here is the one every lakehouse
uses: an **opaque ``binary`` payload column next to a typed metadata struct**,
stored columnar so metadata-only queries never touch the payload bytes
(parquet column pruning drops the heavy column at the scan).

Because this container has no image/video codec libraries, the *real* pixel
decode is a clearly-marked stub (:func:`decode_image_real`). Everything
around it — the schema, the Arrow-batched ``mapInPandas`` plumbing, the
frame segmentation math, the partition sizing — is real and tested, and a
production deployment swaps one function. The AUDIO modality needs no
external library: :func:`attach_audio_payload` / :func:`audio_features`
(r10) write and parse genuine RIFF/WAVE PCM16 containers with the stdlib
``wave`` codec — that decode path is real, oracle-checked end to end.

100 TB notes:
- every operator here is narrow (per-row map): no shuffle anywhere;
- payload work runs in ``mapInPandas`` (Arrow batches, zero-copy bytes into
  Python) — never row-at-a-time UDFs;
- metadata queries (`n_bytes`, frame counts) compile to JVM expressions over
  pruned columns; the binary column is never read unless a decode is asked;
- keep `spark.sql.files.maxPartitionBytes` at default 128 MB: payload rows
  are large, so a scan partition holds few rows and Arrow batches stay small.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fake "video" layout: fixed-size frames carved out of the payload byte
# stream, every STRIDE-th frame sampled. Deterministic, codec-free, and the
# frame *count* math is plain integer arithmetic (oracle-expressible).
FRAME_SIZE = 64
FRAME_STRIDE = 4

#: Metadata struct stored next to every payload (typed, queryable without
#: touching the bytes).
META_SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("frame_size", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
    ]
)


def format_from_source(source: Column) -> Column:
    """Deterministic media format tag derived from the document source — the
    stand-in for a real pipeline's MIME sniffing."""
    return (
        F.when(source == "web", F.lit("image/png"))
        .when(source == "books", F.lit("audio/wav"))
        .when(source == "code", F.lit("text/plain"))
        .otherwise(F.lit("video/raw"))
    )


def attach_payload(documents: DataFrame) -> DataFrame:
    """documents → (doc_id, payload binary, meta struct).

    The payload is the UTF-8 encoding of the text column — a deterministic
    opaque byte blob (in production this column arrives from object storage;
    here it must be derivable from the read-only testdata). All expressions
    are JVM-side; nothing leaves whole-stage codegen.
    """
    payload = F.encode(F.col("text"), "UTF-8")
    n_bytes = F.octet_length(payload).cast("long")
    return documents.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            format_from_source(F.col("source")).alias("format"),
            n_bytes.alias("n_bytes"),
            F.lit(FRAME_SIZE).alias("frame_size"),
            # ceil(n_bytes / FRAME_SIZE) in pure integer math — identical on
            # the DuckDB oracle side, no float division anywhere
            F.expr(f"(octet_length(encode(text, 'UTF-8')) + {FRAME_SIZE - 1}) div {FRAME_SIZE}")
            .cast("long")
            .alias("n_frames"),
        ).alias("meta"),
    )


def decode_image_real(payload: bytes) -> object:
    """THE pluggable real-decode slot: decodes an image payload with
    Pillow when it is installed (r08, VERDICT r07 stretch — a
    codec-equipped deployment gets a working decoder and test coverage
    for free via ``pytest.importorskip``); this container ships no
    image/audio libraries, so calling it raises NotImplementedError,
    and byte_features()/sample_frames() exercise the identical Spark
    plumbing with a deterministic fake. Since r10 this gate only covers
    COMPRESSED formats (JPEG/PNG, inter-coded video): the uncompressed
    BMP path (:func:`attach_image_payload` / :func:`image_decode_features`),
    the WAV path (:func:`audio_features`), and the uncompressed-AVI path
    (:func:`attach_video_payload` / :func:`video_decode_features`) are
    all real stdlib codecs."""
    try:
        import io as _io

        from PIL import Image  # type: ignore[import-not-found]
    except ImportError as exc:
        raise NotImplementedError(
            "real media decode requires an image codec library (Pillow), "
            "which is not installed in this environment; "
            "byte_features()/sample_frames() exercise the identical Spark "
            "plumbing with a deterministic fake"
        ) from exc
    return Image.open(_io.BytesIO(payload))


_IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("mode", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def image_features(with_payload: DataFrame) -> DataFrame:
    """REAL decode + feature-extract over the same Arrow ``mapInPandas``
    plumbing as :func:`byte_features` — per payload, decode via
    :func:`decode_image_real` and emit (width, height, mode). Runs only
    where a codec library is installed (gated test:
    ``test_decode_image_real_with_codec``); here every task would raise
    the documented NotImplementedError. Identical batch shape, schema
    discipline, and zero-copy byte transfer as the byte-domain twin."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_image_real(bytes(payload))
                out.append(
                    (int(doc_id), int(img.width), int(img.height), str(img.mode), len(payload))
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "width", "height", "mode", "n_bytes"]
            )

    return with_payload.select("doc_id", "payload").mapInPandas(
        _extract, _IMAGE_FEATURES_SCHEMA
    )


# ---------------------------------------------------------------------------
# REAL audio codec path (r10): unlike image/video, audio needs no external
# library — the stdlib `wave` module writes and parses real RIFF/WAVE
# containers (PCM16). So the audio half of the codec slot is NOT a stub:
# synthesis emits genuine WAV files (44-byte canonical header + PCM16LE
# mono frames), decode re-parses the container and the sample stream. The
# PCM content is a deterministic integer formula of (doc_id, i), which is
# what makes the whole encode→decode path value-hash checkable by DuckDB:
# the oracle recomputes every decoded feature analytically from the formula
# — a wrong header, a byte-order slip, or a truncated frame read all
# hash-mismatch. Image/video decode remains the documented stub
# (decode_image_real) until a codec library ships.
# ---------------------------------------------------------------------------

AUDIO_RATE = 8000  # Hz, mono PCM16


def audio_n_samples(doc_id: int) -> int:
    """Deterministic per-document sample count: 160 + (doc_id % 41) * 8 —
    varied lengths (160..480) so frame accounting is exercised, bounded so
    the oracle's generate_series stays small."""
    return 160 + (doc_id % 41) * 8


def audio_sample(doc_id: int, i: int) -> int:
    """Sample i of document doc_id: ((doc_id*31 + 7*i*i) % 65536) - 32768.
    Pure integer math (no trig floats), full int16 range, identical in
    Python, numpy int64, and DuckDB BIGINT."""
    return (doc_id * 31 + 7 * i * i) % 65536 - 32768


def _wav_bytes(canon: int, noisy: bool) -> bytes:
    """The ONE WAV synthesis body shared by :func:`attach_audio_payload`
    (noisy=False) and :func:`attach_audio_payload_dups` (noisy=True for
    shifted copies): a genuine stdlib-``wave`` RIFF/WAVE PCM16LE mono
    container of :func:`audio_n_samples`(canon) samples, sample i =
    ((canon*31 + 7·i² + noise_i) % 65536) − 32768 with noise_i = 1 on
    every 13th sample when noisy. A single body keeps the two paths —
    and their analytic oracles — provably on the same formula and
    container parameters."""
    import io
    import wave

    import numpy as np

    n = audio_n_samples(canon)
    i = np.arange(n, dtype=np.int64)
    noise = (i % 13 == 0).astype(np.int64) if noisy else 0
    pcm = ((canon * 31 + 7 * i * i + noise) % 65536 - 32768).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(AUDIO_RATE)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def attach_audio_payload(documents: DataFrame) -> DataFrame:
    """documents → (doc_id, payload binary): a REAL WAV file per document,
    written by the stdlib ``wave`` encoder (RIFF/WAVE, PCM16LE, mono,
    8 kHz). The synthesis stands in for object storage exactly like
    :func:`attach_payload`; the container bytes are genuine — a media
    player would play them."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [(int(d), _wav_bytes(int(d), noisy=False)) for d in pdf["doc_id"]]
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return documents.select("doc_id").mapInPandas(_synth, schema)


_AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_channels", T.LongType()),
        T.StructField("sample_width", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
        T.StructField("peak_abs", T.LongType()),
    ]
)


def audio_features(with_payload: DataFrame) -> DataFrame:
    """REAL audio decode + featurize: parse each payload's RIFF/WAVE header
    with the stdlib ``wave`` reader, decode the PCM16LE frames, and emit
    header facts (rate, channels, width, frame count, container size) plus
    integer signal features (energy ``sum_sq`` = Σ s², ``peak_abs`` =
    max|s| — both exact in int64: |s| ≤ 2¹⁵, n ≤ 480 ⇒ Σ s² < 2³⁹).

    Same Arrow ``mapInPandas`` plumbing, batch shape, and schema discipline
    as :func:`byte_features`; linear, zero-shuffle, payload column pruned
    unless asked. At 100 TB this is the production shape for audio feature
    extraction — one pass, no Python-per-row."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                with wave.open(io.BytesIO(raw), "rb") as w:
                    nch = w.getnchannels()
                    width = w.getsampwidth()
                    rate = w.getframerate()
                    nf = w.getnframes()
                    frames = w.readframes(nf)
                s = np.frombuffer(frames, dtype="<i2").astype(np.int64)
                out.append(
                    (
                        int(doc_id),
                        rate,
                        nch,
                        width,
                        int(s.size),
                        len(raw),
                        int((s * s).sum()),
                        int(np.abs(s).max()) if s.size else 0,
                    )
                )
            yield pd.DataFrame(out, columns=[f.name for f in _AUDIO_FEATURES_SCHEMA.fields])

    return with_payload.select("doc_id", "payload").mapInPandas(
        _decode, _AUDIO_FEATURES_SCHEMA
    )


# ---------------------------------------------------------------------------
# Real BMP codec path (r10, the image twin of the WAV move): BMP is an
# uncompressed container, so a GENUINE image file — BITMAPFILEHEADER,
# BITMAPINFOHEADER, 24-bit BGR pixel array with 4-byte row padding and
# bottom-up row order — can be written and parsed with stdlib `struct` +
# numpy alone, no codec library. The pixel values come from a pure integer
# formula, so the DuckDB oracle recomputes every decoded feature
# analytically; a header mis-parse, a padding slip, or a row-order flip
# each breaks a different column's hash (the position-weighted checksum
# exists precisely to catch bottom-up/top-down confusion, which the
# order-invariant channel sums cannot see). JPEG/PNG (compressed) and
# video stay behind decode_image_real's documented gate.
# ---------------------------------------------------------------------------

IMG_BPP = 24  # bits per pixel (BGR, 3 bytes)


def image_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic per-document dimensions: width 8..16, height 8..14 —
    small enough for the oracle's generate_series, varied enough that the
    row-stride padding (w=8 → 0 pad bytes … w=11 → 3) is exercised."""
    return 8 + (doc_id % 9), 8 + (doc_id % 7)


def image_channel(doc_id: int, x: int, y: int, c: int) -> int:
    """Channel c (0=B, 1=G, 2=R) of pixel (x, y): pure integer formula
    (d*7 + 13*y + 3*x + 11*c) % 256 — identical in Python, numpy int64,
    and DuckDB BIGINT."""
    return (doc_id * 7 + 13 * y + 3 * x + 11 * c) % 256


def _bmp_stride(width: int) -> int:
    return ((3 * width + 3) // 4) * 4


def _encode_dib_rows(px, h: int, w: int, stride: int) -> bytes:
    """(h, w, 3) uint8 BGR pixels → the 4-byte-padded BOTTOM-UP DIB pixel
    array. The one encode body shared by the BMP writer and every AVI
    frame, so a padding or row-order fix can never reach one real-codec
    path and miss the other."""
    import numpy as np

    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : 3 * w] = px.reshape(h, 3 * w)
    return rows[::-1].tobytes()


def _decode_dib_rows(buf: bytes, w: int, h: int, stride: int):
    """Padded bottom-up DIB pixel array → (h, w, 3) int64 BGR image (row 0
    = top). The decode twin of :func:`_encode_dib_rows`, shared by the BMP
    and AVI decoders."""
    import numpy as np

    rows = np.frombuffer(buf, dtype=np.uint8, count=stride * h).reshape(h, stride)
    return rows[::-1, : 3 * w].astype(np.int64).reshape(h, w, 3)


def attach_image_payload(documents: DataFrame) -> DataFrame:
    """documents → (doc_id, payload binary): a REAL 24-bit BMP per
    document — 14-byte BITMAPFILEHEADER ('BM', file size, pixel-array
    offset 54), 40-byte BITMAPINFOHEADER, BGR rows padded to 4 bytes and
    stored bottom-up (positive biHeight), as the format requires. An
    image viewer would open these. Same object-storage stand-in role as
    :func:`attach_payload` / :func:`attach_audio_payload`."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = image_dims(d)
                stride = _bmp_stride(w)
                x = np.arange(w, dtype=np.int64)[None, :, None]
                y = np.arange(h, dtype=np.int64)[:, None, None]
                c = np.arange(3, dtype=np.int64)[None, None, :]
                px = ((d * 7 + 13 * y + 3 * x + 11 * c) % 256).astype(np.uint8)
                pixel_array = _encode_dib_rows(px, h, w, stride)
                file_size = 54 + stride * h
                header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, 54)
                dib = struct.pack(
                    "<IiiHHIIiiII", 40, w, h, 1, IMG_BPP, 0, stride * h,
                    2835, 2835, 0, 0,
                )
                out.append((d, header + dib + pixel_array))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return documents.select("doc_id").mapInPandas(_synth, schema)


_IMAGE_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("bpp", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("rpos_checksum", T.LongType()),
        T.StructField("max_px", T.LongType()),
    ]
)


def image_decode_features(with_payload: DataFrame) -> DataFrame:
    """REAL image decode + featurize: parse each payload's BMP headers with
    stdlib ``struct`` (magic, pixel-array offset, dimensions, bpp), decode
    the padded bottom-up BGR pixel array, and emit header facts plus exact
    integer pixel features — per-channel sums, the global max channel
    value, and a position-weighted red-channel checksum
    Σ R(x,y)·(y·w + x + 1) that is order-SENSITIVE: reading rows
    top-down, or including padding bytes, breaks it while leaving the
    plain sums intact. All int64-exact (255·16·14·225 < 2²³).

    Same Arrow ``mapInPandas`` plumbing and zero-shuffle shape as
    :func:`audio_features`; at 100 TB this is the production
    feature-extraction pass, one decode per payload, no Python-per-row."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                magic, file_size, _, _, offset = struct.unpack_from("<2sIHHI", raw, 0)
                if magic != b"BM":
                    raise ValueError("not a BMP payload")
                _, w, h, _, bpp = struct.unpack_from("<IiiHH", raw, 14)
                # the decoder's stride/pixel math assumes the 24bpp
                # bottom-up layout it documents — fail loudly on anything
                # else (32bpp, RLE, top-down negative-height BMPs) instead
                # of emitting garbage sums under a truthful bpp column.
                # ValueError, not assert: python -O strips asserts, and
                # payload-format validation must survive optimized workers
                # (ADVICE r10)
                if bpp != IMG_BPP or h <= 0:
                    raise ValueError(
                        f"unsupported BMP layout (bpp={bpp}, h={h}); this "
                        f"decoder handles 24bpp bottom-up pixel arrays only"
                    )
                stride = _bmp_stride(w)
                img = _decode_dib_rows(raw[offset:], w, h, stride)
                ypos = np.arange(h, dtype=np.int64)[:, None]
                xpos = np.arange(w, dtype=np.int64)[None, :]
                weight = ypos * w + xpos + 1
                out.append(
                    (
                        int(doc_id),
                        int(w),
                        int(h),
                        int(bpp),
                        len(raw),
                        int(img[:, :, 0].sum()),
                        int(img[:, :, 1].sum()),
                        int(img[:, :, 2].sum()),
                        int((img[:, :, 2] * weight).sum()),
                        int(img.max()),
                    )
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in _IMAGE_DECODE_SCHEMA.fields]
            )

    return with_payload.select("doc_id", "payload").mapInPandas(
        _decode, _IMAGE_DECODE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Audio near-dup fingerprinting (late r10): the decode → fingerprint →
# banded-candidate-join pipeline an audio training corpus runs for dedup,
# on the REAL WAV codec path. Near-dup pairs are planted by unioning an
# id-shifted copy of the corpus whose PCM carries re-encode-style noise
# (+1 pre-wrap on every 13th sample); the fingerprint — per-80-sample-frame
# energy Σ|s| quantized to (energy // 256) % 256 — absorbs that ±7-per-
# frame drift except at quantization boundaries, and the pair survives
# unless ≥2 of its frames flip (the banded join needs ONE matching frame;
# the verify step allows ONE mismatched frame). One rarer loss mechanism
# (ADVICE r10): the +1 lands pre-wrap, so a sample sitting at 65535 wraps
# to 0 and that frame's energy moves by ~65535 (≈256 buckets), not ≤7 —
# ~0.06% of docs per the PCM formula; the ≥90% recovery assertion carries
# margin for both mechanisms. Everything is
# integer-exact, so the DuckDB oracle replays the whole pipeline
# analytically from the PCM formula while Spark computes it from the
# DECODED container bytes — the parity check therefore covers the codec,
# the fingerprint, and the join.
# ---------------------------------------------------------------------------

# Planted-copy id shift: 2^40 so `doc_id >= SHIFT` identifies the shifted
# copy at ANY real id range (the scale synth shifts ids by i·10M — a 1M
# shift would alias copy i's ids onto copy 0's canon and manufacture
# 20-clique duplicate groups, super-linearizing the banded join by
# construction, the decontam_embedding r08 artifact all over again).
# canon*31 stays far inside int64 (2^40·31 < 2^45).
AUDIO_DUP_SHIFT = 1 << 40
AUDIO_FRAME = 80  # samples per fingerprint frame
AUDIO_BUCKET_Q = 256  # energy quantization: (energy // Q) % 256


def attach_audio_payload_dups(documents: DataFrame) -> DataFrame:
    """documents ∪ id-shifted copy → (doc_id, payload): genuine WAV files
    where the shifted copy plays the SAME signal as its canonical twin
    (doc_id % SHIFT) plus deterministic re-encode noise — sample i gains
    +1 before the int16 wrap whenever i % 13 == 0. The dedup_exact
    planted-duplicate convention, in the audio domain."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    corpus = documents.select("doc_id").unionByName(
        documents.select((F.col("doc_id") + AUDIO_DUP_SHIFT).alias("doc_id"))
    )

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                (
                    int(d),
                    _wav_bytes(
                        int(d) % AUDIO_DUP_SHIFT, noisy=int(d) >= AUDIO_DUP_SHIFT
                    ),
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return corpus.mapInPandas(_synth, schema)


_AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("energy", T.LongType()),
        T.StructField("bucket", T.LongType()),
    ]
)


def audio_frame_fingerprints(with_payload: DataFrame) -> DataFrame:
    """REAL-decode fingerprinting: parse each WAV (stdlib ``wave``), split
    the PCM into 80-sample frames (last frame may be partial), and emit
    per frame the exact integer energy Σ|s| and its quantized bucket
    (energy // 256) % 256. Zero shuffle — one mapInPandas pass; the
    near-dup join downstream operates on these (doc, frame, bucket) rows
    only, never on payload bytes."""

    def _fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                    frames = w.readframes(w.getnframes())
                s = np.abs(np.frombuffer(frames, dtype="<i2").astype(np.int64))
                d = int(doc_id)
                for f in range(0, len(s), AUDIO_FRAME):
                    e = int(s[f : f + AUDIO_FRAME].sum())
                    out.append(
                        (d, f // AUDIO_FRAME, e, (e // AUDIO_BUCKET_Q) % 256)
                    )
            yield pd.DataFrame(
                out, columns=[f.name for f in _AUDIO_FP_SCHEMA.fields]
            )

    return with_payload.select("doc_id", "payload").mapInPandas(
        _fp, _AUDIO_FP_SCHEMA
    )


def audio_near_dup_pairs(fingerprints: DataFrame) -> DataFrame:
    """Banded near-dup join over frame fingerprints: the band key is an
    ADJACENT-FRAME PAIR (frame_idx, bucket_f, bucket_f+1) — the MinHash
    banding lesson applied to audio: a single frame's 256-level bucket is
    far too weak a key at corpus scale (every band floods with ambient
    collisions and the candidate set goes quadratic — measured 25×/10×
    rows before this key), while the 65536-level pair key keeps bands
    nearly singleton. Candidates share at least one band; a candidate
    survives verification iff both docs have the same frame count and at
    most ONE frame's buckets differ. A planted pair is missed only when
    its single flipped frame destroys every adjacent band (nf=2, or the
    middle frame of nf=3) — ~2% of pairs at the measured flip rate.
    Returns (id_a, id_b, n_frames, n_mismatch) with id_a < id_b.

    Scale shape: fingerprint relation pinned once (four consumers); band
    relation built with one per-doc window (tiny partitions); candidate
    growth bounded by band occupancy; verification joins candidates back
    on (doc, frame) equi-keys."""
    from pyspark.sql import Window

    fp = fingerprints.localCheckpoint(eager=True)
    nf = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_frames"))
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    bands = fp.select(
        "doc_id",
        "frame_idx",
        "bucket",
        F.lead("bucket").over(w).alias("bucket_next"),
    ).where(F.col("bucket_next").isNotNull())
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.frame_idx") == F.col("b.frame_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.bucket_next") == F.col("b.bucket_next"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    na = nf.select(F.col("doc_id").alias("id_a"), F.col("n_frames").alias("nf_a"))
    nb = nf.select(F.col("doc_id").alias("id_b"), F.col("n_frames").alias("nf_b"))
    fa = fp.select(
        F.col("doc_id").alias("id_a"),
        F.col("frame_idx").alias("fi"),
        F.col("bucket").alias("bucket_a"),
    )
    fb = fp.select(
        F.col("doc_id").alias("id_b"),
        F.col("frame_idx").alias("fi"),
        F.col("bucket").alias("bucket_b"),
    )
    return (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .where(F.col("nf_a") == F.col("nf_b"))
        .join(fa, "id_a")
        .join(fb, ["id_b", "fi"])
        .groupBy("id_a", "id_b", "nf_a")
        .agg(
            F.sum(
                F.when(F.col("bucket_a") != F.col("bucket_b"), 1).otherwise(0)
            ).alias("n_mismatch")
        )
        .where(F.col("n_mismatch") <= 1)
        .select(
            "id_a",
            "id_b",
            F.col("nf_a").cast("bigint").alias("n_frames"),
            F.col("n_mismatch").cast("bigint").alias("n_mismatch"),
        )
    )


# ---------------------------------------------------------------------------
# Real AVI codec path (late r10): with BMP and WAV real, video was the last
# stubbed modality — and an UNCOMPRESSED AVI is just as stdlib-expressible:
# a RIFF container ('AVI ' form) holding a hdrl LIST (avih main header +
# strl stream header + BITMAPINFOHEADER) and a movi LIST of one '00db'
# chunk per frame, each a raw bottom-up padded BGR pixel array exactly like
# BMP's. The writer packs it with `struct`; the reader WALKS THE RIFF CHUNK
# TREE (it does not assume offsets beyond the 12-byte RIFF header), so a
# malformed size field or a missing LIST breaks the parse loudly. Pixel
# values extend the BMP formula with a frame term, so the DuckDB oracle
# recomputes every decoded feature analytically; the position-weighted
# checksum is sensitive to BOTH frame order and row order. After this,
# decode_image_real's gate covers only COMPRESSED formats (JPEG/PNG,
# inter-coded video) — every uncompressed container ships a real codec.
# ---------------------------------------------------------------------------

VIDEO_FPS = 10  # frames/sec (header metadata only)


def video_dims(doc_id: int) -> tuple[int, int, int]:
    """Deterministic per-document (width, height, n_frames): 8..12 × 6..9 ×
    2..5 — small enough for the oracle's triple generate_series, varied
    enough to exercise stride padding and frame-count accounting."""
    return 8 + (doc_id % 5), 6 + (doc_id % 4), 2 + (doc_id % 4)


def video_channel(doc_id: int, f: int, x: int, y: int, c: int) -> int:
    """Channel c (0=B, 1=G, 2=R) of pixel (x, y) in frame f: the BMP
    formula plus a frame term — (d*7 + 29*f + 13*y + 3*x + 11*c) % 256."""
    return (doc_id * 7 + 29 * f + 13 * y + 3 * x + 11 * c) % 256


def attach_video_payload(documents: DataFrame) -> DataFrame:
    """documents → (doc_id, payload binary): a REAL uncompressed AVI per
    document — RIFF('AVI ') → LIST(hdrl){avih, LIST(strl){strh('vids',
    'DIB '), strf(BITMAPINFOHEADER)}} → LIST(movi){'00db' × n_frames},
    frames stored as 4-byte-padded bottom-up BGR rows (the DIB
    convention). A media player would play it. Same object-storage
    stand-in role as the BMP/WAV attach functions."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h, nf = video_dims(d)
                stride = _bmp_stride(w)
                frame_bytes = stride * h
                frames = []
                x = np.arange(w, dtype=np.int64)[None, :, None]
                y = np.arange(h, dtype=np.int64)[:, None, None]
                c = np.arange(3, dtype=np.int64)[None, None, :]
                for f in range(nf):
                    px = (
                        (d * 7 + 29 * f + 13 * y + 3 * x + 11 * c) % 256
                    ).astype(np.uint8)
                    frames.append(_encode_dib_rows(px, h, w, stride))
                avih = struct.pack(
                    "<IIIIIIIIII4I",
                    1_000_000 // VIDEO_FPS, VIDEO_FPS * frame_bytes, 0, 0,
                    nf, 0, 1, frame_bytes, w, h, 0, 0, 0, 0,
                )
                strh = struct.pack(
                    "<4s4sIHHIIIIIIII4H",
                    b"vids", b"DIB ", 0, 0, 0, 0, 1, VIDEO_FPS, 0, nf,
                    frame_bytes, 0xFFFFFFFF, 0, 0, 0, w, h,
                )
                strf = struct.pack(
                    "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_bytes,
                    2835, 2835, 0, 0,
                )
                strl = b"LIST" + struct.pack("<I", 4 + 8 + len(strh) + 8 + len(strf))
                strl += b"strl" + b"strh" + struct.pack("<I", len(strh)) + strh
                strl += b"strf" + struct.pack("<I", len(strf)) + strf
                hdrl_content = (
                    b"avih" + struct.pack("<I", len(avih)) + avih + strl
                )
                hdrl = (
                    b"LIST" + struct.pack("<I", 4 + len(hdrl_content))
                    + b"hdrl" + hdrl_content
                )
                movi_content = b"".join(
                    b"00db" + struct.pack("<I", frame_bytes) + fr for fr in frames
                )
                movi = (
                    b"LIST" + struct.pack("<I", 4 + len(movi_content))
                    + b"movi" + movi_content
                )
                body = b"AVI " + hdrl + movi
                payload = b"RIFF" + struct.pack("<I", len(body)) + body
                out.append((d, payload))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return documents.select("doc_id").mapInPandas(_synth, schema)


_VIDEO_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("fpos_checksum", T.LongType()),
        T.StructField("max_px", T.LongType()),
    ]
)


def video_decode_features(with_payload: DataFrame) -> DataFrame:
    """REAL video decode + featurize: walk the RIFF chunk tree (verify the
    'AVI ' form, find LIST hdrl → avih for dimensions and frame count,
    find LIST movi, iterate its '00db' chunks), decode each frame's padded
    bottom-up BGR rows, and emit header facts plus exact integer features:
    per-channel sums over all frames, the global max, and a frame- AND
    row-order-sensitive checksum Σ R(f,x,y)·(f+1)·(y·w+x+1). All
    int64-exact. Same Arrow mapInPandas zero-shuffle shape as the BMP/WAV
    decoders — at 100 TB this is the frame-level feature-extraction pass
    of a video training pipeline."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        def chunks(buf: bytes, pos: int, end: int):
            while pos + 8 <= end:
                cid, size = struct.unpack_from("<4sI", buf, pos)
                yield cid, pos + 8, size
                pos += 8 + size + (size & 1)  # RIFF chunks pad to even

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                magic, riff_size, form = struct.unpack_from("<4sI4s", raw, 0)
                if magic != b"RIFF" or form != b"AVI ":
                    raise ValueError("not an AVI payload")
                w = h = nf_hdr = None
                frames = []
                for cid, body, size in chunks(raw, 12, 8 + riff_size):
                    if cid != b"LIST":
                        continue
                    kind = raw[body : body + 4]
                    if kind == b"hdrl":
                        for c2, b2, s2 in chunks(raw, body + 4, body + size):
                            if c2 == b"avih":
                                vals = struct.unpack_from("<10I", raw, b2)
                                nf_hdr, w, h = vals[4], vals[8], vals[9]
                    elif kind == b"movi":
                        for c2, b2, s2 in chunks(raw, body + 4, body + size):
                            if c2 == b"00db":
                                frames.append(raw[b2 : b2 + s2])
                if not (w and h and len(frames) == nf_hdr):
                    raise ValueError(
                        f"AVI chunk walk failed (w={w}, h={h}, "
                        f"frames={len(frames)}, header says {nf_hdr})"
                    )
                stride = _bmp_stride(w)
                ypos = np.arange(h, dtype=np.int64)[:, None]
                xpos = np.arange(w, dtype=np.int64)[None, :]
                weight = ypos * w + xpos + 1
                sb = sg = sr = fpos = 0
                mx = 0
                for f, fr in enumerate(frames):
                    img = _decode_dib_rows(fr, w, h, stride)
                    sb += int(img[:, :, 0].sum())
                    sg += int(img[:, :, 1].sum())
                    sr += int(img[:, :, 2].sum())
                    fpos += int((img[:, :, 2] * weight).sum()) * (f + 1)
                    mx = max(mx, int(img.max()))
                out.append(
                    (
                        int(doc_id), int(w), int(h), len(frames), len(raw),
                        sb, sg, sr, fpos, mx,
                    )
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in _VIDEO_DECODE_SCHEMA.fields]
            )

    return with_payload.select("doc_id", "payload").mapInPandas(
        _decode, _VIDEO_DECODE_SCHEMA
    )


_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sum_bytes", T.LongType()),
        T.StructField("hist_0", T.LongType()),  # byte value in [0, 64)
        T.StructField("hist_1", T.LongType()),  # [64, 128)
        T.StructField("hist_2", T.LongType()),  # [128, 192)
        T.StructField("hist_3", T.LongType()),  # [192, 256)
    ]
)


def byte_features(with_payload: DataFrame) -> DataFrame:
    """Deterministic fake of 'decode + feature-extract': per payload, byte
    count, exact byte sum, and a 4-bin byte histogram. Integer outputs only,
    so any re-implementation (the pytest pure-Python oracle) matches exactly.

    Plumbing is the real thing: ``mapInPandas`` streams Arrow record batches
    into Python; bytes arrive zero-copy; output is a new Arrow batch. This is
    the exact signature a real decoder (``decode_image_real``) plugs into.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(payload, dtype=np.uint8)
                hist = np.bincount(b >> 6, minlength=4)
                out.append(
                    (
                        doc_id,
                        int(b.size),
                        int(b.sum(dtype="int64")),
                        int(hist[0]),
                        int(hist[1]),
                        int(hist[2]),
                        int(hist[3]),
                    )
                )
            yield pd.DataFrame(out, columns=[f.name for f in _FEATURES_SCHEMA.fields])

    return with_payload.select("doc_id", "payload").mapInPandas(_extract, _FEATURES_SCHEMA)


_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_bytes", T.LongType()),
        T.StructField("frame_sum", T.LongType()),
    ]
)


def sample_frames(
    with_payload: DataFrame, frame_size: int = FRAME_SIZE, stride: int = FRAME_STRIDE
) -> DataFrame:
    """Frame-sample the fake video: carve the payload into ``frame_size``-byte
    frames (last frame ragged) and emit every ``stride``-th frame with its
    exact byte sum. One input row fans out to ceil(n_bytes/frame_size)/stride
    output rows — ``mapInPandas`` handles 1→N natively (unlike scalar UDFs).
    """

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(payload, dtype=np.uint8)
                for idx in range(0, -(-b.size // frame_size), stride):
                    frame = b[idx * frame_size : (idx + 1) * frame_size]
                    out.append((doc_id, idx, int(frame.size), int(frame.sum(dtype="int64"))))
            yield pd.DataFrame(out, columns=[f.name for f in _FRAMES_SCHEMA.fields])

    return with_payload.select("doc_id", "payload").mapInPandas(_sample, _FRAMES_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual frame hashing (aHash); near-dup pairs are dedup.hamming_pairs
# ---------------------------------------------------------------------------

#: Hamming radius of the frame near-dup decision.
AHASH_MAX_HAM = 2


def frame_byte_arrays(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, frame_no, __bytes array<long>) — the payload split into
    FRAME_SIZE-byte frames, via Arrow-batched ``mapInPandas``.

    This is the one aHash stage that is legitimately a Pandas UDF: it IS
    the codec slot (bytes → pixel-ish arrays — a real image decoder drops
    in here, see ``decode_image_real``), and the pure-expression form
    (per-byte hex ``substr``+``conv``) costs ~3 interpreted expression
    evaluations per BYTE — measured 15 s for a 1.6 MB corpus at sf0.1,
    ~9 µs/byte, vs ~0.3 s through Arrow. Byte values are exact integers
    either way, so oracle parity is untouched. Output is payload-free and
    ≤ FRAME_SIZE longs per frame — the right relation to checkpoint when
    several signature variants derive from one scan."""
    import pandas as pd

    from ..sources.tables import spread_scan

    # the expansion is pure per-row CPU; widen degenerate few-partition
    # scans so the Arrow workers use every core (no-op at cluster scale)
    df = spread_scan(df)
    id_type = dict(df.dtypes)[id_col]
    fs = FRAME_SIZE

    def expand(batches):
        import numpy as np

        for pdf in batches:
            ids: list = []
            fnos: list = []
            arrs: list = []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None:
                    continue
                b = np.frombuffer(txt.encode("utf-8"), dtype=np.uint8)
                for k in range(0, b.size, fs):
                    ids.append(did)
                    fnos.append(k // fs)
                    # a numpy int64 slice, not list(bytes): Arrow takes the
                    # array wholesale instead of re-boxing every byte as a
                    # Python int (r13, guide §4.2)
                    arrs.append(b[k : k + fs].astype(np.int64))
            yield pd.DataFrame({id_col: ids, "frame_no": fnos, "__bytes": arrs})

    return df.select(id_col, text_col).mapInPandas(
        expand, f"{id_col} {id_type}, frame_no int, __bytes array<bigint>"
    )


def ahash_sigs_from_frames(
    frames: DataFrame,
    id_col: str = "doc_id",
    twin: tuple[int, int] | None = None,
) -> DataFrame:
    """Per-frame 64-bit average-hash over a (id, frame_no, __bytes)
    relation from :func:`frame_byte_arrays`: frame ``k`` = payload bytes
    [64k, 64k+64); bit ``i`` is set iff ``n * byte_i > sum(frame bytes)``
    (the integer-exact form of ``byte_i > mean`` — no division, identical
    on both engines; short last frames compare against their own n/sum).
    Returned as two 32-bit halves (``sig_hi`` bits 0-31, ``sig_lo`` bits
    32-63, MSB first) so XOR/bit_count stay inside signed BIGINT
    everywhere; near-dup pairs are ``dedup.hamming_pairs``.

    This is the aHash every image-dedup pipeline runs after resize-to-8x8:
    here the "pixels" are payload bytes (this container decodes no real
    codecs — operators/multimodal.py header), so the signature is exact
    and oracle-checkable while the production swap-in is just a different
    byte source. Only (id, frame_no, two BIGINTs) leave the map side.

    ``twin=(m, shift)`` additionally emits a SECOND signature variant
    from the same decoded byte matrix in the same pass — byte i of frame
    k re-encoded as ``(b + (k*FRAME_SIZE + i) % m) % 256`` (a
    deterministic stand-in for a lossy re-encode: the mean shifts with the
    bytes, so most bits survive) and ids shifted by ``shift`` —
    the rows of ``base.unionAll(twin_variant)`` without shipping the frame
    bytes to the Python workers twice (the planted-near-dup queries'
    shape)."""
    # r13 (guide §4.2): the signature math — perturbation, frame sum, the
    # 64 bit comparisons and both Horner packs — moved from interpreted JVM
    # higher-order expressions (F.transform + three F.aggregate folds: a
    # non-codegen per-element Catalyst eval, ~500 interpreted ops per
    # frame) into ONE vectorized numpy batch pass. Bit-for-bit identical:
    # every operation is int64 arithmetic (pad positions are masked out of
    # both the frame sum and the bit tests exactly as the `i < size(pb)`
    # guard did; a NULL byte array degenerates to sig (0, 0), matching the
    # old null-comparison fold). Value-pinned by the signature tests in
    # tests/test_multimodal.py and the analytic DuckDB oracles.
    import pandas as pd

    id_type = dict(frames.dtypes)[id_col]
    fs = FRAME_SIZE
    variants = [(0, 0)] + ([twin] if twin is not None else [])

    def _sigs(batches):
        import numpy as np

        w_hi = (1 << np.arange(31, -1, -1)).astype(np.int64)  # bits 0..31, MSB first
        _EMPTY = np.zeros(0, dtype=np.int64)

        for pdf in batches:
            nrow = len(pdf)
            if nrow == 0:
                continue
            arrs = [
                np.asarray(a, dtype=np.int64) if a is not None else _EMPTY
                for a in pdf["__bytes"]
            ]
            lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=nrow)
            width = max(fs, int(lens.max()) if nrow else fs)
            raw = np.zeros((nrow, width), dtype=np.int64)
            for r, a in enumerate(arrs):
                raw[r, : a.size] = a
            pos = np.arange(width, dtype=np.int64)[None, :]
            valid = pos < lens[:, None]
            ids = pdf[id_col].to_numpy()
            fnos = pdf["frame_no"].to_numpy(dtype=np.int64)
            for pm, shift in variants:
                padded = raw
                if pm:
                    k0 = fnos[:, None] * fs
                    padded = (raw + (k0 + pos) % pm) % 256
                padded = np.where(valid, padded, 0)
                fsum = padded.sum(axis=1)
                bits = ((lens[:, None] * padded) > fsum[:, None]) & valid
                bits = bits[:, :64].astype(np.int64)
                if width < 64:  # pad bit columns so both halves always slice 32
                    bits = np.pad(bits, ((0, 0), (0, 64 - width)))
                yield pd.DataFrame(
                    {
                        id_col: ids + shift,
                        "frame_no": fnos,
                        "sig_hi": bits[:, :32] @ w_hi,
                        "sig_lo": bits[:, 32:64] @ w_hi,
                    }
                )

    return frames.select(id_col, "frame_no", "__bytes").mapInPandas(
        _sigs, f"{id_col} {id_type}, frame_no bigint, sig_hi long, sig_lo long"
    )
