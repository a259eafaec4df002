"""Multimodal columns: opaque ``binary`` payloads + typed metadata, processed with
Arrow-batched ``mapInPandas``.

Every declared query here is one shape: :func:`_media` renders each document's
bytes as a REAL media payload (PNG through the pure zlib+numpy codec,
operators/png_codec.py; RIFF/WAVE through the stdlib ``wave`` writer; RIFF/AVI
through operators/avi_codec.py), then per-row stage functions parse that
binary back — chunk walk, CRC check, inflate, unfilter, demux — and extract
typed features.  :func:`_per_payload` is the one harness that runs a stage:
the stage maps one input row to its output tuples (none when the row is
excluded, one per row, or N for frame sampling) and the harness builds the
Arrow batch, nullable integer columns included.  A corrupt PNG payload is
data, not an infrastructure error: the four PNG stages that decode arbitrary
payloads (features, frames, resize, round-trip verify) emit a documented NULL
row for it instead of failing the task.

Because the payload is a deterministic function of the document bytes, the
whole pipeline is oracle-checkable: DuckDB reproduces width/height/checksums
straight from the text column.  The byte-level operators and the
character-level oracles agree only on ASCII text, so EVERY such query pair
restricts to ASCII documents EXPLICITLY and symmetrically — Spark through
:func:`ascii_docs` (octet_length = length), DuckDB through
``ASCII_DOCS_SQL`` (strlen = length) — rather than relying on the fixture
happening to be all-ASCII (it is, pinned by
test_multimodal.py::test_fixture_text_is_ascii, making the filter a no-op
today; a future non-ASCII fixture excludes those docs IDENTICALLY on both
engines instead of silently hash-mismatching on shifted byte boundaries).
Non-ASCII text is a first-class citizen in the byte-native tokenizer tier
(operators/bpe_bytes.py), not here.
"""

from __future__ import annotations

import hashlib
import io
import wave
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, BooleanType, DoubleType,
                               IntegerType, LongType, StringType, StructField,
                               StructType)

from alertas_spark.operators.avi_codec import avi_parse, avi_write
from alertas_spark.operators.png_codec import MODES, decode_png, encode_png
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

#: Raster width for the text→PNG payload used by every declared query.
PNG_W = 16

#: DuckDB side of the ASCII contract (byte count == char count iff pure
#: ASCII; NULL text is excluded by the NULL comparison on both engines).
#: Spark twin: :func:`ascii_docs`.
ASCII_DOCS_SQL = "strlen(text) = length(text)"


def ascii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table restricted to the byte≡character (pure-ASCII)
    domain — the shared Spark side of the module's ASCII contract (see the
    module docstring).  Every byte-level operator with a character-level
    oracle starts from this relation; the oracle carries ``ASCII_DOCS_SQL``."""
    return (load_table(spark, sf_dir, "documents")
            .filter(F.octet_length("text") == F.length("text")))


# ---------------------------------------------------------------------------
# The harness and the renderer every query shares
# ---------------------------------------------------------------------------

#: Spark integer types → the pandas nullable dtype that carries a NULL cell
#: without a float round-trip.
_NULLABLE_INT = {IntegerType: "Int32", LongType: "Int64"}


def _per_payload(df: DataFrame, fn: Callable[[tuple], Iterable[tuple]],
                 schema: StructType) -> DataFrame:
    """Run the per-row stage ``fn`` over ``df`` as one Arrow-batched,
    partition-preserving ``mapInPandas`` pass whose output is ``schema``.
    ``fn`` takes one input row (a namedtuple over ``df``'s columns) and
    returns its output tuples in ``schema``'s column order.  Integer columns
    take their nullable pandas dtype from ``schema``, so a stage returns
    plain Python values and ``None`` for a NULL cell."""
    names = schema.names
    dtypes = [_NULLABLE_INT.get(type(f.dataType)) for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [out for row in pdf.itertuples(index=False)
                    for out in fn(row)]
            cols = list(zip(*rows)) or [()] * len(names)
            yield pd.DataFrame({n: pd.Series(c, dtype=d)
                                for n, c, d in zip(names, cols, dtypes)})

    run.__name__ = fn.__name__    # the stage's name labels its plan node
    return df.mapInPandas(run, schema=schema)


MEDIA_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media", BinaryType()),          # opaque payload
    StructField("media_type", StringType()),     # typed metadata
    StructField("n_source_bytes", IntegerType()),
    StructField("text", StringType()),           # source, for round-trip checks
])


def _media(docs: DataFrame, render: Callable[[bytes], bytes],
           media_type: str) -> DataFrame:
    """The media column: each document's utf-8 bytes rendered by ``render``
    into an opaque payload, plus typed metadata (``n_source_bytes`` = payload
    bytes before any padding — what a video's duration or an image's EXIF
    dims are to a production pipeline: metadata travelling beside the opaque
    binary) and the source ``text`` a round-trip stage verifies against.

    The explicit ``repartition`` spreads codec CPU across every core: the
    sf-scale documents table is ONE parquet file → one input partition, which
    would serialize all encode/decode work onto a single worker (memory:
    single-file scans; at 100 TB the source arrives in thousands of splits
    and the repartition collapses into the existing shuffle topology).  Every
    later stage runs above this one exchange, with no shuffle between them."""
    def row(r):
        data = r.text.encode("utf-8")
        return [(r.doc_id, render(data), media_type, len(data), r.text)]

    row.__name__ = render.__name__
    n = docs.sparkSession.sparkContext.defaultParallelism
    return _per_payload(docs.select("doc_id", "text").repartition(n), row,
                        MEDIA_SCHEMA)


def _md5(a: np.ndarray) -> str:
    return hashlib.md5(a.tobytes()).hexdigest()


def render_png(data: bytes) -> bytes:
    """A ``PNG_W``-wide greyscale raster of ``data`` (zero padding in the
    final scanline) encoded as a REAL PNG with Sub-filtered scanlines, so
    every downstream decode exercises the codec's non-trivial filter path."""
    h = max(1, -(-len(data) // PNG_W))
    arr = np.zeros(h * PNG_W, dtype=np.uint8)
    arr[:len(data)] = np.frombuffer(data, dtype=np.uint8)
    return encode_png(arr.reshape(h, PNG_W), filter_type=1)


def with_png_media(docs: DataFrame) -> DataFrame:
    """The REAL-image media column every PNG query starts from."""
    return _media(docs, render_png, "image/png")


# ---------------------------------------------------------------------------
# Decode: payload → feature row
# ---------------------------------------------------------------------------

FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("mode", StringType()),
    StructField("px_md5", StringType()),
    StructField("px_mean", DoubleType()),
    StructField("n_source_bytes", IntegerType()),
])


def png_features(r) -> list[tuple]:
    """Parse + CRC-check + inflate + unfilter the PNG, then extract features —
    dimensions, mode, md5 and exact mean of the valid pixel bytes (the
    ``n_source_bytes`` metadata bounds the valid region).  A corrupt payload
    yields a row whose features are NULL and whose ``n_source_bytes`` is
    kept."""
    try:
        px = decode_png(bytes(r.media))
    except ValueError:
        return [(r.doc_id, None, None, None, None, None, r.n_source_bytes)]
    valid = px.reshape(-1)[:r.n_source_bytes]
    # exact: integer byte-sum, one correctly-rounded double division
    mean = int(valid.astype("int64").sum()) / len(valid) if len(valid) else None
    return [(r.doc_id, px.shape[1], px.shape[0], MODES[px.shape[2]],
             _md5(valid), mean, r.n_source_bytes)]


#: The multimodal oracles recompute the codec pipeline's BYTE-level results
#: with DuckDB's CHARACTER-level strlen/substring (this DuckDB build has no
#: BLOB substring/md5, so the oracle cannot be expressed byte-based
#: directly), so both sides restrict to the ASCII domain explicitly —
#: ascii_docs / ASCII_DOCS_SQL, the module-wide contract.

@declare(
    "multimodal_decode_features",
    oracle=f"""
    SELECT doc_id,
           CAST({PNG_W} AS INTEGER) AS width,
           CAST(greatest(1, ceil(strlen(text) / {PNG_W}.0)) AS INTEGER)
               AS height,
           'L' AS mode,
           md5(text) AS px_md5,
           CASE WHEN strlen(text) = 0 THEN NULL
                ELSE CAST(list_sum(list_transform(range(1, strlen(text) + 1),
                          i -> ascii(substring(text, CAST(i AS INTEGER), 1))))
                     AS DOUBLE) / strlen(text) END AS px_mean,
           CAST(strlen(text) AS INTEGER) AS n_source_bytes
    FROM documents WHERE {ASCII_DOCS_SQL}
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal decode with a REAL codec: build the PNG media
    column → mapInPandas decode (chunk parse, CRC, inflate, Sub-unfilter) →
    typed feature rows (dimensions, pixel md5, exact pixel mean).  The oracle
    recomputes geometry and checksums from the source text, verifying the
    encode→Arrow→decode round-trip byte-for-byte; ``px_mean`` is an exact
    integer sum over the valid bytes with one final double division, so it is
    engine- and partitioning-independent."""
    return _per_payload(with_png_media(ascii_docs(spark, sf_dir)),
                        png_features, FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Frame sampling: 1 payload → N sampled frame rows (real decode per payload)
# ---------------------------------------------------------------------------

FRAME_STRIDE = 4    # keep every 4th scanline-frame

FRAME_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame_len", IntegerType()),
    StructField("frame_md5", StringType()),
])


def png_frames(r) -> list[tuple]:
    """Frame sampling (≙ ffmpeg keyframe sampling in production): decode the
    PNG payload, then emit every 4th scanline as its own frame row — the 1→N
    shape change that distinguishes frame sampling from per-row decode.
    ``frame_len``/``frame_md5`` cover the scanline's VALID bytes
    (``n_source_bytes`` excludes the raster's zero padding).  A corrupt
    payload contributes no frames but one row with NULL frame columns."""
    try:
        px = decode_png(bytes(r.media))
    except ValueError:
        return [(r.doc_id, None, None, None)]
    h, w = px.shape[0], px.shape[1] * px.shape[2]
    flat = px.reshape(h, w)
    out = []
    for i in range(0, h, FRAME_STRIDE):
        valid = min(max(r.n_source_bytes - i * w, 0), w)
        out.append((r.doc_id, i, valid, _md5(flat[i, :valid])))
    return out


@declare(
    "multimodal_frame_sample",
    # byte operator + character oracle -> explicit symmetric ASCII contract
    # (ascii_docs / ASCII_DOCS_SQL; see the module docstring)
    oracle=f"""
    WITH idx AS (
        SELECT doc_id, text,
               unnest(range(0, CAST(greatest(1, ceil(strlen(text) / {PNG_W}.0))
                               AS BIGINT))) AS frame_idx
        FROM documents WHERE {ASCII_DOCS_SQL}
    ), frames AS (
        SELECT doc_id, frame_idx,
               substring(text, CAST(frame_idx * {PNG_W} + 1 AS INTEGER),
                         {PNG_W}) AS chunk
        FROM idx WHERE frame_idx % {FRAME_STRIDE} = 0
    )
    SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(strlen(chunk) AS INTEGER) AS frame_len,
           md5(chunk) AS frame_md5
    FROM frames
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling with a REAL decode per payload: each document's PNG is
    decoded (parse → CRC → inflate → unfilter) and every 4th scanline becomes
    its own frame row (1→N mapInPandas, partition-preserving, no shuffle).
    The oracle reconstructs each sampled scanline's valid bytes from the
    source text."""
    return _per_payload(with_png_media(ascii_docs(spark, sf_dir)),
                        png_frames, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Resize: binary payload → binary payload (fixed target size)
# ---------------------------------------------------------------------------

TARGET_BYTES = 128  # resized payload size (8 scanlines × PNG_W)

RESIZED_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media", BinaryType()),           # resized payload (real PNG)
    StructField("media_type", StringType()),
    StructField("orig_bytes", IntegerType()),
    StructField("resized_bytes", IntegerType()),
    StructField("resized_md5", StringType()),
])


def png_resize(r) -> list[tuple]:
    """Resize (≙ PIL ``Image.resize`` in production): decode the PNG
    payload, nearest-neighbor-resample its VALID bytes to exactly
    ``TARGET_BYTES`` (output byte ``i`` is valid byte ``floor(i·n/TARGET)``),
    and re-encode the result as a real PNG raster.  Empty payloads stay empty.
    Binary in → binary out: the shape that distinguishes a *transform* stage
    (composable with further media stages) from decode's payload→metadata
    projection.  ``resized_md5`` hashes the resampled PIXELS (the content
    contract), not the recompressed container bytes.  A corrupt payload
    yields a row with NULL media, sizes and md5."""
    try:
        px = decode_png(bytes(r.media))
    except ValueError:
        return [(r.doc_id, None, "image/png", None, None, None)]
    valid = px.reshape(-1)[:r.n_source_bytes]
    n = len(valid)
    if n:
        resized = valid[(np.arange(TARGET_BYTES, dtype=np.int64) * n)
                        // TARGET_BYTES]
        media = encode_png(resized.reshape(TARGET_BYTES // PNG_W, PNG_W),
                           filter_type=1)
    else:
        resized = np.zeros(0, dtype=np.uint8)
        media = b""
    return [(r.doc_id, media, "image/png", n, len(resized), _md5(resized))]


@declare(
    "multimodal_resize",
    # byte operator + character oracle -> explicit symmetric ASCII contract
    # (ascii_docs / ASCII_DOCS_SQL; see the module docstring)
    oracle=f"""
    SELECT doc_id,
           CAST(strlen(text) AS INTEGER) AS orig_bytes,
           CAST(CASE WHEN strlen(text) = 0 THEN 0 ELSE {TARGET_BYTES} END
                AS INTEGER) AS resized_bytes,
           md5(CASE WHEN strlen(text) = 0 THEN ''
                    ELSE array_to_string(list_transform(range(0, {TARGET_BYTES}),
                         i -> substring(text,
                              CAST((i * strlen(text)) // {TARGET_BYTES} AS INTEGER) + 1,
                              1)), '') END) AS resized_md5
    FROM documents WHERE {ASCII_DOCS_SQL}
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize with a REAL codec on both ends: PNG media column → mapInPandas
    decode → nearest-neighbor resample of the valid bytes to 128 → re-encode
    as a real PNG.  The oracle reconstructs the same resample character-wise
    from the source text and checks the pixel-content md5."""
    resized = _per_payload(with_png_media(ascii_docs(spark, sf_dir)),
                           png_resize, RESIZED_SCHEMA)
    return resized.select("doc_id", "orig_bytes", "resized_bytes",
                          "resized_md5")


# ---------------------------------------------------------------------------
# PNG round trip: decode and verify against the source bytes
# ---------------------------------------------------------------------------

ROUNDTRIP_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("mode", StringType()),
    StructField("n_source_bytes", IntegerType()),
    StructField("roundtrip_ok", BooleanType()),
])


def png_verify(r) -> list[tuple]:
    """Decode the PNG payload and verify the pixels bit-for-bit against the
    source bytes the media column carries: the valid region equals the text's
    utf-8 bytes and the padding is zero.  A corrupt payload yields a row with
    NULL geometry and ``roundtrip_ok`` false."""
    data = r.text.encode("utf-8")
    try:
        px = decode_png(bytes(r.media))
    except ValueError:
        return [(r.doc_id, None, None, None, len(data), False)]
    flat = px.reshape(-1)
    ok = (px.shape[1] == PNG_W and px.shape[2] == 1
          and np.array_equal(flat[:len(data)],
                             np.frombuffer(data, dtype=np.uint8))
          and not flat[len(data):].any())
    return [(r.doc_id, px.shape[1], px.shape[0], MODES[px.shape[2]],
             len(data), bool(ok))]


@declare(
    "multimodal_png_roundtrip",
    oracle=f"""
    SELECT doc_id,
           CAST({PNG_W} AS INTEGER) AS width,
           CAST(greatest(1, ceil(strlen(text) / {PNG_W}.0)) AS INTEGER)
               AS height,
           'L' AS mode,
           CAST(strlen(text) AS INTEGER) AS n_source_bytes,
           true AS roundtrip_ok
    FROM documents WHERE {ASCII_DOCS_SQL}
    """,
)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec end-to-end, executable in this container: each doc's
    bytes are rastered and encoded as an actual PNG (pure zlib+numpy codec,
    operators/png_codec.py) in one mapInPandas stage, then a SECOND stage
    decodes the binary payload — chunk parse, CRC check, inflate, Sub-filter
    reconstruction — and verifies the pixels bit-for-bit against the source
    text the media column carries.

    The oracle recomputes the expected geometry from the text length and
    demands ``roundtrip_ok`` on every row, so a codec bug (filter math, CRC,
    stride) fails the cross-engine hash, not just a unit test.  Both stages
    are partition-preserving (no shuffle)."""
    return _per_payload(with_png_media(ascii_docs(spark, sf_dir)),
                        png_verify, ROUNDTRIP_SCHEMA)


# ---------------------------------------------------------------------------
# REAL audio codec (pure-stdlib RIFF/WAV PCM): runs in THIS container
# ---------------------------------------------------------------------------

#: synthesized-audio parameters: 16 kHz mono s16le — the ASR-pipeline
#: standard format.  One source byte becomes one sample: (byte - 128) << 8.
WAV_RATE = 16_000
#: VAD window: 160 samples = 10 ms at 16 kHz.
WAV_WIN = 160
#: a window is "silent" when max |sample| stays under this (= 20 << 8).
WAV_SILENCE = 5_120

WAV_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", LongType()),
    StructField("duration_ms", DoubleType()),
    StructField("peak_abs", IntegerType()),
    StructField("energy_sq", LongType()),
    StructField("n_windows", LongType()),
    StructField("n_silent_windows", LongType()),
])


def render_wav(data: bytes) -> bytes:
    """``data`` as a REAL RIFF/WAVE payload (stdlib ``wave`` writer): 16 kHz
    mono s16le, one sample per source byte."""
    pcm = (np.frombuffer(data, dtype=np.uint8).astype(np.int16) - 128) << 8
    bio = io.BytesIO()
    with wave.open(bio, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_RATE)
        w.writeframes(pcm.astype("<i2").tobytes())
    return bio.getvalue()


def wav_features(r) -> list[tuple]:
    """REAL audio decode: parse the RIFF header with the stdlib ``wave``
    reader (format/width/rate validated by the parser itself), then extract
    sample stats + 10 ms-window voice-activity counts.  Integer stats only —
    an RMS would put a cross-engine sqrt in the contract; ``energy_sq`` is
    the exact integer Σ s², and RMS is its monotone transform downstream.
    A payload without samples has no distribution to score: no row."""
    with wave.open(io.BytesIO(bytes(r.media)), "rb") as w:
        sr = w.getframerate()
        n = w.getnframes()
        pcm = np.frombuffer(w.readframes(n), dtype="<i2").astype(np.int64)
    if n == 0:
        return []
    n_win = -(-n // WAV_WIN)
    padded = np.zeros(n_win * WAV_WIN, dtype=np.int64)
    padded[:n] = np.abs(pcm)
    wpeak = padded.reshape(n_win, WAV_WIN).max(axis=1)
    # exact: 1000/16000 = 2^-4, a power of two — no rounding drift
    return [(r.doc_id, sr, n, round(n * (1000.0 / WAV_RATE), 4),
             int(np.abs(pcm).max()), int((pcm ** 2).sum()), n_win,
             int((wpeak < WAV_SILENCE).sum()))]


@declare(
    "multimodal_audio_features",
    # byte operator + character oracle -> explicit symmetric ASCII contract
    # (ascii_docs / ASCII_DOCS_SQL; see the module docstring)
    oracle=f"""
    WITH ch AS (
        SELECT doc_id, CAST(t.i AS BIGINT) AS i,
               (unicode(substr(text, CAST(t.i AS INT), 1)) - 128) * 256 AS s
        FROM documents CROSS JOIN LATERAL
             unnest(range(1, length(text) + 1)) AS t(i)
        WHERE text IS NOT NULL AND length(text) > 0 AND {ASCII_DOCS_SQL}
    ), win AS (
        SELECT doc_id, (i - 1) // {WAV_WIN} AS w, MAX(ABS(s)) AS wpeak
        FROM ch GROUP BY doc_id, (i - 1) // {WAV_WIN}
    ), wstat AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN wpeak < {WAV_SILENCE} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_silent_windows
        FROM win GROUP BY doc_id
    )
    SELECT ch.doc_id,
           {WAV_RATE} AS sample_rate,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           ROUND(COUNT(*) * 0.0625, 4) AS duration_ms,
           CAST(MAX(ABS(s)) AS INTEGER) AS peak_abs,
           CAST(SUM(CAST(s AS HUGEINT) * s) AS BIGINT) AS energy_sq,
           MAX(w.n_windows) AS n_windows,
           MAX(w.n_silent_windows) AS n_silent_windows
    FROM ch JOIN wstat w USING (doc_id)
    GROUP BY ch.doc_id
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec end-to-end: each doc's bytes become an actual
    RIFF/WAVE payload (stdlib ``wave`` writer — 16 kHz mono s16le), and a
    SECOND mapInPandas stage parses that binary back through the stdlib
    ``wave`` reader and extracts the ASR-ingest features: sample count,
    duration, peak amplitude, exact integer energy Σ s², and 10 ms-window
    voice-activity counts (the silence-trim signal).  This is the audio
    sibling of ``multimodal_png_roundtrip`` — the decode is a genuine format
    parser executing in-container.

    Both stages are partition-preserving Arrow-batched passes above the
    media tier's one repartition.  Zero-length documents have no samples and
    are excluded (documented domain contract, same as the token-less
    exclusion in ``perplexity_unigram``)."""
    media = _media(ascii_docs(spark, sf_dir), render_wav, "audio/wav")
    return _per_payload(media, wav_features, WAV_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# REAL video codec (pure-stdlib RIFF/AVI, 8-bit grayscale DIB): runs HERE
# ---------------------------------------------------------------------------

#: synthesized-video geometry: 16x16 8-bit grayscale at 10 fps — one source
#: byte becomes one pixel, 256 bytes per frame; trailing partial frames are
#: DROPPED (the standard dataloader convention for incomplete clips).
VID_W = 16
VID_H = 16
VID_FPS = 10
VID_FRAME = VID_W * VID_H
#: a frame is "dark" when its luma sum stays under mean 64 (scene-boundary /
#: junk-clip signal at ingest).
VID_DARK_SUM = 64 * VID_FRAME

VID_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", LongType()),
    StructField("duration_ms", DoubleType()),
    StructField("peak_luma", IntegerType()),
    StructField("luma_sum", LongType()),
    StructField("motion_sum", LongType()),
    StructField("n_dark_frames", LongType()),
    StructField("first_frame_md5", StringType()),
])


def render_avi(data: bytes) -> bytes:
    """``data`` as a REAL RIFF/AVI payload (avi_codec writer): 16x16 8-bit
    grayscale frames, one pixel per source byte, full frames only."""
    return avi_write([data[i:i + VID_FRAME] for i in
                      range(0, len(data) - VID_FRAME + 1, VID_FRAME)],
                     VID_W, VID_H, VID_FPS)


def avi_features(r) -> list[tuple]:
    """REAL video decode: demux the RIFF/AVI container (chunk walk, header
    validation, per-frame size checks — avi_codec.avi_parse), then extract
    the ingest features: frame count/duration, peak and total luma, total
    inter-frame motion Σ|Δpixel| (the scene-cut signal), dark-frame count,
    and the first frame's md5 (the thumbnail-dedup key).  Integer stats only
    — exact under any partitioning.  A sub-frame-length doc has no clip to
    score: no row."""
    w, h, fps, frames = avi_parse(bytes(r.media))
    if not frames:
        return []
    arr = np.frombuffer(b"".join(frames), dtype=np.uint8) \
        .astype(np.int64).reshape(len(frames), w * h)
    return [(r.doc_id, w, h, len(frames), len(frames) * (1000.0 / fps),
             int(arr.max()), int(arr.sum()),
             int(np.abs(np.diff(arr, axis=0)).sum()),
             int((arr.sum(axis=1) < VID_DARK_SUM).sum()),
             hashlib.md5(frames[0]).hexdigest())]


@declare(
    "multimodal_video_features",
    # byte operator + character oracle -> explicit symmetric ASCII contract
    # (ascii_docs / ASCII_DOCS_SQL; see the module docstring)
    oracle=f"""
    WITH px AS (
        SELECT doc_id, CAST(t.i AS BIGINT) AS i,
               unicode(substr(text, CAST(t.i AS INT), 1)) AS p
        FROM documents CROSS JOIN LATERAL
             unnest(range(1, (length(text) // {VID_FRAME}) * {VID_FRAME} + 1))
                 AS t(i)
        WHERE text IS NOT NULL AND length(text) >= {VID_FRAME}
          AND {ASCII_DOCS_SQL}
    ), fr AS (
        SELECT doc_id, (i - 1) // {VID_FRAME} AS f, SUM(p) AS fsum
        FROM px GROUP BY doc_id, (i - 1) // {VID_FRAME}
    ), fstat AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf,
               CAST(SUM(CASE WHEN fsum < {VID_DARK_SUM} THEN 1 ELSE 0 END)
                    AS BIGINT) AS ndark
        FROM fr GROUP BY doc_id
    ), mot AS (
        SELECT a.doc_id, CAST(SUM(ABS(b.p - a.p)) AS BIGINT) AS motion
        FROM px a JOIN px b ON b.doc_id = a.doc_id
                           AND b.i = a.i + {VID_FRAME}
        GROUP BY a.doc_id
    )
    SELECT px.doc_id,
           {VID_W} AS width, {VID_H} AS height,
           MAX(fstat.nf) AS n_frames,
           MAX(fstat.nf) * 100.0 AS duration_ms,
           CAST(MAX(p) AS INTEGER) AS peak_luma,
           CAST(SUM(p) AS BIGINT) AS luma_sum,
           COALESCE(MAX(mot.motion), 0) AS motion_sum,
           MAX(fstat.ndark) AS n_dark_frames,
           md5(substr(MAX(d.text), 1, {VID_FRAME})) AS first_frame_md5
    FROM px
    JOIN fstat USING (doc_id)
    LEFT JOIN mot USING (doc_id)
    JOIN documents d USING (doc_id)
    GROUP BY px.doc_id
    """,
)
def multimodal_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video codec end-to-end — the triad-completing sibling of
    ``multimodal_png_roundtrip`` (image) and ``multimodal_audio_features``
    (audio): each doc's bytes become an actual RIFF/AVI container (16x16
    8-bit grayscale DIB frames at 10 fps, avi_codec.py writer), and a SECOND
    mapInPandas stage demuxes that binary back — generic RIFF chunk walk,
    header/geometry validation, per-frame size checks — and extracts the
    video-ingest features: frame count and duration, peak/total luma, total
    inter-frame motion Σ|Δpixel| (the scene-cut/static-clip signal),
    dark-frame count, and the first frame's md5 (the thumbnail-dedup key).
    Trailing partial frames are dropped and sub-frame-length documents are
    excluded (the dataloader convention; documented contract).

    Both stages are partition-preserving Arrow-batched passes above the
    media tier's one repartition.  All emitted stats are integers or exact
    multiples (duration = frames x 100 ms), so the cross-engine compare has
    no float seam."""
    media = _media(ascii_docs(spark, sf_dir), render_avi, "video/x-msvideo")
    return _per_payload(media, avi_features, VID_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual image dedup: dHash over the real PNG decode path
# ---------------------------------------------------------------------------

#: dHash grid — (DHASH_W)×(DHASH_H) samples give DHASH_H rows of
#: (DHASH_W - 1) horizontal-gradient bits = 64 bits.
DHASH_W, DHASH_H = 9, 8

DHASH_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("dhash", StringType()),
])


def png_dhash(r) -> list[tuple]:
    """REAL perceptual-hash stage: decode the PNG payload (parse, CRC,
    inflate, unfilter), nearest-neighbor-resample the valid pixels to the
    9×8 dHash grid, and emit the 64 horizontal-gradient bits
    (``p[r][c] > p[r][c+1]``) as a 64-char bitstring — the standard
    difference-hash (Krawetz, "Kind of Like That", 2013; the thumbnail
    near-dup key image pipelines shard on).  The bitstring representation is
    deliberate: a 64-bit integer would hit the BIGINT<<63 sign seam the
    Hamming tier documented (simsearch_topk_hamming), and a group-by key
    gains nothing from packing.  An empty payload has no content to hash:
    no row (the excluded domain, on both engines)."""
    valid = decode_png(bytes(r.media)).reshape(-1)[:r.n_source_bytes]
    n = len(valid)
    if n == 0:
        return []
    n_samples = DHASH_W * DHASH_H
    idx = (np.arange(n_samples, dtype=np.int64) * n) // n_samples
    g = valid[idx].astype(np.int16).reshape(DHASH_H, DHASH_W)
    bits = (g[:, :DHASH_W - 1] > g[:, 1:]).reshape(-1)
    return [(r.doc_id, "".join("1" if b else "0" for b in bits))]


def _dhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, dhash)`` for every non-empty ASCII document — the relation
    both dHash tiers cluster."""
    docs = ascii_docs(spark, sf_dir).filter(F.length("text") >= 1)
    return _per_payload(with_png_media(docs), png_dhash, DHASH_SCHEMA)


@declare(
    "multimodal_dhash_neardup",
    # byte operator + character oracle -> explicit symmetric ASCII contract
    # (ascii_docs / ASCII_DOCS_SQL; see the module docstring)
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text, strlen(text) AS n FROM documents
        WHERE {ASCII_DOCS_SQL} AND length(text) >= 1
    ), smp AS (
        SELECT doc_id,
               list_transform(range(0, {DHASH_W * DHASH_H}),
                   k -> unicode(substr(text,
                        CAST((k * n) // {DHASH_W * DHASH_H} AS INT) + 1,
                        1))) AS s
        FROM base
    ), hb AS (
        SELECT doc_id,
               list_aggr(list_transform(range(0, 64),
                   k -> CASE WHEN
                            s[CAST((k // 8) * {DHASH_W} + (k % 8) + 1 AS INT)]
                          > s[CAST((k // 8) * {DHASH_W} + (k % 8) + 2 AS INT)]
                        THEN '1' ELSE '0' END), 'string_agg', '') AS dhash
        FROM smp
    )
    SELECT doc_id, dhash,
           CAST(COUNT(*) OVER (PARTITION BY dhash) AS BIGINT) AS n_cluster,
           MIN(doc_id) OVER (PARTITION BY dhash) AS rep_doc_id
    FROM hb
    """,
)
def multimodal_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup — each document's REAL PNG payload is decoded
    and difference-hashed (:func:`png_dhash`), then images are clustered on
    the exact 64-bit dHash: (doc_id, dhash, cluster size, representative =
    min doc_id).  This is the thumbnail-dedup stage of a multimodal ingest
    pipeline: visually identical images collide on dHash even when their
    container bytes differ (re-encode, metadata), which the md5-of-container
    tier cannot see.

    Scale shape: codec CPU spreads via the media tier's repartition; the
    cluster stage shuffles only (dhash, doc_id) pairs — one exchange keyed
    on the 64-bit hash, the same shape as ``dedup_exact``.  HAMMING-near
    clustering (dHash distance ≤ k) is the next tier, shipped as
    ``multimodal_dhash_hamming_neardup`` below; exact dHash equality is the
    tier-1 operator pipelines run first because at web scale most
    perceptual dupes are bit-identical under dHash.  The oracle recomputes
    the resample + gradient bits character-wise (the ``multimodal_resize``
    idiom) and mirrors the window."""
    w = Window.partitionBy("dhash")
    return _dhash_signatures(spark, sf_dir).select(
        "doc_id", "dhash",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_cluster"),
        F.min("doc_id").over(w).alias("rep_doc_id"))


# ---------------------------------------------------------------------------
# Hamming-NEAR perceptual clustering — tier 2 over the dHash signatures
# ---------------------------------------------------------------------------

#: Hamming radius for "visually the same image after small edits".  With the
#: 64-bit dHash split into DHASH_BANDS band keys, pigeonhole guarantees EXACT
#: recall for any radius < DHASH_BANDS: a pair within distance 3 differs in
#: at most 3 of the 4 bands, so at least one band key collides and generates
#: the candidate — the banded join loses nothing vs all-pairs.
DHASH_HAM_T = 3
DHASH_BANDS = 4
_DHASH_BAND_BITS = 64 // DHASH_BANDS

#: DuckDB character-wise Hamming distance between two 64-char bit strings.
_DHASH_HAM_DUCK = ("length(list_filter(range(1, 65), "
                   "i -> substr(a.dhash, CAST(i AS INT), 1) "
                   "<> substr(b.dhash, CAST(i AS INT), 1)))")


def dhash_near_components(hashed: DataFrame,
                          t: int = DHASH_HAM_T) -> DataFrame:
    """Cluster ``(doc_id, dhash)`` signatures by Hamming distance ≤ ``t``:
    LSH-band the 64 bits into ``DHASH_BANDS`` 16-bit keys, self-join per
    band for candidates, verify with integer ``bit_count(xor)`` on the
    packed 32-bit words (the ``simsearch_topk_hamming`` arithmetic), and
    label connected components (large-star/small-star,
    :func:`~alertas_spark.operators.dedup.connected_components`).  Returns
    ``(doc_id, component)`` where component is the minimum doc_id reachable
    through the near-pair graph.

    Exactness: for ``t < DHASH_BANDS`` the banding has pigeonhole-perfect
    recall, so the result equals the all-pairs definition the oracle
    computes.  Scale shape: one exchange on the band key (never all-pairs);
    candidate volume is Σ bucket² over 4×2¹⁶ buckets — at web scale widen
    the band key (more bands of the same width over a longer perceptual
    hash, or a second-level key) exactly as MinHash-LSH tunes its band
    count; verify is two xor/popcount instructions per pair; the CC
    contraction is O(log diameter) rounds.  Callers pass a materialized
    ``hashed`` relation (the decode is the expensive stage and feeds both
    join branches)."""
    from alertas_spark.operators.dedup import connected_components

    sig = hashed.select(
        "doc_id",
        F.conv(F.substring("dhash", 1, 32), 2, 10).cast("bigint").alias("lo"),
        F.conv(F.substring("dhash", 33, 32), 2, 10).cast("bigint").alias("hi"),
        F.posexplode(F.array(*[
            F.substring("dhash", i * _DHASH_BAND_BITS + 1, _DHASH_BAND_BITS)
            for i in range(DHASH_BANDS)])).alias("band_idx", "band_key"))
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("lo").alias("lo_a"),
                   F.col("hi").alias("hi_a"), "band_idx", "band_key")
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("lo").alias("lo_b"),
                   F.col("hi").alias("hi_b"), "band_idx", "band_key")
    edges = (a.join(b, ["band_idx", "band_key"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b", "lo_a", "hi_a", "lo_b", "hi_b")
             .distinct()                      # multi-band collisions, once
             .filter(F.expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)")
                     <= F.lit(t))
             .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")))
    return connected_components(hashed.select("doc_id"), edges)[0]


@declare(
    "multimodal_dhash_hamming_neardup",
    oracle=f"""
    WITH RECURSIVE base AS (
        SELECT doc_id, text, strlen(text) AS n FROM documents
        WHERE {ASCII_DOCS_SQL} AND length(text) >= 1
    ), smp AS (
        SELECT doc_id,
               list_transform(range(0, {DHASH_W * DHASH_H}),
                   k -> unicode(substr(text,
                        CAST((k * n) // {DHASH_W * DHASH_H} AS INT) + 1,
                        1))) AS s
        FROM base
    ), hb AS (
        SELECT doc_id,
               list_aggr(list_transform(range(0, 64),
                   k -> CASE WHEN
                            s[CAST((k // 8) * {DHASH_W} + (k % 8) + 1 AS INT)]
                          > s[CAST((k // 8) * {DHASH_W} + (k % 8) + 2 AS INT)]
                        THEN '1' ELSE '0' END), 'string_agg', '') AS dhash
        FROM smp
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM hb a JOIN hb b ON a.doc_id < b.doc_id
        WHERE {_DHASH_HAM_DUCK} <= {DHASH_HAM_T}
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), walk AS (
        SELECT doc_id AS node, doc_id AS label FROM hb
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
    ), comp AS (
        SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
    )
    SELECT doc_id, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_cluster,
           CAST(CASE WHEN doc_id = component THEN 1 ELSE 0 END AS INTEGER)
               AS keep
    FROM comp
    """,
)
def multimodal_dhash_hamming_neardup(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Perceptual image dedup, tier 2: cluster images whose REAL-decode
    dHashes are within Hamming distance 3 — re-encodes, metadata churn AND
    small pixel edits (crop jitter, light recompression) that flip a few
    gradient bits, which the exact tier (``multimodal_dhash_neardup``)
    cannot see.  Output per image: its component (min reachable doc_id = the
    canonical representative), the cluster size, and the keep decision
    (keep ⇔ representative) — the same keep/drop contract as
    ``dedup_components``.

    Plan: the PNG decode+hash runs ONCE (``localCheckpoint`` materializes
    the signature relation; both branches of the band self-join and the CC
    node set read it back); candidates come from the 4×16-bit LSH banding
    (pigeonhole-exact at radius 3, see :func:`dhash_near_components`);
    verification is integer xor/popcount; components are large-star/
    small-star rounds.  The oracle recomputes the dHash character-wise and
    clusters the ALL-PAIRS radius-3 graph with a recursive CTE — green means
    the banded plan's recall is provably lossless, not just plausible."""
    comp = dhash_near_components(
        _dhash_signatures(spark, sf_dir).localCheckpoint())
    w = Window.partitionBy("component")
    return comp.select(
        "doc_id", "component",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_cluster"),
        (F.col("doc_id") == F.col("component")).cast("int").alias("keep"))
