"""Multimodal column plumbing (north-star extension).

Images/audio/video are opaque ``binary`` columns with a typed metadata
struct. The Spark-side plumbing — schema, partition-friendly projections,
Arrow-batched ``mapInPandas`` decode stage — is real and tested.

The codec story has two tiers:

* **Real codecs (binary Netpbm: "P6" RGB pixmap + "P5" graymap)**:
  :func:`with_image_blob` / :func:`with_gray_blob` synthesize genuine
  raster images (ASCII header + raw bytes — public Netpbm formats any
  image tool can open) with pure Catalyst expressions;
  ``decode_features(fake=False)`` is a real pure-numpy Netpbm decoder
  (header parse, payload validation, per-channel statistics) and
  ``resize_images(fake=False)`` a real nearest-neighbor resampler that
  re-emits valid Netpbm bytes. No external image libraries needed.
* **Stubbed codecs (everything else)**: blobs whose magic bytes aren't a
  supported format raise ``NotImplementedError`` inside the UDF — the
  marked extension point where PIL/ffmpeg/torchaudio would plug in.
  ``fake=True`` substitutes a deterministic byte-level feature extractor
  with the exact same batch shape, so the distributed plumbing is
  exercised end-to-end even for unsupported formats.

Scale notes (100 TB):
* Blobs ride in the row as ``binary``; all metadata predicates (mime,
  byte size) are plain columns, so filters prune before any decode.
* The decode stage is ``mapInPandas`` — Arrow-batched, no shuffle; it
  scales linearly with executors. Batch size is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` to cap memory per task
  when blobs are large.
* Frame sampling is pure column arithmetic (no decode) — computing frame
  offsets from metadata stays in codegen.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load, persisted, spread

# The decode/resize closures reference module-level helpers (_parse_pnm /
# _encode_pnm). Python workers don't inherit a driver-side sys.path patch,
# so if the engine package was imported off-path (e.g. the driver harness
# inserts /root/repo at runtime and runs from another cwd), by-REFERENCE
# pickling would make every executor fail to re-import this module.
# Registering the module for by-VALUE pickling ships the helper code with
# the closure — the same self-containment the repo's other Pandas-UDF
# closures get by construction. (On a real cluster you'd also ship the
# package via --py-files; this keeps the operator correct either way.)
try:  # pragma: no cover - trivially present on pyspark>=3.3
    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(sys.modules[__name__])
except Exception:  # noqa: BLE001 - best-effort; --py-files covers the rest
    pass

#: Output schema of the decode/feature-extract stage. ``channel_means`` is
#: populated by the real Netpbm decoder (one mean per channel: 3 for P6,
#: 1 for P5); the fake byte-level path leaves it NULL.
FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes int, width int, height int, n_channels int, "
    "mean_byte double, channel_means array<double>"
)


def with_blob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach an opaque binary payload + typed metadata to each document.

    Stands in for an image/audio blob column: ``content`` is the UTF-8
    encoding of the text (deterministic), ``meta`` is the typed metadata
    struct a real ingest would carry (mime type, byte length)."""
    docs = spread(load(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        "source",
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length("text").alias("n_bytes"),
        ).alias("meta"),
    )


def with_image_blob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach a genuine binary-PPM ("P6") image blob to each document.

    The raster is synthesized entirely with Catalyst expressions (no Python
    in the plan): geometry derives from ``doc_id``; the RGB payload is the
    first ``w*h*3`` bytes of the document's repeated SHA-256 stream —
    deterministic, byte-exact, independent of text encoding. The result is
    a VALID image file (ASCII ``P6 <w> <h> 255\\n`` header + raw RGB bytes)
    any Netpbm-aware tool can open, so ``decode_features(fake=False)``
    exercises a real codec.

    At scale this models image ingest: blobs ride as ``binary``, geometry
    and byte-size live in the typed ``meta`` struct so predicates prune
    before any decode touches payload bytes.
    """
    return image_blob_projection(spread(load(spark, sf_dir, "documents")))


def image_blob_projection(docs: DataFrame) -> DataFrame:
    """The P6 synthesis as a frame-in/frame-out projection — shared by the
    batch wrapper above and the streaming ingest path (pure Catalyst
    expressions, so it applies to a streaming DataFrame unchanged)."""
    w = (F.col("doc_id") % 24 + 8).cast("int")
    h = ((F.col("doc_id") * 7) % 16 + 8).cast("int")
    n_payload = w * h * 3
    # SHA-256 hex of (doc_id || text) = 32 bytes per unhex'd repetition;
    # repeat enough times and truncate to exactly w*h*3 bytes.
    reps = F.ceil(n_payload / F.lit(32)).cast("int")
    payload = F.unhex(
        F.substring(
            F.repeat(F.sha2(F.concat(F.col("doc_id").cast("string"), F.col("text")), 256), reps),
            1,
            n_payload * 2,
        )
    )
    header = F.encode(
        F.concat_ws(" ", F.lit("P6"), w.cast("string"), h.cast("string"), F.lit("255\n")),
        "UTF-8",
    )
    content = F.concat(header, payload)
    return docs.select(
        "doc_id",
        "source",
        content.alias("content"),
        F.struct(
            F.lit("image/x-portable-pixmap").alias("mime"),
            F.octet_length(content).alias("n_bytes"),
            w.alias("width"),
            h.alias("height"),
        ).alias("meta"),
    )


def with_gray_blob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach a genuine binary-PGM ("P5") grayscale blob to each document.

    Same Catalyst-only synthesis as :func:`with_image_blob` but
    single-channel: ``w*h`` payload bytes from the repeated SHA-256
    stream of (doc_id || text), prefixed with a valid ``P5 <w> <h>
    255\\n`` header. Exercises the second real codec tier (grayscale)
    through the identical ``mapInPandas`` decode stage.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    w = (F.col("doc_id") % 24 + 8).cast("int")
    h = ((F.col("doc_id") * 7) % 16 + 8).cast("int")
    n_payload = w * h
    reps = F.ceil(n_payload / F.lit(32)).cast("int")
    payload = F.unhex(
        F.substring(
            F.repeat(F.sha2(F.concat(F.col("doc_id").cast("string"), F.col("text")), 256), reps),
            1,
            n_payload * 2,
        )
    )
    header = F.encode(
        F.concat_ws(" ", F.lit("P5"), w.cast("string"), h.cast("string"), F.lit("255\n")),
        "UTF-8",
    )
    content = F.concat(header, payload)
    return docs.select(
        "doc_id",
        "source",
        content.alias("content"),
        F.struct(
            F.lit("image/x-portable-graymap").alias("mime"),
            F.octet_length(content).alias("n_bytes"),
            w.alias("width"),
            h.alias("height"),
        ).alias("meta"),
    )


def with_audio_blob(spark: SparkSession, sf_dir: str, sample_rate: int = 8000) -> DataFrame:
    """Attach a genuine RIFF/WAV (PCM s16le mono) audio blob to each document.

    The full 44-byte canonical WAV header (RIFF chunk, fmt chunk with
    PCM/mono/16-bit fields, data chunk) is assembled hex-wise with
    Catalyst expressions and the sample payload is the repeated SHA-256
    stream of (doc_id || text) — ``n_samples = doc_id % 480 + 160``
    signed 16-bit little-endian samples. The result is a VALID .wav file
    any audio tool can open, so ``decode_audio_features`` exercises a
    real (pure-numpy) audio codec. Third real codec tier next to the
    Netpbm P6/P5 images.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    n_samples = (F.col("doc_id") % 480 + 160).cast("int")
    data_size = n_samples * 2
    reps = F.ceil(data_size / F.lit(32)).cast("int")
    payload_hex = F.substring(
        F.repeat(F.sha2(F.concat(F.col("doc_id").cast("string"), F.col("text")), 256), reps),
        1,
        data_size * 2,
    )
    byte_rate = sample_rate * 2  # mono s16le
    header_hex = F.concat(
        F.lit("52494646"),                       # "RIFF"
        _le_hex(data_size + 36, 4),              # chunk size
        F.lit("57415645"),                       # "WAVE"
        F.lit("666d7420"),                       # "fmt "
        F.lit("10000000"),                       # fmt chunk size 16 (LE)
        F.lit("0100"),                           # audio format 1 = PCM (LE)
        F.lit("0100"),                           # channels 1 (LE)
        _le_hex(F.lit(sample_rate), 4),          # sample rate
        _le_hex(F.lit(byte_rate), 4),            # byte rate
        F.lit("0200"),                           # block align 2 (LE)
        F.lit("1000"),                           # bits per sample 16 (LE)
        F.lit("64617461"),                       # "data"
        _le_hex(data_size, 4),                   # data size
    )
    content = F.unhex(F.concat(header_hex, payload_hex))
    return docs.select(
        "doc_id",
        "source",
        content.alias("content"),
        F.struct(
            F.lit("audio/wav").alias("mime"),
            F.octet_length(content).alias("n_bytes"),
            F.lit(sample_rate).alias("sample_rate"),
            n_samples.alias("n_samples"),
        ).alias("meta"),
    )


def _parse_wav(blob: bytes) -> tuple[int, np.ndarray]:
    """Parse a RIFF/WAV (PCM s16le mono, canonical 44-byte header) blob →
    (sample_rate, int16 sample array). Strict: raises ValueError on any
    header field outside the PCM-mono-16-bit subset this pipeline emits."""
    import struct

    if len(blob) < 44 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE blob")
    if blob[12:16] != b"fmt " or struct.unpack("<I", blob[16:20])[0] != 16:
        raise ValueError("unsupported fmt chunk")
    fmt, channels, rate, _byte_rate, block, bits = struct.unpack("<HHIIHH", blob[20:36])
    if (fmt, channels, block, bits) != (1, 1, 2, 16):
        raise ValueError("only PCM mono s16le supported")
    if blob[36:40] != b"data":
        raise ValueError("missing data chunk")
    (data_size,) = struct.unpack("<I", blob[40:44])
    payload = blob[44:]
    if len(payload) != data_size or data_size % 2:
        raise ValueError(f"payload {len(payload)} != declared {data_size}")
    return rate, np.frombuffer(payload, dtype="<i2")


#: Output schema of the audio decode stage. Aggregates are EXACT integers
#: (sum of |sample|, sum of sample², peak) so the SQL oracle can re-derive
#: them bit-exactly; float features (rms etc.) derive downstream.
AUDIO_FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes int, sample_rate int, n_samples int, "
    "peak_abs int, sum_abs bigint, sum_sq bigint"
)


def decode_audio_features(blobs: DataFrame) -> DataFrame:
    """Decode WAV blobs → exact sample statistics via Arrow-batched
    ``mapInPandas`` — the audio leg of the real-codec tier.

    Pure-numpy RIFF/PCM parse (:func:`_parse_wav`), then integer
    aggregates over the int16 samples: peak absolute amplitude, sum of
    absolute amplitudes, sum of squares (energy). All exact int64 — the
    SQL oracle re-derives the same numbers from the synthesized byte
    stream, making this a hash-gated differential test of a real audio
    decode path. Non-RIFF blobs raise ``NotImplementedError`` (the
    extension point where ffmpeg/torchaudio would plug in).
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "n_bytes", "sample_rate", "n_samples",
                                   "peak_abs", "sum_abs", "sum_sq")}
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                blob = bytes(blob)
                if not blob.startswith(b"RIFF"):
                    raise NotImplementedError(
                        "only RIFF/WAV (PCM s16le mono) decode is implemented; "
                        "plug ffmpeg/torchaudio here for other audio codecs"
                    )
                rate, samples = _parse_wav(blob)
                s64 = samples.astype(np.int64)
                out["doc_id"].append(doc_id)
                out["n_bytes"].append(len(blob))
                out["sample_rate"].append(rate)
                out["n_samples"].append(len(samples))
                out["peak_abs"].append(int(np.abs(s64).max()) if len(s64) else 0)
                out["sum_abs"].append(int(np.abs(s64).sum()))
                out["sum_sq"].append(int((s64 * s64).sum()))
            yield pd.DataFrame(out)

    return blobs.mapInPandas(_decode, schema=AUDIO_FEATURE_SCHEMA)


#: Output schema of the audio resample stage: new blob + old/new geometry.
AUDIO_RESAMPLE_SCHEMA = (
    "doc_id bigint, content binary, n_samples_in int, n_samples_out int, "
    "sample_rate_in int, sample_rate_out int"
)


#: Output schema of the per-frame audio feature stage.
AUDIO_FRAME_SCHEMA = (
    "doc_id bigint, frame int, n_frame_samples int, peak_abs int, "
    "sum_abs bigint, sum_sq bigint, zero_crossings int"
)


def audio_frame_features(blobs: DataFrame, frame_len: int = 160) -> DataFrame:
    """Framewise audio features over decoded PCM: per non-overlapping
    ``frame_len``-sample window (20 ms at 8 kHz), the integer power sums
    (Σ|x|, Σx², peak) and the zero-crossing count — the classic
    VAD/speech-music front-end, and the per-window shape every real
    feature extractor (MFCC/fbank) shares. Integer arithmetic end to
    end (RMS = sqrt(sum_sq/n) is the CONSUMER's one float op), so every
    cell hash-gates against a SQL oracle deriving the same sample
    stream. A zero crossing is counted when consecutive samples within
    the frame differ in sign under the sign(x) = [x < 0] convention.

    Output: (doc_id, frame, n_frame_samples, peak_abs, sum_abs, sum_sq,
    zero_crossings); the final frame may be short.

    Plan: the same Arrow ``mapInPandas`` decode stage as
    :func:`decode_audio_features` — framing happens with numpy reshape
    arithmetic inside the decode pass, no shuffle.
    """

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids: list[int] = []
            frames: list[int] = []
            ns: list[int] = []
            peaks: list[int] = []
            sabs: list[int] = []
            ssq: list[int] = []
            zcs: list[int] = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                _, samples = _parse_wav(bytes(blob))
                x = samples.astype(np.int64)
                for f in range(0, (len(x) + frame_len - 1) // frame_len):
                    seg = x[f * frame_len : (f + 1) * frame_len]
                    neg = seg < 0
                    doc_ids.append(int(doc_id))
                    frames.append(f)
                    ns.append(len(seg))
                    peaks.append(int(np.max(np.abs(seg))))
                    sabs.append(int(np.sum(np.abs(seg))))
                    ssq.append(int(np.sum(seg * seg)))
                    zcs.append(int(np.sum(neg[1:] != neg[:-1])))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "frame": pd.Series(frames, dtype="int32"),
                    "n_frame_samples": pd.Series(ns, dtype="int32"),
                    "peak_abs": pd.Series(peaks, dtype="int32"),
                    "sum_abs": pd.Series(sabs, dtype="int64"),
                    "sum_sq": pd.Series(ssq, dtype="int64"),
                    "zero_crossings": pd.Series(zcs, dtype="int32"),
                }
            )

    return blobs.mapInPandas(_frames, schema=AUDIO_FRAME_SCHEMA)


def oracle_audio_frame_features(frame_len: int = 160) -> str:
    """DuckDB twin of :func:`audio_frame_features` over the WAV blob
    synthesis — the decode-audio oracle's sample stream, grouped by
    frame, with crossings counted via lag() restricted to same-frame
    predecessor pairs."""
    return rf"""WITH a AS (
  SELECT doc_id, CAST(doc_id % 480 + 160 AS INTEGER) AS n_samples,
         sha256(CAST(doc_id AS VARCHAR) || text) AS hx
  FROM documents
), g AS (
  SELECT doc_id, n_samples,
         substring(repeat(hx, CAST(ceil((n_samples*2) / 32.0) AS INTEGER)), 1, n_samples*4) AS ph
  FROM a
), smp AS (
  SELECT doc_id, i,
         (strpos('0123456789abcdef', substring(ph, 4*i-3, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substring(ph, 4*i-2, 1)) - 1) AS lo,
         (strpos('0123456789abcdef', substring(ph, 4*i-1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substring(ph, 4*i, 1)) - 1) AS hi
  FROM g, LATERAL unnest(generate_series(1, n_samples)) AS t(i)
), v AS (
  SELECT doc_id, i,
         (lo + 256*hi) - CASE WHEN lo + 256*hi >= 32768 THEN 65536 ELSE 0 END AS val
  FROM smp
), fr AS (
  SELECT doc_id, i, val,
         CAST((i - 1) // {frame_len} AS INTEGER) AS frame,
         lag(val) OVER (PARTITION BY doc_id ORDER BY i) AS pv,
         CAST((i - 2) // {frame_len} AS INTEGER) AS pframe
  FROM v
)
SELECT doc_id, frame,
       CAST(count(*) AS INTEGER) AS n_frame_samples,
       CAST(max(abs(val)) AS INTEGER) AS peak_abs,
       CAST(sum(abs(val)) AS BIGINT) AS sum_abs,
       CAST(sum(val*val) AS BIGINT) AS sum_sq,
       CAST(sum(CASE WHEN pv IS NOT NULL AND pframe = frame
                      AND ((pv < 0) <> (val < 0)) THEN 1 ELSE 0 END)
            AS INTEGER) AS zero_crossings
FROM fr GROUP BY 1, 2"""


def resample_audio(blobs: DataFrame, factor: int = 2) -> DataFrame:
    """Integer-decimation resample of WAV blobs (keep every ``factor``-th
    sample, divide the sample rate) via Arrow-batched ``mapInPandas`` —
    the audio twin of the image nearest-neighbor resize: decode →
    index-sample → re-encode a VALID WAV. No shuffle; linear in
    executors. Anti-alias filtering is a deliberate non-goal at this
    tier (decimation is the exact, oracle-checkable core; a windowed-sinc
    path would plug in at the same extension point as other codecs).
    """

    def _resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in batches:
            out = {k: [] for k in ("doc_id", "content", "n_samples_in",
                                   "n_samples_out", "sample_rate_in", "sample_rate_out")}
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                blob = bytes(blob)
                if not blob.startswith(b"RIFF"):
                    raise NotImplementedError(
                        "only RIFF/WAV (PCM s16le mono) resample is implemented"
                    )
                rate, samples = _parse_wav(blob)
                kept = samples[::factor]
                new_rate = rate // factor
                ds = len(kept) * 2
                header = (
                    b"RIFF" + struct.pack("<I", ds + 36) + b"WAVEfmt "
                    + struct.pack("<IHHIIHH", 16, 1, 1, new_rate, new_rate * 2, 2, 16)
                    + b"data" + struct.pack("<I", ds)
                )
                out["doc_id"].append(doc_id)
                out["content"].append(header + kept.tobytes())
                out["n_samples_in"].append(len(samples))
                out["n_samples_out"].append(len(kept))
                out["sample_rate_in"].append(rate)
                out["sample_rate_out"].append(new_rate)
            yield pd.DataFrame(out)

    return blobs.mapInPandas(_resample, schema=AUDIO_RESAMPLE_SCHEMA)


#: Fixed Y4M geometry (the header stays a compile-time constant; per-doc
#: variation comes from frame count and frame content).
Y4M_W, Y4M_H = 16, 8
Y4M_HEADER = b"YUV4MPEG2 W16 H8 F25:1 Ip A1:1 C444\n"
Y4M_FRAME_BYTES = 3 * Y4M_W * Y4M_H  # C444: full-resolution Y, U, V planes


def with_video_blob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach a genuine YUV4MPEG2 ("Y4M") video blob to each document.

    Y4M is the public uncompressed video interchange format (mplayer /
    ffmpeg): an ASCII stream header, then per frame an ASCII ``FRAME\\n``
    marker followed by raw planar YUV bytes (C444 = full-resolution
    Y,U,V planes). Synthesis is Catalyst-only: ``n_frames = doc_id % 8
    + 2`` frames of 16×8, each frame's 384 plane bytes drawn from the
    repeated SHA-256 stream of (doc_id || text). The result is a VALID
    video file any Y4M-aware tool can play, so the frame sampler
    exercises a real container parse + frame seek + plane decomposition.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    n_frames = (F.col("doc_id") % 8 + 2).cast("int")
    total_payload = n_frames * Y4M_FRAME_BYTES
    reps = F.ceil(total_payload / F.lit(32)).cast("int")
    stream_hex = F.substring(
        F.repeat(F.sha2(F.concat(F.col("doc_id").cast("string"), F.col("text")), 256), reps),
        1,
        total_payload * 2,
    )
    frame_marker_hex = b"FRAME\n".hex()  # "4652414d450a"
    # Insert the FRAME marker before every 768-hex-char (384-byte) block in
    # ONE regexp pass. A transform-over-sequence lambda formulation is ~5x
    # slower here: the lambda captures the repeated-SHA stream expression
    # and CollapseProject inlines it into the lambda body, so the whole
    # stream is recomputed PER FRAME (same optimizer behavior documented at
    # dedup._shingle_array).
    frames_hex = F.regexp_replace(
        stream_hex,
        f"(.{{{Y4M_FRAME_BYTES * 2}}})",
        frame_marker_hex + "$1",
    )
    content = F.concat(F.lit(Y4M_HEADER), F.unhex(frames_hex))
    return docs.select(
        "doc_id",
        "source",
        content.alias("content"),
        F.struct(
            F.lit("video/x-yuv4mpeg").alias("mime"),
            F.octet_length(content).alias("n_bytes"),
            F.lit(Y4M_W).alias("width"),
            F.lit(Y4M_H).alias("height"),
            n_frames.alias("n_frames"),
        ).alias("meta"),
    )


def _parse_y4m(blob: bytes) -> np.ndarray:
    """Parse a Y4M (C444, 16×8) blob → (n_frames, 3, H, W) uint8 array.

    Strict for the subset this pipeline emits: fixed header, every frame
    prefixed by ``FRAME\\n``, full-length planar payload. Raises
    ValueError on any malformed marker or truncated frame."""
    if not blob.startswith(Y4M_HEADER):
        raise ValueError("not a supported YUV4MPEG2 stream")
    body = blob[len(Y4M_HEADER):]
    step = 6 + Y4M_FRAME_BYTES
    if len(body) % step:
        raise ValueError(f"body {len(body)} not a multiple of frame step {step}")
    frames = []
    for off in range(0, len(body), step):
        if body[off:off + 6] != b"FRAME\n":
            raise ValueError(f"missing FRAME marker at offset {off}")
        raw = np.frombuffer(body[off + 6:off + step], dtype=np.uint8)
        frames.append(raw.reshape(3, Y4M_H, Y4M_W))
    return np.stack(frames) if frames else np.empty((0, 3, Y4M_H, Y4M_W), np.uint8)


#: Output schema of the video frame sampler: one row per sampled frame,
#: EXACT integer plane sums (oracle-checkable bit-for-bit).
VIDEO_FRAME_SCHEMA = (
    "doc_id bigint, frame_index int, n_frames int, "
    "sum_y bigint, sum_u bigint, sum_v bigint"
)


#: Output schema of the scene-cut stage; sad_y is the Y-plane sum of
#: absolute differences between a frame and its predecessor.
SCENE_CUT_SCHEMA = "doc_id bigint, frame_index int, sad_y bigint, is_cut boolean"

#: SAD threshold for the cut flag: 128 Y-plane pixels of uniform bytes
#: give E[SAD] ≈ 128 · 85 ≈ 10.9k, so 11k splits naturally on the fixture.
SCENE_CUT_SAD = 11_000


def video_scene_cuts(blobs: DataFrame, threshold: int = SCENE_CUT_SAD) -> DataFrame:
    """Scene-cut detection over the video column: per consecutive frame
    pair, the Y-plane sum of absolute differences (the classic shot-
    boundary signal every keyframe extractor thresholds) and the cut
    flag. Integer arithmetic on raw plane bytes — bit-deterministic, so
    the operator hash-gates against a SQL oracle re-deriving the same
    plane stream. Arrow ``mapInPandas`` over the container parse, no
    shuffle; at scale SAD runs on exactly the bytes the frame seek
    already touched.

    Output: (doc_id, frame_index, sad_y, is_cut) — frame_index ≥ 1 is
    the LATER frame of each pair.
    """

    def _cuts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids: list[int] = []
            idxs: list[int] = []
            sads: list[int] = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                frames = _parse_y4m(bytes(blob))
                # a header-only (0-frame) or single-frame stream has no
                # consecutive pair: no rows (the 0-frame reshape would
                # otherwise crash — r8 degenerate-blob sweep find)
                if len(frames) < 2:
                    continue
                y = frames[:, 0].reshape(len(frames), -1).astype(np.int64)
                sad = np.abs(y[1:] - y[:-1]).sum(axis=1)
                for i, v in enumerate(sad, start=1):
                    doc_ids.append(int(doc_id))
                    idxs.append(i)
                    sads.append(int(v))
            out = pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "frame_index": pd.Series(idxs, dtype="int32"),
                    "sad_y": pd.Series(sads, dtype="int64"),
                }
            )
            out["is_cut"] = out["sad_y"] > threshold
            yield out

    return blobs.mapInPandas(_cuts, schema=SCENE_CUT_SCHEMA)


def oracle_video_scene_cuts(threshold: int = SCENE_CUT_SAD) -> str:
    """DuckDB twin of :func:`video_scene_cuts` — Y-plane bytes re-derived
    from the SHA-256 payload stream (global byte index ``f*384 + j`` for
    frame f, Y-pixel j), consecutive frames joined on pixel index."""
    fb = Y4M_FRAME_BYTES
    ypix = Y4M_W * Y4M_H
    return rf"""WITH a AS (
  SELECT doc_id, CAST(doc_id % 8 + 2 AS INTEGER) AS n_frames,
         sha256(CAST(doc_id AS VARCHAR) || text) AS hx
  FROM documents
), g AS (
  SELECT doc_id, n_frames,
         substring(repeat(hx, CAST(ceil((n_frames*{fb}) / 32.0) AS INTEGER)),
                   1, n_frames*{fb}*2) AS ph
  FROM a
), yb AS (
  SELECT doc_id, CAST(i // {ypix} AS INTEGER) AS f, CAST(i % {ypix} AS INTEGER) AS j,
         (strpos('0123456789abcdef',
                 substring(ph, 2*((i // {ypix})*{fb} + i % {ypix}) + 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef',
                   substring(ph, 2*((i // {ypix})*{fb} + i % {ypix}) + 2, 1)) - 1) AS byte
  FROM g, LATERAL unnest(generate_series(0, n_frames*{ypix} - 1)) AS t(i)
)
SELECT cur.doc_id, cur.f AS frame_index,
       CAST(sum(abs(cur.byte - prv.byte)) AS BIGINT) AS sad_y,
       CAST(sum(abs(cur.byte - prv.byte)) AS BIGINT) > {threshold} AS is_cut
FROM yb cur
JOIN yb prv ON prv.doc_id = cur.doc_id AND prv.j = cur.j AND prv.f = cur.f - 1
GROUP BY 1, 2"""


def sample_video_frames(blobs: DataFrame, every: int = 2) -> DataFrame:
    """Real frame sampling over the video column: parse the Y4M container,
    seek every ``every``-th frame, and emit exact per-plane byte sums —
    the decode-side half of the metadata-only
    :func:`frame_sample_offsets` plan. Arrow-batched ``mapInPandas``, no
    shuffle; at scale only the sampled frames' bytes are ever touched
    after the container offsets are known (a columnar media store would
    push the seek into the reader)."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "frame_index", "n_frames",
                                   "sum_y", "sum_u", "sum_v")}
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                blob = bytes(blob)
                if not blob.startswith(b"YUV4MPEG2"):
                    raise NotImplementedError(
                        "only YUV4MPEG2 (C444) parsing is implemented; "
                        "plug ffmpeg/pyav here for compressed containers"
                    )
                frames = _parse_y4m(blob)
                n = len(frames)
                for idx in range(0, n, every):
                    planes = frames[idx].astype(np.int64)
                    out["doc_id"].append(doc_id)
                    out["frame_index"].append(idx)
                    out["n_frames"].append(n)
                    out["sum_y"].append(int(planes[0].sum()))
                    out["sum_u"].append(int(planes[1].sum()))
                    out["sum_v"].append(int(planes[2].sum()))
            yield pd.DataFrame(out)

    return blobs.mapInPandas(_sample, schema=VIDEO_FRAME_SCHEMA)


def _le_hex(col, n_bytes: int):
    """Little-endian hex encoding of a non-negative integer column —
    ``n_bytes`` bytes (2 hex chars each) with the byte order reversed,
    the layout every RIFF/WAV and BMP header field uses."""
    bh = F.lpad(F.lower(F.conv(col.cast("string"), 10, 16)), 2 * n_bytes, "0")
    pairs = [F.substring(bh, 2 * i - 1, 2) for i in range(n_bytes, 0, -1)]
    return F.concat(*pairs)


def with_bmp_blob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach a genuine Windows BMP (BITMAPINFOHEADER, 24-bit BI_RGB)
    blob to each document — the third REAL image container after Netpbm
    P6/P5, and the first with non-trivial container math: little-endian
    multi-byte header fields, BOTTOM-UP row order, and per-row padding to
    a 4-byte boundary (75% of the synthesized geometries have non-zero
    padding, so a decoder that ignores stride is caught by the oracle).

    Synthesis is Catalyst-only: geometry from ``doc_id`` (same scheme as
    the P6 blobs), pixel bytes from the repeated SHA-256 stream; the
    stored payload interleaves ``00`` padding after every row in one
    regexp pass over the hex stream (see :func:`with_video_blob` for why
    a transform-over-sequence lambda is ~5x slower here). The result is a
    VALID .bmp file any image viewer opens.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    base = (
        docs.select(
            "doc_id",
            "source",
            (F.col("doc_id") % 24 + 8).cast("int").alias("w"),
            ((F.col("doc_id") * 7) % 16 + 8).cast("int").alias("h"),
            F.sha2(
                F.concat(F.col("doc_id").cast("string"), F.col("text")), 256
            ).alias("hx"),
        )
        .withColumn("pad", ((4 - (F.col("w") * 3) % 4) % 4).cast("int"))
        .withColumn(
            "stream_hex",
            F.substring(
                F.repeat(
                    F.col("hx"),
                    F.ceil(F.col("w") * F.col("h") * 3 / F.lit(32)).cast("int"),
                ),
                1,
                F.col("w") * F.col("h") * 6,
            ),
        )
        .withColumn(
            # append the row padding after every 6w-hex-char (3w-byte) row
            "padded_hex",
            F.expr(
                "regexp_replace(stream_hex, concat('(.{', 6*w, '})'), "
                "concat('$1', repeat('00', pad)))"
            ),
        )
        .withColumn("img_size", (F.col("w") * 3 + F.col("pad")) * F.col("h"))
    )
    content = F.unhex(
        F.concat(
            F.lit("424d"),                   # "BM"
            _le_hex(F.col("img_size") + 54, 4),  # file size
            F.lit("00000000"),               # reserved
            _le_hex(F.lit(54), 4),           # pixel data offset
            _le_hex(F.lit(40), 4),           # BITMAPINFOHEADER size
            _le_hex(F.col("w"), 4),          # width  (i32 LE)
            _le_hex(F.col("h"), 4),          # height (i32 LE, + = bottom-up)
            _le_hex(F.lit(1), 2),            # planes
            _le_hex(F.lit(24), 2),           # bits per pixel
            _le_hex(F.lit(0), 4),            # compression = BI_RGB
            _le_hex(F.col("img_size"), 4),   # image size
            _le_hex(F.lit(2835), 4),         # x pixels/meter (72 DPI)
            _le_hex(F.lit(2835), 4),         # y pixels/meter
            F.lit("00000000"),               # colors used
            F.lit("00000000"),               # important colors
            F.col("padded_hex"),
        )
    )
    return base.select(
        "doc_id",
        "source",
        content.alias("content"),
        F.struct(
            F.lit("image/bmp").alias("mime"),
            F.octet_length(content).alias("n_bytes"),
            F.col("w").alias("width"),
            F.col("h").alias("height"),
        ).alias("meta"),
    )


def _parse_bmp(blob: bytes) -> tuple[int, int, np.ndarray]:
    """Parse a 24-bit uncompressed BMP → (width, height, HxWx3 uint8 in
    TOP-DOWN row order, channels as stored = BGR).

    Strict for the subset this pipeline emits (BITMAPINFOHEADER, BI_RGB,
    bpp 24, positive height): validates magic, header sizes, and payload
    length; strips the per-row padding and un-flips the bottom-up rows —
    the two container details a naive reader gets wrong."""
    if blob[:2] != b"BM":
        raise ValueError("not a BMP file")
    if len(blob) < 54:
        raise ValueError("truncated BMP header")
    data_off = int.from_bytes(blob[10:14], "little")
    hdr_size = int.from_bytes(blob[14:18], "little")
    w = int.from_bytes(blob[18:22], "little", signed=True)
    h = int.from_bytes(blob[22:26], "little", signed=True)
    bpp = int.from_bytes(blob[28:30], "little")
    compression = int.from_bytes(blob[30:34], "little")
    if hdr_size != 40 or bpp != 24 or compression != 0 or w <= 0 or h <= 0:
        raise ValueError("unsupported BMP variant (need BITMAPINFOHEADER/24bpp/BI_RGB)")
    stride = (3 * w + 3) // 4 * 4
    body = blob[data_off : data_off + stride * h]
    if len(body) != stride * h:
        raise ValueError(f"payload {len(body)} != stride*h {stride * h}")
    rows = np.frombuffer(body, dtype=np.uint8).reshape(h, stride)[:, : 3 * w]
    # stored bottom-up -> flip to top-down raster order
    return w, h, rows[::-1].reshape(h, w, 3)


#: Output schema of the BMP decode stage — all scalars (driver-hashable).
#: Channels are BGR as stored; first_px_* is the TOP-LEFT pixel after the
#: bottom-up un-flip, so a decoder that skips the row flip hash-fails.
BMP_FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes int, width int, height int, row_pad int, "
    "mean_byte double, mean_b double, mean_g double, mean_r double, "
    "first_px_b int, first_px_g int, first_px_r int"
)


def decode_bmp_features(blobs: DataFrame) -> DataFrame:
    """Real BMP decode + feature extraction in Arrow-batched
    ``mapInPandas`` (no shuffle): parse the container, strip row padding,
    un-flip the bottom-up rows, and emit per-channel means plus the
    top-left pixel. Non-BMP blobs raise ``NotImplementedError`` — the
    same marked extension-point convention as the other codecs."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (
            "doc_id", "n_bytes", "width", "height", "row_pad", "mean_byte",
            "mean_b", "mean_g", "mean_r", "first_px_b", "first_px_g", "first_px_r",
        )
        for pdf in batches:
            out = {k: [] for k in cols}
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                blob = bytes(blob)
                if blob[:2] != b"BM":
                    raise NotImplementedError(
                        "only BI_RGB 24-bit BMP decode is implemented; "
                        "plug Pillow/libvips here for other formats"
                    )
                w, h, px = _parse_bmp(blob)
                flat = px.reshape(-1, 3).astype(np.int64)
                out["doc_id"].append(doc_id)
                out["n_bytes"].append(len(blob))
                out["width"].append(w)
                out["height"].append(h)
                out["row_pad"].append((4 - (3 * w) % 4) % 4)
                out["mean_byte"].append(float(flat.mean()))
                out["mean_b"].append(float(flat[:, 0].mean()))
                out["mean_g"].append(float(flat[:, 1].mean()))
                out["mean_r"].append(float(flat[:, 2].mean()))
                out["first_px_b"].append(int(px[0, 0, 0]))
                out["first_px_g"].append(int(px[0, 0, 1]))
                out["first_px_r"].append(int(px[0, 0, 2]))
            yield pd.DataFrame(out)

    return blobs.mapInPandas(_decode, schema=BMP_FEATURE_SCHEMA)


def _parse_pnm(blob: bytes) -> tuple[int, int, np.ndarray]:
    """Parse a binary-Netpbm blob (P5 graymap or P6 pixmap) →
    (width, height, HxWxC uint8 array) with C = 1 (P5) or 3 (P6).

    Minimal, strict decoder for the Netpbm subset this pipeline emits
    (single-space separators, maxval 255). Raises ValueError on any
    malformed header or payload-length mismatch.
    """
    import re

    # Strict header match (NOT whitespace split — payload bytes may
    # themselves be whitespace and must not be consumed as separators).
    m = re.match(rb"^P([56]) (\d+) (\d+) 255\n", blob[:32])
    if not m:
        raise ValueError("not a supported P5/P6 netpbm")
    channels = 3 if m.group(1) == b"6" else 1
    w, h = int(m.group(2)), int(m.group(3))
    payload = blob[m.end():]
    if len(payload) != w * h * channels:
        raise ValueError(f"payload {len(payload)} != {w}*{h}*{channels}")
    return w, h, np.frombuffer(payload, dtype=np.uint8).reshape(h, w, channels)


def _encode_pnm(img: np.ndarray) -> bytes:
    h, w, c = img.shape
    magic = b"P6" if c == 3 else b"P5"
    return b"%s %d %d 255\n" % (magic, w, h) + img.astype(np.uint8).tobytes()


def blob_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only scan over the blob column: byte length + content hash
    per doc — no decode, pure codegen expressions."""
    blobs = with_blob(spark, sf_dir)
    return blobs.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )


def decode_features(blobs: DataFrame, fake: bool = False) -> DataFrame:
    """Decode blobs → features via an Arrow-batched ``mapInPandas`` stage.

    ``fake=False`` (the REAL path): a pure-numpy binary-PPM (P6) decoder —
    header parse, payload-length validation, per-channel means on the
    decoded HxWx3 raster. Blobs in any other format raise
    ``NotImplementedError`` inside the UDF — the marked extension point
    where PIL/ffmpeg/torchaudio would plug in for JPEG/audio/video.

    ``fake=True``: deterministic byte-level pseudo-decode with the same
    batch shape, for blobs with no decodable structure (used by tests and
    the rows-only registry entry over text/plain blobs).

    Either way the stage is ``mapInPandas`` — Arrow batches in, no
    shuffle, linear in executors; decode cost is per-blob and the batch
    size bound caps task memory.
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = pdf["content"]
            if fake:
                n = content.str.len().astype("int32")
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "n_bytes": n,
                        # deterministic fake geometry derived from byte length
                        "width": (n % 512 + 1).astype("int32"),
                        "height": (n // 512 + 1).astype("int32"),
                        "n_channels": pd.Series([3] * len(pdf), dtype="int32"),
                        "mean_byte": content.map(
                            lambda b: (sum(b) / len(b)) if len(b) else 0.0
                        ).astype("float64"),
                        "channel_means": pd.Series([None] * len(pdf), dtype=object),
                    }
                )
                continue
            out = {k: [] for k in ("doc_id", "n_bytes", "width", "height",
                                   "n_channels", "mean_byte", "channel_means")}
            for doc_id, blob in zip(pdf["doc_id"], content):
                blob = bytes(blob)
                if not (blob.startswith(b"P6") or blob.startswith(b"P5")):
                    raise NotImplementedError(
                        "only binary-Netpbm (P5 graymap / P6 pixmap) decode "
                        "is implemented; plug PIL/torchaudio/ffmpeg here for "
                        "other codecs"
                    )
                w, h, img = _parse_pnm(blob)
                out["doc_id"].append(doc_id)
                out["n_bytes"].append(len(blob))
                out["width"].append(w)
                out["height"].append(h)
                out["n_channels"].append(img.shape[2])
                # empty raster (0-width/height header is VALID Netpbm):
                # mean of no pixels is pinned to 0.0, not NaN — the same
                # degenerate-input convention as the zero-norm cosine and
                # empty-doc quality guards (r7), so downstream aggregates
                # and the driver hash stay deterministic
                if img.size == 0:
                    out["mean_byte"].append(0.0)
                    out["channel_means"].append([0.0] * img.shape[2])
                else:
                    out["mean_byte"].append(float(img.mean()))
                    out["channel_means"].append(
                        [float(x) for x in img.mean(axis=(0, 1))]
                    )
            yield pd.DataFrame(out)

    return blobs.mapInPandas(_decode, schema=FEATURE_SCHEMA)


#: Output schema of the per-channel intensity histogram stage.
HISTOGRAM_SCHEMA = "doc_id bigint, channel int, bin int, n_pixels bigint"


def image_histogram(blobs: DataFrame, n_bins: int = 8) -> DataFrame:
    """Per-channel intensity histogram of decoded Netpbm rasters — the
    classic image-level feature for near-dup blocking, exposure/quality
    gates, and drift monitoring over an image corpus. ``bin = byte DIV
    (256/n_bins)`` on the raw uint8 values: integer arithmetic end to
    end, so counts are bit-deterministic and the operator hash-gates
    against a SQL oracle that re-derives the same pixel stream.

    Output: (doc_id, channel, bin, n_pixels) — sparse (zero bins
    omitted), channels 0..C-1 in raster order.

    Plan: the same Arrow ``mapInPandas`` decode stage as
    :func:`decode_features` (no shuffle, linear in executors) followed by
    nothing — binning happens inside the decode pass via ``np.bincount``,
    so the histogram adds no plan nodes over the decode itself.
    """
    width_per_bin = 256 // n_bins

    def _hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids: list[int] = []
            channels: list[int] = []
            bins: list[int] = []
            counts_out: list[int] = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                blob = bytes(blob)
                if not (blob.startswith(b"P6") or blob.startswith(b"P5")):
                    raise NotImplementedError(
                        "only binary-Netpbm (P5/P6) histogram decode is "
                        "implemented; plug PIL here for other codecs"
                    )
                _, _, img = _parse_pnm(blob)
                for ch in range(img.shape[2]):
                    binned = img[:, :, ch].astype(np.int32) // width_per_bin
                    counts = np.bincount(binned.ravel(), minlength=n_bins)
                    for b in range(n_bins):
                        if counts[b]:
                            doc_ids.append(int(doc_id))
                            channels.append(ch)
                            bins.append(b)
                            counts_out.append(int(counts[b]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "channel": pd.Series(channels, dtype="int32"),
                    "bin": pd.Series(bins, dtype="int32"),
                    "n_pixels": pd.Series(counts_out, dtype="int64"),
                }
            )

    return blobs.mapInPandas(_hist, schema=HISTOGRAM_SCHEMA)


def oracle_image_histogram(n_bins: int = 8) -> str:
    """DuckDB twin of :func:`image_histogram` over the P6 blob synthesis —
    the same hex-expanded SHA-256 pixel stream as the decode-features
    oracle, grouped by integer bin."""
    wpb = 256 // n_bins
    return rf"""WITH img AS (
  SELECT doc_id,
         CAST(doc_id % 24 + 8 AS INTEGER) AS w,
         CAST((doc_id * 7) % 16 + 8 AS INTEGER) AS h,
         sha256(CAST(doc_id AS VARCHAR) || text) AS hx
  FROM documents
), geom AS (
  SELECT doc_id, w*h*3 AS n_pay,
         substring(repeat(hx, CAST(ceil((w*h*3) / 32.0) AS INTEGER)), 1, w*h*3*2) AS ph
  FROM img
), b AS (
  SELECT doc_id,
         (strpos('0123456789abcdef', substring(ph, 2*i-1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substring(ph, 2*i, 1)) - 1) AS byte,
         (i - 1) % 3 AS ch
  FROM geom, LATERAL unnest(generate_series(1, n_pay)) AS t(i)
)
SELECT doc_id, CAST(ch AS INTEGER) AS channel,
       CAST(byte // {wpb} AS INTEGER) AS bin,
       count(*) AS n_pixels
FROM b GROUP BY 1, 2, 3"""


#: Output schema of the resize stage: the blob is replaced, the typed
#: metadata records both the old and new geometry.
RESIZE_SCHEMA = (
    "doc_id bigint, content binary, n_bytes int, width int, height int, "
    "target_width int, target_height int"
)


def resize_images(
    blobs: DataFrame, width: int = 224, height: int = 224, fake: bool = False
) -> DataFrame:
    """Resize stage for an image column via Arrow-batched ``mapInPandas``.

    ``fake=False`` (the REAL path): pure-numpy nearest-neighbor resample
    of binary-PPM (P6) blobs to ``width × height``, re-emitting VALID P6
    bytes (decode → index-sample rows/cols → re-encode). Non-P6 blobs
    raise ``NotImplementedError`` — the extension point for
    PIL/torchvision codecs.

    ``fake=True`` emits a deterministic truncation/padding of the payload
    to ``width·height`` bytes with identical batch shape, for blobs with
    no decodable raster. No shuffle either way: resize is embarrassingly
    parallel over whatever partitioning the scan (or an upstream filter)
    produced.
    """

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = width * height
        for pdf in batches:
            if fake:
                content = pdf["content"].map(
                    lambda b: bytes(b[:target]).ljust(target, b"\0")
                )
                n = pdf["content"].str.len().astype("int32")
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "content": content,
                        "n_bytes": n,
                        "width": (n % 512 + 1).astype("int32"),
                        "height": (n // 512 + 1).astype("int32"),
                        "target_width": pd.Series([width] * len(pdf), dtype="int32"),
                        "target_height": pd.Series([height] * len(pdf), dtype="int32"),
                    }
                )
                continue
            out = {k: [] for k in ("doc_id", "content", "n_bytes", "width",
                                   "height", "target_width", "target_height")}
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                blob = bytes(blob)
                if not (blob.startswith(b"P6") or blob.startswith(b"P5")):
                    raise NotImplementedError(
                        "only binary-Netpbm (P5/P6) resize is implemented; "
                        "plug PIL.Image.resize / torchvision here"
                    )
                w, h, img = _parse_pnm(blob)
                # nearest-neighbor: sample source pixel centers on the
                # target grid (the classical index map)
                rows = (np.arange(height) * h) // height
                cols = (np.arange(width) * w) // width
                resized = img[rows][:, cols]
                out["doc_id"].append(doc_id)
                out["content"].append(_encode_pnm(resized))
                out["n_bytes"].append(len(blob))
                out["width"].append(w)
                out["height"].append(h)
                out["target_width"].append(width)
                out["target_height"].append(height)
            yield pd.DataFrame(out)

    return blobs.mapInPandas(_resize, schema=RESIZE_SCHEMA)


def frame_sample_offsets(
    spark: SparkSession, sf_dir: str, fps: int = 24, every_n_seconds: int = 10
) -> DataFrame:
    """Frame-sampling plan for a (stub) video column: compute the byte/frame
    offsets to sample — pure column arithmetic from metadata, no decode.

    Treats ``meta.n_bytes`` as a fake duration proxy (1 KB ≙ 1 second),
    emitting one row per sampled frame index."""
    blobs = with_blob(spark, sf_dir)
    duration_s = F.floor(F.col("meta.n_bytes") / 1024.0) + 1
    return blobs.select(
        "doc_id",
        duration_s.alias("duration_s"),
        F.explode(
            F.sequence(F.lit(0), duration_s - 1, F.lit(every_n_seconds))
        ).alias("sample_second"),
    ).withColumn("frame_index", (F.col("sample_second") * fps).cast("long"))


# --- perceptual average-hash (aHash) image near-dup ---------------------------
def with_content_gray_blob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 graymap blobs keyed by CONTENT through content-defined chunking
    (CDC): token t ends a chunk iff ``md5(t)``'s last hex digit ≡ 0
    (mod 8) — the rsync/restic boundary trick, so a single token
    insertion re-hashes only ITS chunk instead of cascading through
    every later fixed-position window. The payload is the concatenated
    SHA-256 streams of the first 8 chunks on a fixed 16x16 raster
    (perceptual hashing normalizes resolution first, so fixed geometry
    is the honest model).

    Two documents with identical text produce byte-identical images;
    near-dup texts (the corpus's 1-token edits) share all but ~1 chunk →
    rasters agree on ~7/8 of their bytes → small aHash Hamming distance.
    That is the synthetic analogue of "the same/similar image uploaded
    twice" a perceptual-hash dedup stage exists to catch.

    Plan: one explode + two (doc_id)-keyed aggregations build the chunk
    stream (boundary flags and chunk ids are window expressions over the
    same doc_id exchange); the raster bytes never shuffle.
    """
    return content_gray_blob_projection(spread(load(spark, sf_dir, "documents")))


def content_gray_blob_projection(docs: DataFrame) -> DataFrame:
    """Frame-based body of :func:`with_content_gray_blob` — factored so
    the streaming ingest path can synthesize blobs for a micro-batch
    frame with the SAME projection the batch path uses."""
    from .text import TOKEN_RE

    toks = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.split(F.trim(F.col("text")), TOKEN_RE)).alias("p", "tok"),
    )
    bflag = (
        F.conv(F.substring(F.md5("tok"), 32, 1), 16, 10).cast("int") % 8 == 0
    ).cast("int")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_chunks = toks.select(
        "doc_id",
        "source",
        "p",
        "tok",
        F.coalesce(F.sum(bflag).over(w_prev), F.lit(0)).alias("chunk_id"),
    ).where(F.col("chunk_id") < 8)
    chunk_hashes = with_chunks.groupBy("doc_id", "chunk_id").agg(
        F.first("source").alias("source"),
        F.sha2(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda x: x["tok"],
                ),
            ),
            256,
        ).alias("chex"),
    )
    streams = chunk_hashes.groupBy("doc_id").agg(
        F.first("source").alias("source"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_id", "chex"))),
                lambda x: x["chex"],
            ),
        ).alias("stream"),
    )
    n_payload = 16 * 16
    reps = F.ceil((n_payload * 2) / F.length("stream")).cast("int")
    payload = F.unhex(F.substring(F.repeat(F.col("stream"), reps), 1, n_payload * 2))
    content = F.concat(F.encode(F.lit("P5 16 16 255\n"), "UTF-8"), payload)
    return streams.select(
        "doc_id",
        "source",
        content.alias("content"),
        F.struct(
            F.lit("image/x-portable-graymap").alias("mime"),
            F.octet_length(content).alias("n_bytes"),
            F.lit(16).alias("width"),
            F.lit(16).alias("height"),
        ).alias("meta"),
    )


#: Output schema of the perceptual-hash stage: 64-bit aHash carried as two
#: unsigned 32-bit halves (portable across engines — no sign-bit games).
AHASH_SCHEMA = (
    "doc_id bigint, width int, height int, hash_hi bigint, hash_lo bigint, "
    "ahash_hex string"
)


def image_ahash(blobs: DataFrame) -> DataFrame:
    """Perceptual average-hash over decoded P5 graymaps: the raster is
    block-reduced to an 8x8 grid (pixel (x, y) -> cell ((y*8) div h,
    (x*8) div w)) and bit b = r*8+c is set iff its cell's mean exceeds
    the image mean — compared in EXACT integer cross-multiplication
    (cell_sum * n_px > total_sum * cell_n), so the hash is
    bit-deterministic and SQL-oracle-able. MSB-first: bit 0 is the
    top-left cell; ``hash_hi`` carries bits 0-31, ``hash_lo`` 32-63.

    Arrow-batched ``mapInPandas`` — decode + hash are per-blob numpy
    integer ops, no shuffle, linear in executors. aHash is the classic
    cheap tier of image near-dup (pHash's DCT refines it); resolution
    independence comes from the fixed 8x8 grid.
    """

    def _ahash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "width", "height", "hash_hi",
                                   "hash_lo", "ahash_hex")}
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                w, h, img = _parse_pnm(bytes(blob))
                g = img[:, :, 0].astype(np.int64)
                total = int(g.sum())
                npx = w * h
                ry = (np.arange(h) * 8) // h
                cx = (np.arange(w) * 8) // w
                cell_idx = (ry[:, None] * 8 + cx[None, :]).ravel()
                sums = np.zeros(64, dtype=np.int64)
                np.add.at(sums, cell_idx, g.ravel())
                cnts = np.bincount(cell_idx, minlength=64)
                bits = (sums * npx) > (total * cnts)
                val = 0
                for b in range(64):
                    if bits[b]:
                        val |= 1 << (63 - b)
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["hash_hi"].append(val >> 32)
                out["hash_lo"].append(val & 0xFFFFFFFF)
                out["ahash_hex"].append(f"{val:016x}")
            yield pd.DataFrame(out)

    return blobs.mapInPandas(_ahash, schema=AHASH_SCHEMA)


def image_ahash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry wrapper: CDC content-keyed P5 synthesis → aHash stage."""
    return image_ahash(with_content_gray_blob(spark, sf_dir))


def _ahash_bands(ah: DataFrame) -> DataFrame:
    """Explode a (doc_id, hash_hi, hash_lo) hash frame into its four
    16-bit LSH bands — the shared banding used by the batch pair join,
    the persisted index build, and the incremental probe (one
    definition, so index and probe can never band differently)."""
    return ah.select(
        "doc_id",
        "hash_hi",
        "hash_lo",
        F.posexplode(
            F.array(
                F.shiftright("hash_hi", 16).bitwiseAND(F.lit(65535)),
                F.col("hash_hi").bitwiseAND(F.lit(65535)),
                F.shiftright("hash_lo", 16).bitwiseAND(F.lit(65535)),
                F.col("hash_lo").bitwiseAND(F.lit(65535)),
            )
        ).alias("band_idx", "band_val"),
    )


def image_ahash_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = 10
) -> DataFrame:
    """Image near-dup pairs by banded Hamming join over the 64-bit aHash:
    the hash splits into four 16-bit bands; documents sharing ANY band
    become candidates (equi-join — never an all-pairs scan) and survive
    iff exact Hamming distance (bit_count of the xor, per 32-bit half)
    <= ``max_hamming``. Identical images collide on every band at
    distance 0; the banding guarantees recall for any pair with >= 1
    clean band (<= 3 corrupted bands) and trades the far tail for
    sub-quadratic cost — the same LSH contract as the SimHash text leg.

    The decoded hash frame is tiny (3 int64s/doc) and feeds both sides
    of the self-join; it is eagerly localCheckpoint'ed so the Arrow
    decode stage runs once, not once per join branch (repo convention
    for fan-out frames).

    Output: (doc_a, doc_b, hamming).
    """
    ah = (
        image_ahash_features(spark, sf_dir)
        .select("doc_id", "hash_hi", "hash_lo")
        .localCheckpoint(eager=True)
    )
    bands = _ahash_bands(ah)
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hash_hi").alias("hi_a"),
        F.col("hash_lo").alias("lo_a"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hash_hi").alias("hi_b"),
        F.col("hash_lo").alias("lo_b"),
        "band_idx",
        "band_val",
    )
    ham = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    return (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def _persisted_ahash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-build half of the incremental image near-dup split: the
    banded aHash table (doc_id, hash_hi, hash_lo, band_idx, band_val)
    of the EXISTING images (doc_id % 10 != 0 — the incremental fixture
    convention of ``dedup.incremental_new_docs``), persisted as parquet.
    At 100 TB this is the artifact the nightly index job writes,
    bucketed by (band_idx, band_val) so the per-batch probe join
    shuffles only the batch."""
    return persisted(
        spark, "ahash_index", f"{sf_dir}/documents.parquet", (),
        lambda: _ahash_bands(
            image_ahash(
                with_content_gray_blob(spark, sf_dir).where("doc_id % 10 != 0")
            ).select("doc_id", "hash_hi", "hash_lo")
        ),
    )


def image_ahash_probe(
    spark: SparkSession, sf_dir: str, max_hamming: int = 10
) -> DataFrame:
    """Incremental image near-dup: probe an INCOMING image batch
    (doc_id % 10 == 0) against the persisted banded aHash index of the
    existing corpus (:func:`_persisted_ahash_index`) — the probe half
    of the index/probe split, mirroring ``dedup.incremental_new_docs``.
    Only the batch is decoded and hashed (the doc_id filter pushes below
    the blob-synthesis windows into the scan); candidates come from the
    shared banded equi-join (:func:`_ahash_bands` on both sides — index
    and probe cannot band differently) and survive on exact Hamming
    distance. Per-batch cost is O(batch + matches), independent of
    corpus size.

    Because banding and distance are identical to the batch twin, the
    output equals :func:`image_ahash_pairs` restricted to
    (incoming, existing) pairs — the recall pytest asserts exactly that,
    and the oracle is the banded join with the split predicate.

    Output: (doc_id, match_id, hamming) — doc_id incoming, match_id in
    the index.
    """
    idx = _persisted_ahash_index(spark, sf_dir).select(
        F.col("doc_id").alias("match_id"),
        F.col("hash_hi").alias("hi_m"),
        F.col("hash_lo").alias("lo_m"),
        "band_idx",
        "band_val",
    )
    incoming = with_content_gray_blob(spark, sf_dir).where("doc_id % 10 = 0")
    inc = (
        image_ahash(incoming)
        .select("doc_id", "hash_hi", "hash_lo")
        .localCheckpoint(eager=True)
    )
    pb = _ahash_bands(inc).select(
        "doc_id",
        F.col("hash_hi").alias("hi_q"),
        F.col("hash_lo").alias("lo_q"),
        "band_idx",
        "band_val",
    )
    ham = F.bit_count(
        F.col("hi_q").bitwiseXOR(F.col("hi_m"))
    ) + F.bit_count(F.col("lo_q").bitwiseXOR(F.col("lo_m")))
    return (
        pb.join(idx, ["band_idx", "band_val"])
        .select("doc_id", "match_id", ham.cast("int").alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def _oracle_ahash_cte() -> str:
    """Shared oracle CTE chain: CDC chunk stream → fixed 16x16 pixel
    stream → 8x8 cell sums → integer-compared bits → (doc_id, hash_hi,
    hash_lo). Mirrors :func:`with_content_gray_blob` +
    :func:`image_ahash` exactly (same md5-anchored boundaries, same cell
    map ``(x*8)//w``, same strict > tie-break)."""
    from .text import TOKEN_SQL

    toks = f"string_split_regex(trim(text), '{TOKEN_SQL}')"
    return f"""tok AS (
  SELECT doc_id, toks[p] AS tok, p
  FROM (SELECT doc_id, {toks} AS toks FROM documents) d,
       LATERAL unnest(generate_series(1, len(toks))) AS t(p)),
flagged AS (
  SELECT doc_id, tok, p,
         CASE WHEN (strpos('0123456789abcdef', substring(md5(tok), 32, 1)) - 1)
                   % 8 = 0 THEN 1 ELSE 0 END AS bflag
  FROM tok),
chunked AS (
  SELECT doc_id, tok, p,
         COALESCE(SUM(bflag) OVER (
           PARTITION BY doc_id ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
  FROM flagged),
chunk_hashes AS (
  SELECT doc_id, chunk_id,
         sha256(string_agg(tok, ' ' ORDER BY p)) AS chex
  FROM chunked WHERE chunk_id < 8 GROUP BY 1, 2),
strm AS (
  SELECT doc_id, string_agg(chex, '' ORDER BY chunk_id) AS stream
  FROM chunk_hashes GROUP BY 1),
geom AS (
  SELECT doc_id,
         substring(repeat(stream,
                          CAST(ceil(512 / CAST(length(stream) AS DOUBLE))
                               AS INTEGER)),
                   1, 512) AS ph
  FROM strm),
px AS (
  SELECT doc_id, i,
         (strpos('0123456789abcdef', substring(ph, 2*i-1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substring(ph, 2*i, 1)) - 1) AS byte,
         ((i-1) % 16) AS x, ((i-1) // 16) AS y
  FROM geom, LATERAL unnest(generate_series(1, 256)) AS t(i)),
cells AS (
  SELECT doc_id, (y*8)//16 AS r, (x*8)//16 AS c,
         sum(byte) AS s, count(*) AS k
  FROM px GROUP BY 1, 2, 3),
tot AS (
  SELECT doc_id, sum(s) AS total, sum(k) AS npx
  FROM cells GROUP BY 1),
bits AS (
  SELECT c.doc_id, c.r*8 + c.c AS b,
         CASE WHEN c.s * t.npx > t.total * c.k THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN tot t USING (doc_id)),
hashes AS (
  SELECT doc_id, CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
         CAST(sum(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT) << (31 - b))
                       ELSE 0 END) AS BIGINT) AS hash_hi,
         CAST(sum(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT) << (63 - b))
                       ELSE 0 END) AS BIGINT) AS hash_lo
  FROM bits GROUP BY doc_id)"""


def oracle_image_ahash() -> str:
    """DuckDB twin of :func:`image_ahash_features`."""
    return f"""WITH {_oracle_ahash_cte()}
SELECT doc_id, width, height, hash_hi, hash_lo,
       lower(lpad(hex(hash_hi), 8, '0') || lpad(hex(hash_lo), 8, '0'))
         AS ahash_hex
FROM hashes"""


def oracle_image_ahash_pairs(max_hamming: int = 10) -> str:
    """DuckDB twin of :func:`image_ahash_pairs` — identical banding."""
    return f"""WITH {_oracle_ahash_cte()},
bands AS (
  SELECT doc_id, hash_hi, hash_lo, b.band_idx,
         CASE b.band_idx
           WHEN 0 THEN (hash_hi >> 16) & 65535
           WHEN 1 THEN hash_hi & 65535
           WHEN 2 THEN (hash_lo >> 16) & 65535
           ELSE hash_lo & 65535 END AS band_val
  FROM hashes, LATERAL unnest(generate_series(0, 3)) AS b(band_idx)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.hash_hi, b.hash_hi))
              + bit_count(xor(a.hash_lo, b.hash_lo)) AS INTEGER) AS hamming
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= {max_hamming}"""


def oracle_image_ahash_probe(max_hamming: int = 10) -> str:
    """DuckDB twin of :func:`image_ahash_probe` — the banded join with
    the incremental split predicate (incoming probes vs existing
    index)."""
    return f"""WITH {_oracle_ahash_cte()},
bands AS (
  SELECT doc_id, hash_hi, hash_lo, b.band_idx,
         CASE b.band_idx
           WHEN 0 THEN (hash_hi >> 16) & 65535
           WHEN 1 THEN hash_hi & 65535
           WHEN 2 THEN (hash_lo >> 16) & 65535
           ELSE hash_lo & 65535 END AS band_val
  FROM hashes, LATERAL unnest(generate_series(0, 3)) AS b(band_idx)),
cand AS (
  SELECT DISTINCT q.doc_id AS doc_id, x.doc_id AS match_id,
         CAST(bit_count(xor(q.hash_hi, x.hash_hi))
              + bit_count(xor(q.hash_lo, x.hash_lo)) AS INTEGER) AS hamming
  FROM bands q JOIN bands x
    ON q.band_idx = x.band_idx AND q.band_val = x.band_val
  WHERE q.doc_id % 10 = 0 AND x.doc_id % 10 <> 0)
SELECT doc_id, match_id, hamming FROM cand WHERE hamming <= {max_hamming}"""
