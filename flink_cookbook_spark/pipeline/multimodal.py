"""Multimodal-column conventions: opaque binary payloads + typed metadata.

Image/audio/video data in a Spark pipeline is an opaque ``binary`` column
plus a metadata struct; decode / feature-extract / resize / frame-sample
run as Arrow-batched pandas iterators (``mapInPandas``) so each Python
worker sees whole record batches, never single rows.

The container has no codec libraries, so decode is two-tier: BMP
payloads (a codec-free public format) go through ``decode_real``, a
vendored pure-Python BITMAPFILEHEADER/BITMAPINFOHEADER parser that
handles bottom-up row order and 4-byte row padding; every other format
falls back to ``decode_stub``, a clearly-marked deterministic fake
(byte statistics standing in for pixel statistics) — PIL/ffmpeg-class
codecs still raise ``NotImplementedError``. Everything Spark-side —
schema, partitioning, UDF signature, Arrow batch shape — is real and
tested (tests/test_pipeline.py).

The fixture has no binary table, so ``documents.text`` is encoded to
UTF-8 bytes as the stand-in payload; a production table would read
``binary`` parquet columns the same way.

Scale notes (100 TB): payload columns dominate I/O — the metadata query
below never touches Python and prunes to the columns it needs; the
feature extraction path repartitions by doc_id so decode work spreads
evenly, and each mapInPandas batch is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary payload + typed metadata struct."""
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("content_type"),
            F.octet_length(F.encode("text", "utf-8")).alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only scan over binary payloads: sizes, checksums, and
    size-band distribution — no Python, no payload decode; the shape of
    'list my corpus' at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    payload = with_payload(docs)
    return payload.select(
        "doc_id",
        F.col("meta.content_type").alias("content_type"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.origin").alias("origin"),
        F.md5("payload").alias("payload_md5"),
        (F.col("meta.n_bytes") / 128).cast("int").alias("size_band"),
    )


register(
    "multimodal_metadata",
    oracle="""
SELECT doc_id,
       'application/octet-stream' AS content_type,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       source AS origin,
       md5(text) AS payload_md5,  -- VARCHAR md5 hashes the same UTF-8 bytes
       CAST(octet_length(encode(text)) // 128 AS INTEGER) AS size_band
FROM documents
""",
    tags=("multimodal", "llm-pipeline"),
)(multimodal_metadata)


#: feature schema produced by the decode/extract stage.
FEATURE_SCHEMA = (
    "doc_id long, n_bytes int, mean_byte double, max_byte int, "
    "n_frames int, feature array<double>"
)


#: BMP fixture geometry: every BMP_EVERY-th doc carries a real BMP
#: payload; pixel value at logical (x, y) is PIXEL(doc_id, x, y) below.
BMP_EVERY = 8
BMP_W, BMP_H = 4, 4


def bmp_pixel(doc_id: int, x: int, y: int) -> int:
    """Deterministic grayscale fixture pixel (asymmetric in x/y so a
    decoder that forgets BMP's bottom-up row order fails the oracle)."""
    return (doc_id * 7 + x * 13 + y * 31) % 256


def encode_bmp(width: int, height: int, pixels: list[list[int]]) -> bytes:
    """Minimal 24-bpp uncompressed BMP writer (public format:
    BITMAPFILEHEADER + BITMAPINFOHEADER, bottom-up rows padded to 4
    bytes; all three channels carry the grayscale value). Pure Python —
    no codec libraries."""
    import struct

    row_raw = width * 3
    pad = (4 - row_raw % 4) % 4
    pixel_bytes = (row_raw + pad) * height
    offset = 14 + 40
    out = bytearray()
    out += struct.pack("<2sIHHI", b"BM", offset + pixel_bytes, 0, 0, offset)
    out += struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       pixel_bytes, 2835, 2835, 0, 0)
    for y in range(height - 1, -1, -1):  # bottom-up
        for x in range(width):
            v = pixels[y][x]
            out += bytes((v, v, v))  # B, G, R
        out += b"\x00" * pad
    return bytes(out)


def decode_real(payload: bytes) -> dict:
    """REAL decode for the codec-free BMP path: parses the public BMP
    format (magic, pixel-data offset, BITMAPINFOHEADER dims/bpp/
    compression, bottom-up padded rows) in pure Python and emits pixel
    statistics — rows stand in for video frames. Non-BMP payloads still
    raise: real image/audio codecs (PIL/ffmpeg/soundfile) are not
    installed in this container."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise NotImplementedError(
            "not a BMP payload; codec libraries (PIL/ffmpeg/soundfile) are "
            "not installed — use decode_stub for the deterministic fake"
        )
    offset = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    bottom_up = height > 0
    height = abs(height)
    row_stride = (width * 3 + 3) // 4 * 4
    if len(payload) < offset + row_stride * height:
        raise ValueError("truncated BMP pixel data")
    rows = []
    for r in range(height):
        base = offset + r * row_stride
        # blue channel only — the fixture writes equal B=G=R
        rows.append([payload[base + 3 * x] for x in range(width)])
    if bottom_up:
        rows.reverse()  # stored bottom-up -> logical top-down
    flat = [v for row in rows for v in row]
    mean = sum(flat) / len(flat)
    return {
        "n_bytes": len(payload),
        "mean_byte": mean,
        "max_byte": max(flat),
        "n_frames": height,  # rows as frames
        "feature": [mean / 255.0, max(flat) / 255.0, rows[0][0] / 255.0,
                    height / 64.0],
    }


def decode_stub(payload: bytes) -> dict:
    """Deterministic fake decode: byte statistics stand in for decoded
    pixel/sample statistics; 'frames' are 64-byte chunks standing in for
    video frame sampling."""
    if not payload:
        return {"n_bytes": 0, "mean_byte": 0.0, "max_byte": 0, "n_frames": 0, "feature": [0.0] * 4}
    n = len(payload)
    mean = sum(payload) / n
    frames = [payload[i : i + 64] for i in range(0, n, 64)]
    # 4-dim fake feature: mean, max, first-byte, frame count (normalized)
    feature = [mean / 255.0, max(payload) / 255.0, payload[0] / 255.0, len(frames) / 64.0]
    return {
        "n_bytes": n,
        "mean_byte": mean,
        "max_byte": max(payload),
        "n_frames": len(frames),
        "feature": feature,
    }


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: Arrow batch in -> decoded feature batch out.
    BMP magic routes a payload to the REAL decoder (vendored pure-Python
    parser); anything else — including a payload that merely STARTS with
    the bytes 'BM' but fails to parse as a BMP — falls back to the
    byte-stats stub. The fallback keeps the oracle's doc_id-based branch
    authoritative: a text document beginning with 'BM' raises inside
    ``decode_real`` (bad header/truncated pixel data) and lands in the
    stub branch the oracle predicted, instead of crashing the job
    (round-6 advice #2)."""

    def _route(p: bytes) -> dict:
        if p[:2] == b"BM":
            try:
                return decode_real(p)
            except (NotImplementedError, ValueError, IndexError,
                    ZeroDivisionError):
                # 'BM'-prefixed text: garbage header fields (negative/zero
                # dims, wrong bpp, truncated pixel area) — the stub is
                # what the oracle's doc_id-based branch expects
                return decode_stub(p)
        return decode_stub(p)

    for pdf in batches:
        decoded = [_route(p) for p in pdf["payload"]]
        out = pd.DataFrame(decoded)
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


def _payload_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Fixture payload synthesis: every BMP_EVERY-th doc carries a real
    deterministic BMP image (pixels = bmp_pixel(doc_id, x, y)); the rest
    carry the UTF-8 text bytes. In production this stage IS the parquet
    binary column — here it manufactures one deterministically so the
    decode path has real image bytes to parse."""
    for pdf in batches:
        payloads = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if doc_id % BMP_EVERY == 0:
                px = [[bmp_pixel(int(doc_id), x, y) for x in range(BMP_W)]
                      for y in range(BMP_H)]
                payloads.append(encode_bmp(BMP_W, BMP_H, px))
            else:
                payloads.append(text.encode("utf-8"))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def multimodal_features_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract over binary payloads via mapInPandas
    (Arrow-batched) — the internal form, keeping ``feature`` as
    ``array<double>`` for downstream vector consumers (similarity search,
    training pipelines). BMP payloads go through the real vendored
    decoder; opaque payloads through the stub."""
    docs = load(spark, sf_dir, "documents")
    # spread decode work evenly regardless of upstream file layout
    payload = (
        docs.select("doc_id", "text")
        .repartition(F.col("doc_id"))
        .mapInPandas(_payload_batches, schema="doc_id long, payload binary")
    )
    return payload.mapInPandas(_extract_batches, schema=FEATURE_SCHEMA)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered driver-checkable form: the decode stub is pure byte
    arithmetic, so every output — including the 4-dim fake feature — is
    projected as rounded scalar doubles and verified against a DuckDB
    oracle that recomputes the same byte statistics in SQL. (Arrays are
    kept out of the registered projection: the driver's canonicalizer
    sorts via pandas, which cannot factorize Python lists.)"""
    feats = multimodal_features_df(spark, sf_dir)
    return feats.select(
        "doc_id",
        "n_bytes",
        rnd("mean_byte", 6).alias("mean_byte"),
        "max_byte",
        "n_frames",
        rnd(F.col("feature")[0], 6).alias("f0"),
        rnd(F.col("feature")[1], 6).alias("f1"),
        rnd(F.col("feature")[2], 6).alias("f2"),
        rnd(F.col("feature")[3], 6).alias("f3"),
    )


#: total BMP file size for the fixture geometry (header + padded rows).
_BMP_NBYTES = 54 + ((BMP_W * 3 + 3) // 4 * 4) * BMP_H

register(
    "multimodal_features",
    oracle=f"""
-- Two branches mirroring the worker's content sniffing. BMP rows
-- (doc_id % {BMP_EVERY} = 0): the REAL decoder's pixel statistics,
-- recomputable because the fixture pixel is the pure function
-- (doc_id*7 + x*13 + y*31) % 256 over a {BMP_W}x{BMP_H} grid. Stub rows:
-- deterministic byte math over the ASCII corpus (unicode(char) == byte),
-- integer sum then one double division == Python's sum(payload)/n.
WITH bmp AS (
  SELECT doc_id,
         [(doc_id*7 + (i % {BMP_W})*13 + (i // {BMP_W})*31) % 256
          for i in range(0, {BMP_W * BMP_H})] AS px
  FROM documents WHERE doc_id % {BMP_EVERY} = 0
),
b AS (
  SELECT doc_id,
         {_BMP_NBYTES} AS nb,
         CAST(list_sum(px) AS DOUBLE) / {BMP_W * BMP_H} AS mb,
         list_max(px) AS xb,
         px[1] AS fb,
         {BMP_H} AS nf,
         CAST({BMP_H} AS DOUBLE) / 64.0 AS f3raw
  FROM bmp
  UNION ALL
  SELECT doc_id,
         octet_length(encode(text)) AS nb,
         CAST(list_sum([unicode(substring(text, i, 1))
                        for i in range(1, length(text)+1)]) AS DOUBLE)
           / length(text) AS mb,
         list_max([unicode(substring(text, i, 1))
                   for i in range(1, length(text)+1)]) AS xb,
         unicode(substring(text, 1, 1)) AS fb,
         (octet_length(encode(text)) - 1) // 64 + 1 AS nf,
         CAST((octet_length(encode(text)) - 1) // 64 + 1 AS DOUBLE) / 64.0
           AS f3raw
  FROM documents
  WHERE length(text) > 0 AND doc_id % {BMP_EVERY} <> 0
)
SELECT doc_id,
       CAST(nb AS INTEGER) AS n_bytes,
       round(mb + 0.000001, 6) AS mean_byte,
       CAST(xb AS INTEGER) AS max_byte,
       CAST(nf AS INTEGER) AS n_frames,
       round(mb / 255.0 + 0.000001, 6) AS f0,
       round(xb / 255.0 + 0.000001, 6) AS f1,
       round(fb / 255.0 + 0.000001, 6) AS f2,
       round(f3raw + 0.000001, 6) AS f3
FROM b
""",
    tags=("multimodal", "llm-pipeline"),
)(multimodal_features)


# --------------------------------------------------------------------------
# audio: vendored pure-Python WAV (RIFF PCM) codec — the audio sibling of
# the BMP path above; WAV is a codec-free public container, so a real
# parse needs no external libraries.
# --------------------------------------------------------------------------

#: audio fixture geometry: every WAV_EVERY-th doc carries a PCM payload.
WAV_EVERY = 5
WAV_RATE = 8000


def wav_n_samples(doc_id: int) -> int:
    """Deterministic fixture length: 64..191 samples."""
    return 64 + doc_id % 128


def wav_sample(doc_id: int, i: int) -> int:
    """Deterministic int16 fixture sample in [-1001, 1001] — a pure
    function of (doc_id, i) so a DuckDB oracle can recompute the decoded
    waveform in closed form, exactly like ``bmp_pixel``."""
    return (doc_id * 37 + i * 251) % 2003 - 1001


def encode_wav(sample_rate: int, samples: list[int]) -> bytes:
    """Minimal RIFF/WAVE writer (public container: RIFF header, 'fmt '
    chunk for 16-bit mono PCM, 'data' chunk of little-endian int16
    samples). Pure Python, no codec libraries."""
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    out = bytearray()
    out += b"RIFF"
    out += struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
    out += b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(data)) + data
    return bytes(out)


def decode_wav(payload: bytes) -> dict:
    """REAL audio decode for the codec-free WAV path: parses the RIFF
    container (magic, chunk walk, 'fmt ' PCM validation, 'data' int16
    samples) in pure Python and emits waveform statistics — the audio
    analogue of ``decode_real``. Compressed audio (MP3/AAC/Opus) still
    raises: those codecs are not installed in this container."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            "not a RIFF/WAVE payload; compressed-audio codecs are not "
            "installed in this container"
        )
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, rate, _, _, bits = fmt
    if audio_format != 1 or channels != 1 or bits != 16:
        raise ValueError(
            f"unsupported WAV: format={audio_format} ch={channels} bits={bits}"
        )
    n = len(data) // 2
    samples = struct.unpack(f"<{n}h", data[: n * 2])
    sq = sum(s * s for s in samples)
    zc = sum(
        1 for i in range(1, n) if (samples[i - 1] < 0) != (samples[i] < 0)
    )
    return {
        "n_samples": n,
        "sample_rate": rate,
        "duration_s": n / rate,
        "mean_amp": sum(abs(s) for s in samples) / n,
        "peak_amp": max(abs(s) for s in samples),
        "rms": (sq / n) ** 0.5,
        "zero_crossings": zc,
    }


def _wav_payload_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Fixture audio synthesis for every WAV_EVERY-th doc: deterministic
    int16 PCM from ``wav_sample`` encoded through the real RIFF writer.
    In production this stage IS the parquet binary column."""
    for pdf in batches:
        rows = pdf[pdf["doc_id"] % WAV_EVERY == 0]
        payloads = [
            encode_wav(
                WAV_RATE,
                [wav_sample(int(d), i) for i in range(wav_n_samples(int(d)))],
            )
            for d in rows["doc_id"]
        ]
        yield pd.DataFrame({"doc_id": rows["doc_id"], "payload": payloads})


AUDIO_SCHEMA = (
    "doc_id long, n_samples int, sample_rate int, duration_s double, "
    "mean_amp double, peak_amp int, rms double, zero_crossings int"
)


def _audio_extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: RIFF bytes in -> waveform statistics out,
    through the REAL ``decode_wav`` parse."""
    for pdf in batches:
        decoded = [decode_wav(p) for p in pdf["payload"]]
        out = pd.DataFrame(decoded)
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


def audio_features_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode + feature extraction over binary WAV payloads via
    two Arrow-batched mapInPandas stages (synthesize-or-scan, then
    decode) — the audio row of the multimodal matrix, with a REAL
    container parse in the hot path."""
    docs = load(spark, sf_dir, "documents")
    payload = (
        docs.select("doc_id")
        .where(F.col("doc_id") % WAV_EVERY == 0)
        .repartition(F.col("doc_id"))
        .mapInPandas(_wav_payload_batches, schema="doc_id long, payload binary")
    )
    return payload.mapInPandas(_audio_extract_batches, schema=AUDIO_SCHEMA)


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: one output row per sampled 64-byte 'frame' (every
    4th), the video-pipeline explode pattern — pure Spark (posexplode
    over byte-range slices), no Python."""
    docs = load(spark, sf_dir, "documents")
    payload = with_payload(docs).select(
        "doc_id", "payload", F.col("meta.n_bytes").alias("n_bytes")
    )
    frames = (
        payload.where(F.col("n_bytes") > 0)  # empty payload => no frames
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, int(floor((n_bytes-1)/64))),"
                    " i -> substring(payload, i*64+1, 64))"
                )
            ).alias("frame_no", "frame_bytes"),
        )
        .where(F.col("frame_no") % 4 == 0)
    )
    return frames.select(
        "doc_id",
        "frame_no",
        F.octet_length("frame_bytes").alias("frame_size"),
        F.md5("frame_bytes").alias("frame_md5"),
    )


register(
    "frame_sample",
    oracle="""
-- payloads are ASCII here, so char slicing == byte slicing; DuckDB md5
-- over VARCHAR hashes the same UTF-8 bytes Spark hashes over BINARY.
WITH p AS (SELECT doc_id, text, octet_length(encode(text)) AS n_bytes
           FROM documents),
frames AS (
  -- per-row range: no arbitrary frame cap, empty payloads yield no rows
  SELECT doc_id,
         unnest(range(0, greatest((n_bytes - 1) // 64 + 1, 0))) AS frame_no,
         text
  FROM p WHERE n_bytes > 0
)
SELECT doc_id, CAST(frame_no AS INTEGER) AS frame_no,
       CAST(octet_length(encode(substring(text, frame_no*64 + 1, 64))) AS INTEGER)
         AS frame_size,
       md5(substring(text, frame_no*64 + 1, 64)) AS frame_md5
FROM frames WHERE frame_no % 4 = 0
""",
    tags=("multimodal", "llm-pipeline"),
)(frame_sample)


# --------------------------------------------------------------------------
# audio feature extraction (real vendored WAV decode)
# --------------------------------------------------------------------------

def _audio_oracle() -> str:
    return f"""
WITH a AS (
  SELECT doc_id, 64 + doc_id % 128 AS n,
         [(doc_id * 37 + i * 251) % 2003 - 1001
          for i in range(0, 64 + doc_id % 128)] AS s
  FROM documents WHERE doc_id % {WAV_EVERY} = 0
),
m AS (
  SELECT doc_id, n,
         list_sum([abs(x) for x in s]) AS sum_abs,
         list_max([abs(x) for x in s]) AS peak,
         list_sum([x * x for x in s]) AS sq,
         len([i for i in range(2, n + 1)
              if (s[i - 1] < 0) <> (s[i] < 0)]) AS zc
  FROM a
)
SELECT doc_id,
       CAST(n AS INTEGER) AS n_samples,
       {WAV_RATE} AS sample_rate,
       round(n / {WAV_RATE}.0 + 1e-6, 6) AS duration_s,
       round(sum_abs * 1.0 / n + 1e-6, 4) AS mean_amp,
       CAST(peak AS INTEGER) AS peak_amp,
       round(sqrt(sq * 1.0 / n) + 1e-6, 4) AS rms,
       CAST(zc AS INTEGER) AS zero_crossings
FROM m
"""


@register("audio_features", oracle=_audio_oracle(), tags=("prepared-r8",))
def audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waveform statistics over binary WAV payloads — duration, mean/
    peak amplitude, RMS, zero-crossing count — through the REAL vendored
    RIFF/PCM parser (pipeline/multimodal.py: encode_wav/decode_wav),
    the audio row of the multimodal matrix next to the BMP image path.
    The fixture synthesizes deterministic int16 PCM per audio doc
    (``wav_sample`` is a pure function of (doc_id, i)), so the DuckDB
    oracle recomputes the decoded waveform in closed form and the hash
    check verifies the container parse end-to-end.  Two Arrow-batched
    mapInPandas stages; work is repartitioned by doc_id so decode
    spreads evenly at any corpus size."""
    feats = audio_features_df(spark, sf_dir)
    return feats.select(
        "doc_id", "n_samples", "sample_rate",
        rnd("duration_s", 6).alias("duration_s"),
        rnd("mean_amp", 4).alias("mean_amp"),
        "peak_amp",
        rnd("rms", 4).alias("rms"),
        "zero_crossings",
    )
