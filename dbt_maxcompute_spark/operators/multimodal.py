"""Multimodal (image/audio/video) column plumbing.

No counterpart in the reference (extension per BASELINE.json). Media
payloads are opaque ``binary`` columns plus a typed metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages. The codec layer is REAL for the three formats
a pure-numpy parser can handle with zero external deps — BMP (24-bit
uncompressed), PPM (P6 binary), WAV (RIFF PCM16) — including BMP row
padding, PPM header comments, and RIFF chunk walking. Compressed
codecs (JPEG/PNG/MP4...) need external libs absent from this
container and raise a clear NotImplementedError per-payload policy.

Scale design:
- Binary payloads never pass through Python row-at-a-time: Arrow
  batches only (`mapInPandas`), with `maxRecordsPerBatch` sized so a
  batch of payloads fits executor memory (set
  spark.sql.execution.arrow.maxRecordsPerBatch accordingly).
- Metadata-only operations (byte length, content hash, format sniff)
  are pure Catalyst — no Python at all.
- At 100 TB, repartition by a size-balanced key before the decode
  stage so one executor doesn't get all the 4K videos
  (`repartition_by_size`).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Literal

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_KINDS = ("image", "audio", "video")

# Canonical media schema: payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("byte_len", LongType()),
        StructField("content_md5", StringType()),
    ]
)

# Feature row per decoded payload. Integer slots are kind-generic
# (the usual fixed-width feature-table trick, so no nullable-int
# columns): images use width/height in pixels and n_frames=1; audio
# uses width=n_channels, height=bits_per_sample, n_frames=n_samples.
# mean_intensity is the mean pixel byte (0-255) for images and the
# mean |amplitude| (0-32767) for audio.
FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("format", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_frames", LongType()),
        StructField("mean_intensity", DoubleType()),
    ]
)


def binary_metadata(payload: Column) -> list[Column]:
    """Pure-Catalyst metadata over a binary column — no decode needed."""
    return [
        F.length(payload).cast("long").alias("byte_len"),
        F.md5(payload).alias("content_md5"),
    ]


def attach_fake_payload(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Test-fixture helper: synthesize a binary payload from a text
    column (UTF-8 encode) so the media pipeline can run on the
    `documents` fixture. Real pipelines read payloads from object
    storage or parquet binary columns."""
    payload = F.encode(F.col(text_col), "UTF-8")
    kind = F.element_at(
        F.array(*[F.lit(k) for k in MEDIA_KINDS]),
        (F.col(id_col) % len(MEDIA_KINDS) + 1).cast("int"),
    )
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        *binary_metadata(payload),
    )


def repartition_by_size(df: DataFrame, num_partitions: int, byte_len_col: str = "byte_len") -> DataFrame:
    """Spread large payloads: salt by byte-length bucket so each output
    partition holds a mix of sizes (avoids one straggler partition of
    all-huge videos at scale)."""
    salt = F.xxhash64(F.col(byte_len_col), F.monotonically_increasing_id())
    return df.repartition(num_partitions, salt)


# ---------------------------------------------------------------------------
# fixture encoders: real BMP/PPM/WAV bytes, deterministic per document
# ---------------------------------------------------------------------------


def _encode_bmp(w: int, h: int, v: int) -> bytes:
    """24-bit uncompressed BMP, solid fill value v, rows 4-byte padded."""
    import struct

    stride = (3 * w + 3) // 4 * 4
    pix_off = 14 + 40
    hdr = struct.pack("<2sIHHI", b"BM", pix_off + stride * h, 0, 0, pix_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0)
    row = bytes([v]) * (3 * w) + b"\x00" * (stride - 3 * w)
    return hdr + info + row * h


def _encode_ppm(w: int, h: int, v: int) -> bytes:
    """P6 binary PPM with a header comment (parsers must skip it)."""
    return b"P6\n# synth fixture\n%d %d\n255\n" % (w, h) + bytes([v]) * (3 * w * h)


def _encode_wav(amp: int, n_samples: int, rate: int = 8000) -> bytes:
    """RIFF/WAVE PCM16 mono, constant amplitude; a LIST chunk sits
    between fmt and data so decoders must actually walk chunks."""
    import struct

    data = np.full(n_samples, amp, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", 8) + b"INFOjunk"
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def synthesize_media_payload(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Fixture generator: REAL format bytes per document, deterministic
    in (id, utf8-length) so a SQL oracle can predict the decoded
    features. id%3 picks bmp/ppm/wav; images are (8+id%24)x(8+(id//7)%24)
    solid fill (len%240)+8; wav is 500+id%1000 samples at constant
    amplitude (len%1000)-500. Arrow-batched — payload bytes never move
    row-at-a-time."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            rows = []
            for media_id, text in zip(pdf["media_id"], pdf["text"]):
                i = int(media_id)
                n = len(text.encode("utf-8"))
                if i % 3 == 0:
                    payload = _encode_bmp(8 + i % 24, 8 + (i // 7) % 24, (n % 240) + 8)
                    kind = "image"
                elif i % 3 == 1:
                    payload = _encode_ppm(8 + i % 24, 8 + (i // 7) % 24, (n % 240) + 8)
                    kind = "image"
                else:
                    payload = _encode_wav((n % 1000) - 500, 500 + i % 1000)
                    kind = "audio"
                rows.append(
                    {
                        "media_id": i,
                        "kind": kind,
                        "payload": payload,
                        "byte_len": len(payload),
                        "content_md5": hashlib.md5(payload).hexdigest(),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    src = df.select(
        F.col(id_col).cast("long").alias("media_id"), F.col(text_col).alias("text")
    )
    return src.mapInPandas(batches, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# real pure-numpy codecs: BMP (24-bit uncompressed), PPM (P6), WAV (PCM16)
# ---------------------------------------------------------------------------


def sniff_format(b: bytes) -> str:
    """Magic-byte format sniff — never trust the kind column."""
    if b[:2] == b"BM":
        return "bmp"
    if b[:2] == b"P6":
        return "ppm"
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return "wav"
    if b[:2] == b"\xff\xd8":
        return "jpeg"
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    return "unknown"


def _decode_bmp(b: bytes) -> tuple[int, int, float]:
    """BITMAPFILEHEADER + BITMAPINFOHEADER, 24bpp uncompressed. Returns
    (width, height, mean pixel byte) — rows are 4-byte aligned and the
    padding bytes must NOT enter the mean."""
    import struct

    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pix_off = struct.unpack_from("<I", b, 10)[0]
    hdr_size = struct.unpack_from("<I", b, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError(f"BMP core-header variant (size {hdr_size}) unsupported")
    w, h_signed = struct.unpack_from("<ii", b, 18)
    planes, bpp = struct.unpack_from("<HH", b, 26)
    compression = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"BMP bpp={bpp} compression={compression} unsupported")
    h = abs(h_signed)  # negative height = top-down row order; mean is order-free
    stride = (3 * w + 3) // 4 * 4
    pix = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=pix_off)
    rows = pix.reshape(h, stride)[:, : 3 * w]  # strip row padding
    return w, h, float(rows.mean())


def _decode_ppm(b: bytes) -> tuple[int, int, float]:
    """P6 binary PPM; header is whitespace-separated with #-comments."""
    if b[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(b[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PPM unsupported")
    pix = np.frombuffer(b, dtype=np.uint8, count=3 * w * h, offset=pos)
    return w, h, float(pix.mean())


def _decode_wav(b: bytes) -> tuple[int, int, int, float]:
    """RIFF/WAVE chunk walk (fmt + data may be preceded/separated by
    other chunks); PCM16 only. Returns (channels, bits, n_samples,
    mean |amplitude|)."""
    import struct

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid, size = b[pos : pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, channels, _rate, _byte_rate, _align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(f"WAV format={audio_format} bits={bits} unsupported")
    samples = np.frombuffer(data, dtype="<i2")
    n = len(samples) // channels
    return channels, bits, n, float(np.abs(samples.astype(np.int64)).mean())


def decode_media(
    df: DataFrame,
    kind_filter: Literal["image", "audio", "video"] | None = None,
    on_unsupported: Literal["error", "skip"] = "error",
) -> DataFrame:
    """Decode payloads → feature rows via Arrow-batched mapInPandas.

    Real parse for BMP/PPM/WAV (pure numpy); compressed codecs
    (JPEG/PNG/MP4) raise NotImplementedError — or are dropped with
    ``on_unsupported="skip"``, the usual posture for a 100 TB corpus
    crawl where a fraction of payloads is always undecodable.
    """
    src = df if kind_filter is None else df.filter(F.col("kind") == kind_filter)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                b = bytes(payload)
                fmt = sniff_format(b)
                if fmt == "bmp":
                    w, h, mean = _decode_bmp(b)
                    vals = (w, h, 1, mean)
                elif fmt == "ppm":
                    w, h, mean = _decode_ppm(b)
                    vals = (w, h, 1, mean)
                elif fmt == "wav":
                    ch, bits, n, mean = _decode_wav(b)
                    vals = (ch, bits, n, mean)
                elif on_unsupported == "skip":
                    continue
                else:
                    raise NotImplementedError(
                        f"no codec for format {fmt!r} (media_id={int(media_id)}); "
                        "compressed formats need external libs absent here"
                    )
                rows.append(
                    {
                        "media_id": int(media_id),
                        "kind": kind,
                        "format": fmt,
                        "width": vals[0],
                        "height": vals[1],
                        "n_frames": vals[2],
                        "mean_intensity": vals[3],
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return src.select("media_id", "kind", "payload").mapInPandas(batches, FEATURE_SCHEMA)
