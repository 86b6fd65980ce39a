"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as `binary` columns with a
metadata struct; per-modality decode and feature extraction are
Arrow-batched UDFs over mapInPandas.

Decoders: PNG (pure stdlib — zlib inflate + per-scanline unfilter per
the public PNG spec, RFC 2083 §6) and WAV (stdlib ``wave``) decode for
real; JPEG/MP3 stay STUBBED behind `DecodeUnavailable` (no codec libs in
this container). The synthetic media fixture emits real PNG/WAV payloads
whose encoded parameters are closed-form functions of doc_id, so a
DuckDB oracle can verify decoded geometry/pixel sums/sample statistics
without itself decoding anything.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


class DecodeUnavailable(NotImplementedError):
    """Raised by stubbed modality decoders (no codec libs in this image)."""


def decode_image(payload: bytes) -> object:
    """Dispatch image decode by magic bytes: PNG decodes for real (pure
    stdlib); other formats (JPEG, ...) need codec libs absent here."""
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    raise DecodeUnavailable("non-PNG image decode requires a codec library (stubbed)")


def decode_audio(payload: bytes) -> object:
    """Dispatch audio decode by magic bytes: RIFF/WAVE decodes for real
    (stdlib ``wave``); compressed formats (MP3, ...) stay stubbed."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    raise DecodeUnavailable("non-WAV audio decode requires a codec library (stubbed)")


# --- PNG: deterministic synthesis + pure-stdlib decode ------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def png_dims(doc_id: int) -> tuple[int, int]:
    """The fixture's closed-form geometry (mirrored by the DuckDB oracle)."""
    return 4 + doc_id % 13, 3 + doc_id % 7


def synth_png(doc_id: int) -> bytes:
    """Deterministic tiny 8-bit grayscale PNG: pixel(x, y) =
    (doc_id + 7*y + x) % 256, scanline filter type (doc_id + y) % 5 —
    every PNG filter (None/Sub/Up/Average/Paeth) appears across the
    fixture, so a filter-reconstruction bug in the decoder shifts pixel
    sums and fails the oracle."""
    w, h = png_dims(doc_id)
    body = bytearray()
    prior = bytes(w)
    for y in range(h):
        row = bytes((doc_id + 7 * y + x) % 256 for x in range(w))
        ftype = (doc_id + y) % 5
        body.append(ftype)
        for x in range(w):
            left = row[x - 1] if x else 0
            up = prior[x]
            ul = prior[x - 1] if x else 0
            if ftype == 0:
                v = row[x]
            elif ftype == 1:
                v = row[x] - left
            elif ftype == 2:
                v = row[x] - up
            elif ftype == 3:
                v = row[x] - (left + up) // 2
            else:
                v = row[x] - _paeth(left, up, ul)
            body.append(v % 256)
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # gray, no interlace
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(body)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """Pure-stdlib PNG decode -> (width, height, ndarray[h, w] or
    [h, w, 3]). Supports 8-bit grayscale (color type 0) and truecolor
    (type 2), non-interlaced, all five scanline filters; CRCs verified.
    Anything else raises DecodeUnavailable."""
    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, b""
    while pos + 12 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", payload[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    if depth != 8 or ctype not in (0, 2) or interlace != 0:
        raise DecodeUnavailable(
            f"PNG depth={depth} color_type={ctype} interlace={interlace} unsupported"
        )
    bpp = 1 if ctype == 0 else 3
    stride = w * bpp
    raw = zlib.decompress(idat)
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG IDAT length mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        if ftype == 0:
            rec = line
        elif ftype == 2:
            rec = (line + prior) & 0xFF
        else:
            # Sub/Average/Paeth depend on the reconstructed left neighbor
            # -> sequential in x (rows here are tiny; a production decoder
            # is a native codec call anyway — see module docstring).
            rec = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                up = prior[x]
                ul = prior[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    rec[x] = (line[x] + left) & 0xFF
                elif ftype == 3:
                    rec[x] = (line[x] + (left + up) // 2) & 0xFF
                elif ftype == 4:
                    rec[x] = (line[x] + _paeth(int(left), int(up), int(ul))) & 0xFF
                else:
                    raise ValueError(f"PNG filter type {ftype} invalid")
        out[y] = rec
        prior = rec.astype(np.int32)
    return w, h, out if bpp == 1 else out.reshape(h, w, 3)


# --- WAV: deterministic synthesis + stdlib decode -----------------------


def wav_params(doc_id: int) -> tuple[int, int]:
    """(sample_rate, n_samples) — closed-form, mirrored by the oracle."""
    return 8000 + 100 * (doc_id % 5), 300 + doc_id % 100


def synth_wav(doc_id: int) -> bytes:
    """Deterministic 16-bit mono PCM WAV: sample(i) =
    ((doc_id*13 + i*7) % 4001) - 2000."""
    import numpy as np

    rate, n = wav_params(doc_id)
    i = np.arange(n, dtype=np.int64)
    samples = ((doc_id * 13 + i * 7) % 4001 - 2000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(samples.tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes):
    """Stdlib WAV decode -> (sample_rate, ndarray[int16]). 16-bit mono
    PCM only; other widths/channel counts raise DecodeUnavailable."""
    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as wf:
        if wf.getsampwidth() != 2 or wf.getnchannels() != 1:
            raise DecodeUnavailable(
                f"WAV sampwidth={wf.getsampwidth()} channels={wf.getnchannels()} unsupported"
            )
        rate = wf.getframerate()
        frames = wf.readframes(wf.getnframes())
    return rate, np.frombuffer(frames, dtype="<i2")


MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("payload", BinaryType(), False),
        StructField("mime", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("payload_sha", StringType(), False),
    ]
)


def media_table_from_documents(docs: DataFrame) -> DataFrame:
    """Build a media-shaped table from the documents fixture: payload =
    utf-8 bytes of text (opaque binary as far as the pipeline cares),
    metadata derived JVM-side."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("modality"),
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("payload_sha"),
    )


def media_table_with_codecs(docs: DataFrame) -> DataFrame:
    """Media table whose image/audio rows carry REAL encoded payloads
    (deterministic PNG/WAV synthesized from doc_id — no external data);
    video rows keep the opaque octet-stream payload. Payload generation
    is an Arrow-batched mapInPandas (per-item codec call, the same shape
    a real encoder has); n_bytes/sha stay JVM-side Column exprs."""
    gen_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("modality", StringType(), False),
            StructField("payload", BinaryType(), False),
            StructField("mime", StringType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                if d % 3 == 0:
                    rows.append((d, "image", synth_png(d), "image/png"))
                elif d % 3 == 1:
                    rows.append((d, "audio", synth_wav(d), "audio/wav"))
                else:
                    rows.append(
                        (d, "video", str(t).encode(), "application/octet-stream")
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "modality", "payload", "mime"]
            )

    base = docs.select("doc_id", "text").mapInPandas(gen, gen_schema)
    return base.withColumn(
        "n_bytes", F.octet_length("payload").cast("long")
    ).withColumn("payload_sha", F.sha2("payload", 256))


_DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_pixels", LongType(), True),
        StructField("pixel_sum", LongType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("sample_sq_sum", LongType(), True),
    ]
)


def decode_media_features(media: DataFrame) -> DataFrame:
    """Real decoded features per modality over the binary payload column:
    images -> geometry + exact pixel sum (proves inflate + unfilter),
    audio -> rate/length + exact sample square-sum (proves PCM decode),
    other mimes -> NULL feature fields (pass-through rows are visible,
    not dropped). Arrow-batched; decode is a per-item call (codec
    analog), statistics are numpy-vectorized."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            cols: dict[str, list] = {k.name: [] for k in _DECODED_SCHEMA.fields}
            for mid, mod, mime, payload in zip(
                pdf["media_id"], pdf["modality"], pdf["mime"], pdf["payload"]
            ):
                width = height = n_pixels = pixel_sum = None
                rate = n_samples = sq_sum = None
                p = bytes(payload)
                if mime == "image/png":
                    width, height, px = decode_png(p)
                    n_pixels = width * height
                    pixel_sum = int(px.sum(dtype=np.int64))
                elif mime == "audio/wav":
                    rate, samples = decode_wav(p)
                    n_samples = len(samples)
                    s64 = samples.astype(np.int64)
                    sq_sum = int((s64 * s64).sum())
                cols["media_id"].append(int(mid))
                cols["modality"].append(str(mod))
                cols["width"].append(width)
                cols["height"].append(height)
                cols["n_pixels"].append(n_pixels)
                cols["pixel_sum"].append(pixel_sum)
                cols["sample_rate"].append(rate)
                cols["n_samples"].append(n_samples)
                cols["sample_sq_sum"].append(sq_sum)
            # pandas nullable dtypes keep int columns integral through
            # Arrow (a plain list with Nones would silently become float64)
            yield pd.DataFrame(
                {
                    "media_id": pd.array(cols["media_id"], dtype="Int64"),
                    "modality": cols["modality"],
                    "width": pd.array(cols["width"], dtype="Int32"),
                    "height": pd.array(cols["height"], dtype="Int32"),
                    "n_pixels": pd.array(cols["n_pixels"], dtype="Int64"),
                    "pixel_sum": pd.array(cols["pixel_sum"], dtype="Int64"),
                    "sample_rate": pd.array(cols["sample_rate"], dtype="Int32"),
                    "n_samples": pd.array(cols["n_samples"], dtype="Int64"),
                    "sample_sq_sum": pd.array(cols["sample_sq_sum"], dtype="Int64"),
                }
            )

    return media.select("media_id", "modality", "mime", "payload").mapInPandas(
        run, _DECODED_SCHEMA
    )
