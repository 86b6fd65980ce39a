"""Generalized-dedup transform: fixed-size chunking -> base/deviation split.

Reference lineage (NOT a port — numpy/Arrow re-expression):
- chunking: the reference stores tables in fixed-size Chunks
  (src/lib/storage/chunk.hpp:32-53); here each *content blob* is chunked
  into fixed-size byte segments.
- base/deviation: the GD generalization of DictionaryEncoder
  (src/lib/storage/dictionary_segment/dictionary_encoder.hpp:61-88) —
  rows whose segments agree on the base dedupe into one base-table entry;
  the per-segment deviation payload reconstructs the original exactly.

Two split modes (config.gd_mode):
- "lowbits": base = segment bytes with the low `dev_bits` bits zeroed,
  deviation = the low bits bit-packed. Near-identical segments that
  differ only in low bits share a base. The round-trip invariant is
  decode(base, deviation) == segment, checked via sha256 per row.
- "prefix": base = first chunk_size - dev_bytes bytes, deviation = the
  tail. Exactly expressible in ANSI SQL (substring on BLOB), so the
  driver's DuckDB oracle can verify the whole distributed path.

Scale design: the transform is map-only (mapInPandas, zero shuffle);
`content` never travels past this stage — downstream stages carry only
(keys, base_fp, deviation), the ReferenceSegment/late-materialization
lesson (reference: src/lib/storage/reference_segment.hpp:19-20).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..config import GDConfig

# ---------------------------------------------------------------------------
# Pure-Python/numpy oracle encoder (the test oracle, and the kernel the
# pandas UDF applies per Arrow batch — one implementation, no drift).
# ---------------------------------------------------------------------------


def _pack_lowbits(vals: np.ndarray, dev_bits: int) -> bytes:
    """Bit-pack an array of dev_bits-wide values (MSB-first within a byte)."""
    if vals.size == 0:
        return b""
    bits = np.unpackbits(vals.astype(np.uint8)[:, None], axis=1, count=8)[:, 8 - dev_bits :]
    return np.packbits(bits.ravel()).tobytes()


def _unpack_lowbits(payload: bytes, n: int, dev_bits: int) -> np.ndarray:
    if n == 0:
        return np.zeros(0, np.uint8)
    bits = np.unpackbits(np.frombuffer(payload, np.uint8), count=n * dev_bits)
    bits = bits.reshape(n, dev_bits)
    full = np.zeros((n, 8), np.uint8)
    full[:, 8 - dev_bits :] = bits
    return np.packbits(full, axis=1).ravel()


def encode_segments(content: bytes, cfg: GDConfig) -> list[tuple[int, bytes, bytes, bytes]]:
    """Oracle encoder: content -> [(seg_idx, base, base_fp, deviation)].

    Deterministic, pure; empty content -> no segments."""
    out: list[tuple[int, bytes, bytes, bytes]] = []
    cs = cfg.chunk_size
    arr = np.frombuffer(content, np.uint8)
    for idx in range(0, (len(content) + cs - 1) // cs):
        seg = arr[idx * cs : (idx + 1) * cs]
        if cfg.gd_mode == "lowbits":
            mask = (1 << cfg.dev_bits) - 1
            base = (seg & np.uint8(0xFF ^ mask)).tobytes()
            deviation = _pack_lowbits(seg & np.uint8(mask), cfg.dev_bits)
        else:  # prefix
            split = max(cs - cfg.dev_bytes, 0)
            base = seg[:split].tobytes()
            deviation = seg[split:].tobytes()
        fp = hashlib.sha256(base).digest()[:16]
        out.append((idx, base, fp, deviation))
    return out


def decode_segments(
    segments: list[tuple[int, bytes, bytes]], cfg: GDConfig, total_len: int
) -> bytes:
    """Oracle decoder: [(seg_idx, base, deviation)] -> original content.

    total_len disambiguates the final short segment in lowbits mode
    (bit-packing pads to whole bytes)."""
    parts: dict[int, bytes] = {}
    for idx, base, deviation in segments:
        if cfg.gd_mode == "lowbits":
            n = len(base)
            low = _unpack_lowbits(deviation, n, cfg.dev_bits)
            seg = (np.frombuffer(base, np.uint8) | low).tobytes()
        else:
            seg = base + deviation
        parts[idx] = seg
    blob = b"".join(parts[i] for i in sorted(parts))
    return blob[:total_len]


# ---------------------------------------------------------------------------
# Spark stage
# ---------------------------------------------------------------------------

def segment_schema(key_fields: list[StructField]) -> StructType:
    return StructType(
        key_fields
        + [
            StructField("seg_idx", LongType(), False),
            StructField("base_fp", BinaryType(), False),
            StructField("base", BinaryType(), False),
            StructField("deviation", BinaryType(), False),
            StructField("seg_len", IntegerType(), False),
            StructField("content_len", LongType(), False),
            StructField("content_sha", BinaryType(), False),
        ]
    )


def gd_segments(
    df: DataFrame,
    cfg: GDConfig,
    content_col: str = "content",
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    keep_base: bool = True,
) -> DataFrame:
    """content rows -> one row per fixed-size segment (FIXTURES.md F2).

    Map-only: mapInPandas over Arrow batches, numpy kernel per row blob,
    no shuffle, content dropped from the output unless inside `base`."""
    key_fields = [df.schema[k] for k in key_cols]
    out_schema = segment_schema(list(key_fields))
    drop_base = not keep_base

    cs = cfg.chunk_size
    lowbits = cfg.gd_mode == "lowbits"
    mask = (1 << cfg.dev_bits) - 1
    split_at = max(cs - cfg.dev_bytes, 0)
    dev_bits = cfg.dev_bits

    def transform(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Batch-vectorized kernel: one numpy pass over the concatenation of
        # all blobs in the Arrow batch (per-file-per-segment Python loops
        # are superlinear on MB-size files; only the sha256 fingerprint
        # loop remains per-segment, and that's C-speed hashlib).
        for pdf in batches:
            blobs = [(t or "").encode("utf-8") for t in pdf[content_col]]
            n_segs = np.array([(len(b) + cs - 1) // cs for b in blobs], dtype=np.int64)
            total = int(n_segs.sum())
            if total == 0:
                yield pd.DataFrame({f.name: [] for f in out_schema.fields})
                continue
            shas = [hashlib.sha256(b).digest() for b in blobs]
            seg_idx = np.concatenate([np.arange(n) for n in n_segs if n])
            lens = np.array([len(b) for b in blobs], dtype=np.int64)
            rep = np.repeat(np.arange(len(blobs)), n_segs)
            seg_len = np.minimum(cs, lens[rep] - seg_idx * cs).astype(np.int32)

            # fast path: cs*dev_bits divisible by 8 -> a full segment's
            # packed deviation is exactly cs*dev_bits//8 bytes, so the whole
            # blob packs in ONE numpy call and full segments slice out of it
            whole_seg_pack = lowbits and (cs * dev_bits) % 8 == 0
            dev_stride = (cs * dev_bits) // 8 if lowbits else 0

            bases: list[bytes] = []
            fps: list[bytes] = []
            devs: list[bytes] = []
            for b in blobs:
                arr = np.frombuffer(b, np.uint8)
                n_full, tail = divmod(len(b), cs)
                if lowbits:
                    base_blob = (arr & np.uint8(0xFF ^ mask)).tobytes()
                    low_all = arr & np.uint8(mask)
                    if whole_seg_pack:
                        packed = _pack_lowbits(low_all[: n_full * cs], dev_bits)
                else:
                    base_blob = b
                for i in range((len(b) + cs - 1) // cs):
                    if lowbits:
                        base_bytes = base_blob[i * cs : (i + 1) * cs]
                        if whole_seg_pack and i < n_full:
                            dev = packed[i * dev_stride : (i + 1) * dev_stride]
                        else:
                            dev = _pack_lowbits(low_all[i * cs : (i + 1) * cs], dev_bits)
                    else:
                        seg = base_blob[i * cs : (i + 1) * cs]
                        base_bytes = seg[:split_at]
                        dev = seg[split_at:cs]
                    bases.append(base_bytes)
                    fps.append(hashlib.sha256(base_bytes).digest()[:16])
                    devs.append(dev)

            out = {}
            for k in key_cols:
                out[k] = pdf[k].to_numpy()[rep]
            out["seg_idx"] = seg_idx
            out["base_fp"] = fps
            out["base"] = [b""] * total if drop_base else bases
            out["deviation"] = devs
            out["seg_len"] = seg_len
            out["content_len"] = lens[rep]
            out["content_sha"] = [shas[i] for i in rep]
            yield pd.DataFrame(out)

    return df.select(*key_cols, content_col).mapInPandas(transform, out_schema)


def dedup_stats(segments: DataFrame) -> DataFrame:
    """Corpus-level dedup metrics (memory-accounting analog:
    AbstractSegment::memory_usage / MemoryUsageCalculationMode,
    src/lib/types.hpp:231). ``dedup_ratio`` is NULL when there are no
    segments, as DuckDB's ``x / 0`` is."""
    return segments.agg(
        F.count(F.lit(1)).alias("total_segments"),
        F.countDistinct("base_fp").alias("distinct_bases"),
        F.sum(F.col("seg_len").cast("long")).alias("total_bytes"),
        F.sum(F.length("deviation").cast("long")).alias("deviation_bytes"),
        (F.lit(1.0) - F.try_divide(F.countDistinct("base_fp"), F.count(F.lit(1)))).alias(
            "dedup_ratio"
        ),
    )
