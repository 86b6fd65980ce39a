"""Sequence packing: greedy assembly of documents into fixed-capacity
training contexts.

The last step of an LLM data pipeline before tokenized examples are
served: short documents are concatenated ("packed") into contexts of a
fixed token capacity so attention windows aren't wasted on padding.
The industry-standard algorithm is GREEDY SEQUENTIAL packing — walk the
documents in a deterministic order, append each to the current context
while it fits, otherwise seal the context and start a new one. Greedy
packing is inherently sequential (each decision depends on every prior
one), which is exactly the kind of operator a naive Spark port gets
wrong: a global ordering would serialize 100 TB through one task.

Scale shape: packing is SHARD-LOCAL. Documents are hashed into
``n_shards`` deterministic shards (md5-based, reproducible outside Spark
— same trick as functions/split.py), each shard is packed independently
inside one ``applyInPandas`` group, and pack ids are namespaced per
shard. One hash exchange on the shard key is the only shuffle; the
sequential walk runs vectorized per shard (a numpy ``searchsorted`` per
PACK — O(total_tokens / capacity) python-level iterations, not one per
row — over the shard's token cumsum). At 10^12 documents you raise
``n_shards`` so a shard's (doc_id, n_tokens) pairs fit an executor
comfortably: the walk needs two int64 arrays, so even 10^8 docs/shard
is ~1.6 GB — content itself never enters the operator.

Determinism: the pack assignment is a pure function of
(doc_id, n_tokens, capacity, n_shards, salt) — independent of
partitioning, parallelism, and input order, so the driver's DuckDB
oracle recomputes it exactly with a recursive CTE (see
``queries.text_seq_packing``).

Exact greedy semantics (per shard, docs in doc_id order):

- the first doc opens pack 0 at offset 0, ``acc = t`` (its token count
  — even when ``t > capacity``: an oversize doc occupies a pack alone);
- each next doc joins the current pack at ``offset = acc`` when
  ``acc + t <= capacity``, else opens the next pack at offset 0.

Zero-token docs join whatever pack is open (they never overflow it)
except directly after an oversize doc, whose ``acc`` already exceeds
the capacity — the zero-token doc then opens the next pack. Degenerate
but well-defined, and the oracle mirrors it by construction.

Reference scope note: the reference engine (C++ Hyrise fork) has no
packing stage — this module is part of the training-data-pipeline
surface layered on the dedup outputs (SURVEY.md LLM-ops section),
downstream of `functions/split.py` in the serving journey.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import token_count

DEFAULT_CAPACITY = 2048
DEFAULT_N_SHARDS = 64
DEFAULT_SALT = "gd-pack-v1"

# Key/salt separator — same injectivity argument as functions/split.py.
_SEP = "\x1f"
_HEX_DIGITS = 12


def pack_shard(key: Column, n_shards: int = DEFAULT_N_SHARDS,
               salt: str = DEFAULT_SALT) -> Column:
    """Deterministic uniform shard in [0, n_shards) from the doc key."""
    h = F.md5(F.concat(key.cast("string"), F.lit(_SEP + salt)))
    return (
        F.conv(F.substring(h, 1, _HEX_DIGITS), 16, 10).cast("long") % n_shards
    )


def pack_shard_oracle_sql(key_sql: str, n_shards: int = DEFAULT_N_SHARDS,
                          salt: str = DEFAULT_SALT) -> str:
    """The DuckDB expression computing the identical shard value."""
    return (
        f"('0x' || substr(md5(CAST({key_sql} AS STRING) || chr(31) || "
        f"'{salt}'), 1, {_HEX_DIGITS}))::BIGINT % {n_shards}"
    )


def greedy_pack(tokens: np.ndarray, capacity: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized greedy sequential packing of one shard.

    ``tokens`` is the int64 token count per doc IN PACKING ORDER.
    Returns (pack_id, pack_offset) int64 arrays. The walk advances one
    PACK per python iteration via searchsorted on the cumsum — identical
    output to the row-at-a-time greedy loop, at O(n_packs) loop cost.
    """
    n = tokens.size
    if n == 0:
        z = np.zeros(0, np.int64)
        return z, z
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    if int(tokens.min()) < 0:
        raise ValueError("negative token count")
    cs = np.cumsum(tokens)
    starts = []
    i = 0
    base = 0
    while i < n:
        starts.append(i)
        # last doc of this pack: largest j with cs[j-1] - base <= capacity;
        # an oversize first doc (cs[i] - base > capacity) still takes one.
        j = int(np.searchsorted(cs, base + capacity, side="right"))
        if j <= i:
            j = i + 1
        base = int(cs[j - 1])
        i = j
    starts_arr = np.asarray(starts, dtype=np.int64)
    pack_id = np.searchsorted(starts_arr, np.arange(n), side="right") - 1
    cs0 = np.concatenate((np.zeros(1, np.int64), cs))  # cs0[k] = sum(<k)
    pack_base = cs0[starts_arr][pack_id]
    offset = cs0[:-1] - pack_base
    return pack_id.astype(np.int64), offset.astype(np.int64)


def pack_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    capacity: int = DEFAULT_CAPACITY,
    n_shards: int = DEFAULT_N_SHARDS,
    salt: str = DEFAULT_SALT,
) -> DataFrame:
    """Per-document pack assignment table.

    Output, one row per input document:

    - ``pack_shard``    BIGINT  deterministic md5 shard of the doc id
    - ``pack_n_tokens`` BIGINT  whitespace token count (packing weight)
    - ``pack_id``       BIGINT  0-based pack index WITHIN the shard
    - ``pack_offset``   BIGINT  token offset of the doc inside its pack

    One exchange on the shard key; the walk itself is shard-local (see
    module docstring for the scale argument).
    """
    weighted = docs.select(
        F.col(id_col).alias("doc_id"),
        pack_shard(F.col(id_col), n_shards, salt).alias("pack_shard"),
        F.coalesce(token_count(F.col(text_col)), F.lit(0))
        .cast("long")
        .alias("pack_n_tokens"),
    )

    schema = (
        "doc_id long, pack_shard long, pack_n_tokens long, "
        "pack_id long, pack_offset long"
    )

    def pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
        t = pdf["pack_n_tokens"].to_numpy(np.int64)
        pack_id, offset = greedy_pack(t, capacity)
        pdf["pack_id"] = pack_id
        pdf["pack_offset"] = offset
        return pdf

    return weighted.groupBy("pack_shard").applyInPandas(pack_group, schema)


def pack_census(packed: DataFrame, capacity: int = DEFAULT_CAPACITY) -> DataFrame:
    """Per-pack fill census over :func:`pack_table` output: docs per
    pack, token fill, padding waste (0 for oversize single-doc packs),
    and the oversize flag. Aggregates on (pack_shard, pack_id) — the
    exchange can reuse the packing partitioning (pack_shard prefix)."""
    return (
        packed.groupBy("pack_shard", "pack_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("pack_n_tokens").cast("long").alias("fill_tokens"),
        )
        .select(
            "pack_shard",
            "pack_id",
            "n_docs",
            "fill_tokens",
            F.greatest(F.lit(capacity) - F.col("fill_tokens"), F.lit(0))
            .cast("long")
            .alias("waste_tokens"),
            (F.col("fill_tokens") > capacity).alias("oversize"),
        )
    )


# --- Sliding-window chunking (the dual of packing) --------------------------
#
# Packing assembles SHORT docs into fixed-capacity contexts; chunking
# splits LONG docs into stride-overlapped windows so no document is
# truncated at the context boundary (the standard LM data-prep rule:
# window W, stride S < W, the last window may be short). Pure Column
# arithmetic over the whitespace token count — the chunk table is an
# integer function of (doc_id, n_tokens, W, S), so a DuckDB oracle
# recomputes every row bit-for-bit and the explode is map-side work in
# the scan stage at any corpus size.

DEFAULT_CHUNK_WINDOW = 128
DEFAULT_CHUNK_STRIDE = 96


def chunk_windows(
    docs: DataFrame,
    window: int = DEFAULT_CHUNK_WINDOW,
    stride: int = DEFAULT_CHUNK_STRIDE,
    text_col: str = "text",
) -> DataFrame:
    """One row per (doc, window): ``(doc_id, chunk_id, chunk_start,
    chunk_len)`` where chunk_id counts from 0, chunk_start is the token
    offset ``chunk_id * stride``, and chunk_len = min(window, n_tokens -
    chunk_start). Empty docs produce no rows. The window count is
    ``1 + max(0, ceil((n - window) / stride))`` — every token is covered
    and no window starts at or past the end."""
    if not (0 < stride <= window):
        raise ValueError(f"need 0 < stride <= window, got {stride}/{window}")
    from .text import token_count

    n = token_count(F.col(text_col)).cast("long")
    base = docs.select("doc_id", n.alias("n_tokens")).where(F.col("n_tokens") > 0)
    extra = F.floor(
        (F.col("n_tokens") - F.lit(window) + F.lit(stride) - 1) / F.lit(stride)
    ).cast("long")
    k_max = F.greatest(extra, F.lit(0))
    return (
        base.select(
            "doc_id",
            "n_tokens",
            F.explode(F.sequence(F.lit(0), k_max)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            (F.col("chunk_id") * stride).cast("long").alias("chunk_start"),
            F.least(
                F.lit(window).cast("long"),
                F.col("n_tokens") - F.col("chunk_id") * stride,
            ).alias("chunk_len"),
        )
    )


def chunk_census(
    docs: DataFrame,
    window: int = DEFAULT_CHUNK_WINDOW,
    stride: int = DEFAULT_CHUNK_STRIDE,
    text_col: str = "text",
) -> DataFrame:
    """Per-doc chunking rollup: ``(doc_id, n_chunks, chunk_cov_tokens,
    last_chunk_len)`` — window count, total tokens across windows
    (n_tokens + overlap double-count), and the short-tail length. Every
    input doc gets a row (zeros for empty docs)."""
    ch = chunk_windows(docs, window, stride, text_col)
    agg = ch.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("chunk_len").cast("long").alias("chunk_cov_tokens"),
        F.max_by("chunk_len", "chunk_id").cast("long").alias("last_chunk_len"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("chunk_cov_tokens", F.lit(0)).cast("long").alias(
                "chunk_cov_tokens"
            ),
            F.coalesce("last_chunk_len", F.lit(0)).cast("long").alias(
                "last_chunk_len"
            ),
        )
    )
