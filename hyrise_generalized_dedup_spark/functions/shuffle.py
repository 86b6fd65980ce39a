"""Deterministic global corpus shuffle — training-order assignment.

The last step before serving a training corpus: a reproducible global
permutation (the terashuf job at cluster scale). Each document keys on
sha256(seed || doc_id); the first hex digit picks one of 16 coarse
buckets and a per-bucket row_number assigns the in-bucket rank, so the
total order (srv_bucket, srv_rank) is a seeded permutation that is
content-independent, partitioning-invariant, and identical across
engines and runs — rand()-based shuffling is none of those.

Scale shape: one hash-partitioned exchange on the bucket key + a
per-bucket sort (Spark's window sorts within partitions); no global
sort, no driver state. Bucket fan-out is the parallelism knob — at
10^12 docs raise n_buckets so per-bucket sorts fit an executor
(the two-hex-digit variant gives 256; the primitive is the same).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

_HEX = "0123456789abcdef"


def serving_offsets(
    docs: DataFrame,
    seed: str = "shuf",
    n_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Global position + token offset of every doc in the seeded
    training order — what a data loader needs to seek into the served
    stream without materializing it.

    Output, one row per doc: ``(doc_id, srv_bucket, srv_rank,
    srv_n_tokens, global_pos, global_token_offset)`` where
    ``global_pos`` is the 0-based doc index in the total order
    (iterate buckets ascending, ranks within) and
    ``global_token_offset`` is the sum of token counts of every
    earlier doc.

    Plan shape: one hash-partitioned exchange on the bucket key (the
    in-bucket rank and cumulative sums ride the window's sort), plus a
    16-row bucket census whose running totals give each bucket's base
    offsets — broadcast back. Content never enters the operator; the
    offsets are a pure function of (doc_id, n_tokens, seed), so a SQL
    oracle recomputes them exactly.
    """
    from .text import token_count

    if n_buckets < 1 or 16 % n_buckets:
        raise ValueError("n_buckets must divide 16 (one hex digit)")
    key = F.sha2(
        F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")), 256
    )
    bucket = (F.instr(F.lit(_HEX), F.substring(key, 1, 1)) - 1) % n_buckets
    keyed = docs.select(
        F.col(id_col).alias("doc_id"),
        key.alias("shuf_key"),
        bucket.cast("long").alias("srv_bucket"),
        F.coalesce(token_count(F.col(text_col)), F.lit(0))
        .cast("long")
        .alias("srv_n_tokens"),
    )
    w = Window.partitionBy("srv_bucket").orderBy("shuf_key", "doc_id")
    w_excl = w.rowsBetween(Window.unboundedPreceding, -1)
    ranked = keyed.select(
        "doc_id",
        "srv_bucket",
        "srv_n_tokens",
        F.row_number().over(w).cast("long").alias("srv_rank"),
        F.coalesce(F.sum("srv_n_tokens").over(w_excl), F.lit(0))
        .cast("long")
        .alias("_tok_in_bucket"),
    )
    census = keyed.groupBy("srv_bucket").agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("srv_n_tokens").cast("long").alias("_t"),
    )
    wb = Window.orderBy("srv_bucket").rowsBetween(Window.unboundedPreceding, -1)
    bases = census.select(
        "srv_bucket",
        F.coalesce(F.sum("_n").over(wb), F.lit(0)).cast("long").alias("_base_docs"),
        F.coalesce(F.sum("_t").over(wb), F.lit(0)).cast("long").alias("_base_toks"),
    )
    return ranked.join(F.broadcast(bases), "srv_bucket").select(
        "doc_id",
        "srv_bucket",
        "srv_rank",
        "srv_n_tokens",
        (F.col("_base_docs") + F.col("srv_rank") - 1).alias("global_pos"),
        (F.col("_base_toks") + F.col("_tok_in_bucket")).alias("global_token_offset"),
    )
