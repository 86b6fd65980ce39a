"""SimHash fuzzy matching: hamming-block candidate keys + JVM-side verify.

Pigeonhole keying: split the 64-bit simhash into `simhash_blocks` equal
blocks; any pair with hamming distance <= simhash_hamming_max (default 3
with 4 blocks) agrees on at least one whole block, so an equi-join per
block finds every such pair — the same shuffle pattern as LSH bands, and
the same hot-bucket star-edge fallback applies (block value 0 is a
classic hot key: short/empty docs).

Verification is F.bit_count(a XOR b) — pure JVM, no UDF.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..config import GDConfig
from .lsh import candidate_pairs

SIMHASH_BITS = 64  # minhash.simhash64 computes 64-bit fingerprints


def simhash_block_table(signatures: DataFrame, cfg: GDConfig, key_col: str = "doc_key") -> DataFrame:
    """(key, band_id, band_hash) where band_id = block index and band_hash =
    the block's bits — reuses the LSH bucket machinery verbatim."""
    nblocks = cfg.simhash_blocks
    width = SIMHASH_BITS // nblocks
    mask = (1 << width) - 1
    blocks = [
        F.struct(
            F.lit(i).alias("band_id"),
            F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(F.lit(mask)).alias("band_hash"),
        )
        for i in range(nblocks)
    ]
    return signatures.select(
        key_col, F.explode(F.array(*blocks)).alias("blk")
    ).select(key_col, F.col("blk.band_id").alias("band_id"), F.col("blk.band_hash").alias("band_hash"))


def simhash_edges(
    signatures: DataFrame,
    cfg: GDConfig,
    key_col: str = "doc_key",
) -> DataFrame:
    """-> (key_a, key_b, hamming, source='simhash') verified edges."""
    blocks = simhash_block_table(signatures, cfg, key_col)
    pairs = candidate_pairs(blocks, cfg, key_col)

    sim = signatures.select(key_col, "simhash")
    sim_a = sim.select(F.col(key_col).alias("key_a"), F.col("simhash").alias("sim_a"))
    sim_b = sim.select(F.col(key_col).alias("key_b"), F.col("simhash").alias("sim_b"))
    return (
        pairs.join(sim_a, "key_a")
        .join(sim_b, "key_b")
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= cfg.simhash_hamming_max)
        .select("key_a", "key_b", "hamming", F.lit("simhash").alias("source"))
    )
