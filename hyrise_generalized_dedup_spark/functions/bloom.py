"""Broadcast-Bloom decontamination: membership at bits-per-gram cost.

`decontaminate_table` (queries.py) broadcasts the eval split's distinct
5-gram STRINGS and probes with a broadcast-hash join — right shape, but
the broadcast payload grows with the benchmark suite's text. This
variant compresses the eval-gram set into a Bloom bit array
(``bits_per_gram`` bits each, default 16 -> ~0.24% false-positive rate
at k=4), so a suite of 100M grams broadcasts as ~200 MB of bits instead
of multi-GB of strings, and the probe is pure bit math.

Hashing is split across the engines to keep every hot path vectorized:
- gram -> (h1, h2) runs JVM-side (`F.xxhash64`, whole-stage codegen);
- build collects only the eval grams' two int64 hashes (16 bytes/gram,
  never the strings) and sets bits in one numpy pass;
- probe is an Arrow-batched pandas UDF over the two hash columns —
  index math + bit tests vectorized in numpy, zero per-row Python.

Contract (tested): NO false negatives — every document the exact path
flags is flagged here; false positives are bounded by the standard
(1 - e^{-kn/m})^k Bloom rate. Same double-hashing scheme both sides:
bit index_i = (h1 + i*h2) mod m, Kirsch-Mitzenmacher construction
(public result; "Less hashing, same performance", 2006).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import BooleanType

from . import text as T

# second xxhash64 stream: a fixed domain-separation suffix (xxhash64's
# seed is not exposed in the SQL surface)
_H2_SALT = "\x01bloom2"

# driver-side collect guard: 16 bytes/gram -> 1.6 GB at the cap. Eval
# suites are benchmark-sized; a "suite" beyond this is a corpus, and the
# exact join path (or a distributed bloom build) is the right tool.
MAX_EVAL_GRAMS = 100_000_000


def _hash_cols(gram: F.Column) -> tuple[F.Column, F.Column]:
    return F.xxhash64(gram), F.xxhash64(F.concat(gram, F.lit(_H2_SALT)))


def _bit_indices(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n, k) uint64 bit positions via double hashing."""
    h1 = h1.astype(np.uint64)
    h2 = h2.astype(np.uint64)
    ks = np.arange(k, dtype=np.uint64)[None, :]
    return (h1[:, None] + ks * h2[:, None]) % np.uint64(m)


def build_bloom_bits(
    h1: np.ndarray, h2: np.ndarray, bits_per_gram: int, k_hashes: int
) -> tuple[bytes, int]:
    """Packed bit array (bytes, n_bits) covering the given gram hashes."""
    n = max(len(h1), 1)
    m = max(int(n * bits_per_gram), 64)
    bits = np.zeros(m, dtype=bool)
    if len(h1):
        bits[_bit_indices(h1, h2, k_hashes, m).ravel()] = True
    return np.packbits(bits).tobytes(), m


def decontaminate_table_bloom(
    docs: DataFrame,
    n: int = 5,
    bits_per_gram: int = 16,
    k_hashes: int = 4,
) -> DataFrame:
    """Approximate twin of `decontaminate_table` over (doc_id, text,
    is_eval): same output schema, `n_hit_grams` is an upper bound and
    `contaminated` has no false negatives.

    Scale: eval grams cross the wire once as 2x int64 (driver build,
    capped at MAX_EVAL_GRAMS); the corpus side is map work inside the
    scan stage (explode -> xxhash64 -> vectorized bit probe) plus the
    same per-doc partial aggregation as the exact path. Document
    content never shuffles, and nothing string-valued is broadcast."""
    spark = docs.sparkSession
    # token split projected separately so the gram lambda slices a
    # materialized array (one split per doc, not per gram — text.tokens_lower)
    per_doc = docs.select(
        "doc_id", "is_eval", T.tokens_lower(F.col("text")).alias("toks")
    ).select(
        "doc_id", "is_eval", T.ngrams_of_tokens(F.col("toks"), n).alias("grams")
    )
    h1c, h2c = _hash_cols(F.col("gram"))
    eval_hashes = (
        per_doc.filter("is_eval")
        .select(F.explode("grams").alias("gram"))
        .distinct()
        .select(h1c.alias("h1"), h2c.alias("h2"))
    )
    # One evaluation of the eval subtree, with the collect bounded: one
    # row past the cap is enough to know the cap is exceeded, so the
    # driver never holds more than MAX_EVAL_GRAMS + 1 grams.
    pdf = eval_hashes.limit(MAX_EVAL_GRAMS + 1).toPandas()
    if len(pdf) > MAX_EVAL_GRAMS:
        raise ValueError(
            f"eval split has more than MAX_EVAL_GRAMS ({MAX_EVAL_GRAMS}) "
            f"distinct grams (collect stopped at {len(pdf)}); use the exact "
            f"decontaminate_table join"
        )
    packed, m = build_bloom_bits(
        pdf["h1"].to_numpy(np.int64),
        pdf["h2"].to_numpy(np.int64),
        bits_per_gram,
        k_hashes,
    )
    bloom_bc = spark.sparkContext.broadcast(packed)
    k = k_hashes

    @F.pandas_udf(BooleanType())
    def bloom_hit(h1: pd.Series, h2: pd.Series) -> pd.Series:
        arr = np.frombuffer(bloom_bc.value, dtype=np.uint8)
        idx = _bit_indices(h1.to_numpy(np.int64), h2.to_numpy(np.int64), k, m)
        # np.packbits is MSB-first: bit j lives at byte j>>3, position 7-(j&7)
        shift = (np.uint64(7) - (idx & np.uint64(7))).astype(np.uint8)
        hit = (arr[(idx >> np.uint64(3)).astype(np.int64)] >> shift) & 1
        return pd.Series(hit.all(axis=1))

    exploded = per_doc.select(
        "doc_id", "is_eval", F.explode_outer("grams").alias("gram")
    )
    flagged = exploded.withColumn(
        "hit",
        F.when(F.col("gram").isNull(), F.lit(None).cast("int")).otherwise(
            bloom_hit(h1c, h2c).cast("int")
        ),
    )
    return (
        flagged.groupBy("doc_id", "is_eval")
        .agg(
            F.count("gram").alias("n_grams5"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit_grams"),
        )
        .select(
            "doc_id",
            F.col("is_eval").cast("int").alias("is_eval"),
            F.col("n_grams5").cast("long").alias("n_grams5"),
            F.col("n_hit_grams").cast("long").alias("n_hit_grams"),
            (~F.col("is_eval") & (F.col("n_hit_grams") > 0))
            .cast("int")
            .alias("contaminated"),
        )
    )
