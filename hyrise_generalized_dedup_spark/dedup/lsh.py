"""LSH candidate generation with explicit hot-bucket (skew) handling.

The north rule demands explicit shuffle/skew management: a vendored
library duplicated across 20% of repos puts millions of documents in ONE
(band_id, band_hash) bucket; a naive self-join on that key is O(m^2)
pairs in one task — the exact failure mode AQE alone cannot fix (AQE
splits partitions, not a single key's quadratic output).

Strategy (reference analog: the radix-partition sizing logic inside
JoinHash, join_hash.cpp:58-80, is the single-node version of "make each
build side fit" — here we bound per-bucket join output instead):

1. band table: posexplode of the per-doc band-hash array (JVM-side).
2. bucket census: groupBy(band_id, band_hash) -> (count, min key) —
   map-side partial agg, cheap — joined back to the band table. Buckets
   with count > hot_band_threshold are "hot".
3. cold buckets: hash self-join on (band_id, band_hash) with key_a < key_b
   -> all candidate pairs (the LSH semantics).
4. hot buckets: star edges — every member pairs with the census's
   bucket-min key -> O(m) edges, cluster-equivalent to the O(m^2) clique
   for connected components, diameter 2 instead of 1.

The candidate table is one plan with no cache (candidate_pairs).

Verification (verified_edges) estimates Jaccard from the signatures in a
numpy kernel over Arrow batches (mapInPandas): per batch, the pair keys
gather their signature rows from an mmapped sideboard and compare all
num_hashes positions at once.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..config import GDConfig
from ..session import scratch_dir

# worker-side cache of mmapped signature sideboards (one np.load per
# worker process per sideboard; the mmap itself is shared page cache)
_SIDEBOARD_CACHE: dict = {}

def _load_sideboard(kname: str, mname: str):
    import numpy as np
    from pyspark import SparkFiles

    key = (kname, mname)
    if key not in _SIDEBOARD_CACHE:
        # Reused python worker processes would otherwise accumulate one
        # open mmap pair per verified_edges invocation for the life of
        # the worker (fd + address-space leak across repeated pipeline
        # runs in one session). Prior sideboards are never re-read —
        # keep only the current one.
        _SIDEBOARD_CACHE.clear()
        _SIDEBOARD_CACHE[key] = (
            np.load(SparkFiles.get(kname), mmap_mode="r"),
            np.load(SparkFiles.get(mname), mmap_mode="r"),
        )
    return _SIDEBOARD_CACHE[key]


def _gather(k, wanted):
    import numpy as np

    ix = np.clip(np.searchsorted(k, wanted), 0, max(len(k) - 1, 0))
    if len(k) == 0 or not np.all(k[ix] == wanted):
        raise ValueError("candidate pair references unknown signature key")
    return ix


def band_table(signatures: DataFrame, key_col: str = "doc_key") -> DataFrame:
    """(key, band_id, band_hash) — one row per doc per band."""
    return signatures.select(
        key_col, F.posexplode("band").alias("band_id", "band_hash")
    )


def _heap_bytes(spark) -> int:
    """Configured JVM heap in bytes (local mode: the driver IS the one
    executor JVM, so spark.driver.memory is the binding limit)."""
    raw = str(spark.conf.get("spark.driver.memory", "1g")).strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if raw and raw[-1] in mult:
        return int(float(raw[:-1]) * mult[raw[-1]])
    return int(raw)


def candidate_pairs(
    bands: DataFrame,
    cfg: GDConfig,
    key_col: str = "doc_key",
) -> DataFrame:
    """-> (key_a, key_b, n_shared_bands, is_star) candidate pairs, skew-safe.

    Census shape matters at 10^12 rows: a window over
    (band_id, band_hash) would materialize every bucket inside a single
    task — a 100M-member hot bucket is one straggler. Instead the census
    is a groupBy (map-side partial aggregation combines each bucket's
    rows inside every upstream partition first — the built-in equivalent
    of salting the hot key across partitions) joined back to the band
    table; AQE skew-join splits the join's hot side if one bucket
    dominates a partition.

    Nothing is cached, so nothing outlives the caller's action. The three
    reads of the annotated table share one plan, where Spark writes the
    band-table exchange once and the count census once for both sides of
    the cold self-join; column pruning gives the hot branch its own
    census, the one that also carries the bucket minimum."""
    census = bands.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("bucket_n"),
        F.min(key_col).alias("bucket_min"),
    )
    annotated = bands.join(census, ["band_id", "band_hash"])

    cold = annotated.filter(F.col("bucket_n") <= cfg.hot_band_threshold)
    a = cold.select("band_id", "band_hash", F.col(key_col).alias("key_a"))
    b = cold.select("band_id", "band_hash", F.col(key_col).alias("key_b"))
    cold_pairs = a.join(b, ["band_id", "band_hash"]).filter(F.col("key_a") < F.col("key_b"))

    # hot: star edges to the bucket minimum (O(m) per bucket instead of the
    # O(m^2) clique). Star pairs are TAGGED so downstream verification can
    # treat them differently: a star edge member-to-min may estimate below
    # the strict threshold even when members are mutually similar, so
    # filtering stars like ordinary pairs would silently cut connectivity
    # (recall loss under skew). See verified_edges / pipeline for how the
    # tag is consumed; the residual approximation is documented there.
    hot_pairs = (
        annotated.filter(
            (F.col("bucket_n") > cfg.hot_band_threshold)
            & (F.col(key_col) != F.col("bucket_min"))
        )
        .select(F.col("bucket_min").alias("key_a"), F.col(key_col).alias("key_b"))
        .withColumn("is_star", F.lit(1))
    )

    return (
        cold_pairs.select("key_a", "key_b")
        .withColumn("is_star", F.lit(0))
        .unionByName(hot_pairs)
        .groupBy("key_a", "key_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_bands"),
            F.max("is_star").alias("is_star"),
        )
    )


def verified_edges(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: GDConfig,
    key_col: str = "doc_key",
    margin: float = 0.1,
    broadcast_sigs: bool | None = None,
    n_sigs: int | None = None,
) -> DataFrame:
    """Attach signature-estimated Jaccard; keep pairs >= threshold - margin.

    The margin compensates 128-hash estimation noise so pairs whose TRUE
    Jaccard clears the threshold aren't dropped by a noisy estimate
    (recall >= 0.99 gate; precision is reported, not gated).

    Scale shape: LSH near threshold floods candidates (most sharing one
    band), so verification must be stream-cheap. When the signature table
    fits the broadcast budget the pair table never shuffles OR carries
    signatures: the signature matrix is collected once, sorted by key,
    and broadcast to the Python workers as ONE numpy block; the pair
    stream stays (key_a, key_b, is_star) = 17 bytes/row through Arrow and
    each batch gathers its rows via searchsorted. (The previous design —
    two JVM broadcast hash joins feeding sig_a/sig_b into the kernel —
    built the broadcast hashmap TWICE, Catalyst does not ReuseExchange
    across the different aliases, and shipped ~1 KB of signature per pair
    through Arrow; both costs are serial-ish and dragged the edges stage
    to 2.6x of the ideal 4x in the 2->8 scaling eval.) The 128-way
    compare stays a numpy kernel — a JVM higher-order function here
    allocates an intermediate array per pair and GC-thrashes at high core
    counts (measured anti-scaling). Beyond broadcast scale, pass
    broadcast_sigs=False for shuffled joins on compact int keys.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    sig = signatures.select(key_col, "minhash")
    if broadcast_sigs is None:
        # Budget derived from the CONFIGURED heap, not a constant: the
        # signature table is broadcast TWICE (sig_a and sig_b are
        # separate broadcast relations) and a deserialized broadcast
        # hashmap carries a few x of object overhead over the raw
        # payload, so the per-relation payload estimate is capped at
        # heap/16 (2 relations x ~4x overhead = ~heap/2 worst case —
        # thrash-free instead of OOM when someone shrinks the heap).
        # Measured: the shuffled fallback costs 3-10x wall on the edges
        # stage, so the budget is still heap-sized rather than Spark's
        # conservative 10MB default. 8g heap -> 512MiB -> ~1M docs at
        # 128 hashes; beyond, the shuffled path takes over — the correct
        # 10^12 design. Callers that already know the corpus size pass
        # n_sigs so this doesn't cost an extra count job per invocation.
        rows = n_sigs if n_sigs is not None else sig.count()
        budget = _heap_bytes(signatures.sparkSession) // 16
        broadcast_sigs = rows * (4 * cfg.num_hashes + 32) < budget
    has_star = "is_star" in pairs.columns
    star_col = F.col("is_star") if has_star else F.lit(0).alias("is_star")
    key_t = pairs.schema["key_a"].dataType
    out_schema = StructType(
        [
            StructField("key_a", key_t, False),
            StructField("key_b", key_t, False),
            StructField("jaccard_est", DoubleType(), False),
            StructField("source", StringType(), False),
        ]
    )
    keep = cfg.jaccard_threshold - margin
    # Star edges (hot-bucket member -> bucket_min) get a RELAXED floor
    # rather than a bypass: a member-to-min estimate may legitimately sit
    # below the strict threshold when members are mutually similar but
    # not to the min (so the full `keep` floor would cut connectivity),
    # yet a lone doc that collided on ONE band with a vendored-library
    # bucket estimates near zero and must not be merged (precision). The
    # floor is star_floor_frac x threshold; kept stars stay tagged
    # 'lsh_star' so clustering consumers see which edges are
    # clique-approximations, and the pipeline summary reports
    # kept/dropped star counts for auditability.
    star_floor = cfg.jaccard_threshold * cfg.star_floor_frac
    nh = cfg.num_hashes

    def _emit(key_a, key_b, est, star):
        m = (est >= keep) | (star & (est >= star_floor))
        if not m.any():
            return None
        return pd.DataFrame(
            {
                "key_a": key_a[m],
                "key_b": key_b[m],
                "jaccard_est": est[m],
                "source": np.where(star[m], "lsh_star", "lsh"),
            }
        )

    if broadcast_sigs:
        # One driver collect of (key, minhash) -> sorted numpy block,
        # shipped to the workers as an mmapped .npy SIDEBOARD via
        # SparkFiles, gathered per batch via searchsorted. Arrow collect
        # keeps the signature matrix flat: list<int32> values reshape to
        # (n, nh) without materializing 10^6 python row objects (toPandas
        # + vstack measured ~10x slower at 10^6 signatures).
        #
        # Why a file and not sc.broadcast: a pickle broadcast of a ~1 GiB
        # numpy tuple is written serially by the driver and UNPICKLED
        # ONCE PER WORKER PROCESS — at 8 workers that is 8 resident
        # copies plus ~2 min of aggregate deserialization billed to the
        # edges stage (measured at 2M docs: edges wall 230 s of which the
        # sideboard fix removes most of the fixed cost). SparkFiles ships
        # the file to every executor node once; np.load(mmap_mode="r")
        # maps it zero-copy, the page cache shares ONE physical copy
        # across all workers on the node, and fancy-indexed gathers copy
        # only the batch's rows. On a real multi-node cluster addFile
        # distributes via the driver's file server and executors fetch
        # LAZILY from the original path, so any recompute of the edges
        # lineage (task retry, executor loss) needs the source files: they
        # stay under the scratch root until interpreter exit, on every
        # master.
        import uuid

        at = sig.toArrow().combine_chunks()
        skeys = at[key_col].to_numpy(zero_copy_only=False)  # int64 or str
        if len(at) == 0:
            smat = np.empty((0, nh), dtype=np.int32)
        else:
            mh = at["minhash"]
            mh = mh.chunk(0) if hasattr(mh, "chunk") else mh
            smat = mh.flatten().to_numpy(zero_copy_only=False).reshape(len(at), nh)
        if skeys.dtype == object:  # string keys -> fixed-width (mmap-able)
            skeys = skeys.astype(str)
        order = np.argsort(skeys, kind="stable")
        sc = signatures.sparkSession.sparkContext
        tag = uuid.uuid4().hex[:12]
        kname, mname = f"gd_sidekeys_{tag}.npy", f"gd_sidemat_{tag}.npy"
        tmp = scratch_dir("gd_sideboard")
        np.save(os.path.join(tmp, kname), skeys[order], allow_pickle=False)
        np.save(
            os.path.join(tmp, mname),
            np.ascontiguousarray(smat[order]),
            allow_pickle=False,
        )
        sc.addFile(os.path.join(tmp, kname))
        sc.addFile(os.path.join(tmp, mname))

        def verify_gather(batches):
            k, m_block = _load_sideboard(kname, mname)
            for pdf in batches:
                if not len(pdf):
                    continue
                ka = pdf["key_a"].to_numpy()
                kb = pdf["key_b"].to_numpy()
                est = (m_block[_gather(k, ka)] == m_block[_gather(k, kb)]).sum(
                    axis=1
                ) / nh
                out = _emit(ka, kb, est, pdf["is_star"].to_numpy().astype(bool))
                if out is not None:
                    yield out

        return pairs.select("key_a", "key_b", star_col).mapInPandas(
            verify_gather, out_schema
        )

    # shuffled fallback: sort-merge/hash joins on compact int keys carry
    # the signatures to the pairs — the 10^12 path
    sig_a = sig.select(F.col(key_col).alias("key_a"), F.col("minhash").alias("sig_a"))
    sig_b = sig.select(F.col(key_col).alias("key_b"), F.col("minhash").alias("sig_b"))
    joined = (
        pairs.select("key_a", "key_b", star_col)
        .join(sig_a, "key_a")
        .join(sig_b, "key_b")
    )

    def verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.vstack(pdf["sig_a"].to_numpy())
            b = np.vstack(pdf["sig_b"].to_numpy())
            est = (a == b).sum(axis=1) / nh
            out = _emit(
                pdf["key_a"].to_numpy(),
                pdf["key_b"].to_numpy(),
                est,
                pdf["is_star"].to_numpy().astype(bool),
            )
            if out is not None:
                yield out

    return joined.mapInPandas(verify, out_schema)
