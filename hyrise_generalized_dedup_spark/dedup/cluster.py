"""Connected components over candidate edges — pure DataFrame iteration.

Min-label propagation with per-iteration localCheckpoint (lineage cut —
without it the plan doubles every iteration and the driver OOMs compiling
it; this IS the "checkpointed" in checkpointed resumability for the
clustering stage). Deterministic: labels are keys, merged with min(), so
the cluster id is always the lexicographically smallest member key —
reproducible across runs/partitionings for the recall comparison.

Convergence: edges from LSH/SimHash form near-cliques and star
structures (hot buckets emit stars by construction, lsh.py), so the
label graph's effective diameter is small; iteration count is bounded
and logged, never silent (north-rule: no silent truncation).
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

log = logging.getLogger(__name__)


def hard_unpersist(df: DataFrame) -> None:
    """Release a DataFrame's storage whether it came from .persist() or
    .localCheckpoint().

    Dataset.unpersist() goes through the CacheManager, which does NOT
    track a localCheckpoint's underlying RDD — the checkpoint data stays
    in the persistent-RDD map forever (measured: CC's label checkpoints
    survived df.unpersist()). For checkpointed frames the analyzed plan
    is a LogicalRDD whose wrapped RDD must be unpersisted directly."""
    df.unpersist()
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # not a LogicalRDD (plain cached plan) — done above
        pass


def _min_label_components(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Component label per node rank for an edge list of node ranks.

    Vectorized min-label propagation with pointer jumping: each pass,
    every edge endpoint adopts the min of both labels (np.minimum.at) and
    labels are compressed through themselves (labels = labels[labels]).
    Labels decrease monotonically and are bounded below by each
    component's min rank, so the loop terminates; the fixed point assigns
    every node its component's minimum rank — exactly the min-member
    semantics of the distributed propagation path, so both paths are
    bit-interchangeable. Pointer jumping makes long chains converge in
    O(log diameter) passes; LSH/star graphs converge in a handful.
    """
    n = int(max(src.max(initial=-1), dst.max(initial=-1))) + 1
    labels = np.arange(n, dtype=np.int64)
    while True:
        # termination compares a FULL pass against the pre-pass labels: a
        # no-op pass implies min(la, lb) changed neither endpoint of any
        # edge, i.e. la == lb everywhere — comparing against the
        # post-minimum labels instead can exit with root-stable pointers
        # while some edge is still unequal (caught by the equivalence test)
        before = labels
        labels = labels.copy()
        m = np.minimum(before[src], before[dst])
        np.minimum.at(labels, src, m)
        np.minimum.at(labels, dst, m)
        labels = labels[labels]
        if np.array_equal(labels, before):
            return labels


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    key_col: str = "doc_key",
    max_iter: int = 25,
    check_every: int = 3,
    broadcast_labels_max: int | None = None,
    driver_max_edges: int | None = 10_000_000,
) -> DataFrame:
    """edges(key_a, key_b) [+ optional nodes(key_col)] -> (key_col, cluster_id).

    Every node gets a cluster id (singletons map to themselves when a
    `nodes` frame is supplied).

    The convergence check is an extra blocking job per iteration; since
    LSH/star edge graphs converge in a handful of rounds, checking every
    `check_every` iterations amortizes that fixed latency (at worst
    check_every-1 extra cheap propagation rounds after convergence —
    propagating an already-stable labelling is a no-op data-wise).

    broadcast_labels_max: when the caller KNOWS the node count is below
    this bound, the per-iteration labels⋈edges join broadcasts the label
    table instead of shuffling both sides — CC is latency-bound (a chain
    of small sequential jobs), and removing the exchange per iteration is
    the difference between scaling and anti-scaling at high core counts.
    At 10^12-node scale labels are not broadcastable and this stays None
    (shuffled join; AQE handles it).

    driver_max_edges: the verified-edge graph is orders smaller than the
    corpus (only near-dup members have edges at all), and the iterative
    path is a latency-bound chain of ~25 small sequential jobs — at the
    2M-file scaling eval it cost a FLAT ~51 s at both 2 and 8 cores
    (per-job latency, not compute; scaling ratio 1.01). Below this edge
    budget the component labels are instead computed on the driver in one
    vectorized numpy pass over a single size-gated collect
    (limit(max+1) — one job; if it comes back truncated the distributed
    path runs instead, so the gate never trusts an estimate). 10M edges
    of int64 pairs is ~160 MB on a driver sized like ours; at 10^12-file
    scale the edge list exceeds any driver and the propagation path is
    the design. Pass None to force the distributed path."""
    if driver_max_edges:
        pdf = (
            edges.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst"))
            .limit(driver_max_edges + 1)
            .toPandas()
        )
        if len(pdf) <= driver_max_edges:
            spark = edges.sparkSession
            if len(pdf) == 0:
                result = (
                    edges.sparkSession.createDataFrame([], edges.schema)
                    .select(
                        F.col("key_a").alias(key_col),
                        F.col("key_b").alias("cluster_id"),
                    )
                )
            else:
                # node ranks in key order: np.unique sorts, so rank order ==
                # key order (ASCII strings and ints compare identically in
                # numpy and Spark) and min-rank == min-key
                keys, codes = np.unique(
                    np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()]),
                    return_inverse=True,
                )
                labels = _min_label_components(codes[: len(pdf)], codes[len(pdf) :])
                label_pdf = pd.DataFrame(
                    {key_col: keys, "cluster_id": keys[labels]}
                )
                result = spark.createDataFrame(label_pdf)
            log.info(
                "connected_components: driver union-find over %d edges / %d nodes",
                len(pdf),
                0 if len(pdf) == 0 else len(keys),
            )
            if nodes is not None:
                result = (
                    nodes.select(key_col)
                    .distinct()
                    .join(result, key_col, "left")
                    .withColumn("cluster_id", F.coalesce("cluster_id", F.col(key_col)))
                )
            return result
        log.info(
            "connected_components: edge count exceeds driver budget %d — "
            "falling back to distributed propagation",
            driver_max_edges,
        )

    sym = (
        edges.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst"))
        .union(edges.select(F.col("key_b").alias("src"), F.col("key_a").alias("dst")))
        .distinct()
    )
    sym = sym.localCheckpoint()

    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    # localCheckpoint persists its data (that IS the truncated lineage),
    # so superseded checkpoints must be explicitly unpersisted or every
    # iteration's label table stays pinned in executor storage for the
    # session. prev_ckpt is released only AFTER the next checkpoint is
    # fully materialized (the full convergence count below guarantees
    # that) — unpersisting a truncated-lineage RDD before its successor
    # exists would lose data with no lineage to recompute from.
    prev_ckpt = labels

    maybe_b = F.broadcast if broadcast_labels_max else (lambda d: d)

    converged = False
    for it in range(max_iter):
        # each node adopts min(own label, neighbors' labels); carrying the
        # previous label through the aggregation lets one job both
        # materialize the checkpoint and answer the convergence check
        neighbor_labels = (
            sym.join(maybe_b(labels.withColumnRenamed("node", "dst_node")),
                     sym.dst == F.col("dst_node"))
            .select(F.col("src").alias("node"), F.col("label"), F.lit(None).cast(labels.schema["label"].dataType).alias("prev"))
        )
        new_labels = (
            labels.select("node", "label", F.col("label").alias("prev"))
            .union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.min("prev").alias("prev"))
        )
        if (it + 1) % check_every == 0 or it == max_iter - 1:
            new_labels = new_labels.localCheckpoint(eager=False)
            # full count (no limit-short-circuit): every partition of the
            # new checkpoint is materialized, making prev_ckpt releasable
            changed = new_labels.filter(F.col("label") != F.col("prev")).count()
            hard_unpersist(prev_ckpt)
            prev_ckpt = new_labels
            if changed == 0:
                labels = new_labels.select("node", "label")
                log.info("connected_components converged within %d iterations", it + 1)
                converged = True
                break
        labels = new_labels.select("node", "label")
    if not converged:
        log.warning("connected_components hit max_iter=%d without convergence", max_iter)
    # the edge table is not part of the result's lineage (labels derive
    # from the final checkpoint alone) — release it here
    hard_unpersist(sym)

    result = labels.select(F.col("node").alias(key_col), F.col("label").alias("cluster_id"))
    if nodes is not None:
        result = (
            nodes.select(key_col)
            .distinct()
            .join(result, key_col, "left")
            .withColumn("cluster_id", F.coalesce("cluster_id", F.col(key_col)))
        )
    # the final label checkpoint IS the result's lineage, so it stays
    # pinned; the pipeline's clusters stage frees it once the result is
    # written (pipeline.run_stage)
    return result
