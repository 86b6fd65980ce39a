"""Two-pass distributed heavy hitters: Misra-Gries candidates + exact verify.

Finding the most frequent items of a 100 TB column (boilerplate lines,
template shingles, hot tokens) with a plain ``GROUP BY`` shuffles the FULL
distinct-key set — billions of keys, almost all of which are irrelevant
tail. The classic two-pass fix:

1. **Candidates** — each partition keeps a Misra-Gries summary of at most
   ``capacity`` items (vectorized pandas/numpy inside ``mapInPandas``; no
   per-row Python). MG's guarantee, per partition p with n_p rows: any
   item occurring more than n_p/(capacity+1) times in p survives. By
   pigeonhole, any item with GLOBAL count > n/(capacity+1) beats that
   bar in at least one partition, so the union of survivors — at most
   ``capacity`` x n_partitions rows, NOT the distinct-key set — contains
   every global heavy hitter.
2. **Exact verify** — one more scan counts ONLY the candidates (broadcast
   semi-join + groupBy over a bounded key set), so the returned top-k
   counts are exact, deterministic, and independent of partitioning.

The result is certified: if the k-th exact count exceeds n/(capacity+1),
no item outside the candidate set can belong to the top k, and
:func:`heavy_hitters` proves it from the sketch's own row census (the
summary rows carry a per-partition row-count sentinel, so certification
costs no extra scan). Otherwise it raises — a too-small sketch is an
error, not a silently-wrong answer.

Same family as the engine's other bounded summaries (HLL approx-distinct,
MinHash, SimHash, Bloom decontamination): sketch where exactness doesn't
scale, then pin the final answer to an exact, oracle-checkable pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class SketchUndersized(ValueError):
    """capacity too small to certify the requested top-k as exact."""


def mg_candidates(df: DataFrame, col: str, capacity: int = 4096) -> DataFrame:
    """Per-partition Misra-Gries summaries over a string column.

    Returns (item, est) rows — at most ``capacity`` per partition, where
    ``est`` underestimates the partition count by at most
    n_p/(capacity+1) — plus one NULL-item sentinel per partition whose
    ``est`` is the partition's (non-null) row count, so downstream can
    recover the exact total n without another scan.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    dtype = df.schema[col].dataType.simpleString()
    if dtype != "string":
        raise TypeError(
            f"heavy hitters runs over a string column; {col!r} is {dtype}"
            " — cast upstream (the item survives two passes and a driver"
            " collect, so the caller should pick the representation)"
        )

    def summarize(batches):
        import pandas as pd

        state = None
        n_rows = 0
        for pdf in batches:
            vals = pdf[col].dropna()
            n_rows += int(len(vals))
            batch = vals.value_counts()
            state = batch if state is None else state.add(batch, fill_value=0)
            if len(state) > capacity:
                # decrement-by-c* form of MG: subtract the (capacity+1)-th
                # largest count from everyone; entries at/below it drop.
                cstar = int(state.nlargest(capacity + 1).iloc[-1])
                state = state[state > cstar] - cstar
        items = [] if state is None else list(state.index)
        ests = [] if state is None else [int(v) for v in state.values]
        yield pd.DataFrame(
            {"item": items + [None], "est": ests + [n_rows]}
        ).astype({"est": "int64"})

    return df.select(F.col(col).alias(col)).mapInPandas(
        summarize, schema="item string, est long"
    )


def heavy_hitters(df: DataFrame, col: str, k: int = 20, capacity: int = 4096) -> DataFrame:
    """Certified-exact top-k most frequent values of ``df[col]``.

    Returns (rank, item, n) with EXACT counts, ordered by (n DESC, item)
    — deterministic and partitioning-independent. Raises
    :class:`SketchUndersized` if the sketch cannot certify exactness
    (k-th count <= n/(capacity+1)); raise ``capacity`` and rerun.

    Scale shape: sketch pass is map-only (bounded output); the verify
    pass shuffles only candidate keys (<= capacity x n_partitions); the
    certification check reads one k-row and one 1-row aggregate.
    """
    merged = (
        mg_candidates(df, col, capacity)
        .groupBy("item")
        .agg(F.sum("est").alias("est"))
        .persist()  # bounded: <= capacity x n_partitions + 1 rows
    )
    n_total = int(
        merged.filter(F.col("item").isNull()).agg(F.sum("est")).first()[0] or 0
    )
    cands = merged.filter(F.col("item").isNotNull()).select(
        F.col("item").alias(col)
    )
    exact = (
        df.select(col)
        .join(F.broadcast(cands), col)
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = (
        exact.orderBy(F.col("n").desc(), F.col(col).asc())
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), F.col(col).asc())
            ).cast("long"),
        )
        .select("rank", col, "n")
    )
    rows = top.collect()  # bounded: k rows
    merged.unpersist()
    threshold = n_total / (capacity + 1)
    # An item the sketch dropped has true count <= threshold. The top-k is
    # certified exact iff no dropped item could displace a returned row:
    # with k rows returned, the k-th count must beat the threshold; with
    # fewer than k rows, NOTHING may have been droppable (threshold < 1).
    uncertified = (
        rows[-1]["n"] <= threshold
        if len(rows) == k
        else (n_total > 0 and threshold >= 1)
    )
    if uncertified:
        kth = rows[-1]["n"] if rows else 0
        raise SketchUndersized(
            f"k-th count {kth} <= n/(capacity+1) = {threshold:.1f}"
            f" (n={n_total}, capacity={capacity}, rows={len(rows)}): the"
            " sketch cannot rule out a missed heavy hitter; raise capacity"
        )
    # hand back a DataFrame (queries() contract) built from the certified
    # rows — k is small by definition, so this is a bounded literal plan
    return df.sparkSession.createDataFrame(
        [(r["rank"], r[col], r["n"]) for r in rows],
        schema=f"rank long, {col} string, n long",
    )
