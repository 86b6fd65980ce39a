"""Exact cosine top-k — the ANN correctness baseline.

All arithmetic is Catalyst expressions (zip_with product fold in double),
so similarity values are bit-deterministic and cross-engine reproducible
(the DuckDB oracle recomputes the identical left-fold formula; verified
bit-equal). Query side is broadcast — the corpus side streams, never
shuffles; top-k per query via window row_number.

Scale: brute force is O(|corpus| * |queries|) — correct baseline and
fine for small query sets; the LSH variant (lsh.py) is the 10^12-row
path.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product in double (bit-deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


_COS_UDF = None  # built lazily: pandas_udf needs an active SparkSession


def _cosine_vec_udf():
    global _COS_UDF
    if _COS_UDF is None:

        @F.pandas_udf("double")
        def _cos(av: pd.Series, bv: pd.Series) -> pd.Series:
            import numpy as np

            # NULL or ragged pairs stay NaN (NULL on the way out), as the
            # Catalyst fold gives NULL for them; the rest fold per length
            la = np.array([-1 if v is None else len(v) for v in av])
            lb = np.array([-2 if v is None else len(v) for v in bv])
            out = np.full(len(av), np.nan)
            for d in np.unique(la[la == lb]):
                rows = np.flatnonzero((la == d) & (lb == d))
                x = np.vstack(av.to_numpy()[rows]).astype(np.float64)
                y = np.vstack(bv.to_numpy()[rows]).astype(np.float64)
                dot_ = np.zeros(len(rows))
                nx = np.zeros(len(rows))
                ny = np.zeros(len(rows))
                for i in range(d):  # left fold, same order as F.aggregate
                    dot_ = dot_ + x[:, i] * y[:, i]
                    nx = nx + x[:, i] * x[:, i]
                    ny = ny + y[:, i] * y[:, i]
                with np.errstate(divide="ignore", invalid="ignore"):
                    out[rows] = dot_ / (np.sqrt(nx) * np.sqrt(ny))
            return pd.Series(out)

        _COS_UDF = _cos
    return _COS_UDF


def cosine_vec(a: Column, b: Column) -> Column:
    """Vectorized twin of ``cosine`` — bit-identical values.

    The Catalyst form above evaluates ~4 interpreted lambda steps per
    vector element per pair (the dominant cost of every re-rank at bench
    scale). The pandas UDF performs the SAME left-fold in numpy, one
    multiply+add per dimension vectorized across all pairs of the batch:
    elementwise IEEE double ops in the identical order, so every output
    bit matches the Catalyst fold and the DuckDB oracle
    (pinned by tests/test_ann.py::test_cosine_vec_matches_catalyst)."""
    return _cosine_vec_udf()(a, b)


def topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """-> (query_id, neighbor_id, rank, cos): exact top-k by cosine.

    queries is broadcast (small side); ties broken by neighbor_id for
    full determinism."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = F.broadcast(q).crossJoin(c)
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = scored.select(
        "query_id",
        "neighbor_id",
        cosine_vec(F.col("q_vec"), F.col("c_vec")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )
