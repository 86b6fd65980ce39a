"""Rank-based quality pruning, a step between curation and serving in
an LLM data pipeline.

- **Quality pruning** (``quality_prune``): keep the top ``keep_frac``
  of each source by a DISCRETE quality score (FineWeb-Edu keeps docs
  by an integer 0-5 classifier score). Deliberately NOT a per-source
  row_number window: an exact within-source rank puts an entire source
  into one task — the skew killer at 10^12 docs. Instead the exact
  same keep set falls out of a score CENSUS: count docs per (source,
  score), take the per-source running total down the score axis, pick
  the threshold score where the running total first covers
  ``ceil(keep_frac * n)``, and broadcast the per-source thresholds
  back. The census is source x score-levels rows (thousands, not
  trillions); content never shuffles; ties at the threshold score are
  all kept — the deterministic, engine-reproducible statement of
  "top x%" for discrete scores.

Reference scope note: the reference engine (C++ Hyrise fork) has no
corpus-pruning stage; this module is part of the training-data-pipeline
surface (SURVEY.md LLM-ops section) alongside functions/split.py and
functions/pack.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def quality_prune(
    docs: DataFrame,
    score: Column,
    keep_frac: float,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the top ``keep_frac`` of each source by a discrete score.

    ``score`` must be an integral Column (bucket continuous scores
    first). Output, one row per input document: ``(doc_id, source,
    q_score, src_n, q_threshold, quality_keep)`` where ``q_threshold``
    is the source's cut score and ``quality_keep = q_score >=
    q_threshold``. All docs tied at the threshold are kept, so the kept
    count is the smallest count >= ``ceil(keep_frac * src_n)``
    achievable without splitting a tie — deterministic and independent
    of partitioning (no row_number over arbitrary orders).

    Plan shape: one content-free census groupBy (source x score
    levels), a window over the census only, and a broadcast join of the
    per-source thresholds back onto the scored scan.
    """
    if not (0.0 < keep_frac <= 1.0):
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")

    scored = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        score.cast("long").alias("q_score"),
    )
    census = scored.groupBy("source", "q_score").agg(
        F.count("*").cast("long").alias("n")
    )
    w_desc = (
        Window.partitionBy("source")
        .orderBy(F.col("q_score").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    ranked = census.select(
        "source",
        "q_score",
        F.sum("n").over(w_desc).alias("cum_n"),
        F.sum("n").over(w_all).alias("src_n"),
    )
    target = F.ceil(F.lit(keep_frac) * F.col("src_n")).cast("long")
    thresholds = (
        ranked.where(F.col("cum_n") >= target)
        .groupBy("source")
        .agg(
            F.max("q_score").alias("q_threshold"),
            F.max("src_n").alias("src_n"),
        )
    )
    return (
        scored.join(F.broadcast(thresholds), "source")
        .select(
            "doc_id",
            "source",
            "q_score",
            "src_n",
            "q_threshold",
            (F.col("q_score") >= F.col("q_threshold")).alias("quality_keep"),
        )
    )
