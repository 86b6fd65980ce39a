"""Streaming dedup over a document-ingest feed.

The batch pipeline absorbs growth via dedup/incremental.py; this module
is the continuous-ingest twin: documents arrive as a stream and exact
dedup runs inside Structured Streaming with bounded state. Two
operators, both with batch-equivalent semantics (the module's oracle
pattern, see events.py):

- ``dedup_census``: per ingest window, one row per distinct content
  sha256 with its copy count and canonical (min-id) doc — the streaming
  form of the pipeline's exact-dedup census. Watermark + tumbling
  window bound the state; append mode emits a window only once the
  watermark passes it, so at scale this feeds the incremental updater a
  closed, final census per window.
- ``first_seen``: emit each document whose content sha has not been
  seen within the watermark horizon (``dropDuplicatesWithinWatermark``)
  — streaming ingest filtering, state bounded by the horizon instead of
  the corpus (the unbounded-state ``dropDuplicates`` trap at 10^12
  docs).

Ingest time is derived deterministically from doc_id (one doc per
second from a fixed epoch) so the bounded-source runs are reproducible
and DuckDB-checkable; a real deployment reads the feed's own event
time.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .events import bounded_stream, run_available_now

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]
)

_EPOCH0 = 1577836800  # 2020-01-01 00:00:00 UTC; one doc ingested per second


def with_ingest_ts(docs: DataFrame) -> DataFrame:
    return docs.withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(_EPOCH0) + F.col("doc_id"))
    )


def dedup_census(docs: DataFrame, window: str = "5 minutes") -> DataFrame:
    """(win_start, content_sha, n_copies, canonical_doc_id) per window.

    Works identically on a static frame (batch twin) and a stream; the
    streaming run adds the watermark so state for closed windows is
    dropped."""
    streaming = docs.isStreaming
    docs = with_ingest_ts(docs).withColumn("content_sha", F.sha2("text", 256))
    if streaming:
        docs = docs.withWatermark("ingest_ts", "10 minutes")
    return (
        docs.groupBy(F.window("ingest_ts", window), "content_sha")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "content_sha",
            "n_copies",
            "canonical_doc_id",
        )
    )


def first_seen(docs: DataFrame) -> DataFrame:
    """One row per distinct content sha — the first arrival within the
    watermark horizon survives, later copies are dropped with state that
    expires instead of accumulating forever."""
    docs = with_ingest_ts(docs).withColumn("content_sha", F.sha2("text", 256))
    if docs.isStreaming:
        docs = docs.withWatermark("ingest_ts", "10 minutes")
        return docs.dropDuplicatesWithinWatermark(["content_sha"])
    # batch twin: arrival order == doc_id order, so first-seen == min id
    from pyspark.sql import Window as W

    w = W.partitionBy("content_sha").orderBy("doc_id")
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _bounded_stream(spark: SparkSession, docs_path: str) -> tuple[DataFrame, int]:
    """Stream over a documents parquet (file or dir) with a sentinel doc
    a week past the last one (events.bounded_stream). Returns
    (stream, sentinel_doc_id)."""
    max_id = spark.read.parquet(docs_path).agg(F.max("doc_id")).collect()[0][0]
    sentinel_id = int(max_id) + 7 * 24 * 3600
    sentinel = spark.createDataFrame(
        [(sentinel_id, "__flush__", "xx", "__flush__", 9)], DOCS_SCHEMA
    )
    return bounded_stream(docs_path, sentinel), sentinel_id


def run_census_stream(
    spark: SparkSession, docs_path: str, window: str = "5 minutes"
) -> DataFrame:
    """Drive dedup_census over the bounded documents source
    (availableNow, parquet sink — nothing through the driver)."""
    stream, sentinel_id = _bounded_stream(spark, docs_path)
    out = run_available_now(dedup_census(stream, window))
    return out.filter(F.col("canonical_doc_id") != sentinel_id)


def run_first_seen_stream(spark: SparkSession, docs_path: str) -> DataFrame:
    stream, sentinel_id = _bounded_stream(spark, docs_path)
    out = run_available_now(first_seen(stream))
    return out.filter(F.col("doc_id") != sentinel_id)
