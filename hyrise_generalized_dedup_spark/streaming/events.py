"""Streaming pipelines over the `events` table.

Batch-equivalent semantics: every streaming query here has the property
that running it over a bounded file source with an availableNow trigger
produces exactly the batch aggregation over the same data — which is
what makes a DuckDB SQL oracle possible for the driver gate.

At scale the same code reads kafka/object-store streams; watermarks
bound state, windows align to the epoch (cross-engine: duckdb
time_bucket aligns identically).
"""

from __future__ import annotations

import datetime
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from ..session import scratch_dir

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampNTZType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)


def windowed_aggregation(events: DataFrame, window: str = "5 minutes") -> DataFrame:
    """Tumbling-window count/sum per event_type with a 10-minute
    watermark; decimal-cast sum for cross-engine exactness."""
    # watermarks require TIMESTAMP (LTZ); the parquet column is NTZ — with
    # the session pinned to UTC the cast is value-preserving
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def bounded_stream(path: str, sentinel: DataFrame) -> DataFrame:
    """A file stream, with ``sentinel``'s schema, over a parquet file or
    Spark-written parquet dir (symlinks in a scratch dir; the data is not
    copied) plus ``sentinel``: far-future rows that push the watermark
    past every real window — the bounded-stream flush. The sentinel's own
    window stays open and is never emitted; callers still filter its
    marker from the result as defense in depth."""
    src_dir = scratch_dir("gd_stream_src")
    path = os.path.abspath(path)
    if os.path.isdir(path):
        # the file stream source does not recurse into symlinked
        # subdirectories, so expose the part files themselves
        for i, name in enumerate(sorted(os.listdir(path))):
            if name.endswith(".parquet"):
                os.symlink(
                    os.path.join(path, name),
                    os.path.join(src_dir, f"part_{i:05d}.parquet"),
                )
    else:
        os.symlink(path, os.path.join(src_dir, os.path.basename(path)))
    sentinel.coalesce(1).write.mode("append").parquet(src_dir)
    return sentinel.sparkSession.readStream.schema(sentinel.schema).parquet(src_dir)


def run_available_now(agg: DataFrame) -> DataFrame:
    """Run a streaming query to completion (availableNow trigger) into an
    append-mode parquet sink in a scratch dir and return the result read
    back. The result never flows through the driver: a memory sink plus
    collect() caps the stream at driver heap, while a file sink is the
    shape that scales to a real cluster. Append mode emits only windows
    the watermark has passed, hence ``bounded_stream``'s sentinel."""
    out_dir = scratch_dir("gd_stream_out")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "result"))
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return agg.sparkSession.read.parquet(os.path.join(out_dir, "result"))


def run_stream_batch(
    spark: SparkSession, sf_dir: str, window: str = "5 minutes"
) -> DataFrame:
    """Drive the streaming query over the bounded parquet source to
    completion (availableNow) and return the result as a DataFrame."""
    path = f"{sf_dir}/events.parquet"
    max_ts = spark.read.parquet(path).agg(F.max("ts")).collect()[0][0]
    if max_ts is None:
        # empty bounded source: nothing to flush, nothing to aggregate —
        # return an empty frame with the aggregation schema instead of
        # TypeError-ing on max_ts + timedelta
        return spark.createDataFrame(
            [],
            "win_start timestamp, event_type string, n_events bigint, total_value double",
        )
    sentinel = spark.createDataFrame(
        [(int(-1), max_ts + datetime.timedelta(days=2), int(-1), "__flush__", 0.0, "{}")],
        EVENTS_SCHEMA,
    )
    out = run_available_now(windowed_aggregation(bounded_stream(path, sentinel), window))
    return out.filter(F.col("event_type") != "__flush__")
