"""Structured Streaming: bounded-source run equals batch aggregation."""

from __future__ import annotations

import pyspark.sql.functions as F

from hyrise_generalized_dedup_spark.streaming.events import run_stream_batch


def test_session_window_stream_equals_batch_sessionize(spark, sf_tiny, tmp_path):
    """The streaming session_window operator and the batch lag/cumsum
    sessionizer implement the same gap definition."""
    import uuid

    from hyrise_generalized_dedup_spark.streaming.events import EVENTS_SCHEMA
    from hyrise_generalized_dedup_spark.streaming.sessionize import (
        sessionize_batch,
        sessionize_stream,
    )

    events = spark.read.parquet(f"{sf_tiny}/events.parquet")
    batch = sessionize_batch(events.withColumn("ts", F.col("ts").cast("timestamp")), 30)
    b = sorted((r.user_id, str(r.session_start), r.n_events) for r in batch.collect())

    import os

    os.symlink(os.path.abspath(f"{sf_tiny}/events.parquet"), tmp_path / "e.parquet")
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(str(tmp_path))
    agg = sessionize_stream(stream, 30)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete").format("memory").queryName(name)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    s = sorted(
        (r.user_id, str(r.session_start), r.n_events)
        for r in spark.table(name).collect()
    )
    assert s == b and len(s) > 0


def test_stream_equals_batch(spark, sf_tiny):
    out = run_stream_batch(spark, sf_tiny, window="5 minutes")
    batch = (
        spark.read.parquet(f"{sf_tiny}/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("window.start").alias("win_start"), "event_type", "n_events", "total_value")
    )
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b and len(a) > 0


def test_stateful_profiles_across_microbatches(spark, sf_tiny, tmp_path):
    """applyInPandasWithState carries per-user state across micro-batches:
    two single-file batches (maxFilesPerTrigger=1) must converge to the
    batch profile for every user."""
    import math
    import uuid

    from hyrise_generalized_dedup_spark.streaming.events import EVENTS_SCHEMA
    from hyrise_generalized_dedup_spark.streaming.stateful import (
        user_profiles_batch,
        user_profiles_stream,
    )

    events = spark.read.parquet(f"{sf_tiny}/events.parquet")
    # split into two files so the file source runs two micro-batches
    src = tmp_path / "events_split"
    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src), mode="append"
    )
    events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(src), mode="append"
    )
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    name = f"prof_{uuid.uuid4().hex[:8]}"
    q = (
        user_profiles_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.lastProgress
    out = spark.table(name)
    # update-mode memory sink appends one row per user per batch touched;
    # the final profile is the row with the highest n_events (monotone)
    final = {}
    for r in out.collect():
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur.n_events:
            final[r.user_id] = r
    expected = {r.user_id: r for r in user_profiles_batch(events).collect()}
    assert set(final) == set(expected)
    n_multi_batch = 0
    for uid, exp in expected.items():
        got = final[uid]
        assert got.n_events == exp.n_events, uid
        assert math.isclose(got.total_value, exp.total_value, rel_tol=1e-9), uid
        assert got.max_value == exp.max_value, uid
        assert got.n_event_types == exp.n_event_types, uid
        assert got.types_overflow == exp.types_overflow, uid
    # the stream really ran >1 micro-batch (state crossed batches)
    assert out.count() > len(expected), "expected per-batch update rows"


def test_stream_empty_source_returns_empty(spark, tmp_path):
    """ADVICE r2: an empty bounded events source must yield an empty
    result with the aggregation schema, not TypeError on max_ts=None."""
    from hyrise_generalized_dedup_spark.streaming.events import (
        EVENTS_SCHEMA,
        run_stream_batch,
    )

    sf_dir = str(tmp_path / "empty_sf")
    spark.createDataFrame([], EVENTS_SCHEMA).write.parquet(f"{sf_dir}/events.parquet")
    out = run_stream_batch(spark, sf_dir)
    assert out.count() == 0
    assert set(out.columns) == {"win_start", "event_type", "n_events", "total_value"}


def _dup_docs(spark, tmp_path, n=400):
    """Synth code corpus (15% exact dups) reshaped to the documents
    stream schema; returns (parquet_path, batch_df)."""
    from pyspark.sql import Window

    from hyrise_generalized_dedup_spark.synth import generate, to_spark

    files = to_spark(spark, generate(n_rows=n, seed=21))
    docs = files.select(
        F.row_number()
        .over(Window.orderBy("repo", "path", "commit"))
        .cast("long")
        .alias("doc_id"),
        F.col("content").alias("text"),
        F.col("lang"),
        F.lit("synth").alias("source"),
        F.length("content").cast("long").alias("n_chars"),
    )
    p = str(tmp_path / "docs.parquet")
    docs.write.mode("overwrite").parquet(p)
    return p, spark.read.parquet(p)


def test_stream_dedup_census_equals_batch(spark, tmp_path):
    """The streaming windowed dedup census (watermark + append mode)
    over a bounded source equals the batch census — including copy
    counts and canonical min-id docs for the duplicate families."""
    from hyrise_generalized_dedup_spark.streaming.dedup import (
        dedup_census,
        run_census_stream,
    )

    path, docs = _dup_docs(spark, tmp_path)
    batch = sorted(tuple(r) for r in dedup_census(docs).collect())
    stream = sorted(tuple(r) for r in run_census_stream(spark, path).collect())
    assert stream == batch
    n_dup_rows = sum(1 for r in batch if r[2] > 1)
    assert n_dup_rows > 0, "corpus must contain duplicate families"


def test_stream_first_seen_drops_copies(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps exactly one arrival per
    content sha; which member survives is arrival-order-dependent, so
    the gate checks the kept SET (one per sha, member of the sha's
    group), not doc identity."""
    from hyrise_generalized_dedup_spark.streaming.dedup import (
        first_seen,
        run_first_seen_stream,
    )

    path, docs = _dup_docs(spark, tmp_path)
    kept = run_first_seen_stream(spark, path).collect()
    batch = first_seen(docs).collect()
    assert len(kept) == len(batch)  # one survivor per distinct sha
    assert {r.content_sha for r in kept} == {r.content_sha for r in batch}
    # every kept doc really carries its sha's text (survivor is a true
    # member of the duplicate family, not a fabricated row)
    import hashlib

    for r in kept:
        assert hashlib.sha256((r.text or "").encode()).hexdigest() == r.content_sha


def test_streaming_lsh_candidates_match_batch(spark, tmp_path):
    """Streaming LSH bucket-collision candidates (stateful anchors across
    micro-batches) equal the batch star-edge twin on an id-ordered feed,
    and at least one candidate's anchor arrived in an EARLIER micro-batch
    (state genuinely crossed batches)."""
    import uuid

    from hyrise_generalized_dedup_spark.streaming.dedup import DOCS_SCHEMA
    from hyrise_generalized_dedup_spark.streaming.neardup import (
        lsh_candidates_batch,
        lsh_candidates_stream,
    )

    path, docs = _dup_docs(spark, tmp_path)
    # three id-ordered files -> three micro-batches (arrival == id order,
    # matching the batch twin's min-id anchoring)
    src = tmp_path / "docs_ordered"
    for lo, hi in ((0, 150), (150, 300), (300, 1 << 60)):
        docs.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= hi)).coalesce(
            1
        ).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    name = f"lshcand_{uuid.uuid4().hex[:8]}"
    q = (
        lsh_candidates_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = [tuple(r) for r in spark.table(name).collect()]
    batch = [tuple(r) for r in lsh_candidates_batch(docs).collect()]
    assert len(batch) > 0, "corpus must produce LSH collisions"
    assert sorted(streamed) == sorted(batch)
    assert any(a <= 150 < d for (_, _, a, d) in streamed), (
        "no candidate crossed a micro-batch boundary"
    )


def test_streaming_lsh_state_machine_eviction():
    """The bucket update function's state machine: first arrival anchors,
    later arrivals pair against the stored anchor across calls, timeout
    evicts, and the next arrival re-anchors (horizon semantics)."""
    import pandas as pd

    from hyrise_generalized_dedup_spark.streaming.neardup import (
        _make_update_bucket,
    )

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False
            self.timeout_ms = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

        def remove(self):
            self._v = None

        def setTimeoutDuration(self, ms):
            self.timeout_ms = ms

    upd = _make_update_bucket(60_000)
    st = FakeState()
    key = (3, 12345)

    def run(ids):
        out = list(upd(key, iter([pd.DataFrame({"doc_id": ids})]), st))
        return [] if not out else list(
            zip(out[0]["anchor_id"].tolist(), out[0]["doc_id"].tolist())
        )

    assert run([9, 5]) == [(5, 9)]            # min id anchors the batch
    assert st.get == (5,) and st.timeout_ms == 60_000
    assert run([3]) == [(5, 3)]               # later arrival pairs with anchor
    st.hasTimedOut = True                     # idle bucket evicted
    assert list(upd(key, iter([]), st)) == []
    assert not st.exists
    st.hasTimedOut = False
    assert run([8, 7]) == [(7, 8)]            # re-anchors after eviction


def test_streaming_funnel_matches_batch_with_late_view(spark, tmp_path):
    """Running funnel state converges to the batch funnel even when a
    LATE-arriving early 'view' retroactively qualifies a click seen in a
    previous micro-batch (the case min-per-step state gets wrong)."""
    import datetime as dt
    import uuid

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from hyrise_generalized_dedup_spark.streaming.funnel import (
        funnel_batch,
        funnel_stream,
    )

    t = lambda m: dt.datetime(2025, 1, 1, 0, m)  # noqa: E731
    schema = StructType(
        [
            StructField("user_id", LongType(), False),
            StructField("event_type", StringType(), False),
            StructField("ts", TimestampType(), False),
        ]
    )
    # batch 1: user 1's click+purchase and a too-late view; user 2 full
    batch1 = [
        (1, "click", t(5)),
        (1, "purchase", t(7)),
        (1, "view", t(10)),
        (2, "view", t(1)),
        (2, "click", t(2)),
        (2, "purchase", t(3)),
    ]
    # batch 2: user 1's EARLY view arrives late -> click(5)/purchase(7)
    # retroactively qualify; user 3 never converts past view
    batch2 = [
        (1, "view", t(1)),
        (3, "view", t(4)),
        (3, "purchase", t(2)),
    ]
    src = tmp_path / "funnel_events"
    for rows in (batch1, batch2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    name = f"funnel_{uuid.uuid4().hex[:8]}"
    q = (
        funnel_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    updates = spark.table(name).collect()
    assert not any(r["state_overflow"] for r in updates)
    # reached flags are monotone per user (t1 only decreases, qualifying
    # sets only grow), so the final state is the per-user max
    final = {}
    for r in updates:
        cur = final.get(r["user_id"], (0, 0, 0))
        final[r["user_id"]] = tuple(
            max(a, b)
            for a, b in zip(
                cur,
                (r["reached_view"], r["reached_click"], r["reached_purchase"]),
            )
        )
    all_events = spark.read.parquet(str(src))
    batch = {
        r["user_id"]: (r["reached_view"], r["reached_click"], r["reached_purchase"])
        for r in funnel_batch(all_events).collect()
    }
    assert final == batch == {1: (1, 1, 1), 2: (1, 1, 1), 3: (1, 0, 0)}
    # the retroactive flip is visible: user 1 was unconverted after batch
    # 1 and converted after batch 2 — state genuinely crossed batches
    u1 = {(r["reached_click"], r["reached_purchase"])
          for r in updates if r["user_id"] == 1}
    assert (0, 0) in u1 and (1, 1) in u1


def test_funnel_state_chain_and_cap():
    """_chain orders strictly; _merge_capped sheds only the largest and
    reports it."""
    from hyrise_generalized_dedup_spark.streaming.funnel import (
        MAX_TS_PER_STEP,
        _chain,
        _merge_capped,
    )

    assert _chain(None, [1, 2], [3]) == (0, 0, 0)
    assert _chain(5, [5], [9]) == (1, 0, 0)      # strict >: click at t1 fails
    assert _chain(5, [6], [6]) == (1, 1, 0)      # purchase must be > t2
    assert _chain(5, [6], [7]) == (1, 1, 1)
    merged, shed = _merge_capped(list(range(MAX_TS_PER_STEP)), [999])
    assert shed and merged == list(range(MAX_TS_PER_STEP))
    merged, shed = _merge_capped([3, 1], [2, 1])
    assert not shed and merged == [1, 2, 3]


def test_funnel_state_eviction_on_timeout():
    """A timed-out key must REMOVE its state and emit nothing — not
    re-arm the timer forever (unbounded state + duplicate rows)."""
    import pandas as pd

    from hyrise_generalized_dedup_spark.streaming.funnel import (
        _make_update_funnel,
    )

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False
            self.removed = False
            self.timeout_ms = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v, self.removed = None, True

        def setTimeoutDuration(self, ms):
            self.timeout_ms = ms

    fn = _make_update_funnel(("view", "click", "purchase"), evict_idle_ms=60_000)
    st = FakeState()
    pdf = pd.DataFrame({"event_type": ["view"], "ts": pd.to_datetime(["2025-01-01"])})
    out = list(fn((7,), [pdf], st))
    assert len(out) == 1 and st.exists and st.timeout_ms == 60_000
    # timeout fires: state dropped, nothing emitted, timer NOT re-armed
    st.hasTimedOut = True
    st.timeout_ms = None
    out = list(fn((7,), [], st))
    assert out == [] and st.removed and not st.exists
    assert st.timeout_ms is None
