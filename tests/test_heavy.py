"""Two-pass heavy hitters (functions/heavy.py): exactness vs a brute
groupBy oracle, the MG retention guarantee, partitioning invariance,
bounded summary size, and the certification failure mode."""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from hyrise_generalized_dedup_spark.functions.heavy import (
    SketchUndersized,
    heavy_hitters,
    mg_candidates,
)


def _zipf_rows(n_groups: int = 50, scale: int = 400) -> list[str]:
    # item-i appears scale//(i+1) times: a deterministic skewed corpus
    rows = []
    for i in range(n_groups):
        rows.extend([f"item-{i:03d}"] * (scale // (i + 1)))
    return rows


def _exact_topk(rows: list[str], k: int) -> list[tuple[int, str, int]]:
    counts = collections.Counter(rows)
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(r + 1, item, n) for r, (item, n) in enumerate(ordered)]


def test_matches_brute_force_topk(spark):
    rows = _zipf_rows()
    df = spark.createDataFrame([(v,) for v in rows], "v string").repartition(7)
    got = [
        (r["rank"], r["v"], r["n"])
        for r in heavy_hitters(df, "v", k=10, capacity=64).collect()
    ]
    assert got == _exact_topk(rows, 10)


def test_partitioning_invariant(spark):
    rows = _zipf_rows(n_groups=30, scale=300)
    df = spark.createDataFrame([(v,) for v in rows], "v string")
    a = heavy_hitters(df.repartition(1), "v", k=8, capacity=64).collect()
    b = heavy_hitters(df.repartition(13), "v", k=8, capacity=64).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_mg_guaranteed_retention_and_bound(spark):
    # every item with global count > n/(capacity+1) must survive; each
    # partition contributes at most capacity items plus one sentinel.
    rows = _zipf_rows(n_groups=200, scale=1000)
    capacity = 16
    df = spark.createDataFrame([(v,) for v in rows], "v string").repartition(4)
    cands = mg_candidates(df, "v", capacity=capacity).collect()
    survivors = {r["item"] for r in cands if r["item"] is not None}
    sentinels = [r for r in cands if r["item"] is None]
    assert sum(r["est"] for r in sentinels) == len(rows)
    counts = collections.Counter(rows)
    threshold = len(rows) / (capacity + 1)
    for item, n in counts.items():
        if n > threshold:
            assert item in survivors, (item, n, threshold)
    # bounded size: capacity per partition (sentinel aside)
    assert len(survivors) <= capacity * len(sentinels)


def test_undersized_sketch_raises(spark):
    # near-uniform data: the k-th count can't beat n/(capacity+1)
    rows = [f"u-{i}" for i in range(500)] * 2  # every count = 2
    df = spark.createDataFrame([(v,) for v in rows], "v string").repartition(5)
    with pytest.raises(SketchUndersized):
        heavy_hitters(df, "v", k=10, capacity=8)


def test_exact_when_capacity_exceeds_distincts(spark):
    # capacity >= distinct-per-partition -> no decrements, fully exact,
    # including count-1 tie-breaks by item order
    rows = ["a", "a", "b", "c", "d", "e"]
    df = spark.createDataFrame([(v,) for v in rows], "v string")
    got = [tuple(r) for r in heavy_hitters(df, "v", k=3, capacity=100).collect()]
    assert got == [(1, "a", 2), (2, "b", 1), (3, "c", 1)]


def test_nulls_ignored(spark):
    df = spark.createDataFrame(
        [("x",), (None,), ("x",), (None,), ("y",)], "v string"
    )
    got = [tuple(r) for r in heavy_hitters(df, "v", k=2, capacity=10).collect()]
    assert got == [(1, "x", 2), (2, "y", 1)]


def test_text_heavy_lines_matches_duckdb(spark, sf_tiny):
    from hyrise_generalized_dedup_spark.functions.queries import (
        TEXT_ORACLES,
        TEXT_QUERIES,
    )
    from hyrise_generalized_dedup_spark.testing import compare_to_duckdb

    df = TEXT_QUERIES["text_heavy_lines"](spark, sf_tiny)
    ok, msg = compare_to_duckdb(df, TEXT_ORACLES["text_heavy_lines"], sf_tiny)
    assert ok, msg


def test_non_string_column_rejected(spark):
    df = spark.range(10).select(F.col("id").alias("v"))
    with pytest.raises(TypeError, match="string column"):
        mg_candidates(df, "v", capacity=4)
