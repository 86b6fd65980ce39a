"""Census-threshold quality pruning (functions/mixture.py).

Oracle strategy: quality_prune is checked against the literal
sort-and-take-top-x% statement (with the all-ties-kept rule) on planted
and randomized corpora, plus partitioning invariance and the committed
DuckDB oracle.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hyrise_generalized_dedup_spark.functions.mixture import quality_prune


# -------------------------------------------------------------- quality_prune


def _expected_keep(spec, keep_frac):
    """The literal statement: per source, sort scores desc, target =
    ceil(frac*n), threshold = score of the target-th doc, keep all >= it."""
    keep = {}
    for src, scores in spec.items():
        target = math.ceil(keep_frac * len(scores))
        cut = sorted(scores, reverse=True)[target - 1]
        keep[src] = cut
    return keep


def test_quality_prune_threshold_and_ties(spark):
    # source a: scores [5,4,3,3,2,1], keep 0.4 -> target 3 -> cut 3,
    # BOTH 3s kept (4 kept docs — smallest cover of the target)
    spec = {"a": [5, 4, 3, 3, 2, 1], "b": [2, 2, 2, 2], "c": [1]}
    docs_rows = []
    i = 0
    scores = {}
    for src, ss in spec.items():
        for s in ss:
            docs_rows.append((i, src, s))
            scores[i] = (src, s)
            i += 1
    docs = spark.createDataFrame(docs_rows, "doc_id long, source string, sc long")
    out = quality_prune(docs, F.col("sc"), 0.4).collect()
    cuts = _expected_keep(spec, 0.4)
    assert len(out) == len(docs_rows)  # one row per doc, lossless
    for r in out:
        src, s = scores[r["doc_id"]]
        assert r["q_threshold"] == cuts[src], (src, r)
        assert r["quality_keep"] == (s >= cuts[src])
        assert r["src_n"] == len(spec[src])
    kept_a = sum(1 for r in out if r["source"] == "a" and r["quality_keep"])
    assert kept_a == 4  # ties at the cut are all kept
    assert all(r["quality_keep"] for r in out if r["source"] == "b")  # all tied
    assert all(r["quality_keep"] for r in out if r["source"] == "c")


def test_quality_prune_keep_frac_one_keeps_all(spark):
    docs = spark.createDataFrame(
        [(i, "s", i % 3) for i in range(30)], "doc_id long, source string, sc long"
    )
    out = quality_prune(docs, F.col("sc"), 1.0).collect()
    assert all(r["quality_keep"] for r in out)


def test_quality_prune_randomized_vs_sort_oracle(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    spec = {
        f"s{j}": [int(x) for x in rng.integers(0, 6, size=int(rng.integers(1, 60)))]
        for j in range(12)
    }
    rows, scores = [], {}
    i = 0
    for src, ss in spec.items():
        for s in ss:
            rows.append((i, src, s))
            scores[i] = (src, s)
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string, sc long")
    for frac in (0.1, 0.33, 0.5, 0.9):
        cuts = _expected_keep(spec, frac)
        out = quality_prune(docs, F.col("sc"), frac).collect()
        for r in out:
            src, s = scores[r["doc_id"]]
            assert r["q_threshold"] == cuts[src], (frac, src)
            assert r["quality_keep"] == (s >= cuts[src])


def test_quality_prune_stable_under_repartitioning(spark):
    docs = spark.createDataFrame(
        [(i, f"s{i % 5}", (i * 7) % 6) for i in range(300)],
        "doc_id long, source string, sc long",
    )
    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    a = key(quality_prune(docs.repartition(1), F.col("sc"), 0.3).collect())
    b = key(quality_prune(docs.repartition(17), F.col("sc"), 0.3).collect())
    assert a == b


def test_quality_prune_rejects_bad_frac(spark):
    docs = spark.createDataFrame([(1, "s", 1)], "doc_id long, source string, sc long")
    for frac in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError):
            quality_prune(docs, F.col("sc"), frac)


def test_quality_prune_plan_no_per_source_sort(spark, sf_tiny):
    """The content path must carry no window: thresholds broadcast back,
    and the only window runs over the tiny census."""
    from hyrise_generalized_dedup_spark.functions.queries import TEXT_QUERIES

    df = TEXT_QUERIES["text_quality_prune"](spark, sf_tiny)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert "CartesianProduct" not in final


def test_registered_queries_match_duckdb(spark, sf_tiny):
    import duckdb

    from hyrise_generalized_dedup_spark.functions.queries import (
        TEXT_ORACLES,
        TEXT_QUERIES,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_tiny}/documents.parquet')"
    )
    duck = sorted(map(tuple, con.execute(TEXT_ORACLES["text_quality_prune"]).fetchall()))
    got = sorted(map(tuple, TEXT_QUERIES["text_quality_prune"](spark, sf_tiny).collect()))
    assert got == duck and len(got) > 0
