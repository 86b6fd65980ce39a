"""ANN: brute-force vs numpy oracle; LSH recall on planted neighbors."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from hyrise_generalized_dedup_spark.ann.brute import topk_cosine
from hyrise_generalized_dedup_spark.ann.lsh import (
    ann_topk_lsh,
    hyperplanes,
    lsh_candidates,
    sketch_table,
)


def _make_df(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_topk_matches_numpy(spark):
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((60, 16)).astype(np.float32)
    df = _make_df(spark, vecs)
    got = topk_cosine(df, df.filter(F.col("vec_id") < 5), k=3)
    got_pairs = {(r.query_id, r.rank): r.neighbor_id for r in got.collect()}
    normed = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = normed @ normed.T
    for q in range(5):
        order = sorted(
            (i for i in range(60) if i != q), key=lambda i: (-sims[q, i], i)
        )[:3]
        for rank, nb in enumerate(order, 1):
            assert got_pairs[(q, rank)] == nb, f"q={q} rank={rank}"


def test_lsh_recall_on_planted_neighbors(spark):
    """Planted pairs at cosine >= 0.95 must be recalled at >= 0.9 with
    10-bit x 8-table sign sketches."""
    rng = np.random.default_rng(9)
    base = rng.standard_normal((50, 64)).astype(np.float32)
    planted = base + rng.standard_normal((50, 64)).astype(np.float32) * 0.12
    vecs = np.vstack([base, planted])
    df = _make_df(spark, vecs)
    planes = hyperplanes(dim=64, bits=10, tables=8, seed=42)
    res = ann_topk_lsh(df, df.filter(F.col("vec_id") < 50), planes, k=3)
    got = {(r.query_id, r.rank): r.neighbor_id for r in res.collect()}
    normed = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    hits = sum(1 for q in range(50) if got.get((q, 1)) == q + 50
               and normed[q] @ normed[q + 50] >= 0.9)
    eligible = sum(1 for q in range(50) if normed[q] @ normed[q + 50] >= 0.9)
    assert eligible >= 40
    assert hits / eligible >= 0.9, f"LSH recall {hits}/{eligible}"


def test_lsh_hot_bucket_bounded_join(spark):
    """Planted hot bucket: 5k identical embeddings share every sketch.
    The census + downsample must bound the candidate set to
    ~max_bucket * tables per query (not 5k * tables) while still
    returning k exact-cosine-1.0 neighbors."""
    rng = np.random.default_rng(3)
    hot = np.tile(rng.standard_normal(64).astype(np.float32), (5000, 1))
    cold = rng.standard_normal((50, 64)).astype(np.float32)
    vecs = np.vstack([hot, cold])
    df = _make_df(spark, vecs)
    planes = hyperplanes(dim=64, bits=10, tables=4, seed=42)
    queries = df.filter(F.col("vec_id") == 0)
    res = ann_topk_lsh(df, queries, planes, k=5, max_bucket=64)
    rows = res.collect()
    assert len(rows) == 5
    # all 5 neighbors must be members of the identical family (cos == 1)
    assert all(r.cos > 0.999999 for r in rows), rows
    assert all(r.neighbor_id < 5000 for r in rows), rows

    # bounded candidate set: distinct candidates per query << family size
    n_cand = lsh_candidates(df, queries, planes, max_bucket=64).count()
    # 4 tables x ~64 sampled members (+min +cold stragglers), not 5000
    assert n_cand <= 4 * 64 * 2, f"candidate join not bounded: {n_cand}"


def test_sketch_deterministic(spark):
    rng = np.random.default_rng(1)
    vecs = rng.standard_normal((10, 8)).astype(np.float32)
    df = _make_df(spark, vecs)
    planes = hyperplanes(dim=8, bits=6, tables=2, seed=7)
    a = sorted((r.id, r.table_id, r.sketch) for r in sketch_table(df, planes).collect())
    b = sorted((r.id, r.table_id, r.sketch) for r in sketch_table(df, planes).collect())
    assert a == b


def test_ivf_recall_on_planted_neighbors(spark):
    """IVF (kmeans-16, nprobe=4) recalls planted cosine>=0.9 pairs at
    >=0.9 — the second ANN scale path next to sign-sketch LSH."""
    from hyrise_generalized_dedup_spark.ann.ivf import ann_topk_ivf, train_centroids

    rng = np.random.default_rng(11)
    base = rng.standard_normal((60, 32)).astype(np.float32)
    planted = base + rng.standard_normal((60, 32)).astype(np.float32) * 0.1
    vecs = np.vstack([base, planted])
    df = _make_df(spark, vecs)
    cent = train_centroids(df, k=8, iters=8, seed=42)
    assert cent.shape == (8, 32)
    res = ann_topk_ivf(df, df.filter(F.col("vec_id") < 60), cent, k=3, nprobe=3)
    got = {(r.query_id, r.rank): r.neighbor_id for r in res.collect()}
    normed = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    eligible = [q for q in range(60) if normed[q] @ normed[q + 60] >= 0.9]
    hits = sum(1 for q in eligible if got.get((q, 1)) == q + 60)
    assert len(eligible) >= 45
    assert hits / len(eligible) >= 0.9, f"IVF recall {hits}/{len(eligible)}"


def test_ivf_hot_list_bounded(spark):
    """A 3k-identical family collapses into one IVF list; the census cap
    bounds the candidate join while still returning cos=1 neighbors."""
    from hyrise_generalized_dedup_spark.ann.ivf import ann_topk_ivf, train_centroids

    rng = np.random.default_rng(13)
    hot = np.tile(rng.standard_normal(32).astype(np.float32), (3000, 1))
    cold = rng.standard_normal((40, 32)).astype(np.float32)
    vecs = np.vstack([hot, cold])
    df = _make_df(spark, vecs)
    cent = train_centroids(df, k=4, iters=5, seed=42)
    res = ann_topk_ivf(df, df.filter(F.col("vec_id") == 0), cent, k=5, nprobe=2,
                       max_list=64)
    rows = res.collect()
    assert len(rows) == 5
    assert all(r.cos > 0.999999 and r.neighbor_id < 3000 for r in rows), rows


def test_embedding_neardup_pairs_matches_duckdb(spark, sf_tiny):
    """Cosine-threshold near-dup pair enumeration is bit-exact vs DuckDB
    (same left-fold arithmetic as the top-k oracle)."""
    from hyrise_generalized_dedup_spark.ann.queries import ANN_ORACLES, ANN_QUERIES
    from hyrise_generalized_dedup_spark.testing import compare_to_duckdb

    df = ANN_QUERIES["embedding_neardup_pairs"](spark, sf_tiny)
    ok, msg = compare_to_duckdb(df, ANN_ORACLES["embedding_neardup_pairs"], sf_tiny)
    assert ok, msg


def test_semdedup_keepers_policy_and_oracle(spark, sf_tiny, tmp_path):
    """The retention manifest drops any vector with a LOWER-id cosine
    neighbor >= threshold — including C in a chain A~B~C where A!~C
    (C's dropping neighbor B is itself dropped; the policy is the
    deterministic anti-join, NOT greedy-sequential). Pinned on crafted
    vectors, then bit-exact vs DuckDB on real testdata."""
    from hyrise_generalized_dedup_spark.ann.queries import ANN_ORACLES, ANN_QUERIES
    from hyrise_generalized_dedup_spark.testing import compare_to_duckdb

    vecs = [
        (0, [1.0, 0.0], None),     # A: kept (no lower id)
        (1, [0.9, 0.44], None),    # B: cos(A,B)=0.898 -> dropped
        (2, [0.0, 1.0], None),     # C: cos(B,C)=0.439>=0.42 -> dropped; cos(A,C)=0
        (3, [-1.0, 0.0], None),    # D: all cosines <= 0 -> kept
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label long"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        r.vec_id: r.kept
        for r in ANN_QUERIES["semdedup_keepers"](spark, str(tmp_path)).collect()
    }
    assert got == {0: True, 1: False, 2: False, 3: True}

    df = ANN_QUERIES["semdedup_keepers"](spark, sf_tiny)
    ok, msg = compare_to_duckdb(df, ANN_ORACLES["semdedup_keepers"], sf_tiny)
    assert ok, msg


def test_ivf_train_degenerate_identical_sample(spark):
    """ADVICE r2: when every sampled vector is identical, kmeans++ d2 is
    all-zero — init must fall back to uniform selection, not raise."""
    from hyrise_generalized_dedup_spark.ann.ivf import train_centroids

    rng = np.random.default_rng(3)
    vecs = np.tile(rng.standard_normal(16).astype(np.float32), (50, 1))
    cent = train_centroids(_make_df(spark, vecs), k=4, iters=3, seed=42)
    assert cent.shape == (4, 16)
    assert np.all(np.isfinite(cent))


def test_ivf_train_accepts_precounted_n(spark):
    """Optional n kills the per-call count job and must not change the
    result (VERDICT r2 item 5)."""
    from hyrise_generalized_dedup_spark.ann.ivf import train_centroids

    rng = np.random.default_rng(4)
    vecs = rng.standard_normal((80, 16)).astype(np.float32)
    df = _make_df(spark, vecs)
    a = train_centroids(df, k=4, iters=4, seed=42)
    b = train_centroids(df, k=4, iters=4, seed=42, n=80)
    assert np.array_equal(a, b)


def test_cosine_vec_matches_catalyst(spark):
    """r6: the vectorized numpy left-fold cosine must reproduce the
    Catalyst F.aggregate fold bit-for-bit (same IEEE op order)."""
    import random

    import pyspark.sql.functions as F

    from hyrise_generalized_dedup_spark.ann.brute import cosine, cosine_vec

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)], [rng.uniform(-1, 1) for _ in range(64)])
        for i in range(300)
    ]
    # NULL and ragged vectors: the Catalyst fold yields NULL for both
    vec = [rng.uniform(-1, 1) for _ in range(64)]
    rows += [(300, None, vec), (301, vec, None), (302, None, None), (303, vec, vec[:32])]
    # (zero-norm vectors are not tested: the Catalyst reference itself
    # raises DIVIDE_BY_ZERO under ANSI mode, so the engine never sees them)
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    got = {
        r["id"]: (r["c1"], r["c2"])
        for r in df.select(
            "id",
            cosine(F.col("a"), F.col("b")).alias("c1"),
            cosine_vec(F.col("a"), F.col("b")).alias("c2"),
        ).collect()
    }
    import math

    for i in (300, 301, 302, 303):
        assert got[i] == (None, None), i
    for i, (c1, c2) in got.items():
        if c1 is None or (isinstance(c1, float) and math.isnan(c1)):
            assert c2 is None or math.isnan(c2), i
        else:
            assert c1 == c2, (i, c1.hex(), c2.hex())
