"""Near-dup stack vs brute-force oracles on the synthetic code corpus —
the north-star recall gate (BASELINE.json: dup-pair recall >= 0.99 vs
reference clustering at identical shingle/signature config)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from hyrise_generalized_dedup_spark.config import GDConfig
from hyrise_generalized_dedup_spark.dedup.cluster import connected_components
from hyrise_generalized_dedup_spark.dedup.lsh import band_table, candidate_pairs, verified_edges
from hyrise_generalized_dedup_spark.dedup.minhash import (
    _hash_params,
    estimated_jaccard,
    exact_jaccard,
    minhash_signature,
    shingle_hashes,
    signatures,
    simhash64,
)
from hyrise_generalized_dedup_spark.dedup.simhash import simhash_edges
from hyrise_generalized_dedup_spark.synth import generate, to_spark

CFG = GDConfig()  # canonical: k=8, 128 hashes, 32 bands


# ---------------------------------------------------------------- kernel ---

def test_signature_deterministic():
    a, b = _hash_params(CFG)
    blob = b"def f():\n    return 42\n" * 20
    s1 = minhash_signature(shingle_hashes(blob, 8), a, b)
    s2 = minhash_signature(shingle_hashes(blob, 8), a, b)
    assert np.array_equal(s1, s2)
    a2, b2 = _hash_params(CFG)  # re-derived params identical (seeded)
    assert np.array_equal(a, a2) and np.array_equal(b, b2)


def test_identical_content_identical_signature():
    a, b = _hash_params(CFG)
    x = b"some code content here padded out" * 10
    assert np.array_equal(
        minhash_signature(shingle_hashes(x, 8), a, b),
        minhash_signature(shingle_hashes(bytes(x), 8), a, b),
    )
    assert simhash64(shingle_hashes(x, 8)) == simhash64(shingle_hashes(bytes(x), 8))


@pytest.mark.parametrize("n_edits", [0, 2, 10, 50])
def test_estimated_vs_exact_jaccard(n_edits):
    import random

    rng = random.Random(7)
    base = ("\n".join(f"line_{i} = value_{rng.randrange(100)}" for i in range(80))).encode()
    edited = bytearray(base)
    for _ in range(n_edits):
        pos = rng.randrange(len(edited))
        edited[pos : pos + 1] = rng.choice(b"abcdefgh").to_bytes(1, "little")
    edited = bytes(edited)
    a, b = _hash_params(CFG)
    exact = exact_jaccard(base, edited, CFG.shingle_k)
    est = estimated_jaccard(
        minhash_signature(shingle_hashes(base, 8), a, b),
        minhash_signature(shingle_hashes(edited, 8), a, b),
    )
    assert abs(est - exact) < 0.15  # 128 hashes -> se ~ sqrt(j(1-j)/128) ~ 0.044
    if n_edits == 0:
        assert est == exact == 1.0


def test_simhash_unrelated_docs_far_apart():
    """Regression: FNV bit bias once collapsed 60%+ of docs to simhash -1;
    unrelated docs must sit near hamming 32, far above the <=3 cut."""
    import random

    rng = random.Random(11)
    hams = []
    prev = None
    for _ in range(30):
        blob = ("\n".join(f"w{rng.randrange(10**9)}" for _ in range(60))).encode()
        h = simhash64(shingle_hashes(blob, 8))
        if prev is not None:
            hams.append(bin(h ^ prev).count("1"))
        prev = h
    assert min(hams) > 10, f"degenerate simhash spacing: {sorted(hams)[:5]}"
    assert 20 < sum(hams) / len(hams) < 44


def test_short_and_empty_docs():
    a, b = _hash_params(CFG)
    e1 = minhash_signature(shingle_hashes(b"", 8), a, b)
    e2 = minhash_signature(shingle_hashes(b"", 8), a, b)
    s1 = minhash_signature(shingle_hashes(b"ab", 8), a, b)
    s2 = minhash_signature(shingle_hashes(b"cd", 8), a, b)
    assert np.array_equal(e1, e2)
    assert not np.array_equal(s1, s2)  # distinct short docs stay distinct


# ---------------------------------------------------------- end-to-end ----

def _oracle_pairs(corpus, threshold):
    blobs = {c[2]: c[4].encode() for c in corpus.rows}
    shingle_sets = {k: set(shingle_hashes(v, CFG.shingle_k).tolist()) for k, v in blobs.items()}
    keys = sorted(shingle_sets)
    out = set()
    for i, ka in enumerate(keys):
        sa = shingle_sets[ka]
        for kb in keys[i + 1 :]:
            sb = shingle_sets[kb]
            inter = len(sa & sb)
            if inter == 0 and (sa or sb):
                continue
            union = len(sa | sb)
            j = inter / union if union else 1.0
            if j >= threshold:
                out.add((min(ka, kb), max(ka, kb)))
    return out


@pytest.fixture(scope="module")
def corpus():
    return generate(n_rows=200, seed=42)


@pytest.fixture(scope="module")
def pipeline_edges(spark, corpus):
    df = to_spark(spark, corpus).withColumn("doc_key", F.col("commit"))
    sigs = signatures(df, CFG, text_col="content", key_col="doc_key").cache()
    bands = band_table(sigs)
    pairs = candidate_pairs(bands, CFG)
    edges = verified_edges(pairs, sigs, CFG).cache()
    return sigs, edges


def test_lsh_recall_against_oracle(corpus, pipeline_edges):
    """THE gate: every oracle pair (true jaccard >= threshold) must be
    found, recall >= 0.99."""
    oracle = _oracle_pairs(corpus, CFG.jaccard_threshold)
    assert len(oracle) > 50, "fixture must contain a meaningful dup population"
    _, edges = pipeline_edges
    found = {(min(r.key_a, r.key_b), max(r.key_a, r.key_b)) for r in edges.collect()}
    missed = oracle - found
    recall = 1 - len(missed) / len(oracle)
    assert recall >= 0.99, f"recall {recall:.4f}, missed {len(missed)}/{len(oracle)}: {list(missed)[:5]}"


def test_cluster_assignments_match_oracle(spark, corpus, pipeline_edges):
    """Cluster-level recall: oracle union-find vs pipeline connected
    components — co-clustered oracle pairs must co-cluster here."""
    oracle = _oracle_pairs(corpus, CFG.jaccard_threshold)
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in oracle:
        parent[find(a)] = find(b)

    _, edges = pipeline_edges
    cc = connected_components(edges.filter(F.col("jaccard_est") >= CFG.jaccard_threshold))
    assign = {r.doc_key: r.cluster_id for r in cc.collect()}
    co_clustered = sum(
        1 for a, b in oracle if assign.get(a) is not None and assign.get(a) == assign.get(b)
    )
    assert co_clustered / len(oracle) >= 0.99


def test_exact_dups_share_cluster(spark, corpus, pipeline_edges):
    _, edges = pipeline_edges
    cc = connected_components(edges)
    assign = {r.doc_key: r.cluster_id for r in cc.collect()}
    for group in corpus.exact_groups:
        ids = {assign.get(c) for c in group}
        assert len(ids) == 1 and None not in ids, f"exact group split: {group} -> {ids}"


def test_simhash_exact_dups_zero_hamming(spark, corpus, pipeline_edges):
    sigs, _ = pipeline_edges
    edges = simhash_edges(sigs, CFG)
    zero = edges.filter(F.col("hamming") == 0)
    pairs = {(r.key_a, r.key_b) for r in zero.collect()}
    for group in corpus.exact_groups:
        g = sorted(group)
        covered = any((min(a, b), max(a, b)) in pairs for i, a in enumerate(g) for b in g[i + 1 :])
        assert covered or len(g) < 2


def test_hot_bucket_star_path(spark):
    """Force the hot-bucket branch with a tiny threshold: a 40-copy family
    must still land in one cluster via star edges (O(m), not O(m^2))."""
    cfg = GDConfig(hot_band_threshold=5)
    rows = [("r", f"p{i}", f"c{i:03d}", "js", "var vendored = 1;\n" * 30) for i in range(40)]
    rows += [("r", "px", "unique", "js", "totally different content here\n" * 25)]
    df = spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")
    df = df.withColumn("doc_key", F.col("commit"))
    sigs = signatures(df, cfg, key_col="doc_key")
    pairs = candidate_pairs(band_table(sigs), cfg)
    n_pairs = pairs.count()
    # star edges: 39 per band-bucket deduped -> far below the 780-pair clique
    assert n_pairs <= 100, f"hot path emitted {n_pairs} pairs (quadratic blowup?)"
    edges = verified_edges(pairs, sigs, cfg)
    cc = connected_components(edges)
    assign = {r.doc_key: r.cluster_id for r in cc.collect()}
    family = {assign[f"c{i:03d}"] for i in range(40)}
    assert len(family) == 1
    assert "unique" not in assign  # no false edge to the distinct doc


def test_star_floor_precision_gate(spark):
    """Precision floor for the star-edge path (VERDICT r3 item 6): recall
    is gated >=0.99 elsewhere, but the relaxed star verification floor
    (star_floor_frac) had no regression gate — a future threshold tweak
    could silently over-merge hot buckets. Planted fixture: two DISTINCT
    vendored families (each a forced hot bucket) + unique docs. Gate:
    pairwise cluster precision >= 0.97 (true co-clustered pairs / all
    co-clustered pairs), families never merge with each other, and no
    unique doc joins a family."""
    import itertools

    cfg = GDConfig(hot_band_threshold=5)
    fam_a = [("r", f"a{i}", f"A{i:03d}", "js", "var vendored_a = 1;\n" * 30) for i in range(30)]
    fam_b = [
        ("r", f"b{i}", f"B{i:03d}", "js", "function vendored_b() { return 2; }\n" * 20)
        for i in range(30)
    ]
    import random

    rng = random.Random(13)
    uniq = [
        (
            "r",
            f"u{i}",
            f"U{i:03d}",
            "js",
            "\n".join(f"tok_{rng.randrange(10**9)} = {rng.randrange(10**6)}" for _ in range(40)),
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(
        fam_a + fam_b + uniq,
        "repo string, path string, commit string, lang string, content string",
    ).withColumn("doc_key", F.col("commit"))
    sigs = signatures(df, cfg, key_col="doc_key")
    edges = verified_edges(candidate_pairs(band_table(sigs), cfg), sigs, cfg)
    cc = connected_components(edges)
    assign = {r.doc_key: r.cluster_id for r in cc.collect()}
    truth = lambda k: k[0]  # family letter is the ground-truth cluster
    by_cluster: dict = {}
    for k, c in assign.items():
        by_cluster.setdefault(c, []).append(k)
    co_pairs = [
        p for members in by_cluster.values() for p in itertools.combinations(sorted(members), 2)
    ]
    assert co_pairs, "families must co-cluster at all (recall sanity)"
    true_pairs = sum(1 for a, b in co_pairs if truth(a) == truth(b) and truth(a) != "U")
    precision = true_pairs / len(co_pairs)
    assert precision >= 0.97, f"star-path precision {precision:.3f} over-merges"
    assert assign["A000"] != assign["B000"], "distinct families merged"
    fam_clusters = {assign["A000"], assign["B000"]}
    for i in range(40):
        assert assign.get(f"U{i:03d}") not in fam_clusters, f"unique doc U{i:03d} absorbed"


def test_connected_components_toy(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "key_a string, key_b string"
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("x",), ("y",), ("lone",)], "doc_key string")
    cc = connected_components(edges, nodes=nodes)
    assign = {r.doc_key: r.cluster_id for r in cc.collect()}
    assert assign["a"] == assign["b"] == assign["c"] == "a"
    assert assign["x"] == assign["y"] == "x"
    assert assign["lone"] == "lone"


def test_cc_driver_path_matches_distributed(spark):
    """The size-gated driver union-find (r5) must assign IDENTICAL labels
    to the distributed min-label propagation on arbitrary graphs — both
    define cluster_id as the component's minimum key. Random graphs plus
    the pointer-jumping worst case (a long chain)."""
    rng = np.random.default_rng(11)
    cases = []
    for n_nodes, n_edges in [(50, 30), (200, 400), (80, 79)]:
        a = rng.integers(0, n_nodes, n_edges)
        b = rng.integers(0, n_nodes, n_edges)
        cases.append([(f"n{x:04d}", f"n{y:04d}") for x, y in zip(a, b)])
    # chain short enough for the distributed path's max_iter (1 hop/iter)
    cases.append([(f"c{i:04d}", f"c{i + 1:04d}") for i in range(20)])
    for pairs in cases:
        edges = spark.createDataFrame(pairs, "key_a string, key_b string")
        fast = {
            r.doc_key: r.cluster_id
            for r in connected_components(edges).collect()
        }
        slow = {
            r.doc_key: r.cluster_id
            for r in connected_components(edges, driver_max_edges=None).collect()
        }
        assert fast == slow


def test_cc_driver_path_long_chain(spark):
    """Pointer-jumping worst case: a 300-hop chain (far beyond the
    distributed path's max_iter reach) collapses to its minimum key."""
    pairs = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(300)]
    edges = spark.createDataFrame(pairs, "key_a string, key_b string")
    assign = {r.doc_key: r.cluster_id for r in connected_components(edges).collect()}
    assert set(assign.values()) == {"c0000"} and len(assign) == 301


def test_cc_driver_gate_falls_back_when_truncated(spark):
    """limit(max+1) coming back oversized must route to the distributed
    path (never cluster a truncated edge list) with identical output."""
    pairs = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(0, 40, 2)]
    edges = spark.createDataFrame(pairs, "key_a string, key_b string")
    small_budget = {
        r.doc_key: r.cluster_id
        for r in connected_components(edges, driver_max_edges=5).collect()
    }
    reference = {
        r.doc_key: r.cluster_id
        for r in connected_components(edges, driver_max_edges=None).collect()
    }
    assert small_budget == reference


def test_cc_driver_path_empty_edges_and_singletons(spark):
    edges = spark.createDataFrame([], "key_a string, key_b string")
    nodes = spark.createDataFrame([("a",), ("b",)], "doc_key string")
    assign = {
        r.doc_key: r.cluster_id
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert assign == {"a": "a", "b": "b"}


def test_sideboard_cache_evicts_prior_entries(tmp_path, monkeypatch):
    """ADVICE r3: reused python workers must not accumulate one open mmap
    pair per verified_edges invocation — loading a new sideboard evicts
    the previous one from the worker-side cache."""
    from hyrise_generalized_dedup_spark.dedup import lsh

    paths = {}
    for tag in ("a", "b"):
        for part in ("k", "m"):
            p = tmp_path / f"{tag}{part}.npy"
            np.save(p, np.arange(3), allow_pickle=False)
            paths[f"{tag}{part}.npy"] = str(p)
    import pyspark

    monkeypatch.setattr(pyspark.SparkFiles, "get", lambda name: paths[name])
    monkeypatch.setattr(lsh, "_SIDEBOARD_CACHE", {}, raising=True)
    lsh._load_sideboard("ak.npy", "am.npy")
    assert set(lsh._SIDEBOARD_CACHE) == {("ak.npy", "am.npy")}
    lsh._load_sideboard("bk.npy", "bm.npy")
    assert set(lsh._SIDEBOARD_CACHE) == {("bk.npy", "bm.npy")}, "prior sideboard leaked"
    # re-loading the SAME sideboard is a cache hit, not a reload
    k1, _ = lsh._load_sideboard("bk.npy", "bm.npy")
    k2, _ = lsh._load_sideboard("bk.npy", "bm.npy")
    assert k1 is k2


def test_paragraph_dedup_matches_brute_force(spark, tmp_path):
    """Corpus-wide paragraph dedup vs a pure-Python census on composed
    multi-paragraph docs: paragraphs drawn from a shared pool with
    known reuse, so both multi-para splitting and cross-doc duplicate
    detection are exercised non-vacuously (the driver testdata is
    single-paragraph, where the gate only proves plumbing)."""
    import random
    import re

    from hyrise_generalized_dedup_spark.dedup.queries import DEDUP_QUERIES

    pool = [r[4] for r in generate(n_rows=60, seed=7).rows]
    rng = random.Random(11)
    docs = []
    for i in range(40):
        k = rng.randint(1, 4)
        text = "\n\n".join(rng.choice(pool) for _ in range(k))
        docs.append((i, text, "py", "synth", len(text)))
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        r.doc_id: (r.n_paras, r.n_dup_paras, r.dup_para_ratio)
        for r in DEDUP_QUERIES["dedup_paragraphs"](spark, str(tmp_path)).collect()
    }

    # brute-force census
    from collections import Counter

    def paras(t):
        return [
            p2
            for p in re.split(r"\n{2,}", t)
            if (p2 := re.sub(r"^\s+|\s+$", "", p))
        ]

    census = Counter(p for _, t, *_ in docs for p in paras(t))
    exp = {}
    for i, t, *_ in docs:
        ps = paras(t)
        nd = sum(1 for p in ps if census[p] > 1)
        exp[i] = (len(ps), nd, nd / len(ps) if ps else 0.0)
    assert got == exp
    assert sum(1 for n, _, _ in exp.values() if n >= 2) > 10, "multi-para docs"
    assert sum(nd for _, nd, _ in exp.values()) > 0, "cross-doc dup paragraphs"


def test_verified_edges_paths_agree(spark, corpus, pipeline_edges):
    """The python-broadcast gather path (sigs fit the budget) and the
    shuffled join fallback (the 10^12 path) must emit identical edges."""
    sigs, _ = pipeline_edges
    pairs = candidate_pairs(band_table(sigs), CFG)
    fast = verified_edges(pairs, sigs, CFG, broadcast_sigs=True)
    slow = verified_edges(pairs, sigs, CFG, broadcast_sigs=False)
    a = sorted(((r.key_a, r.key_b, round(r.jaccard_est, 9), r.source) for r in fast.collect()))
    b = sorted(((r.key_a, r.key_b, round(r.jaccard_est, 9), r.source) for r in slow.collect()))
    assert a == b and len(a) > 0
