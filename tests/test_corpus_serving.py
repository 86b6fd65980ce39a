"""End-to-end corpus-serving journey: the composition a training-data
user actually runs — dedup pipeline -> retention manifest -> leakage-safe
split -> served (kept, train) corpus -> packs and stream offsets —
asserting the global properties each stage promises still hold after
composition, against the synth generator's dup ground truth."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from hyrise_generalized_dedup_spark.dedup.pipeline import (
    retention_manifest,
    run_pipeline,
)
from hyrise_generalized_dedup_spark.functions.split import assign_split
from hyrise_generalized_dedup_spark.synth import generate, to_spark


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("serve_out")
    corpus = generate(n_rows=300, seed=7)
    docs = to_spark(spark, corpus)
    run_pipeline(spark, docs, str(out), resume=False, with_suffix_stage=False)
    from hyrise_generalized_dedup_spark.config import GDConfig

    clusters = spark.read.parquet(
        f"{out}/checkpoint/{GDConfig().config_hash()}/clusters"
    )
    manifest = assign_split(
        retention_manifest(clusters),
        "cluster_id",
        splits=(("train", 0.8), ("val", 0.2)),
    ).persist()
    served_keys = manifest.filter(
        F.col("keep") & (F.col("split") == "train")
    ).select("doc_key", "cluster_id")
    yield corpus, manifest, served_keys
    manifest.unpersist()
    shutil.rmtree(out, ignore_errors=True)


def test_served_corpus_is_dedup_and_leak_free(served):
    corpus, manifest, served_keys = served
    rows = manifest.collect()
    by_key = {r.doc_key: r for r in rows}
    served = {r.doc_key for r in served_keys.collect()}

    # one served doc per cluster, never from a val cluster
    seen_clusters = set()
    for k in served:
        r = by_key[k]
        assert r.split == "train" and r.keep
        assert r.cluster_id not in seen_clusters
        seen_clusters.add(r.cluster_id)

    # ground truth: an exact-dup group contributes at most one served doc,
    # and its non-served members share the served member's split (no
    # member of a served group can sit in val: leakage guard holds
    # through the full composition)
    key_of = {c[2]: f"{c[0]}|{c[1]}|{c[2]}" for c in corpus.rows}
    for group in corpus.exact_groups:
        keys = [key_of[c] for c in group]
        assert sum(k in served for k in keys) <= 1
        splits = {by_key[k].split for k in keys}
        assert len(splits) == 1, f"group straddles splits: {splits}"


def test_split_fractions_at_cluster_granularity(served):
    _, manifest, _ = served
    per_cluster = manifest.select("cluster_id", "split").distinct()
    counts = dict(
        per_cluster.groupBy("split").count().collect()
    )
    total = sum(counts.values())
    # 80/20 within a generous tolerance for a few hundred clusters
    assert abs(counts.get("train", 0) / total - 0.8) < 0.12


# ------------------------------------------------------- serving offsets


def test_serving_offsets_are_a_consistent_token_index(spark):
    """global_pos is a permutation of 0..n-1 consistent with
    (bucket, rank); walking docs in global_pos order, each doc's
    global_token_offset is the running token total."""
    from hyrise_generalized_dedup_spark.functions.shuffle import serving_offsets

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (i % 9))) for i in range(300)],
        "doc_id long, text string",
    )
    out = sorted(serving_offsets(docs).collect(), key=lambda r: r["global_pos"])
    assert [r["global_pos"] for r in out] == list(range(300))
    acc = 0
    prev = (-1, 0)
    for r in out:
        assert (r["srv_bucket"], r["srv_rank"]) > prev  # bucket-major order
        prev = (r["srv_bucket"], r["srv_rank"])
        assert r["global_token_offset"] == acc
        acc += r["srv_n_tokens"]
        assert r["srv_n_tokens"] == r["doc_id"] % 9


def test_serving_offsets_stable_under_repartitioning(spark):
    from hyrise_generalized_dedup_spark.functions.shuffle import serving_offsets

    docs = spark.createDataFrame(
        [(i, " ".join(["t"] * (i % 5))) for i in range(200)],
        "doc_id long, text string",
    )
    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    a = key(serving_offsets(docs.repartition(1)).collect())
    b = key(serving_offsets(docs.repartition(13)).collect())
    assert a == b


def test_serving_offsets_match_duckdb_oracle(spark, sf_tiny):
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
    name = "corpus_serving_offsets"
    duck = sorted(map(tuple, con.execute(TEXT_ORACLES[name]).fetchall()))
    got = sorted(map(tuple, TEXT_QUERIES[name](spark, sf_tiny).collect()))
    assert got == duck and len(got) > 0


def test_served_corpus_packs_and_offsets_compose(spark, served):
    """The full serving tail: kept-train docs -> greedy packing +
    global offsets. Every served doc lands in exactly one pack and one
    stream slot; nothing unserved leaks in; token accounting agrees
    between the two indexes."""
    from hyrise_generalized_dedup_spark.functions.pack import (
        pack_census,
        pack_table,
    )
    from hyrise_generalized_dedup_spark.functions.shuffle import serving_offsets

    corpus, _, served_keys = served
    docs = to_spark(spark, corpus).withColumn(
        "doc_key", F.concat_ws("|", "repo", "path", "commit")
    )
    served_docs = (
        docs.join(served_keys, "doc_key")
        .select(
            F.xxhash64("doc_key").alias("doc_id"),
            F.col("content").alias("text"),
        )
    )
    n_served = served_docs.count()
    assert n_served > 50

    packed = pack_table(served_docs, capacity=256, n_shards=4)
    offsets = serving_offsets(served_docs, seed="serve-v1")
    p_rows = packed.collect()
    o_rows = offsets.collect()
    assert len(p_rows) == len(o_rows) == n_served
    assert {r["doc_id"] for r in p_rows} == {r["doc_id"] for r in o_rows}

    # token accounting agrees between the independent walks
    ptok = {r["doc_id"]: r["pack_n_tokens"] for r in p_rows}
    for r in o_rows:
        assert ptok[r["doc_id"]] == r["srv_n_tokens"]
    # the stream's total token length equals the packs' total fill
    census = pack_census(packed, capacity=256).collect()
    assert sum(c["fill_tokens"] for c in census) == sum(ptok.values())
    last = max(o_rows, key=lambda r: r["global_pos"])
    assert (
        last["global_token_offset"] + last["srv_n_tokens"]
        == sum(ptok.values())
    )
