"""Incremental dedup: fold a grown corpus into a prior run's checkpoints.

Production corpora are append-mostly tables (the north rule's Iceberg
code table grows by ingest batch); re-running the full DAG over 100 TB
to absorb a 100 GB batch re-pays the content-heavy stages (gd,
signatures, suffix — ~75% of pipeline wall at the 2M-file scaling eval)
for data whose outputs are already checkpointed and, being pure per-doc
/ per-pair / per-cluster functions, cannot change.

``incremental_update(spark, corpus, out_dir)`` takes the FULL current
corpus (old rows + appended rows, minus removed rows) and produces a
checkpoint tree **bit-equal to a from-scratch run over the whole
corpus** (tests/test_incremental.py compares every stage output). It
runs the pipeline's own stage builders and summary (dedup/pipeline.py)
and adds only the delta layer:

- discovery: new and removed docs by anti-joining doc ids against the
  prior signatures checkpoint.
- per-doc stages (gd, signatures): the kernels run over NEW docs only.
  Their rows are appended to the prior checkpoint (prior per-doc rows
  are immutable, so append is the union: O(batch) compute and I/O);
  under removal the prior rows are instead filtered to alive ids and
  rewritten — O(corpus) I/O, zero content recompute. Every downstream
  stage is rebuilt from alive rows only, so no removed doc can come back.
- LSH verification reuse: a pair's outcome is a pure function of
  (key_a, key_b, is_star) given the signature table, so prior edges of
  pairs still in the candidate set are kept and only new pairs reach
  the kernel. O(new pairs).
- suffix reuse: prior edges are kept for CLEAN clusters (identical
  membership: every member kept its cluster id and the old cluster's
  size is unchanged, so a cluster that lost a member is dirty) and the
  pass reruns only over dirty ones. O(dirty-cluster content).
- the swap: every stage's marker comes down before the first write and
  all recomputed stages are staged beside the live tree until one
  ``Checkpointer.commit``; a crash leaves the tree unmarked, and
  ``run_pipeline(resume=True)`` rebuilds it instead of trusting it.

reps, candidates, simhash/exact edges and clusters are recomputed over
the union (signature-width, content-free shuffles): a new doc with a
smaller id can take over a representative, and a grown band bucket can
cross the hot-bucket threshold.
"""

from __future__ import annotations

import logging

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..config import GDConfig
from .metrics import MetricsCollector
from .pipeline import (
    STAGES,
    Checkpointer,
    candidate_table,
    cluster_table,
    edge_table,
    gd_table,
    prepare_docs,
    rep_table,
    run_stage,
    signature_table,
    split_reps,
    suffix_docs,
    summarize,
)
from .suffix import suffix_edges

log = logging.getLogger(__name__)

# A pair's verification outcome depends on is_star too (stars get the
# relaxed floor, lsh.py), so reuse matches on all three columns; the
# same (a, b) re-emitted under a flipped star mode re-verifies.
_PAIR_KEY = ["key_a", "key_b", "is_star"]


def _clean_split(
    ckpt: Checkpointer, clusters: DataFrame, docs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """``(reused suffix edges of clean clusters, dirty clusters' docs)``."""
    old_clusters = ckpt.load("clusters").select(
        "doc_key", F.col("cluster_id").alias("old_cid")
    )
    old_sizes = old_clusters.groupBy("old_cid").agg(F.count(F.lit(1)).alias("old_sz"))
    # clean <=> every member kept its id (cluster_id == old_cid, so no
    # joins/new docs) AND the old cluster lost nobody (sizes equal) —
    # identical membership, and per-cluster determinism makes the old
    # edges exact. Everything else (new docs, merges, splits) is dirty.
    per_new = (
        clusters.join(old_clusters, "doc_key", "left")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.when(F.col("old_cid") == F.col("cluster_id"), 1).otherwise(0)).alias(
                "n_same"
            ),
        )
    )
    clean_cids = (
        per_new.join(old_sizes, per_new.cluster_id == old_sizes.old_cid)
        .filter(
            (F.col("n_members") == F.col("n_same")) & (F.col("old_sz") == F.col("n_members"))
        )
        .select("cluster_id")
    )
    clean_members = clusters.join(clean_cids, "cluster_id", "left_semi").select(
        F.col("doc_key").alias("key_a")
    )
    reused = ckpt.load("suffix").join(clean_members, "key_a", "left_semi")
    dirty_docs = clusters.join(clean_cids, "cluster_id", "left_anti").join(
        suffix_docs(docs), "doc_key"
    )
    return reused, dirty_docs


def incremental_update(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    cfg: GDConfig | None = None,
    with_suffix_stage: bool = True,
) -> dict[str, object]:
    """Absorb corpus growth into ``out_dir``'s checkpoint tree.

    ``corpus`` is the FULL current corpus (same schema the pipeline
    takes); new and removed docs are discovered against the prior
    signatures checkpoint (module docstring). Returns the updated summary
    dict. Raises if the prior tree is incomplete (a stage not marked
    done) or config-mismatched (different hash -> no tree)."""
    cfg = cfg or GDConfig()
    ckpt = Checkpointer(spark, out_dir, cfg, resume=True)
    metrics = MetricsCollector(spark, out_dir, cfg.config_hash())

    required = [s for s in STAGES[:-1] if with_suffix_stage or s != "suffix"]
    missing = [s for s in required if not ckpt.done(s)]
    if missing:
        raise ValueError(
            f"prior run at {out_dir} is incomplete for config "
            f"{cfg.config_hash()}: missing stages {missing}; run the full "
            "pipeline first"
        )

    cached, docs = prepare_docs(corpus, cfg)
    old_ids = ckpt.load("signatures").select("doc_id")
    removed_ids = old_ids.join(docs.select("doc_id"), "doc_id", "left_anti").persist()
    new_docs = docs.join(old_ids, "doc_id", "left_anti").persist()
    try:
        n_docs = docs.count()
        n_removed = removed_ids.count()
        n_new = new_docs.count()
        log.info(
            "incremental_update: %d new / %d removed docs over %d total",
            n_new,
            n_removed,
            n_docs,
        )

        if n_new == 0 and n_removed == 0:
            return {"n_files": n_docs, "n_new_files": 0, "n_removed_files": 0, "unchanged": True}

        # Every prior output is stale w.r.t. the new corpus: unmark them all
        # before the first write. With the markers down, run_stage recomputes
        # every stage below instead of loading it.
        ckpt.invalidate(required)

        def stage(name, build, store=ckpt.write_staged):
            return run_stage(ckpt, metrics, name, build, store)

        def per_doc(name, new_rows):
            if not n_removed:
                return ckpt.append(name, new_rows)
            alive = ckpt.load(name).join(removed_ids, "doc_id", "left_anti")
            return ckpt.write_staged(
                name, alive if new_rows is None else alive.unionByName(new_rows)
            )

        segments = stage("gd", lambda: gd_table(new_docs, cfg) if n_new else None, per_doc)
        sigs = stage(
            "signatures", lambda: signature_table(new_docs, cfg) if n_new else None, per_doc
        )
        rep_map = stage("reps", lambda: rep_table(sigs))
        rep_sigs, exact_edges = split_reps(rep_map)
        pairs = stage("candidates", lambda: candidate_table(rep_sigs, cfg))

        # Prior pairs that are candidates again keep their prior outcome. Every
        # prior LSH edge comes from a prior pair with the same key, so semi-
        # joining the prior edges on the new pairs finds the reused ones.
        old_pairs = ckpt.load("candidates").select(*_PAIR_KEY)
        todo = pairs.join(old_pairs, _PAIR_KEY, "left_anti")
        reused = (
            ckpt.load("edges")
            .filter(F.col("source").isin("lsh", "lsh_star"))
            .withColumn("is_star", (F.col("source") == "lsh_star").cast("int"))
            .join(pairs.select(*_PAIR_KEY), _PAIR_KEY, "left_semi")
            .drop("is_star")
        )
        edges = stage(
            "edges", lambda: reused.unionByName(edge_table(todo, rep_sigs, exact_edges, cfg))
        )
        clusters = stage("clusters", lambda: cluster_table(edges, docs, n_docs, cfg))

        suffix, jobs = None, {"n_reused_lsh_edges": reused.count}
        if with_suffix_stage:
            suffix_reused, dirty_docs = _clean_split(ckpt, clusters, docs)
            suffix = stage(
                "suffix", lambda: suffix_reused.unionByName(suffix_edges(dirty_docs, cfg))
            )
            jobs["n_dirty_clusters"] = lambda: dirty_docs.select("cluster_id").distinct().count()
        else:
            # a prior suffix checkpoint is stale w.r.t. the new corpus; left in
            # place a later resume/incremental could trust it silently
            ckpt.discard("suffix")
            metrics.add(n_dirty_clusters=None)

        metrics.add(n_new_files=n_new, n_removed_files=n_removed)
        summary = summarize(metrics, n_docs, segments, clusters, pairs, edges, suffix, **jobs)
        ckpt.commit()
        return summary
    finally:
        for df in (cached, new_docs, removed_ids):
            df.unpersist()
