"""Incremental updater: every stage output must be bit-equal to a
from-scratch run over the grown corpus (the construction argument in
dedup/incremental.py, checked end to end), plus the guard rails."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F
import pytest

from hyrise_generalized_dedup_spark.config import GDConfig
from hyrise_generalized_dedup_spark.dedup.incremental import incremental_update
from hyrise_generalized_dedup_spark.dedup.pipeline import Checkpointer, run_pipeline
from hyrise_generalized_dedup_spark.synth import generate, to_spark

STAGES = ("gd", "signatures", "reps", "candidates", "edges", "clusters", "suffix")


def _stage_rows(spark, out_dir, stage):
    df = Checkpointer(spark, out_dir, GDConfig()).load(stage)
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def _split(spark, n_rows, frac_mod, seed=42):
    """Full synth corpus + an 'old' subset (commit-hash partitioned, so
    near-dup/exact families straddle the old/new boundary — new docs
    join existing clusters, take over reps, and merge clusters)."""
    full = to_spark(spark, generate(n_rows=n_rows, seed=seed)).cache()
    old = full.filter(F.abs(F.hash("commit")) % 4 < frac_mod).cache()
    return full, old


def test_incremental_equals_scratch(spark, tmp_path):
    full, old = _split(spark, 500, 3)
    inc_dir, scratch_dir = str(tmp_path / "inc"), str(tmp_path / "scratch")
    run_pipeline(spark, old, inc_dir, resume=False)
    summary = incremental_update(spark, full, inc_dir)
    assert summary["n_files"] == full.count()
    assert summary["n_new_files"] == full.count() - old.count() > 0
    scratch = run_pipeline(spark, full, scratch_dir, resume=False)
    missing = set(scratch) - set(summary)
    assert not missing, f"incremental summary lacks {sorted(missing)}"
    for stage in STAGES:
        assert _stage_rows(spark, inc_dir, stage) == _stage_rows(
            spark, scratch_dir, stage
        ), f"stage {stage} diverged from the from-scratch run"
    # reuse actually happened: some prior pairs were matched and some
    # clusters stayed clean (otherwise this test proves nothing about
    # the incremental paths)
    assert summary["n_reused_lsh_edges"] > 0
    assert summary["n_dirty_clusters"] < summary["n_clusters"]
    shutil.rmtree(inc_dir, ignore_errors=True)
    shutil.rmtree(scratch_dir, ignore_errors=True)


def test_incremental_chained(spark, tmp_path):
    """old -> +batch1 -> +batch2 must equal scratch over everything —
    the swapped tree is a valid prior for the next increment."""
    full = to_spark(spark, generate(n_rows=400, seed=9)).cache()
    b0 = full.filter(F.abs(F.hash("commit")) % 3 == 0).cache()
    b01 = full.filter(F.abs(F.hash("commit")) % 3 <= 1).cache()
    inc_dir, scratch_dir = str(tmp_path / "inc"), str(tmp_path / "scratch")
    run_pipeline(spark, b0, inc_dir, resume=False)
    incremental_update(spark, b01, inc_dir)
    incremental_update(spark, full, inc_dir)
    run_pipeline(spark, full, scratch_dir, resume=False)
    for stage in ("edges", "clusters", "suffix"):
        assert _stage_rows(spark, inc_dir, stage) == _stage_rows(
            spark, scratch_dir, stage
        ), f"stage {stage} diverged after chained increments"
    shutil.rmtree(inc_dir, ignore_errors=True)
    shutil.rmtree(scratch_dir, ignore_errors=True)


def test_incremental_noop_and_guards(spark, tmp_path):
    full, old = _split(spark, 120, 3, seed=5)
    out = str(tmp_path / "out")
    run_pipeline(spark, old, out, resume=False)
    # same corpus again -> nothing recomputed, tree untouched
    before = _stage_rows(spark, out, "clusters")
    s = incremental_update(spark, old, out)
    assert s["n_new_files"] == 0 and s.get("unchanged")
    assert _stage_rows(spark, out, "clusters") == before
    # incomplete prior refused
    with pytest.raises(ValueError, match="incomplete"):
        incremental_update(spark, full, str(tmp_path / "never_ran"))
    shutil.rmtree(out, ignore_errors=True)


def test_incremental_crash_leaves_tree_unmarked(spark, tmp_path, monkeypatch):
    """A crash partway through an update (here: in the suffix stage, after
    the per-doc stages were appended and the rest staged) leaves no stage
    marked done, and a resumed run_pipeline over the grown corpus then
    rebuilds a tree equal to a from-scratch run."""
    from hyrise_generalized_dedup_spark.dedup import incremental

    full, old = _split(spark, 300, 3, seed=7)
    inc_dir, scratch_dir = str(tmp_path / "inc"), str(tmp_path / "scratch")
    run_pipeline(spark, old, inc_dir, resume=False)

    def crash(*args, **kwargs):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(incremental, "suffix_edges", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_update(spark, full, inc_dir)
    ckpt = Checkpointer(spark, inc_dir, GDConfig())
    marked = [stage for stage in STAGES if ckpt.done(stage)]
    assert not marked, f"stages still marked done after the crash: {marked}"
    monkeypatch.undo()
    run_pipeline(spark, full, inc_dir, resume=True)
    run_pipeline(spark, full, scratch_dir, resume=False)
    for stage in STAGES:
        assert _stage_rows(spark, inc_dir, stage) == _stage_rows(
            spark, scratch_dir, stage
        ), f"stage {stage} diverged after resuming a crashed update"
    shutil.rmtree(inc_dir, ignore_errors=True)
    shutil.rmtree(scratch_dir, ignore_errors=True)


def test_incremental_with_removals_equals_scratch(spark, tmp_path):
    """A mixed overwrite batch (removals AND additions) must still be
    bit-equal to scratch: per-doc checkpoints are filtered+appended, every
    downstream reuse path excludes ghosts by construction."""
    full = to_spark(spark, generate(n_rows=500, seed=13)).cache()
    old = full.filter(F.abs(F.hash("commit")) % 4 < 3).cache()
    # drop a quarter of the old docs, add the held-out quarter
    new = full.filter(F.abs(F.hash("commit")) % 4 != 1).cache()
    inc_dir, scratch_dir = str(tmp_path / "inc"), str(tmp_path / "scratch")
    run_pipeline(spark, old, inc_dir, resume=False)
    summary = incremental_update(spark, new, inc_dir)
    assert summary["n_removed_files"] > 0
    assert summary["n_new_files"] > 0
    run_pipeline(spark, new, scratch_dir, resume=False)
    for stage in STAGES:
        assert _stage_rows(spark, inc_dir, stage) == _stage_rows(
            spark, scratch_dir, stage
        ), f"stage {stage} diverged under removal"
    # reuse still happened despite the removals
    assert summary["n_reused_lsh_edges"] > 0
    shutil.rmtree(inc_dir, ignore_errors=True)
    shutil.rmtree(scratch_dir, ignore_errors=True)


def test_incremental_pure_deletion_equals_scratch(spark, tmp_path):
    """A deletion-only batch: no new content is computed (n_new == 0),
    per-doc stages are filtered in place, clusters/suffix re-derive."""
    full = to_spark(spark, generate(n_rows=300, seed=17)).cache()
    shrunk = full.filter(F.abs(F.hash("commit")) % 5 != 0).cache()
    inc_dir, scratch_dir = str(tmp_path / "inc"), str(tmp_path / "scratch")
    run_pipeline(spark, full, inc_dir, resume=False)
    summary = incremental_update(spark, shrunk, inc_dir)
    assert summary["n_new_files"] == 0
    assert summary["n_removed_files"] == full.count() - shrunk.count() > 0
    run_pipeline(spark, shrunk, scratch_dir, resume=False)
    for stage in STAGES:
        assert _stage_rows(spark, inc_dir, stage) == _stage_rows(
            spark, scratch_dir, stage
        ), f"stage {stage} diverged under pure deletion"
    shutil.rmtree(inc_dir, ignore_errors=True)
    shutil.rmtree(scratch_dir, ignore_errors=True)


def test_incremental_split_flip_census(spark, tmp_path):
    """Round-5 composition: retention manifest + leakage-safe split across
    an incremental refresh. Growth re-keys some clusters (new minimum
    member or merges), so cluster-keyed splits may flip — the flip census
    must account for every doc, report no removals on pure growth, and
    flips may occur only where the doc's cluster id changed."""
    from hyrise_generalized_dedup_spark.dedup.pipeline import retention_manifest
    from hyrise_generalized_dedup_spark.functions.split import (
        assign_split,
        split_flip_census,
    )

    full, old = _split(spark, 400, 3)
    out = str(tmp_path / "grow_split")
    run_pipeline(spark, old, out, resume=False)
    clusters_v1 = Checkpointer(spark, out, GDConfig()).load("clusters")
    m1_lazy = assign_split(retention_manifest(clusters_v1), "cluster_id")
    # freeze generation 1: the incremental update rewrites the clusters
    # checkpoint in place, so m1's lineage would read deleted files
    rows1_list = m1_lazy.collect()
    m1 = spark.createDataFrame(rows1_list, schema=m1_lazy.schema)
    rows1 = {r.doc_key: r for r in rows1_list}

    incremental_update(spark, full, out)
    clusters_v2 = Checkpointer(spark, out, GDConfig()).load("clusters")
    m2 = assign_split(retention_manifest(clusters_v2), "cluster_id")
    rows2 = {r.doc_key: r for r in m2.collect()}

    census = {
        (r.old_split, r.new_split): r.n
        for r in split_flip_census(m1, m2).collect()
    }
    assert sum(census.values()) == len(set(rows1) | set(rows2))
    assert not any(new is None for _, new in census)  # pure growth
    added = sum(n for (o, _), n in census.items() if o is None)
    assert added == len(rows2) - len(rows1) > 0
    for key, r1 in rows1.items():
        r2 = rows2[key]
        if r1.split != r2.split:
            assert r1.cluster_id != r2.cluster_id, key
    shutil.rmtree(out, ignore_errors=True)
