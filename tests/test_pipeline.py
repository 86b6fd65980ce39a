"""End-to-end pipeline: golden run, resume idempotence, determinism
(FIXTURES.md F4.2/F4.4)."""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
import pytest

from hyrise_generalized_dedup_spark.config import GDConfig
from hyrise_generalized_dedup_spark.dedup.pipeline import run_pipeline
from hyrise_generalized_dedup_spark.synth import generate, to_spark


@pytest.fixture(scope="module")
def out_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("gd_out")
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def corpus():
    return generate(n_rows=200, seed=42)


@pytest.fixture(scope="module")
def summary(spark, corpus, out_dir):
    return run_pipeline(spark, to_spark(spark, corpus), out_dir, resume=False)


def test_summary_shape(summary):
    assert summary["n_files"] == 200
    assert summary["total_segments"] > 0
    assert summary["n_multi_doc_clusters"] > 0
    assert 0.0 <= float(summary["dedup_ratio"]) <= 1.0
    # exact duplicates guarantee segment-level dedup
    assert summary["distinct_bases"] < summary["total_segments"]
    # the verification sideboard stays under the scratch root until exit
    assert summary["n_retained_sideboard_dirs"] >= 1
    assert summary["retained_sideboard_bytes"] > 0


def test_checkpoints_and_metrics_on_disk(out_dir, summary):
    cfgh = GDConfig().config_hash()
    for stage in ("gd", "signatures", "reps", "candidates", "edges", "clusters", "suffix"):
        assert os.path.exists(os.path.join(out_dir, "checkpoint", cfgh, stage, "_DONE")), stage
        assert os.path.exists(os.path.join(out_dir, "metrics", f"{stage}.json")), stage
    with open(os.path.join(out_dir, "metrics", "summary.json")) as fh:
        js = json.load(fh)
    assert js["n_files"] == 200 and js["config_hash"] == cfgh


def test_exact_groups_coclustered(spark, corpus, out_dir, summary):
    cfgh = GDConfig().config_hash()
    clusters = spark.read.parquet(os.path.join(out_dir, "checkpoint", cfgh, "clusters"))
    assign = {r.doc_key: r.cluster_id for r in clusters.collect()}
    key_of = {c[2]: f"{c[0]}|{c[1]}|{c[2]}" for c in corpus.rows}
    for group in corpus.exact_groups:
        ids = {assign[key_of[c]] for c in group}
        assert len(ids) == 1


def test_retention_manifest(spark, corpus, out_dir, summary):
    """The keep/drop manifest keeps exactly one doc per cluster (the min
    doc_key), covers every doc once, and drops every non-canonical
    member of each exact-dup group."""
    from hyrise_generalized_dedup_spark.dedup.pipeline import retention_manifest

    cfgh = GDConfig().config_hash()
    clusters = spark.read.parquet(os.path.join(out_dir, "checkpoint", cfgh, "clusters"))
    man = {r.doc_key: r for r in retention_manifest(clusters).collect()}
    assert len(man) == clusters.count()
    by_cluster = {}
    for r in man.values():
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, rows in by_cluster.items():
        kept = [r for r in rows if r.keep]
        assert len(kept) == 1, f"cluster {cid} kept {len(kept)}"
        assert kept[0].doc_key == min(r.doc_key for r in rows)
        assert all(r.canonical_key == kept[0].doc_key for r in rows)
    key_of = {c[2]: f"{c[0]}|{c[1]}|{c[2]}" for c in corpus.rows}
    for group in corpus.exact_groups:
        keeps = [man[key_of[c]].keep for c in group]
        assert sum(keeps) <= 1  # group shares a cluster -> one keeper max


def test_neardup_pairs_coclustered(spark, corpus, out_dir, summary):
    """Generator ground truth: >=95% of near-dup pairs co-cluster (the
    k=10-edit tail can legitimately fall under the jaccard threshold;
    the strict >=0.99 oracle-recall gate lives in test_neardup.py)."""
    cfgh = GDConfig().config_hash()
    clusters = spark.read.parquet(os.path.join(out_dir, "checkpoint", cfgh, "clusters"))
    assign = {r.doc_key: r.cluster_id for r in clusters.collect()}
    key_of = {c[2]: f"{c[0]}|{c[1]}|{c[2]}" for c in corpus.rows}
    hits = sum(assign[key_of[a]] == assign[key_of[b]] for a, b in corpus.dup_pairs)
    assert hits / len(corpus.dup_pairs) >= 0.95


def test_resume_skips_and_reproduces(spark, corpus, out_dir, summary):
    """Re-run with resume=True: all stages load from checkpoint and the
    cluster assignment is byte-identical."""
    cfgh = GDConfig().config_hash()
    p = os.path.join(out_dir, "checkpoint", cfgh, "clusters")
    before = sorted((r.doc_key, r.cluster_id) for r in spark.read.parquet(p).collect())
    mtime = os.path.getmtime(os.path.join(p, "_DONE"))
    s2 = run_pipeline(spark, to_spark(spark, corpus), out_dir, resume=True)
    assert os.path.getmtime(os.path.join(p, "_DONE")) == mtime  # not rewritten
    after = sorted((r.doc_key, r.cluster_id) for r in spark.read.parquet(p).collect())
    assert before == after
    assert s2["n_clusters"] == summary["n_clusters"]


def test_partial_resume_recomputes_only_missing(spark, corpus, out_dir, summary):
    """Delete the last stage's marker: earlier stages load, suffix
    recomputes, results identical (stage-level restart semantics)."""
    cfgh = GDConfig().config_hash()
    suffix_p = os.path.join(out_dir, "checkpoint", cfgh, "suffix")
    before = sorted(
        (r.key_a, r.key_b, r.source) for r in spark.read.parquet(suffix_p).collect()
    )
    os.remove(os.path.join(suffix_p, "_DONE"))
    run_pipeline(spark, to_spark(spark, corpus), out_dir, resume=True)
    after = sorted(
        (r.key_a, r.key_b, r.source) for r in spark.read.parquet(suffix_p).collect()
    )
    assert before == after


def test_determinism_fresh_rerun(spark, corpus, out_dir, summary, tmp_path):
    """Full fresh run in a different directory -> identical clusters
    (FIXTURES F4.4: determinism across runs)."""
    out2 = str(tmp_path / "gd_out2")
    run_pipeline(spark, to_spark(spark, corpus), out2, resume=False)
    cfgh = GDConfig().config_hash()
    a = sorted(
        (r.doc_key, r.cluster_id)
        for r in spark.read.parquet(os.path.join(out_dir, "checkpoint", cfgh, "clusters")).collect()
    )
    b = sorted(
        (r.doc_key, r.cluster_id)
        for r in spark.read.parquet(os.path.join(out2, "checkpoint", cfgh, "clusters")).collect()
    )
    assert a == b


@pytest.mark.parametrize("n_rows", [0, 20], ids=["empty", "all_null_content"])
def test_degenerate_corpus_summary(spark, tmp_path, n_rows):
    """A corpus with no segments (no rows, or only NULL content) runs every
    stage and reports zero counts with a NULL dedup ratio, not a
    DIVIDE_BY_ZERO from the summary."""
    rows = [(f"r{i}", f"p{i}.py", f"c{i}", "python", None) for i in range(n_rows)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    summary = run_pipeline(spark, df, str(tmp_path / "out"), resume=False)
    assert summary["n_files"] == n_rows
    assert summary["total_segments"] == 0
    assert summary["distinct_bases"] == 0
    assert summary["n_candidate_pairs"] == 0
    assert summary["dedup_ratio"] is None


def _old_and_grown(spark, corpus):
    """A quarter of the corpus held out by commit hash (the prior run's
    input) and the whole corpus (the grown one)."""
    full = to_spark(spark, corpus)
    return full.filter(F.abs(F.hash("commit")) % 4 != 0), full


def test_star_audit_counts_in_summary(spark, corpus, summary, tmp_path):
    """ADVICE r2: the star-edge approximation must be auditable from the
    summary alone — kept/dropped star counts and edges-by-source — for a
    fresh run and for an incremental update alike."""
    from hyrise_generalized_dedup_spark.dedup.incremental import incremental_update

    old, full = _old_and_grown(spark, corpus)
    out = str(tmp_path / "star_inc")
    run_pipeline(spark, old, out, resume=False)
    inc_summary = incremental_update(spark, full, out)
    assert inc_summary["n_new_files"] > 0
    for s in (summary, inc_summary):
        assert "n_star_candidates" in s
        assert "n_star_edges_kept" in s
        assert s["n_star_edges_dropped"] == (
            s["n_star_candidates"] - s["n_star_edges_kept"]
        )
        by_source = s["n_edges_by_source"]
        assert s["n_edges"] == sum(by_source.values())
        assert by_source.get("exact", 0) > 0  # synth corpus plants exact dups
    shutil.rmtree(out, ignore_errors=True)


def test_no_persisted_leftovers_after_pipeline(spark, corpus, tmp_path):
    """run_pipeline and incremental_update must release every DataFrame
    they persisted (VERDICT r2 item 5: candidate_pairs leaked its
    annotated band cache). Compared as a before/after delta — other test
    modules may legitimately hold caches on the shared session."""
    from hyrise_generalized_dedup_spark.dedup.incremental import incremental_update

    def persisted_ids():
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {k for k in m.keySet().toArray()}

    old, full = _old_and_grown(spark, corpus)
    # the update both adds the held-out quarter and removes another one
    grown = full.filter(F.abs(F.hash("commit")) % 4 != 1)
    out = str(tmp_path / "leak_out")
    before = persisted_ids()
    run_pipeline(spark, old, out, resume=False, with_suffix_stage=False)
    leaked = persisted_ids() - before
    assert not leaked, f"pipeline leaked persisted RDD ids {leaked}"
    s = incremental_update(spark, grown, out, with_suffix_stage=False)
    assert s["n_new_files"] > 0 and s["n_removed_files"] > 0
    leaked = persisted_ids() - before
    assert not leaked, f"incremental_update leaked persisted RDD ids {leaked}"


@pytest.mark.parametrize("failing", ["candidates", "edges"])
def test_failed_stage_leaves_nothing_persisted(spark, corpus, tmp_path, monkeypatch, failing):
    """A stage that raises after its write (here: its _DONE marker) must
    not pin what it persisted; run_stage frees it on the error path too."""
    from hyrise_generalized_dedup_spark.dedup.pipeline import Checkpointer

    def persisted_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    mark = Checkpointer._mark

    def failing_mark(self, stage):
        if stage == failing:
            raise OSError(f"injected marker failure: {stage}")
        mark(self, stage)

    monkeypatch.setattr(Checkpointer, "_mark", failing_mark)
    before = persisted_ids()
    with pytest.raises(OSError, match=failing):
        run_pipeline(
            spark, to_spark(spark, corpus), str(tmp_path / "out"),
            resume=False, with_suffix_stage=False,
        )
    leaked = persisted_ids() - before
    assert not leaked, f"failed {failing} stage leaked persisted RDD ids {leaked}"


def test_metrics_legacy_dir_collision(spark, corpus, tmp_path):
    """A round-1 out_dir left parquet DIRECTORIES at metrics/<stage>;
    recomputing a stage over such a dir must not raise IsADirectoryError
    (ADVICE r2)."""
    out = str(tmp_path / "legacy_out")
    os.makedirs(os.path.join(out, "metrics", "gd"))  # legacy parquet dir
    s = run_pipeline(
        spark, to_spark(spark, corpus), out, resume=False, with_suffix_stage=False
    )
    assert s["n_files"] == 200
    assert os.path.isfile(os.path.join(out, "metrics", "gd.json"))
    shutil.rmtree(out, ignore_errors=True)


def test_resume_through_file_uri_out_dir(spark, corpus, tmp_path):
    """VERDICT r3 item 2: checkpoint markers + metrics must be
    filesystem-agnostic. Drive the whole marker/metrics layer through a
    `file://` URI out_dir (exercising the Hadoop FS API path — raw
    os.path/open() would treat 'file:/...' as a relative dir and either
    crash or silently never resume), then resume and verify stage-skip
    semantics still hold."""
    from hyrise_generalized_dedup_spark import fsutil

    local_root = tmp_path / "uri_out"
    out = "file://" + str(local_root)
    s1 = run_pipeline(
        spark, to_spark(spark, corpus), out, resume=False, with_suffix_stage=False
    )
    assert s1["n_files"] == 200
    cfgh = GDConfig().config_hash()
    # markers + metrics actually landed under the URI's local root
    for stage in ("gd", "signatures", "reps", "candidates", "edges", "clusters"):
        assert (local_root / "checkpoint" / cfgh / stage / "_DONE").is_file(), stage
        assert (local_root / "metrics" / f"{stage}.json").is_file(), stage
    assert json.loads((local_root / "metrics" / "summary.json").read_text())[
        "n_files"
    ] == 200
    # resume through the URI: clusters stage must be skipped (marker mtime
    # unchanged) and the assignment byte-identical
    marker = local_root / "checkpoint" / cfgh / "clusters" / "_DONE"
    mtime = marker.stat().st_mtime
    p = out + f"/checkpoint/{cfgh}/clusters"
    before = sorted((r.doc_key, r.cluster_id) for r in spark.read.parquet(p).collect())
    s2 = run_pipeline(
        spark, to_spark(spark, corpus), out, resume=True, with_suffix_stage=False
    )
    assert marker.stat().st_mtime == mtime
    after = sorted((r.doc_key, r.cluster_id) for r in spark.read.parquet(p).collect())
    assert before == after and s2["n_clusters"] == s1["n_clusters"]
    # partial resume: drop one marker via the FS API, that stage recomputes
    fsutil.delete(spark, out + f"/checkpoint/{cfgh}/edges/_DONE", recursive=False)
    run_pipeline(
        spark, to_spark(spark, corpus), out, resume=True, with_suffix_stage=False
    )
    assert (local_root / "checkpoint" / cfgh / "edges" / "_DONE").is_file()
    shutil.rmtree(local_root, ignore_errors=True)


def test_checkpoint_layer_has_no_posix_calls():
    """Regression for the fix itself: the marker/metrics layer must stay
    on the Hadoop FS API — a raw os.path/open() reintroduced there would
    break object-store out_dirs silently (local tests would still pass)."""
    import inspect

    from hyrise_generalized_dedup_spark.dedup import metrics as metrics_mod
    from hyrise_generalized_dedup_spark.dedup.pipeline import Checkpointer

    for src in (inspect.getsource(Checkpointer), inspect.getsource(metrics_mod)):
        code = "\n".join(
            line for line in src.splitlines() if not line.lstrip().startswith("#")
        )
        assert "os.path" not in code and "open(" not in code.replace("fs.open", "")


def test_fsutil_roundtrip(spark, tmp_path):
    from hyrise_generalized_dedup_spark import fsutil

    base = "file://" + str(tmp_path / "fsu")
    p = fsutil.urljoin(base, "a", "b.txt")
    assert p.endswith("/fsu/a/b.txt") and p.startswith("file://")
    assert not fsutil.exists(spark, p)
    fsutil.write_text(spark, p, "hello\n")
    assert fsutil.exists(spark, p)
    assert fsutil.read_text(spark, p) == "hello\n"
    assert fsutil.list_files(spark, fsutil.urljoin(base, "a")) == [("b.txt", 6)]
    assert fsutil.is_dir(spark, fsutil.urljoin(base, "a"))
    assert not fsutil.is_dir(spark, p)
    fsutil.delete(spark, base)
    assert not fsutil.exists(spark, p)
    # s3a-style scheme joins survive urljoin (no os.path backslash/retree)
    assert fsutil.urljoin("s3a://bucket/pre", "x") == "s3a://bucket/pre/x"


def test_synth_generator_deterministic():
    c1, c2 = generate(123, seed=42), generate(123, seed=42)
    assert c1.rows == c2.rows and c1.dup_pairs == c2.dup_pairs
    c3 = generate(123, seed=43)
    assert c1.rows != c3.rows


def test_generate_distributed_matches_contract(spark):
    """Distributed generation: unique doc identities across ranges, the
    global vendored family spans ranges, and the result is deterministic
    for a fixed (n, seed) regardless of parallelism."""
    from hyrise_generalized_dedup_spark.synth import generate_distributed

    n = 4000
    df = generate_distributed(spark, n, seed=42, rows_per_task=1000).cache()
    assert df.count() == n
    # identities never collide across independently generated ranges
    assert df.select("repo", "path", "commit").distinct().count() == n
    # the vendored skew family spans ranges: one content with many copies
    import pyspark.sql.functions as F

    top = (
        df.groupBy(F.sha2("content", 256).alias("h"))
        .count()
        .orderBy(F.desc("count"))
        .first()
    )
    assert top["count"] >= 100, "vendored family must span ranges"
    # determinism incl. under different parallelism
    df2 = generate_distributed(spark.newSession() if False else spark, n, seed=42, rows_per_task=1000)
    a = sorted(map(tuple, df.select("commit", "content").collect()))
    b = sorted(map(tuple, df2.select("commit", "content").collect()))
    assert a == b
    df.unpersist()


def test_changed_config_never_reuses_stale_checkpoints(spark, corpus, out_dir, summary):
    """The config hash keys every checkpoint path: a run with a DIFFERENT
    config must not resume from the first config's stage outputs (stale
    reuse would silently produce wrong clusters)."""
    from hyrise_generalized_dedup_spark.synth import to_spark

    cfg2 = GDConfig(shingle_k=6)
    assert cfg2.config_hash() != GDConfig().config_hash()
    s2 = run_pipeline(
        spark, to_spark(spark, corpus), out_dir, cfg=cfg2,
        resume=True, with_suffix_stage=False,
    )
    # both checkpoint trees coexist, keyed by their hashes
    assert os.path.exists(os.path.join(out_dir, "checkpoint", GDConfig().config_hash()))
    assert os.path.exists(os.path.join(out_dir, "checkpoint", cfg2.config_hash()))
    assert s2["config_hash"] == cfg2.config_hash()
    assert s2["n_files"] == 200


def test_gc_stale_checkpoints(spark, corpus, out_dir, summary):
    """--gc-stale semantics: checkpoint trees whose config hash differs
    from the current config's are deleted (via the FS API, so this works
    on object-store out_dirs); the current tree survives untouched and
    stays resumable."""
    from hyrise_generalized_dedup_spark.dedup.pipeline import gc_stale_checkpoints
    from hyrise_generalized_dedup_spark.synth import to_spark

    cfg2 = GDConfig(shingle_k=6)
    run_pipeline(
        spark, to_spark(spark, corpus), out_dir, cfg=cfg2,
        resume=True, with_suffix_stage=False,
    )
    keep_hash, stale_hash = GDConfig().config_hash(), cfg2.config_hash()
    assert os.path.exists(os.path.join(out_dir, "checkpoint", stale_hash))

    deleted = gc_stale_checkpoints(spark, out_dir, GDConfig())
    assert deleted == [stale_hash]
    assert not os.path.exists(os.path.join(out_dir, "checkpoint", stale_hash))
    assert os.path.exists(os.path.join(out_dir, "checkpoint", keep_hash))
    # idempotent; and the surviving tree still resumes (markers intact)
    assert gc_stale_checkpoints(spark, out_dir, GDConfig()) == []
    s = run_pipeline(
        spark, to_spark(spark, corpus), out_dir, resume=True, with_suffix_stage=False
    )
    assert s["n_clusters"] == summary["n_clusters"]


def test_shuffle_partitions_helper_tolerates_auto(spark):
    """Platforms that set spark.sql.shuffle.partitions to 'auto' must not
    crash the suffix stage's bucket sizing (ADVICE r4)."""
    from hyrise_generalized_dedup_spark.session import shuffle_partitions

    from types import SimpleNamespace

    assert shuffle_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    # Spark 4's conf.set validates the value as numeric, so the 'auto'
    # scenario (set at session build on those platforms) is modeled with
    # a stub exposing the same two attributes the helper touches.
    fake = SimpleNamespace(
        conf=SimpleNamespace(get=lambda k: "auto"),
        sparkContext=SimpleNamespace(defaultParallelism=7),
    )
    assert shuffle_partitions(fake) == 7


# --- content normalizers (code payload: format- and rename-invariant) ---

_NORM_BASE = "\n".join(
    [
        "def compute_totals(records, tax_rate):",
        "    running_total = 0",
        "    for record in records:",
        "        running_total = running_total + record * (1 + tax_rate)",
        "    if running_total > 1000:",
        "        running_total = running_total - discount_for(running_total)",
        "    return running_total",
        "",
        "def discount_for(amount):",
        "    threshold = 250",
        "    while amount > threshold:",
        "        amount = amount - threshold",
        "    return amount",
    ]
)
# alpha-renamed + re-literal'd: a type-2 clone of _NORM_BASE
_NORM_RENAMED = (
    _NORM_BASE.replace("compute_totals", "sum_up")
    .replace("running_total", "acc")
    .replace("records", "rows")
    .replace("record", "row")
    .replace("tax_rate", "vat")
    .replace("discount_for", "rebate")
    .replace("amount", "val")
    .replace("threshold", "floor_val")
    .replace("1000", "2500")
    .replace("250", "90")
)
# reformatted only: comments + indentation churn, tokens identical
_NORM_REFORMATTED = "# billing helpers\n" + _NORM_BASE.replace(
    "    ", "  "
).replace("\n\n", "\n# section\n\n\n")


def _normalizer_corpus(spark):
    rows = [
        ("repo/base", "a.py", "c1", "py", _NORM_BASE),
        ("repo/renamed", "b.py", "c1", "py", _NORM_RENAMED),
        ("repo/reformat", "c.py", "c1", "py", _NORM_REFORMATTED),
    ]
    filler = generate(n_rows=40, seed=7)
    rows += list(filler.rows)
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


def _cluster_of(spark, out, cfg, doc_key):
    clusters = spark.read.parquet(
        os.path.join(out, "checkpoint", cfg.config_hash(), "clusters")
    )
    return {r.doc_key: r.cluster_id for r in clusters.collect()}[doc_key]


@pytest.mark.parametrize(
    "normalizer,renamed_joins,reformat_joins",
    [("raw", False, False), ("format", False, True), ("type2", True, True)],
)
def test_normalizer_cluster_semantics(
    spark, tmp_path, normalizer, renamed_joins, reformat_joins
):
    """raw: byte-shingles keep rename/reformat variants apart; format:
    reformatting collapses; type2: alpha-renaming collapses too."""
    cfg = GDConfig(normalizer=normalizer)
    out = str(tmp_path / f"norm_{normalizer}")
    docs = _normalizer_corpus(spark)
    summary = run_pipeline(
        spark, docs, out, cfg=cfg, resume=False, with_suffix_stage=False
    )
    assert summary["n_files"] == 43
    base = _cluster_of(spark, out, cfg, "repo/base|a.py|c1")
    renamed = _cluster_of(spark, out, cfg, "repo/renamed|b.py|c1")
    reformat = _cluster_of(spark, out, cfg, "repo/reformat|c.py|c1")
    assert (renamed == base) == renamed_joins, normalizer
    assert (reformat == base) == reformat_joins, normalizer


def test_normalizer_isolates_checkpoints():
    hashes = {GDConfig(normalizer=n).config_hash() for n in ("raw", "format", "type2")}
    assert len(hashes) == 3, "each normalizer must key its own checkpoint tree"


def test_default_normalizer_is_raw():
    assert GDConfig().normalizer == "raw"
    with pytest.raises(ValueError):
        GDConfig(normalizer="ast")


def test_cli_repo_dedup_prefilter(tmp_path):
    """--repo-dedup drops forked repos before the file pipeline and
    reports the repo census in the summary (subprocess, CLI surface)."""
    import subprocess
    import sys

    out = str(tmp_path / "repo_dedup_out")
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "hyrise_generalized_dedup_spark.dedup.pipeline",
            "--input", "synth:500",
            "--output", out,
            "--master", "local[2]",
            "--no-suffix",
            "--repo-dedup",
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    rd = summary["repo_dedup"]
    assert 0 < rd["n_repos_kept"] <= rd["n_repos_total"]
    assert summary["n_files"] <= 500
    assert summary["n_clusters"] > 0


def test_cli_license_policy_prefilter(tmp_path):
    """--license-policy no-copyleft drops GPL-headed files before the
    file pipeline and reports the filter census (subprocess, CLI)."""
    import subprocess
    import sys

    import pandas as pd

    rows = []
    for i in range(36):
        if i % 6 == 0:  # copyleft: must be dropped
            content = (
                "// SPDX-License-Identifier: GPL-3.0-only\n"
                f"int f{i}() {{ return {i} * 7; }}\n"
            )
        elif i % 6 == 1:  # permissive: kept under no-copyleft
            content = (
                "# SPDX-License-Identifier: MIT\n"
                f"def g{i}(x):\n    return x + {i}\n"
            )
        else:  # no license: kept under no-copyleft
            content = f"def h{i}(x):\n    return x - {i}\n"
        rows.append((f"repo{i % 9}", f"src/f{i}.py", f"c{i}", "py", content))
    pdf = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content"]
    )
    inp = str(tmp_path / "licensed_input")
    os.makedirs(inp, exist_ok=True)
    pdf.to_parquet(os.path.join(inp, "part-0.parquet"))

    out = str(tmp_path / "license_out")
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "hyrise_generalized_dedup_spark.dedup.pipeline",
            "--input", inp,
            "--output", out,
            "--master", "local[2]",
            "--no-suffix",
            "--license-policy", "no-copyleft",
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    lf = summary["license_filter"]
    assert lf["policy"] == "no-copyleft"
    assert lf["n_files_before"] == 36
    assert lf["n_files_kept"] == 30  # the 6 GPL files are gone
    assert summary["n_files"] == 30


def test_cli_license_policy_with_repo_dedup_census(tmp_path):
    """Combined --license-policy + --repo-dedup: the license census is
    counted BEFORE the repo semi-join, so fork-family drops are never
    attributed to the license policy."""
    import subprocess
    import sys

    import pandas as pd

    rows = []
    # 3 GPL files (license drop) + 12 plain files across distinct repos
    for i in range(15):
        if i < 3:
            content = (
                "// SPDX-License-Identifier: GPL-3.0-only\n"
                f"int f{i}() {{ return {i}; }}\n"
            )
        else:
            content = f"def h{i}(x):\n    return x - {i}\n"
        rows.append((f"repo{i}", f"src/f{i}.py", f"c{i}", "py", content))
    # a fork family: forkA and forkB share 4 identical files -> one keeper
    for j in range(4):
        shared = f"def shared{j}(y):\n    return y * {j + 2}\n"
        rows.append(("forkA", f"src/g{j}.py", f"a{j}", "py", shared))
        rows.append(("forkB", f"lib/g{j}.py", f"b{j}", "py", shared))
    pdf = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content"]
    )
    inp = str(tmp_path / "fork_licensed_input")
    os.makedirs(inp, exist_ok=True)
    pdf.to_parquet(os.path.join(inp, "part-0.parquet"))

    out = str(tmp_path / "combo_out")
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "hyrise_generalized_dedup_spark.dedup.pipeline",
            "--input", inp,
            "--output", out,
            "--master", "local[2]",
            "--no-suffix",
            "--license-policy", "no-copyleft",
            "--repo-dedup",
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    lf = summary["license_filter"]
    # 23 in, 3 GPL dropped by LICENSE; the 4 fork-duplicate files are a
    # REPO drop and must not show up in the license census
    assert lf["n_files_before"] == 23
    assert lf["n_files_kept"] == 20
    rd = summary["repo_dedup"]
    # the 3 GPL repos are gone before repo-dedup sees the corpus:
    # 12 plain repos + forkA + forkB = 14, one fork dropped
    assert rd["n_repos_total"] == 14 and rd["n_repos_kept"] == 13
    assert summary["n_files"] == 16


def test_cli_auto_bands(tmp_path):
    """--auto-bands solves the band split from the threshold and keys
    its own checkpoint tree (subprocess, CLI surface)."""
    import subprocess
    import sys

    from hyrise_generalized_dedup_spark.dedup.tuning import tuned_config

    out = str(tmp_path / "auto_bands_out")
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "hyrise_generalized_dedup_spark.dedup.pipeline",
            "--input", "synth:120",
            "--output", out,
            "--master", "local[2]",
            "--no-suffix",
            "--auto-bands",
            "--jaccard-threshold", "0.8",
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["n_clusters"] > 0
    cfg = tuned_config(0.8)
    assert cfg.bands == 8 and cfg.rows_per_band == 16
    assert os.path.isdir(os.path.join(out, "checkpoint", cfg.config_hash()))


def test_cli_jsonl_input(spark, tmp_path):
    """--input jsonl:<path> runs the pipeline over a JSON-lines corpus;
    malformed lines are excluded before hashing (subprocess, CLI)."""
    import subprocess
    import sys

    from hyrise_generalized_dedup_spark.sources.jsonl import write_jsonl
    from hyrise_generalized_dedup_spark.synth import generate, to_spark

    corpus = to_spark(spark, generate(n_rows=80, seed=3))
    path = str(tmp_path / "corpus_jsonl")
    write_jsonl(corpus, path)
    # plant one malformed line alongside the valid part files
    with open(os.path.join(path, "zz_bad.json"), "w") as fh:
        fh.write("{definitely not json\n")
    out = str(tmp_path / "jsonl_out")
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "hyrise_generalized_dedup_spark.dedup.pipeline",
            "--input", f"jsonl:{path}",
            "--output", out,
            "--master", "local[2]",
            "--no-suffix",
            # the license prefilter counts the source BEFORE caching —
            # regression surface for corrupt-only column pruning
            "--license-policy", "no-copyleft",
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["n_files"] == 80  # the malformed line never enters
    assert summary["n_clusters"] > 0


def test_cli_split_manifest(spark, tmp_path):
    """--split adds a leakage-safe, cluster-consistent split column to the
    retention manifest (implies --manifest) and echoes the parsed spec in
    the summary; the label is recomputable offline from cluster_id alone
    (subprocess, CLI surface)."""
    import hashlib
    import subprocess
    import sys

    out = str(tmp_path / "split_out")
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "hyrise_generalized_dedup_spark.dedup.pipeline",
            "--input", "synth:200",
            "--output", out,
            "--master", "local[2]",
            "--no-suffix",
            "--split", "train:0.9,val:0.1",
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["split_spec"] == {"train": 0.9, "val": 0.1}
    man = spark.read.parquet(summary["manifest_path"]).collect()
    assert len(man) == summary["n_files"]
    from hyrise_generalized_dedup_spark.functions.split import (
        DEFAULT_SALT,
        N_BUCKETS,
    )

    def py_label(cid: int) -> str:
        h = hashlib.md5((str(cid) + "\x1f" + DEFAULT_SALT).encode()).hexdigest()
        return "train" if int(h[:12], 16) % N_BUCKETS < 900000 else "val"

    per_cluster = {}
    for r in man:
        per_cluster.setdefault(r.cluster_id, set()).add(r.split)
        assert r.split == py_label(r.cluster_id)
    assert all(len(s) == 1 for s in per_cluster.values())


@pytest.mark.parametrize(
    "bad", ["train=0.9,val=0.1", "train:0.9", "train:0.9,val:abc", ":0.5,x:0.5"]
)
def test_cli_split_spec_validated_before_any_work(tmp_path, bad):
    """A malformed --split spec must fail at argument time (exit 2, usage
    error naming the spec), not after the pipeline has run."""
    import subprocess
    import sys
    import time

    t0 = time.time()
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "hyrise_generalized_dedup_spark.dedup.pipeline",
            "--input", "synth:50",
            "--output", str(tmp_path / "never_created"),
            "--split", bad,
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=60,
    )
    assert proc.returncode == 2, proc.stderr[-500:]
    assert "--split" in proc.stderr
    assert time.time() - t0 < 30  # no Spark session was started
    assert not os.path.exists(str(tmp_path / "never_created"))


@pytest.mark.parametrize("bad", ["synth:abc", "synth:", "synth:0", "synth:-5"])
def test_cli_synth_input_validated_before_any_work(tmp_path, bad):
    """A malformed synth:N input spec fails at argument time (exit 2)."""
    import subprocess
    import sys

    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "hyrise_generalized_dedup_spark.dedup.pipeline",
            "--input", bad,
            "--output", str(tmp_path / "never"),
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=60,
    )
    assert proc.returncode == 2, proc.stderr[-500:]
    assert "--input" in proc.stderr
    assert not os.path.exists(str(tmp_path / "never"))
