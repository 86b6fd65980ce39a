"""Workload ``dedup_full``: ``run_pipeline`` over a seeded synthetic corpus.

Set-up generates the corpus with ``synth.generate_distributed`` (cached;
this also starts the Python workers) and rebuilds the generator's ground
truth on the driver. Each operation is one ``run_pipeline(resume=False,
with_suffix_stage=True)`` into a fresh output directory. There is no
warm-up run: like the pipeline CLI, the first operation of a run pays
the JVM's code generation and JIT compilation (NOTES.md).

A traced run also grows the corpus and times one ``incremental_update``
on the operation's checkpoint tree, so the incremental layer is measured
on the same inputs.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import pyspark.sql.functions as F

from hyrise_generalized_dedup_spark.config import GDConfig
from hyrise_generalized_dedup_spark.dedup import incremental as incremental_mod
from hyrise_generalized_dedup_spark.dedup import pipeline as pipeline_mod
from hyrise_generalized_dedup_spark.dedup.metrics import MetricsCollector
from hyrise_generalized_dedup_spark.synth import generate, generate_distributed

from eventlog import metrics_of

N_FILES = 6000
# generator range size; the incremental batch is one more range, so the
# grown corpus starts with exactly the rows of the measured one
ROWS_PER_TASK = 600
REMOVE_PERCENT = 1

# pipeline stages in run order; "summary" is everything after the last
# MetricsCollector.finish until run_pipeline returns
STAGES = pipeline_mod.STAGES
CHECKPOINTED = tuple(s for s in STAGES if s != "summary")


def ground_truth(n_rows: int, seed: int) -> tuple[list[tuple[str, str]], list[list[str]]]:
    """Near-dup pairs and exact-duplicate groups (as commits) of
    ``generate_distributed(n_rows, seed, ROWS_PER_TASK)``, rebuilt range by
    range with the same per-range seed and base index. The vendored
    content only feeds row content, never the generator's random stream
    or the commits, so any pinned string reproduces the pairs."""
    pairs: list[tuple[str, str]] = []
    groups: list[list[str]] = []
    for task, start in enumerate(range(0, n_rows, ROWS_PER_TASK)):
        corpus = generate(
            n_rows=min(ROWS_PER_TASK, n_rows - start),
            seed=seed * 1_000_003 + task,
            base_index=start,
            vendored_content="",
        )
        pairs.extend(corpus.dup_pairs)
        groups.extend(g for g in corpus.exact_groups if len(g) > 1)
    return pairs, groups


def clusters_of(spark, out_dir: str, cfg: GDConfig) -> dict[str, int]:
    """commit -> cluster_id from the clusters checkpoint."""
    rows = pipeline_mod.Checkpointer(spark, out_dir, cfg).load("clusters").collect()
    return {r["doc_key"].rsplit("|", 1)[1]: r["cluster_id"] for r in rows}


def fingerprint(clusters: dict[str, int]) -> str:
    h = hashlib.sha256()
    for commit, cid in sorted(clusters.items()):
        h.update(f"{commit}\t{cid}\n".encode())
    return h.hexdigest()


def neardup_recall(clusters: dict[str, int], pairs: list[tuple[str, str]]) -> float:
    hit = sum(1 for a, b in pairs if a in clusters and clusters[a] == clusters.get(b))
    return hit / len(pairs)


def check_invariants(
    clusters: dict[str, int], n_docs: int, groups: list[list[str]], summary: dict
) -> list[str]:
    """Checks that hold for every seed: one cluster row per input file,
    every generated exact-duplicate group inside one cluster."""
    errors = []
    if len(clusters) != n_docs or summary.get("n_files") != n_docs:
        errors.append(
            f"cluster rows {len(clusters)} / summary n_files {summary.get('n_files')}"
            f" != {n_docs} input files"
        )
    # members missing from the clusters (removed files) fail the count check
    split = [g for g in groups if len({clusters[c] for c in g if c in clusters}) > 1]
    if split:
        errors.append(f"{len(split)} exact-duplicate groups split, e.g. {split[0]}")
    return errors


class Workload:
    def __init__(self, spark, seed: int, work_dir: str, tracer, expected: dict):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = tracer
        self.expected = expected.get(str(seed))
        self.cfg = GDConfig()
        self.last_out = None

    # ---- set-up -------------------------------------------------------
    def setup(self) -> None:
        spark = self.spark
        self.corpus = generate_distributed(
            spark, N_FILES, seed=self.seed, rows_per_task=ROWS_PER_TASK
        ).cache()
        stats = self.corpus.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.octet_length("content")).alias("bytes"),
        ).collect()[0]
        self.n_docs, self.content_bytes = stats["n"], stats["bytes"]
        self.pairs, self.groups = ground_truth(N_FILES, self.seed)

    def _out_dir(self, tag: str) -> str:
        path = os.path.join(self.work_dir, f"dedup_{tag}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    # ---- one operation ------------------------------------------------
    def op(self) -> dict:
        """One pipeline run into a fresh output directory."""
        out = self._out_dir("op")
        self.tracer.switch("dedup.prep")
        t0 = time.perf_counter()
        summary = pipeline_mod.run_pipeline(
            self.spark, self.corpus, out, resume=False, with_suffix_stage=True
        )
        wall = time.perf_counter() - t0
        self.tracer.switch(None)
        self.last_out = out
        return {"wall_s": wall, "summary": summary, "out_dir": out}

    def check(self, res: dict) -> dict:
        """Output checks for one operation (outside the timed window)."""
        summary = res["summary"]
        clusters = clusters_of(self.spark, res["out_dir"], self.cfg)
        fp = fingerprint(clusters)
        errors = check_invariants(clusters, self.n_docs, self.groups, summary)
        if self.expected is not None and fp != self.expected["clusters_fp"]:
            errors.append(f"clusters fingerprint {fp} != committed {self.expected['clusters_fp']}")
        return {
            "errors": errors,
            "clusters_fp": fp,
            "verified_against": "committed" if self.expected else "invariants",
            "items": self.n_docs,
            "dedup_ratio": float(summary["dedup_ratio"]),
            "neardup_recall": neardup_recall(clusters, self.pairs),
            "stage_wall_ms": {s: summary.get(f"{s}_wall_ms") for s in CHECKPOINTED},
            "summary": {
                k: summary.get(k)
                for k in (
                    "n_candidate_pairs",
                    "n_star_candidates",
                    "n_edges_by_source",
                    "n_clusters",
                    "n_multi_doc_clusters",
                )
            },
        }

    # ---- traced run -----------------------------------------------------
    def span_errors(self, spans: list, sample: dict) -> list[str]:
        """Cross-check: each stage span agrees with the pipeline's own
        ``<stage>_wall_ms`` (both wrap MetricsCollector.start/finish)."""
        errors = []
        for stage, want_ms in sample["stage_wall_ms"].items():
            got = [sp.end_ms - sp.start_ms for sp in spans if sp.name == f"dedup.{stage}"]
            if len(got) != 1 or abs(got[0] - want_ms) > 100 + 0.02 * want_ms:
                errors.append(f"span dedup.{stage} {got} ms vs summary {want_ms} ms")
        return errors

    def layer_metrics(self, spans: list, sample: dict, cores: int) -> dict:
        """Per-layer metrics of one traced pipeline run."""
        m: dict[str, float] = {}
        ckpt_mb = 0.0
        for stage in STAGES:
            sm = metrics_of([sp for sp in spans if sp.name == f"dedup.{stage}"], cores)
            for key in ("wall_s", "tasks", "exec_cpu_s", "core_util", "shuffle_write_mb"):
                m[f"dedup.{stage}.{key}"] = sm[key]
            m[f"dedup.{stage}.checkpoint_mb"] = sm["output_mb"]
            ckpt_mb += sm["output_mb"]
        total = metrics_of(spans, cores)
        m["dedup.driver_gap_s"] = total["wall_s"] - total["stage_busy_s"]
        m["dedup.gc_s"] = total["gc_s"]
        m["dedup.spill_mb"] = total["spill_mb"]
        summary = sample["summary"]
        pairs = summary["n_candidate_pairs"] or 0
        by_source = summary["n_edges_by_source"] or {}
        m["dedup.candidates.pairs"] = pairs
        m["dedup.candidates.star_frac"] = (summary["n_star_candidates"] or 0) / max(pairs, 1)
        m["dedup.edges.verify_yield"] = (
            sum(by_source.get(s, 0) for s in ("lsh", "lsh_star")) / max(pairs, 1)
        )
        m["dedup.checkpoint.write_amp"] = ckpt_mb * 2**20 / self.content_bytes
        m["dedup.neardup_recall"] = sample["neardup_recall"]
        return m

    def traced_extra(self) -> dict:
        """Grow the corpus by one generator range, drop REMOVE_PERCENT of the
        old files (seeded hash of commit) and absorb both into a copy of
        the last operation's checkpoint tree with ``incremental_update``."""
        spark = self.spark
        grown_all = generate_distributed(
            spark, N_FILES + ROWS_PER_TASK, seed=self.seed, rows_per_task=ROWS_PER_TASK
        )
        dropped = self.corpus.select("commit").filter(
            F.pmod(F.xxhash64("commit", F.lit(self.seed)), F.lit(100)) < REMOVE_PERCENT
        )
        grown = grown_all.join(dropped, "commit", "left_anti").cache()
        n_grown, n_dropped = grown.count(), dropped.count()
        out = self._out_dir("incremental")
        shutil.copytree(self.last_out, out)
        self.tracer.switch("dedup.incremental.prep")
        t0 = time.perf_counter()
        summary = incremental_mod.incremental_update(spark, grown, out, cfg=self.cfg)
        wall = time.perf_counter() - t0
        self.tracer.take()
        errors = []
        if (summary.get("n_new_files"), summary.get("n_removed_files")) != (ROWS_PER_TASK, n_dropped):
            errors.append(
                f"incremental saw {summary.get('n_new_files')} new / "
                f"{summary.get('n_removed_files')} removed, expected "
                f"{ROWS_PER_TASK} / {n_dropped}"
            )
        _, groups = ground_truth(N_FILES + ROWS_PER_TASK, self.seed)
        errors += check_invariants(clusters_of(spark, out, self.cfg), n_grown, groups, summary)
        grown.unpersist()
        shutil.rmtree(out, ignore_errors=True)
        by_source = summary.get("n_edges_by_source") or {}
        lsh_edges = sum(by_source.get(s, 0) for s in ("lsh", "lsh_star"))
        return {
            "errors": errors,
            "dedup.incremental.wall_s": wall,
            "dedup.incremental.reused_edge_frac": summary["n_reused_lsh_edges"] / max(lsh_edges, 1),
            "dedup.incremental.dirty_cluster_frac": summary["n_dirty_clusters"]
            / max(summary["n_clusters"], 1),
        }


def record(section: dict, seed: int, sample: dict) -> dict:
    return {**section, str(seed): {"clusters_fp": sample["clusters_fp"]}}


def install_stage_spans(tracer) -> None:
    """Open one span (and job group) per pipeline stage by wrapping the
    public MetricsCollector.start/finish. A stage's span ends at finish;
    the driver-side gap up to the next start is labelled ``dedup.glue``,
    and the gap after the last stage is the summary."""
    orig_start, orig_finish = MetricsCollector.start, MetricsCollector.finish

    def prefix() -> str:
        cur = tracer.current
        return cur.name.rsplit(".", 1)[0] if cur is not None else "dedup"

    def start(self, stage: str) -> None:
        cur = tracer.current
        if cur is not None and cur.name.endswith(".summary"):
            cur.name = prefix() + ".glue"
        tracer.switch(f"{prefix()}.{stage}")
        orig_start(self, stage)

    def finish(self, stage: str, checkpoint_path: str) -> None:
        tracer.switch(f"{prefix()}.summary")
        orig_finish(self, stage, checkpoint_path)

    MetricsCollector.start, MetricsCollector.finish = start, finish

