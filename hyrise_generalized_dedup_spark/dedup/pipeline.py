"""The dedup pipeline: a checkpointed DAG of DataFrame stages.

config -> read -> gd -> signatures -> bands -> candidates -> edges
(lsh + simhash) -> clusters -> suffix -> summary.

Each stage is a pure function DataFrame -> DataFrame whose output is
written to ``{out}/checkpoint/{config_hash}/{stage}`` with a done
marker; re-running resumes from the first missing marker (idempotent —
FIXTURES.md F4.4 requires byte-identical re-runs). The config hash in
the path makes stale-checkpoint reuse under a changed config impossible.

Spark-scale notes:
- `content` never crosses a shuffle after the signature stage; the pair
  path carries only (key, sig/band) columns — the late-materialization
  lesson (reference: ReferenceSegment, SURVEY §4.2).
- every stage boundary is a parquet write = a durable shuffle barrier;
  on a 1000-executor cluster the same layout gives per-stage restart
  instead of whole-job restart.

CLI (spark-submit entry):
  python -m hyrise_generalized_dedup_spark.dedup.pipeline \
    --input synth:5000 --output /tmp/gd_out --master "local[8]" \
    [--resume] [--cores 8]
"""

from __future__ import annotations

import argparse
import json
from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import fsutil
from ..config import GDConfig
from ..session import shuffle_partitions
from .cluster import connected_components
from .gd import dedup_stats, gd_segments
from .lsh import (
    band_table,
    candidate_pairs,
    release_candidates,
    retained_sideboard_dirs,
    verified_edges,
)
from .metrics import MetricsCollector
from .minhash import signatures
from .simhash import simhash_edges
from .suffix import suffix_edges

STAGES = ("gd", "signatures", "reps", "candidates", "edges", "clusters", "suffix", "summary")


class Checkpointer:
    """Stage checkpoints + `_DONE` resume markers, filesystem-agnostic.

    The one owner of the checkpoint layout: ``{root}/{stage}`` holds a
    stage's parquet and its ``_DONE`` marker; an incremental rewrite
    stages new output in ``{root}/{stage}__inc`` until ``commit`` swaps
    it in.

    All marker reads/writes go through the Hadoop FS API (fsutil), so
    resume works when ``out_dir`` is ``file://``, ``hdfs://`` or
    ``s3a://`` — the north rule's checkpointed resumability on the
    cluster where output is an object store, not the driver's disk."""

    def __init__(self, spark: SparkSession, out_dir: str, cfg: GDConfig, resume: bool = True):
        self.spark = spark
        self.root = fsutil.urljoin(out_dir, "checkpoint", cfg.config_hash())
        self.resume = resume
        self._staged: list[str] = []
        self._appended: list[str] = []

    def path(self, stage: str) -> str:
        return fsutil.urljoin(self.root, stage)

    def _marker(self, stage: str) -> str:
        return fsutil.urljoin(self.path(stage), "_DONE")

    def _staging(self, stage: str) -> str:
        return self.path(stage) + "__inc"

    def _mark(self, stage: str) -> None:
        fsutil.write_text(self.spark, self._marker(stage), "done\n")

    def done(self, stage: str) -> bool:
        return self.resume and fsutil.exists(self.spark, self._marker(stage))

    def materialize(self, stage: str, df: DataFrame) -> DataFrame:
        """Write stage output + _DONE marker, read back (lineage cut)."""
        p = self.path(stage)
        df.write.mode("overwrite").parquet(p)
        self._mark(stage)
        return self.spark.read.parquet(p)

    def load(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self.path(stage))

    # --- incremental rewrite: unmark, stage or append, commit ---

    def invalidate(self, stages: list[str]) -> None:
        """Drop the markers of ``stages`` before the first mutation: a
        crash anywhere mid-update then leaves every stale stage unmarked,
        and the normal resume path recomputes it instead of trusting a
        half-updated tree. ``commit`` re-marks them."""
        for stage in stages:
            fsutil.delete(self.spark, self._marker(stage))

    def write_staged(self, stage: str, df: DataFrame) -> DataFrame:
        """Write a stage's new output NEXT TO the live checkpoint (the live
        one may still be an input of a later stage) and read it back."""
        p = self._staging(stage)
        df.write.mode("overwrite").parquet(p)
        self._staged.append(stage)
        return self.spark.read.parquet(p)

    def append(self, stage: str, df: DataFrame) -> DataFrame:
        """Append rows into the live checkpoint dir and read it back —
        per-doc stages only, where prior rows are immutable so append IS
        the union. The marker comes down first; only ``commit`` re-raises
        it, so a crash mid-append leaves the stage unmarked."""
        p = self.path(stage)
        fsutil.delete(self.spark, self._marker(stage))
        df.write.mode("append").parquet(p)
        self._appended.append(stage)
        return self.spark.read.parquet(p)

    def written_path(self, stage: str) -> str:
        """Where this run wrote ``stage`` (its staging dir until commit)."""
        return self._staging(stage) if stage in self._staged else self.path(stage)

    def commit(self) -> None:
        """Markers down -> rename staged over live -> all markers up."""
        for stage in self._staged:
            fsutil.delete(self.spark, self._marker(stage))
        for stage in self._staged:
            fsutil.delete(self.spark, self.path(stage))
            fsutil.rename(self.spark, self._staging(stage), self.path(stage))
        for stage in self._staged + self._appended:
            self._mark(stage)
        self._staged, self._appended = [], []

    def discard(self, stage: str) -> None:
        fsutil.delete(self.spark, self.path(stage))


def gc_stale_checkpoints(
    spark: SparkSession, out_dir: str, cfg: GDConfig
) -> list[str]:
    """Delete checkpoint trees for config hashes other than ``cfg``'s.

    ``{out}/checkpoint/<config_hash>/`` accumulates one tree per config
    ever run against the same output dir; stale trees are never reusable
    (the hash binds them to their config) so they are pure dead weight.
    Routed through the Hadoop FS API so GC works on object-store output
    dirs. Returns the deleted hash names. Opt-in (CLI ``--gc-stale``);
    default behavior keeps every tree."""
    root = fsutil.urljoin(out_dir, "checkpoint")
    keep = cfg.config_hash()
    deleted = []
    for name in fsutil.list_dirs(spark, root):
        if name != keep:
            fsutil.delete(spark, fsutil.urljoin(root, name), recursive=True)
            deleted.append(name)
    return deleted


# --- stage builders shared by run_pipeline and incremental_update ---
# Builders that cache intermediates take ``write`` (DataFrame ->
# checkpointed DataFrame) and release the caches once it has returned.


def _sig_text(cfg: GDConfig):
    """Near-dup text Column for ``cfg.normalizer`` ("raw" = the stored
    content; "format"/"type2" = functions/code canonical forms)."""
    if cfg.normalizer == "format":
        from ..functions.code import normalize_code

        return normalize_code(F.col("content"))
    if cfg.normalizer == "type2":
        from ..functions.code import normalize_tokens

        return normalize_tokens(F.col("content"))
    return F.col("content")


def prepare_docs(code_files: DataFrame, cfg: GDConfig) -> tuple[DataFrame, DataFrame]:
    """Key the corpus; returns ``(cached, docs)``.

    ``cached`` is the persisted frame — unpersist it when done
    (unpersisting the withColumn derivative would leave the cache
    pinned). ``docs`` adds the near-dup text column ``sig_text``:
    identity for "raw", else the JVM-side canonical form (map work inside
    the same stage as the signature kernel — no extra shuffle, content
    bytes untouched). GD + the sha256 round-trip always see raw content."""
    # 4 partitions per core: variable file sizes (KB..MB) make equal-split
    # partitions straggle; finer tasks let the scheduler level them.
    # doc_key (human lineage key) is mapped to a compact int64 doc_id for
    # every shuffle-heavy stage — the pair path moves 8-byte keys, not
    # ~90-byte composite strings (the late-materialization lesson applied
    # to join keys; 64-bit is sandbox-scale, production would widen to 128).
    par = shuffle_partitions(code_files.sparkSession)
    cached = (
        code_files.withColumn("doc_key", F.concat_ws("|", "repo", "path", "commit"))
        .withColumn("doc_id", F.xxhash64("doc_key"))
        .repartition(par * 4)
        .persist()  # gd, signatures, clusters and the summary all consume
        # docs; without persist the repartition exchange (full content
        # shuffle) re-executes once per consumer
    )
    return cached, cached.withColumn("sig_text", _sig_text(cfg))


def gd_table(docs: DataFrame, cfg: GDConfig) -> DataFrame:
    """gd: the segment table (content stays columnar-local)."""
    return gd_segments(docs, cfg, content_col="content", key_cols=("doc_id",), keep_base=False)


def signature_table(docs: DataFrame, cfg: GDConfig) -> DataFrame:
    """signatures: minhash + simhash + band keys, one pass."""
    return signatures(docs, cfg, text_col="sig_text", key_col="doc_id")


def rep_table(sigs: DataFrame) -> DataFrame:
    """reps: every signature row with its exact-signature representative.

    Docs with IDENTICAL minhash signatures (exact duplicates and the
    vendored-library family) are collapsed to one representative BEFORE
    LSH: the m-copy family costs m exact edges instead of flooding every
    band bucket — the dictionary-encoder move (dedupe first, reference
    dictionary_encoder.hpp:61-88) applied to the signature table."""
    # groupBy census + join-back, NOT a window over minhash: a window
    # materializes every identical-signature family in ONE task (a
    # 10^8-copy vendored-library family = one straggler at 100 TB).
    # groupBy gets map-side partial aggregation (the family collapses
    # inside each upstream partition first) and the join-back is
    # covered by AQE skew-join. Same pattern as lsh.candidate_pairs.
    rep_census = sigs.groupBy("minhash").agg(F.min("doc_id").alias("rep"))
    return sigs.join(rep_census, "minhash")


def split_reps(rep_map: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(rep_sigs, exact_edges)``: the representatives' signatures, and
    one exact edge from each representative to every other member."""
    rep_sigs = rep_map.filter(F.col("doc_id") == F.col("rep")).drop("rep")
    exact_edges = rep_map.filter(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("key_a"),
        F.col("doc_id").alias("key_b"),
        F.lit(1.0).alias("score"),
        F.lit("exact").alias("source"),
    )
    return rep_sigs, exact_edges


def build_candidates(rep_sigs: DataFrame, cfg: GDConfig, write) -> DataFrame:
    """candidates: LSH buckets over representatives, skew-routed."""
    raw_pairs = candidate_pairs(band_table(rep_sigs, key_col="doc_id"), cfg, key_col="doc_id")
    pairs = write(raw_pairs)
    release_candidates(raw_pairs)  # checkpoint written — drop the cache
    return pairs


def build_edges(
    pairs: DataFrame, rep_sigs: DataFrame, exact_edges: DataFrame, cfg: GDConfig, write
) -> DataFrame:
    """edges: verified LSH ``pairs`` + simhash + the exact-dup edges."""
    # Broadcast decision sized on the REPRESENTATIVE count, not n_docs:
    # on dup-heavy corpora reps ≪ docs, and the n_docs upper bound pushed
    # broadcast-eligible corpora near the cliff onto the 3-10× slower
    # shuffled path. rep_sigs reads the reps checkpoint, so this count is
    # one cheap scan, paid only when the edges stage actually runs.
    n_reps = rep_sigs.count()
    lsh_raw = verified_edges(pairs, rep_sigs, cfg, key_col="doc_id", n_sigs=n_reps)
    lsh_e = lsh_raw.select("key_a", "key_b", F.col("jaccard_est").alias("score"), "source")
    sim_raw = simhash_edges(rep_sigs, cfg, key_col="doc_id")
    sim_e = sim_raw.select(
        "key_a",
        "key_b",
        (1.0 - F.col("hamming") / F.lit(cfg.simhash_bits)).alias("score"),
        "source",
    )
    edges = write(lsh_e.unionByName(sim_e).unionByName(exact_edges))
    release_candidates(sim_raw)  # simhash's internal band cache
    release_candidates(lsh_raw)  # verification's broadcast signature block
    return edges


def build_clusters(
    edges: DataFrame, docs: DataFrame, n_docs: int, cfg: GDConfig, write
) -> DataFrame:
    """clusters: connected components, deterministic min-key id."""
    # lsh_star edges are hot-bucket clique approximations: kept for
    # connectivity (dropping them would silently cut recall under skew),
    # tracked under their own source so the approximation is auditable in
    # the edges table.
    strong = edges.filter(
        (F.col("source") == "lsh") & (F.col("score") >= cfg.jaccard_threshold)
        | F.col("source").isin("simhash", "exact", "lsh_star")
    )
    # labels broadcast while the corpus is below ~5M docs (~80MB of int64
    # pairs) — CC is a latency-bound chain of small jobs and the
    # per-iteration shuffle dominates it; beyond that bound the join stays
    # shuffled (see connected_components docstring).
    cc = connected_components(
        strong,
        nodes=docs.select("doc_id"),
        key_col="doc_id",
        broadcast_labels_max=5_000_000 if n_docs < 5_000_000 else None,
    )
    key_map = docs.select("doc_id", "doc_key")
    clusters = write(cc.join(key_map, "doc_id").select("doc_key", "cluster_id"))
    release_candidates(cc)  # CC's final label checkpoint
    return clusters


def suffix_docs(docs: DataFrame) -> DataFrame:
    """The suffix pass's input: each doc's near-dup text as ``content``."""
    return docs.select("doc_key", F.col("sig_text").alias("content"))


def run_stage(ckpt: Checkpointer, metrics: MetricsCollector, stage: str, build, store):
    """Load ``stage`` if its checkpoint is done; else, inside the stage's
    one MetricsCollector span, run ``build(write)``, where ``write(df)`` is
    ``store(stage, df)`` and returns the written frame."""
    if ckpt.done(stage):
        return ckpt.load(stage)
    metrics.start(stage)
    out = build(lambda df: store(stage, df))
    metrics.finish(stage, ckpt.written_path(stage))
    return out


def _count_by_source(df: DataFrame) -> dict[str, int]:
    return {
        r["source"]: r["n"]
        for r in df.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def summarize(
    metrics: MetricsCollector,
    n_docs: int,
    segments: DataFrame,
    clusters: DataFrame,
    pairs: DataFrame,
    edges: DataFrame,
    suffix: DataFrame | None,
    **jobs,
) -> dict[str, object]:
    """Add the run summary to ``metrics``, write it and return it.

    The aggregations are independent small jobs over already-checkpointed
    parquet — run from a driver thread pool so later jobs back-fill the
    earlier ones' straggler tails (guide §2.6 overlap of independent jobs;
    results are exact regardless of order). Each extra ``jobs`` entry is a
    zero-arg callable run on the same pool; its result lands in the
    summary under its name."""
    def cluster_stats():
        # one job for both cluster statistics (count + multi-doc count)
        return (
            clusters.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("sz"))
            .agg(
                F.count(F.lit(1)).alias("n_clusters"),
                F.sum(F.when(F.col("sz") > 1, 1).otherwise(0)).alias("n_multi"),
            )
            .collect()[0]
        )

    own = {
        "stats": lambda: dedup_stats(segments).collect()[0].asDict(),
        "cstats": cluster_stats,
        # candidate-pair stats: total + how many came from the hot-bucket
        # star path — the star-edge approximation stays auditable from the
        # summary alone (ADVICE r2)
        "pstats": lambda: pairs.agg(
            F.count(F.lit(1)).alias("n"), F.sum("is_star").alias("n_star")
        ).collect()[0],
        "by_source": lambda: _count_by_source(edges),
    }
    if suffix is not None:
        # one groupBy("source") job gives both suffix summary counts
        # (edges + overflows) instead of two filtered .count() scans
        own["suffix_by_source"] = lambda: _count_by_source(suffix)
    with ThreadPoolExecutor(max_workers=len(own) + len(jobs)) as pool:
        own_f = {k: pool.submit(fn) for k, fn in own.items()}
        job_f = {k: pool.submit(fn) for k, fn in jobs.items()}
        res = {k: f.result() for k, f in own_f.items()}
        extra = {k: f.result() for k, f in job_f.items()}
    cstats, pstats, by_source = res["cstats"], res["pstats"], res["by_source"]
    n_star_kept = int(by_source.get("lsh_star", 0))
    n_star_cand = int(pstats["n_star"] or 0)
    sfx = res.get("suffix_by_source")
    retained = retained_sideboard_dirs()
    metrics.add(
        n_files=n_docs,
        n_candidate_pairs=int(pstats["n"]),
        n_star_candidates=n_star_cand,
        n_star_edges_kept=n_star_kept,
        n_star_edges_dropped=n_star_cand - n_star_kept,
        n_edges=sum(by_source.values()),
        n_edges_by_source=by_source,
        n_clusters=cstats["n_clusters"],
        n_multi_doc_clusters=int(cstats["n_multi"] or 0),
        n_suffix_edges=None if sfx is None else int(sfx.get("suffix", 0)),
        n_suffix_overflows=None if sfx is None else int(sfx.get("suffix_overflow", 0)),
        # non-local masters retain sideboard source dirs on driver disk
        # until interpreter exit (lazy addFile fetch, see dedup/lsh.py);
        # surfaced here so multi-run sessions see the accumulation.
        n_retained_sideboard_dirs=len(retained),
        retained_sideboard_bytes=sum(b for _, b in retained),
        **res["stats"],
        **extra,
    )
    metrics.write_summary()
    return metrics.summary


def run_pipeline(
    spark: SparkSession,
    code_files: DataFrame,
    out_dir: str,
    cfg: GDConfig | None = None,
    resume: bool = True,
    with_suffix_stage: bool = True,
) -> dict[str, object]:
    """Execute the full dedup DAG; returns the summary dict."""
    cfg = cfg or GDConfig()
    ckpt = Checkpointer(spark, out_dir, cfg, resume=resume)
    metrics = MetricsCollector(spark, out_dir, cfg.config_hash())
    cached, docs = prepare_docs(code_files, cfg)
    try:
        # One count up front (docs is persisted, so this also warms the cache);
        # reused for the CC broadcast decision and the summary — never
        # re-counted per stage.
        n_docs = docs.count()

        def stage(name, build):
            return run_stage(ckpt, metrics, name, build, ckpt.materialize)

        segments = stage("gd", lambda write: write(gd_table(docs, cfg)))
        sigs = stage("signatures", lambda write: write(signature_table(docs, cfg)))
        rep_map = stage("reps", lambda write: write(rep_table(sigs)))
        rep_sigs, exact_edges = split_reps(rep_map)
        pairs = stage("candidates", lambda write: build_candidates(rep_sigs, cfg, write))
        edges = stage(
            "edges", lambda write: build_edges(pairs, rep_sigs, exact_edges, cfg, write)
        )
        clusters = stage(
            "clusters", lambda write: build_clusters(edges, docs, n_docs, cfg, write)
        )
        suffix = None
        if with_suffix_stage:
            # exact substring pass within clusters
            suffix = stage(
                "suffix",
                lambda write: write(
                    suffix_edges(suffix_docs(docs).join(clusters, "doc_key"), cfg)
                ),
            )
        return summarize(metrics, n_docs, segments, clusters, pairs, edges, suffix)
    finally:
        cached.unpersist()


def retention_manifest(clusters: DataFrame) -> DataFrame:
    """User-facing keep/drop manifest derived from the clusters output:
    one row per doc with its cluster id, the cluster's canonical (min)
    doc key, and the retention decision (keep the canonical, drop the
    rest). A derived view over the checkpointed clusters parquet — NOT a
    pipeline stage, so checkpoint trees and incremental bit-equality are
    untouched. Census groupBy + join-back (the reps pattern), no window:
    the shuffle carries (doc_key, cluster_id) pairs only."""
    canon = clusters.groupBy("cluster_id").agg(
        F.min("doc_key").alias("canonical_key")
    )
    return clusters.join(canon, "cluster_id").select(
        "doc_key",
        "cluster_id",
        "canonical_key",
        (F.col("doc_key") == F.col("canonical_key")).alias("keep"),
    )


def _load_input(spark: SparkSession, spec: str) -> DataFrame:
    if spec.startswith("synth:"):
        from ..synth import generate, generate_distributed, to_spark

        n = int(spec.split(":", 1)[1])
        if n >= 20_000:  # distributed generation: driver python is the
            return generate_distributed(spark, n)  # bottleneck beyond this
        return to_spark(spark, generate(n_rows=n))
    if spec.startswith("iceberg:"):
        from ..sources.icetable import resolve_input

        return resolve_input(spark, spec)
    if spec.startswith("jsonl:"):
        from ..sources.jsonl import CORRUPT_COL, load_jsonl

        # the north-rule corpus schema, explicit (no inference pass);
        # malformed lines are dropped loudly downstream: a NULL content
        # row would poison sha256 round-trip checks
        raw = load_jsonl(
            spark,
            spec.split(":", 1)[1],
            "repo string, path string, commit string, lang string, content string",
        )
        # the extra content-NOT-NULL term keeps a data column in the scan's
        # required schema: a corrupt-only filter lets downstream column
        # pruning reduce the JSON read to just _corrupt_record, which Spark
        # rejects (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
        return raw.filter(
            F.col(CORRUPT_COL).isNull() & F.col("content").isNotNull()
        ).drop(CORRUPT_COL)
    return spark.read.parquet(spec)


def main() -> None:
    ap = argparse.ArgumentParser(description="generalized-dedup pipeline")
    ap.add_argument(
        "--input",
        required=True,
        help="parquet path, synth:N, jsonl:<path>, or iceberg:<table-root>[@snapshot] "
        "(snapshot-versioned table, see sources/icetable.py)",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--no-suffix", action="store_true")
    ap.add_argument("--fresh", action="store_true", help="delete output dir first")
    ap.add_argument(
        "--gc-stale",
        action="store_true",
        help="delete checkpoint trees whose config hash differs from this run's",
    )
    ap.add_argument(
        "--incremental",
        action="store_true",
        help="absorb corpus growth into the existing checkpoint tree "
        "(--input is the FULL current corpus; see dedup/incremental.py)",
    )
    ap.add_argument(
        "--manifest",
        action="store_true",
        help="also write the keep/drop retention manifest derived from "
        "the clusters output to <output>/manifest",
    )
    ap.add_argument(
        "--split",
        default=None,
        metavar="NAME:FRAC[,NAME:FRAC...]",
        help="add a leakage-safe split column to the retention manifest "
        "(implies --manifest): e.g. 'train:0.98,val:0.01,test:0.01'. "
        "Assigned per CLUSTER (functions/split.py), so near-duplicates "
        "never straddle the train/eval boundary; pure function of "
        "(cluster_id, salt). Under --incremental a cluster whose id "
        "changes (new minimum member, or a merge) re-draws its split — "
        "diff the manifest across increments to catch flips",
    )
    ap.add_argument(
        "--normalizer",
        choices=("raw", "format", "type2"),
        default="raw",
        help="near-dup text canonicalization: raw bytes (default), "
        "formatting-invariant, or rename-invariant type-2 (code corpora)",
    )
    ap.add_argument(
        "--auto-bands",
        action="store_true",
        help="solve the LSH band split from --jaccard-threshold via the "
        "S-curve FP/FN optimizer (dedup/tuning.py) instead of the "
        "hand-picked default; the tuned split keys its own checkpoint "
        "tree (bands are in the config hash)",
    )
    ap.add_argument(
        "--jaccard-threshold",
        type=float,
        default=None,
        help="near-dup Jaccard threshold (default: GDConfig default)",
    )
    ap.add_argument(
        "--repo-dedup",
        action="store_true",
        help="drop forked repositories before the file pipeline (The "
        "Stack's order: repo-level dedup first) — keeps one repo per "
        "fork family via dedup/repos.repo_dedup_manifest. Changes the "
        "pipeline INPUT, which checkpoints do not key on: pair with "
        "--fresh when toggling on an existing output dir",
    )
    ap.add_argument(
        "--decontaminate",
        default=None,
        metavar="INPUT_SPEC",
        help="drop source docs fuzzy-matching any doc in this eval corpus "
        "(same spec grammar as --input) before the pipeline runs — "
        "doc-level MinHash-LSH with exact Jaccard verify "
        "(dedup/xcorpus.py). Changes the pipeline INPUT, which "
        "checkpoints do not key on: pair with --fresh when toggling "
        "on an existing output dir",
    )
    ap.add_argument(
        "--decon-threshold-pm",
        type=int,
        default=800,
        help="per-mille exact-Jaccard threshold for --decontaminate "
        "(default 800 = 0.8)",
    )
    ap.add_argument(
        "--license-policy",
        choices=("any", "no-copyleft", "permissive"),
        default="any",
        help="license prefilter before the file pipeline (public code "
        "pipelines filter by license before any content pass): "
        "'no-copyleft' drops files whose head carries a copyleft SPDX "
        "tag or phrase (functions/code.is_copyleft), 'permissive' "
        "keeps only explicitly permissive families (license_keep). "
        "Map-only scan-stage filter, safe with --incremental "
        "(per-file decision, commutes with append-only growth). "
        "Changes the pipeline INPUT, which checkpoints do not key on: "
        "pair with --fresh when toggling on an existing output dir",
    )
    args = ap.parse_args()
    if args.input.startswith("synth:"):
        # same fast-fail rule as --split: reject a malformed row count
        # before the JVM starts
        try:
            n_synth = int(args.input.split(":", 1)[1])
            if n_synth < 1:
                raise ValueError("row count must be >= 1")
        except ValueError as e:
            ap.error(f"--input {args.input!r}: {e}")
    split_spec = None
    if args.split:
        # parse AND validate before any work: a malformed spec must fail
        # in milliseconds, not after the whole pipeline has run
        try:
            from ..functions.split import _thresholds

            parts = []
            for part in args.split.split(","):
                name, sep, frac = part.partition(":")
                if not sep or not name:
                    raise ValueError(f"expected NAME:FRAC, got {part!r}")
                parts.append((name, float(frac)))
            split_spec = tuple(parts)
            _thresholds(split_spec)
        except ValueError as e:
            ap.error(f"--split {args.split!r}: {e}")
    # --repo-dedup composes with --incremental since removal support
    # landed: a keeper flip (a new larger fork wins the election) shows
    # up as removals of the old keeper's docs plus additions of the new
    # keeper's, and incremental_update absorbs both bit-equal to a
    # from-scratch run (dedup/incremental.py module docstring).
    threshold = (
        args.jaccard_threshold
        if args.jaccard_threshold is not None
        else GDConfig().jaccard_threshold
    )
    if args.auto_bands:
        from .tuning import tuned_config

        cfg = tuned_config(threshold=threshold, normalizer=args.normalizer)
    else:
        cfg = GDConfig(normalizer=args.normalizer, jaccard_threshold=threshold)

    from ..session import get_spark

    spark = get_spark(app_name="gd-pipeline", master=args.master)
    if args.fresh and fsutil.exists(spark, args.output):
        # FS-API delete so --fresh works on object-store output dirs too
        fsutil.delete(spark, args.output, recursive=True)
    if args.gc_stale:
        stale = gc_stale_checkpoints(spark, args.output, cfg)
        if stale:
            print(f"gc-stale: removed {len(stale)} checkpoint tree(s): {stale}")
    source = _load_input(spark, args.input)
    license_summary = None
    if args.license_policy != "any":
        from ..functions import code as codef

        # parquet row-count only (no content read) — the pre-filter census
        n_before = source.count()
        lic = codef.license_id(F.col("content"))
        if args.license_policy == "no-copyleft":
            keep_pred = codef.is_copyleft(lic) == 0
        else:  # permissive
            keep_pred = codef.license_keep(lic) == 1
        source = source.filter(keep_pred)
        license_summary = {
            "policy": args.license_policy,
            "n_files_before": n_before,
        }
    repo_summary = None
    if args.repo_dedup:
        if license_summary is not None:
            # the license census must be counted BEFORE the repo-dedup
            # semi-join, or fork-family drops get attributed to the
            # license policy (without --repo-dedup, n_in below is the
            # same number for free)
            license_summary["n_files_kept"] = source.count()
        from ..functions.code import normalized_sha
        from .repos import repo_dedup_manifest

        # Materialize the 2-column (repo, file_key) frame ONCE: the
        # manifest consumes it several times (census, sizes, pair join),
        # and each lineage replay would otherwise re-scan full content
        # and re-run the normalize+sha256 chain per consumer.
        keyed = (
            source.select("repo", normalized_sha(F.col("content")).alias("file_key"))
            .persist()
        )
        keyed.count()
        manifest = repo_dedup_manifest(keyed).cache()
        n_repos = manifest.count()
        keepers = manifest.filter(F.col("keep") == 1).select("repo")
        n_kept = keepers.count()
        source = source.join(keepers, "repo", "left_semi")
        repo_summary = {"n_repos_total": n_repos, "n_repos_kept": n_kept}
        keyed.unpersist()
    decon_summary = None
    if args.decontaminate:
        from .xcorpus import decontaminate_source

        source, decon_summary = decontaminate_source(
            source,
            _load_input(spark, args.decontaminate),
            cfg,
            threshold_pm=args.decon_threshold_pm,
        )
        decon_summary["eval_input"] = args.decontaminate
    source = source.cache()
    n_in = source.count()  # materialize input outside the timed window
    # warm the Python/Arrow worker pool so per-worker interpreter+pandas
    # startup isn't billed to the first UDF stage
    spark.range(shuffle_partitions(spark) * 2).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).write.format("noop").mode("overwrite").save()
    import time

    t0 = time.time()
    if args.incremental:
        from .incremental import incremental_update

        summary = incremental_update(
            spark, source, args.output, cfg=cfg, with_suffix_stage=not args.no_suffix
        )
    else:
        summary = run_pipeline(
            spark,
            source,
            args.output,
            cfg=cfg,
            resume=args.resume,
            with_suffix_stage=not args.no_suffix,
        )
    summary["pipeline_wall_ms"] = int((time.time() - t0) * 1000)
    summary["files_per_sec"] = round(n_in / (time.time() - t0), 2)
    if repo_summary is not None:
        summary["repo_dedup"] = repo_summary
    if decon_summary is not None:
        summary["decontamination"] = decon_summary
    if license_summary is not None:
        license_summary.setdefault("n_files_kept", n_in)
        summary["license_filter"] = license_summary
    if args.manifest or args.split:
        ckpt = Checkpointer(spark, args.output, cfg, resume=True)
        manifest = retention_manifest(ckpt.load("clusters"))
        if split_spec:
            from ..functions.split import assign_split

            manifest = assign_split(manifest, "cluster_id", splits=split_spec)
            summary["split_spec"] = dict(split_spec)
        mpath = fsutil.urljoin(args.output, "manifest")
        manifest.write.mode("overwrite").parquet(mpath)
        summary["manifest_path"] = mpath
    print(json.dumps(summary, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
