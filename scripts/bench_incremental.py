#!/usr/bin/env python
"""Incremental-vs-scratch eval: absorb a +10% batch into a 40k corpus.

Measures (same box, same session, local[$SPARK_GRAFT_CPUS]):
  scratch_wall  — full pipeline over the grown corpus (what you'd pay
                  without the incremental path)
  inc_wall      — incremental_update absorbing the batch into the prior
                  run's checkpoints
and writes BENCH/evals/incremental_r5.json with the speedup and the
reuse counters, after asserting the incremental clusters equal the
scratch clusters (the bit-equality the pytest oracle proves at small
scale, re-checked here at bench scale).

Corpus: synth generator at N_FILES (default 40000), old = ~90% of docs
partitioned by commit hash so dup families straddle the boundary.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from hyrise_generalized_dedup_spark.config import GDConfig
from hyrise_generalized_dedup_spark.dedup.incremental import incremental_update
from hyrise_generalized_dedup_spark.dedup.pipeline import Checkpointer, run_pipeline
from hyrise_generalized_dedup_spark.session import get_spark
from hyrise_generalized_dedup_spark.synth import generate_distributed

N_FILES = int(os.environ.get("INC_EVAL_FILES", "40000"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# INC_EVAL_CORPUS: parquet path of a pre-generated corpus (e.g. the
# scaling evals' persisted 2M table) — skips generation and sizes the
# eval to that corpus.
CORPUS = os.environ.get("INC_EVAL_CORPUS", "")


def main() -> None:
    # big-corpus runs (INC_EVAL_CORPUS at 2M files) need a 24g heap and
    # tmpfs scratch
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    spark = get_spark(
        app_name="bench-incremental", master=f"local[{CPUS}]", shuffle_partitions=CPUS * 3
    )
    if CORPUS:
        full = spark.read.parquet(CORPUS).repartition(CPUS * 4).cache()
    else:
        full = generate_distributed(spark, N_FILES).repartition(CPUS * 4).cache()
    full.count()
    old = full.filter(F.abs(F.hash("commit")) % 10 < 9).cache()
    n_old, n_full = old.count(), full.count()

    base = f"/tmp/inc_eval_{os.getpid()}"
    inc_dir, scratch_dir = f"{base}/inc", f"{base}/scratch"

    t0 = time.time()
    run_pipeline(spark, old, inc_dir, resume=False)
    prior_wall = time.time() - t0

    t0 = time.time()
    summary = incremental_update(spark, full, inc_dir)
    inc_wall = time.time() - t0

    t0 = time.time()
    run_pipeline(spark, full, scratch_dir, resume=False)
    scratch_wall = time.time() - t0

    ckpt_inc = Checkpointer(spark, inc_dir, GDConfig())
    ckpt_scr = Checkpointer(spark, scratch_dir, GDConfig())
    mismatch = (
        ckpt_inc.load("clusters")
        .exceptAll(ckpt_scr.load("clusters"))
        .unionAll(ckpt_scr.load("clusters").exceptAll(ckpt_inc.load("clusters")))
        .count()
    )

    report = {
        "n_files": n_full,
        "n_new_files": n_full - n_old,
        "cpus": CPUS,
        "prior_run_wall_s": round(prior_wall, 1),
        "incremental_wall_s": round(inc_wall, 1),
        "scratch_wall_s": round(scratch_wall, 1),
        "speedup_vs_scratch": round(scratch_wall / inc_wall, 2),
        "clusters_mismatch_rows": mismatch,
        "n_reused_lsh_edges": summary.get("n_reused_lsh_edges"),
        "n_dirty_clusters": summary.get("n_dirty_clusters"),
        "n_clusters": summary.get("n_clusters"),
        "incremental_stage_walls_s": {
            k[: -len("_wall_ms")]: round(v / 1000.0, 1)
            for k, v in summary.items()
            if isinstance(k, str) and k.endswith("_wall_ms") and isinstance(v, int)
        },
    }
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "evals",
        f"incremental_r5_{n_full}.json",
    )
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh, indent=2)
    print(json.dumps(report))

    # --- removal batch: drop ~5% of the corpus, absorb vs scratch ---
    # (inc_dir now holds the full corpus's tree — a valid prior). The
    # interesting number is inc_wall staying well under scratch_wall even
    # though the per-doc stages are REWRITTEN (O(corpus) I/O): the saved
    # content compute (gd+minhash kernels) dominates the parquet rewrite.
    shrunk = full.filter(F.abs(F.hash("commit")) % 20 != 0).cache()
    n_shrunk = shrunk.count()
    t0 = time.time()
    rsummary = incremental_update(spark, shrunk, inc_dir)
    r_inc_wall = time.time() - t0
    t0 = time.time()
    run_pipeline(spark, shrunk, f"{base}/scratch_rm", resume=False)
    r_scr_wall = time.time() - t0
    ckpt_rm = Checkpointer(spark, f"{base}/scratch_rm", GDConfig())
    r_mismatch = (
        ckpt_inc.load("clusters")
        .exceptAll(ckpt_rm.load("clusters"))
        .unionAll(ckpt_rm.load("clusters").exceptAll(ckpt_inc.load("clusters")))
        .count()
    )
    r_report = {
        "n_files": n_shrunk,
        "n_removed_files": n_full - n_shrunk,
        "cpus": CPUS,
        "incremental_wall_s": round(r_inc_wall, 1),
        "scratch_wall_s": round(r_scr_wall, 1),
        "speedup_vs_scratch": round(r_scr_wall / r_inc_wall, 2),
        "clusters_mismatch_rows": r_mismatch,
        "n_reused_lsh_edges": rsummary.get("n_reused_lsh_edges"),
        "n_dirty_clusters": rsummary.get("n_dirty_clusters"),
        "n_clusters": rsummary.get("n_clusters"),
    }
    r_out = out.replace("incremental_r5_", "incremental_removal_r5_")
    with open(r_out, "w") as fh:
        json.dump(r_report, fh, indent=2)
    print(json.dumps(r_report))
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
