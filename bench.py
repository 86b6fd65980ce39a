#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec}, "sf": ..., plus dedup-throughput extras}.

The dedup-pipeline throughput (files/sec on the synthetic code corpus)
is the north-star metric analog of the reference benchmark runner's
items/sec (src/benchmarklib/benchmark_runner.cpp:266-282); scaling
evidence across parallelism levels lives in scripts/scaling.py
(``scaling.py pipeline``) and BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_local_suppliers",
    "q6_filtered_revenue",
    "q_window_topk_per_group",
    "dedup_exact",
    "gd_dedup_ratio",
    "gd_segments",
    "minhash_shingle_stats",
    "neardup_cluster_sizes",
    "text_quality",
    "text_decontaminate",
    "code_pii_signals",
    "code_clone_census",
    "source_overlap",
    "ann_topk_brute",
    "ann_topk_ivf",
    "ann_topk_lsh",
    "q4_order_priority",
    "q21_waiting_suppliers",
    # round-5 continuation additions
    "code_license_census",
    "events_funnel",
    "cdc_chunk_census",
    "text_decontaminate_bloom",
    "code_line_dedup",
    "text_heavy_lines",
    "text_lm_scores",
    "text_seq_packing",
    "text_dsir_weights",
    "code_zorder_census",
    "text_bm25_topk",
    "text_dup_spans",
    "text_fuzzy_decontaminate",
    "text_quality_classifier",
    "graph_pagerank_entities",
    "table_edc_histogram",
    "meta_segments_sfdir",
    "encoding_advisor",
]


def main() -> None:
    import __spark_entry__ as entrymod
    from hyrise_generalized_dedup_spark.session import get_spark

    spark = get_spark(
        app_name="bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    qs, _ = entrymod._full_registries()

    # warm the JVM/Arrow path once so per-query numbers measure the plan,
    # not first-use initialization
    qs["q6_filtered_revenue"](spark, SF_DIR).collect()

    # min-of-N per query: single draws on this box swing up to 2x with
    # VM noise (BENCH/BASELINE.md), so cross-round deltas need the min
    # of repeated runs to be meaningful. Cheap at sf0.1.
    reps = int(os.environ.get("BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.count()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    # dedup-pipeline throughput: files/sec over the synthetic code corpus
    # (map-heavy stages dominate — the 100 TB-relevant number)
    from hyrise_generalized_dedup_spark.dedup.pipeline import run_pipeline
    from hyrise_generalized_dedup_spark.synth import generate_distributed

    n_files = int(os.environ.get("BENCH_DEDUP_FILES", "40000"))
    corpus = generate_distributed(spark, n_files).repartition(CPUS * 4).cache()
    corpus.count()
    # min-of-N for the pipeline too (default 2): single draws on this box
    # swing up to ~40% on the python-worker-heavy stages, which made the
    # headline files/sec number track host noise rather than plan changes
    # across rounds. Stage walls are taken from the best run.
    import shutil

    pipeline_reps = int(os.environ.get("BENCH_PIPELINE_REPS", "2"))
    dedup_wall, summary = float("inf"), None
    for _ in range(pipeline_reps):
        out_dir = f"/tmp/bench_dedup_{os.getpid()}"
        shutil.rmtree(out_dir, ignore_errors=True)
        t0 = time.time()
        s = run_pipeline(spark, corpus, out_dir, resume=False, with_suffix_stage=True)
        wall = time.time() - t0
        shutil.rmtree(out_dir, ignore_errors=True)
        if wall < dedup_wall:
            dedup_wall, summary = wall, s
    timings["dedup_pipeline"] = round(dedup_wall, 3)
    # per-stage walls from the pipeline's own metrics so the suffix
    # stage's cost is visible in BENCH, not folded into the total;
    # keys say _wall_s because the values ARE seconds (the r3 report
    # emitted seconds under *_wall_ms keys — unit lie, now fixed)
    stage_walls = {
        k[: -len("_wall_ms")] + "_wall_s": round(v / 1000.0, 3)
        for k, v in summary.items()
        if isinstance(k, str) and k.endswith("_wall_ms") and isinstance(v, int)
    }

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline query wall time + dedup pipeline throughput",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                "dedup_files": n_files,
                "dedup_files_per_sec": round(n_files / dedup_wall, 1),
                "dedup_clusters": summary["n_clusters"],
                "dedup_stage_walls": stage_walls,
                "bench_reps": reps,
                "bench_pipeline_reps": pipeline_reps,
                "cpus": CPUS,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
