#!/usr/bin/env python
"""Physical-plan audit: dump .explain('formatted') for headline queries
and assert the plan properties that matter at 100 TB:

- parquet scans carry PushedFilters + pruned ReadSchema (never SELECT *)
- dimension joins are BroadcastHashJoin, fact joins shuffle on keys
- expression pipelines run inside WholeStageCodegen
- sort+limit fuses to TakeOrderedAndProject

Writes plans to BENCH/plans/<query>.txt and prints a PASS/FAIL audit line
per query. Run: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

AUDITS = {
    # query -> (must-contain substrings, must-NOT-contain); codegen is
    # asserted via the simple-mode `*(n)` stage markers (formatted mode in
    # Spark 4 does not label codegen spans)
    "q6_filtered_revenue": (["PushedFilters: [IsNotNull(l_shipdate)", "CODEGEN"], []),
    "q1_pricing_summary": (["PushedFilters", "HashAggregate", "CODEGEN"], []),
    "q3_top_orders": (["BroadcastHashJoin", "TakeOrderedAndProject"], ["CartesianProduct"]),
    "q5_local_suppliers": (["BroadcastHashJoin"], ["CartesianProduct"]),
    "q_topk": (["TakeOrderedAndProject"], ["Exchange rangepartitioning"]),
    "q_join_semi": (["LeftSemi"], []),
    "q_join_anti": (["LeftAnti"], []),
    "dedup_exact": (["HashAggregate", "ReadSchema: struct<doc_id:bigint,text:string>"], []),
    "gd_dedup_ratio": (["MapInPandas"], []),
    "ann_topk_brute": (["BroadcastNestedLoopJoin"], []),
    # round-2 shapes
    "q4_order_priority": (["LeftSemi", "PushedFilters"], ["CartesianProduct"]),
    "q21_waiting_suppliers": (["LeftSemi", "LeftAnti"], ["CartesianProduct"]),
    "q2_min_cost_supplier": (["BroadcastHashJoin", "TakeOrderedAndProject"], ["CartesianProduct"]),
    "q7_volume_shipping": (["BroadcastHashJoin"], ["CartesianProduct"]),
    "q17_small_qty_revenue": (["PushedFilters"], ["CartesianProduct"]),
    "ann_topk_lsh": (["MapInPandas"], ["CartesianProduct"]),
    "ann_topk_ivf": (["MapInPandas"], ["CartesianProduct"]),
    # round-5 code-curation shapes: pure-JVM expressions (no Python), pruned
    # scans, bounded-key joins
    "code_quality_signals": (
        ["ReadSchema: struct<doc_id:bigint,text:string>", "CODEGEN"],
        ["MapInPandas", "BatchEvalPython", "Exchange"],
    ),
    "code_normalized_dedup": (
        ["HashAggregate", "ReadSchema: struct<doc_id:bigint,text:string>", "CODEGEN"],
        ["MapInPandas", "BatchEvalPython", "CartesianProduct"],
    ),
    "code_pii_signals": (
        ["ReadSchema: struct<doc_id:bigint,text:string>", "CODEGEN"],
        ["MapInPandas", "BatchEvalPython", "Exchange"],
    ),
    "code_clone_census": (
        ["HashAggregate", "ReadSchema: struct<doc_id:bigint,text:string>", "CODEGEN"],
        ["MapInPandas", "BatchEvalPython", "CartesianProduct"],
    ),
    "source_overlap": (
        ["HashAggregate", "Generate explode"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # round-5 continuation: license/snapshot shapes
    "code_license_census": (
        ["ReadSchema: struct<doc_id:bigint,text:string>", "CODEGEN"],
        ["MapInPandas", "BatchEvalPython", "Exchange"],
    ),
    "code_snapshot_latest": (
        # window op over synthesized keys; only doc_id is read from parquet
        ["Window", "ReadSchema: struct<doc_id:bigint>"],
        ["MapInPandas", "BatchEvalPython", "CartesianProduct"],
    ),
    # round-5 final additions: line dedup / roles —
    # all pure-JVM, no Python, no cartesian anywhere
    "code_line_dedup": (
        # line explode + census join + per-doc regroup; content crosses
        # exactly the two expected shuffles, no Python
        ["Generate posexplode", "HashAggregate"],
        ["MapInPandas", "BatchEvalPython", "CartesianProduct"],
    ),
    "code_file_roles": (
        ["ReadSchema: struct<doc_id:bigint,text:string>", "CODEGEN"],
        ["MapInPandas", "BatchEvalPython", "Exchange"],
    ),
    # round-5 leakage-safe split: pure map-only column math — a pruned
    # scan, zero shuffles, zero Python (text_heavy_lines is not audited
    # here: its returned frame is the certified k-row literal; the sketch
    # plan is exercised in tests/test_heavy.py)
    "code_leakage_split": (
        ["ReadSchema: struct<doc_id:bigint,text:string>", "CODEGEN"],
        ["MapInPandas", "BatchEvalPython", "Exchange"],
    ),
    # round-5 Z-order census: map-only Morton key math (pruned 2-column
    # scan, broadcast bounds join, one hash-agg exchange on the bucket,
    # zero Python)
    "code_zorder_census": (
        ["HashAggregate", "ReadSchema: struct<doc_id:bigint,text:string>",
         "CODEGEN"],
        ["MapInPandas", "BatchEvalPython", "CartesianProduct",
         "Exchange rangepartitioning"],
    ),
    # cross-corpus fuzzy decontamination (dedup/xcorpus.py): Arrow kernels
    # for signatures + exact verify, every join broadcast (eval band index,
    # candidates, eval texts) — the train side must never cartesian or
    # nested-loop
    "text_fuzzy_decontaminate": (
        ["MapInPandas", "BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    # round-5 trained quality classifier: scoring is one map-only Arrow
    # pass over the packed feature cache (training already ran eagerly —
    # its per-iteration jobs are the same shape); no joins anywhere.
    "text_quality_classifier": (
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"],
    ),
    # round-5 exact-integer PageRank: rank tables broadcast per iteration
    # (node-bounded), the distinct-pair edge build and inflow sums are
    # hash aggregates; zero Python, no cartesian joins.
    "graph_pagerank_entities": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["CartesianProduct", "BatchEvalPython", "MapInPandas"],
    ),
    # round-5 meta tables: the footer scan is the file list -> one
    # Arrow-batched map stage — no shuffle, no join, no data pages
    "meta_segments_sfdir": (
        ["MapInPandas"],
        ["Exchange hashpartitioning", "SortMergeJoin", "BroadcastHashJoin",
         "CartesianProduct"],
    ),
    # round-5 encoding advisor: pure JVM Column exprs (lag window over
    # chunk_id + bounded aggs); zero Python stages, no cartesian joins
    "encoding_advisor": (
        ["Window", "HashAggregate"],
        ["MapInPandas", "BatchEvalPython", "CartesianProduct"],
    ),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as e
    from hyrise_generalized_dedup_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    qs, _ = e._full_registries()
    os.makedirs("/root/repo/BENCH/plans", exist_ok=True)
    failures = []
    for name, (must, must_not) in AUDITS.items():
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        df.collect()  # let AQE finalize, then read the executed plan
        executed = df._jdf.queryExecution().executedPlan().toString()
        plan = buf.getvalue() + "\n==== executed ====\n" + executed
        if "*(" in executed:  # whole-stage-codegen markers
            plan += "\nCODEGEN\n"
        with open(f"/root/repo/BENCH/plans/{name}.txt", "w") as fh:
            fh.write(plan)
        missing = [m for m in must if m not in plan]
        present = [m for m in must_not if m in plan]
        ok = not missing and not present
        print(f"[{'PASS' if ok else 'FAIL'}] {name:28s} "
              + (f"missing={missing} forbidden={present}" if not ok else "plan ok"))
        if not ok:
            failures.append(name)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
