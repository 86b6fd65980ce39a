"""Committed golden-parquet oracles for driver slots whose semantics are
not SQL-expressible in DuckDB (sketches, suffix-array edges, HLL
estimates, LSH censuses).

The kernels themselves are verified against brute-force / property
oracles in pytest; a golden turns the DRIVER slot from a rows-only check
into a VALUE check: the oracle is ``SELECT ... FROM read_parquet(golden)``
and any kernel-output change hash-mismatches against the committed file.

Soundness requirement (probed, not assumed): a golden is only a valid
oracle if the query's output is bit-identical regardless of
partitioning/parallelism, because the round driver runs its own Spark
conf. ``scripts/probe_golden_determinism.py`` runs each slot below at two
(master, shuffle-partitions) configs in separate JVMs and compares full
sorted outputs exactly (float bit patterns included) — run it before
adding a slot here. All current entries probed deterministic at
local[4]/4 vs local[32]/32 on sf0.01.

Regenerate with ``scripts/gen_goldens.py`` after any deliberate kernel
change; ``tests/test_functions.py::test_goldens_match_current_kernels``
fails on drift.
"""

from __future__ import annotations

GOLDEN_DIR = "/root/repo/resources/goldens"
GOLDEN_SF = "sf0.01"  # the one scale every committed golden was generated at

# slot -> (registry module, registry dict name, ORDER BY cols for the file)
GOLDENS: dict[str, tuple[str, str, list[str]]] = {
    "text_fingerprint": (
        "hyrise_generalized_dedup_spark.functions.queries", "TEXT_QUERIES", ["doc_id"],
    ),
    "text_quality_classifier": (
        "hyrise_generalized_dedup_spark.functions.queries", "TEXT_QUERIES", ["doc_id"],
    ),
    "ann_lsh_buckets": (
        "hyrise_generalized_dedup_spark.ann.queries", "ANN_QUERIES", ["table_id"],
    ),
    "ann_topk_lsh": (
        "hyrise_generalized_dedup_spark.ann.queries", "ANN_QUERIES", ["query_id", "rank"],
    ),
    "suffix_shared_substrings": (
        "hyrise_generalized_dedup_spark.dedup.queries", "DEDUP_QUERIES", ["source"],
    ),
    "q_approx_distinct": (
        "hyrise_generalized_dedup_spark.plans.relational2", "RELATIONAL_QUERIES", ["event_type"],
    ),
    "neardup_cluster_sizes": (
        "hyrise_generalized_dedup_spark.dedup.queries", "DEDUP_QUERIES", ["cluster_size"],
    ),
    "simhash_blocks_docs": (
        "hyrise_generalized_dedup_spark.dedup.queries", "DEDUP_QUERIES", ["band_id"],
    ),
}


def golden_oracle(name: str, cols: list[str]) -> str:
    """DuckDB oracle SQL reading the committed golden for ``name``."""
    return (
        f"SELECT {', '.join(cols)} "
        f"FROM read_parquet('{GOLDEN_DIR}/{name}.{GOLDEN_SF.replace('.', '_')}.parquet')"
    )
