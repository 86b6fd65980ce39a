"""Driver-gate registry: 50-slot cap + merged-gate vs DuckDB correctness.

The round driver records CORRECTNESS rows for only the first 50 registry
entries (round-1 finding), so the driver registry is curated to exactly
<=50 slots with related operators merged into tagged-union gates. These
tests prove (a) the cap holds, (b) every merged gate is hash-exact vs its
composed oracle, (c) no component query lost its individual oracle.
"""

from __future__ import annotations

import sys

import pytest

import __spark_entry__ as entrymod
import bench
from hyrise_generalized_dedup_spark.plans.gates import (
    DRIVER_SLOT_CAP,
    JOINED_GATES,
    MERGED_GATES,
    PASSTHROUGH_SLOTS,
    ROWS_ONLY_MERGED,
)
from hyrise_generalized_dedup_spark.testing import compare_to_duckdb

# Registry queries that neither a driver slot nor a bench.HEADLINE leaf
# runs, kept because each is the only test of an engine path that a slot
# or leaf does run. Anything else unreached is dead weight: delete it.
UNREACHED_KEPT: dict[str, str] = {
    "embedding_neardup_pairs": "semdedup_keepers (g_ann_dedup slot) drops the id_b side "
    "of these pairs; only this query's oracle checks the pair list and its cosines",
}


def test_driver_registry_within_cap():
    qs, os_ = entrymod._all_registries()
    assert len(qs) <= DRIVER_SLOT_CAP
    assert set(os_) <= set(qs)
    # every module contributes slots
    for prefix in ("gd_", "ann_", "mm_", "text_fingerprint", "sessionize", "g_streaming_windows", "q1_", "g_"):
        assert any(k.startswith(prefix) for k in qs), f"no slot with prefix {prefix}"


def test_no_component_lost_an_oracle():
    full_q, full_o = entrymod._full_registries()
    merged_components = {q for br in MERGED_GATES.values() for _, q, _ in br}
    joined_components = {q for parts in JOINED_GATES.values() for q, _ in parts}
    for comp in merged_components | joined_components:
        assert comp in full_q, comp
        assert comp in full_o, f"{comp} must keep its individual oracle"
    # passthrough slots must exist in the full registry
    for slot in PASSTHROUGH_SLOTS:
        assert slot in full_q, slot


def test_registry_import_failure_raises(monkeypatch):
    """A registry module that cannot be imported fails the registry build
    instead of silently dropping its queries from the driver surface."""
    monkeypatch.setitem(sys.modules, "hyrise_generalized_dedup_spark.stats.queries", None)
    with pytest.raises(ImportError):
        entrymod._full_registries()


def test_every_registry_query_is_reached():
    """Every query in the full registry is run by a driver slot, by a
    bench.HEADLINE leaf, or is on the UNREACHED_KEPT allowlist."""
    reached = set(PASSTHROUGH_SLOTS) | set(bench.HEADLINE)
    reached |= {q for parts in JOINED_GATES.values() for q, _ in parts}
    for branches in (*MERGED_GATES.values(), *ROWS_ONLY_MERGED.values()):
        reached |= {q for _, q, _ in branches}
    full = set(entrymod._full_registries()[0])
    unreached = sorted(full - reached - set(UNREACHED_KEPT))
    assert not unreached, f"{len(unreached)} registry queries nothing reaches: {unreached}"
    stale = sorted(set(UNREACHED_KEPT) - (full - reached))
    assert not stale, f"UNREACHED_KEPT entries that are reached or gone: {stale}"


# Output columns of the slots the merged-gate tests already built at
# sf_tiny: building a gate runs eager work, and the name check below only
# needs each slot's schema at that scale.
_TINY_COLUMNS: dict[str, list[str]] = {}


@pytest.mark.parametrize("name", sorted(MERGED_GATES) + sorted(JOINED_GATES))
def test_merged_gate_matches_duckdb(spark, sf_tiny, name):
    qs, os_ = entrymod._all_registries()
    # committed-golden oracles (goldens.py) are pinned to sf0.01 — compare
    # those gates at the goldens' scale, recomputing oracles at sf_tiny
    sf = "/root/testdata/sf0.01" if "sf0_01.parquet" in os_[name] else sf_tiny
    df = qs[name](spark, sf)
    if sf == sf_tiny:
        _TINY_COLUMNS[name] = df.columns
    ok, msg = compare_to_duckdb(df, os_[name], sf)
    assert ok, f"{name}: {msg}"


def test_driver_slot_output_names_unique(spark, sf_tiny):
    """The driver canonicalizes each slot's output through a pandas reindex
    on column labels, which raises on duplicates — the exact failure that
    turned g_text_quality_langid red in round 5 (code_normalized_dedup and
    code_clone_census both emitted n_copies/canonical_doc_id/is_dup).
    Assert every driver slot (and its oracle's projection list) has
    globally unique, case-insensitive output names."""
    qs, os_ = entrymod._all_registries()
    for name, fn in qs.items():
        built = _TINY_COLUMNS.get(name) or fn(spark, sf_tiny).columns
        cols = [c.lower() for c in built]
        dupes = sorted({c for c in cols if cols.count(c) > 1})
        assert not dupes, f"{name}: duplicate output columns {dupes}"


def test_golden_merged_gate_shape(spark, sf_tiny):
    """g_dedup_censuses (LSH/CC + simhash censuses; oracle = composed
    committed goldens since r5) unions both census components with
    harmonized columns and a branch tag at any scale."""
    qs, os_ = entrymod._all_registries()
    assert "g_dedup_censuses" in qs and "g_dedup_censuses" in os_
    rows = qs["g_dedup_censuses"](spark, sf_tiny).collect()
    ops = {r.gate_op for r in rows}
    assert ops == {
        "neardup_clusters",
        "simhash_blocks",
        "iceberg_snapshots",
        "iceberg_diff",
        "heavy_lines",
        "repo_census",
        "zorder",
        "iceberg_pruned",
        "triangles",
    }
    assert {c for c in rows[0].asDict()} == {"gate_op", "k", "n1", "n2"}


def test_suffix_gate_non_vacuous(spark, sf_tiny):
    """The suffix driver slot must actually exercise the suffix-array
    kernel: at least one real 'suffix' edge on the test corpus."""
    qs, _ = entrymod._all_registries()
    rows = {r.source: r for r in qs["suffix_shared_substrings"](spark, sf_tiny).collect()}
    assert "suffix" in rows, f"no suffix edges found: {rows}"
    assert rows["suffix"].n_edges > 0
    assert rows["suffix"].min_shared >= 64


def test_bench_headline_queries_registered():
    """Every bench.py headline entry must resolve in the full registry —
    a typo here would crash the driver's per-round benchmark run."""
    import bench

    qs, _ = entrymod._full_registries()
    missing = [q for q in bench.HEADLINE if q not in qs]
    assert not missing, missing
