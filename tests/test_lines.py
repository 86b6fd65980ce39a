"""Line-level boilerplate dedup (functions/lines.py): semantics vs a
pure-python mirror on multi-line content, invariants, and DuckDB parity
for the two registered driver queries."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

from hyrise_generalized_dedup_spark.functions.lines import (
    line_census,
    strip_common_lines,
)
from hyrise_generalized_dedup_spark.functions.queries import (
    TEXT_ORACLES,
    TEXT_QUERIES,
)
from hyrise_generalized_dedup_spark.testing import compare_to_duckdb

HEADER = "// SPDX-License-Identifier: MIT"
BANNER = "// (c) Example Authors"
GEN = "// @generated -- do not edit"


def _fixture(spark):
    """10 docs: every doc carries HEADER, docs 0-5 carry BANNER, docs 0-2
    carry GEN; body lines are unique per doc; doc 9 is all-boilerplate
    after stripping, doc 8 is empty."""
    rows = []
    for i in range(10):
        lines = [HEADER]
        if i <= 5:
            lines.append("  " + BANNER)  # indentation must not defeat the key
        if i <= 2:
            lines.append(GEN)
        lines += ["", f"def f{i}():", f"    return {i}"]
        if i == 9:
            lines = [HEADER, HEADER]
        if i == 8:
            lines = [""]
        rows.append((i, "\n".join(lines)))
    return rows, spark.createDataFrame(rows, "doc_id long, text string")


def _mirror(rows, min_docs):
    """Pure-python line census + strip."""
    from collections import defaultdict

    docs_per_key: dict[str, set[int]] = defaultdict(set)
    occ: dict[str, int] = defaultdict(int)
    for i, text in rows:
        for line in text.split("\n"):
            k = line.strip(" ")
            if k:
                docs_per_key[k].add(i)
                occ[k] += 1
    common = {k for k, s in docs_per_key.items() if len(s) >= min_docs}
    census = {
        k: (len(docs_per_key[k]), occ[k]) for k in common
    }
    stripped = {}
    for i, text in rows:
        lines = text.split("\n")
        kept = [ln for ln in lines if ln.strip(" ") not in common]
        stripped[i] = (
            len(lines),
            len(kept),
            len(lines) - len(kept),
            hashlib.sha256("\n".join(kept).encode()).hexdigest(),
        )
    return census, stripped


def test_line_census_matches_mirror(spark):
    rows, df = _fixture(spark)
    census, _ = _mirror(rows, min_docs=3)
    got = {
        r["key"]: (r["n_docs"], r["n_occurrences"])
        for r in line_census(df, min_docs=3).collect()
    }
    assert got == census
    # HEADER in 9 docs (doc 8 is blank-only), 10 occurrences (doc 9 repeats)
    assert got[HEADER] == (9, 10)
    # the indented banner is keyed by its trimmed form
    assert got[BANNER] == (6, 6)
    assert got[GEN] == (3, 3)


def test_strip_matches_mirror_and_invariants(spark):
    rows, df = _fixture(spark)
    _, stripped = _mirror(rows, min_docs=3)
    out = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["n_dropped"], r["clean_sha"])
        for r in strip_common_lines(df, min_docs=3).collect()
    }
    assert out == stripped
    for n_lines, n_kept, n_dropped, _sha in out.values():
        assert n_kept + n_dropped == n_lines
    # all-boilerplate doc reconstructs to the empty string
    assert out[9][3] == hashlib.sha256(b"").hexdigest()
    # blank-only doc: blank lines are never boilerplate, so nothing drops
    assert out[8][:3] == (1, 1, 0)


def test_strip_is_idempotent(spark):
    rows, df = _fixture(spark)
    cleaned = [
        (
            i,
            "\n".join(
                ln
                for ln in text.split("\n")
                if ln.strip(" ") not in {HEADER, BANNER, GEN}
            ),
        )
        for i, text in rows
    ]
    df2 = spark.createDataFrame(cleaned, "doc_id long, text string")
    again = {
        r["doc_id"]: r["n_dropped"]
        for r in strip_common_lines(df2, min_docs=3).collect()
    }
    assert set(again.values()) == {0}


def test_threshold_excludes_rare_lines(spark):
    rows, df = _fixture(spark)
    got = {r["key"] for r in line_census(df, min_docs=7).collect()}
    assert got == {HEADER}  # banner (6 docs) and gen (3) fall below 7


def test_registered_line_queries_match_duckdb(spark, sf_tiny):
    df = TEXT_QUERIES["code_line_dedup"](spark, sf_tiny)
    ok, msg = compare_to_duckdb(df, TEXT_ORACLES["code_line_dedup"], sf_tiny)
    assert ok, msg
