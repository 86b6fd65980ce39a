"""Broadcast-Bloom decontamination: no false negatives vs the exact
join path, bounded false positives, vectorized probe (functions/bloom.py)."""

from __future__ import annotations

import re

import numpy as np
import pytest

import pyspark.sql.functions as F

from hyrise_generalized_dedup_spark.functions.bloom import (
    MAX_EVAL_GRAMS,
    build_bloom_bits,
    decontaminate_table_bloom,
)
from hyrise_generalized_dedup_spark.functions.queries import (
    decontaminate_table,
)


def _corpus(spark, with_overlap: bool):
    """12 train docs + 3 eval docs; half the train docs quote an eval
    sentence verbatim when with_overlap."""
    eval_docs = [
        (100 + i, " ".join(f"evalword{i}x{j}" for j in range(40)), True)
        for i in range(3)
    ]
    rows = []
    for i in range(12):
        words = [f"trainw{i}n{j}" for j in range(60)]
        if with_overlap and i % 2 == 0:
            quoted = eval_docs[i % 3][1].split()[5:15]  # 10 words -> 6 shared 5-grams
            words[20:20] = quoted
        rows.append((i, " ".join(words), False))
    return spark.createDataFrame(
        rows + eval_docs, "doc_id long, text string, is_eval boolean"
    )


def test_no_false_negatives_vs_exact_path(spark):
    docs = _corpus(spark, with_overlap=True)
    exact = {r.doc_id: r for r in decontaminate_table(docs).collect()}
    bloom = {r.doc_id: r for r in decontaminate_table_bloom(docs).collect()}
    assert set(exact) == set(bloom)
    for doc_id, e in exact.items():
        b = bloom[doc_id]
        assert b.n_grams5 == e.n_grams5
        assert b.n_hit_grams >= e.n_hit_grams  # upper bound
        if e.contaminated:
            assert b.contaminated == 1  # the contract: no false negatives
    # and the planted overlap is really there
    assert sum(e.contaminated for e in exact.values()) == 6


def test_false_positive_rate_bounded(spark):
    """Disjoint train/eval vocabularies: every bloom hit is a false
    positive; at 16 bits/gram + k=4 the rate is ~0.24%, so over ~700
    train grams expect ~2 false hits — assert a generous bound and that
    whole-doc false flags stay rare."""
    docs = _corpus(spark, with_overlap=False)
    rows = decontaminate_table_bloom(docs).filter("is_eval = 0").collect()
    n_grams = sum(r.n_grams5 for r in rows)
    n_fp = sum(r.n_hit_grams for r in rows)
    assert n_grams > 500
    assert n_fp / n_grams < 0.02


def test_exact_hit_counts_match_when_no_collisions(spark):
    """On this tiny corpus collisions are overwhelmingly unlikely to hit
    the SAME doc's grams twice; the planted quotes must be counted
    exactly unless a (detectable) FP inflates them."""
    docs = _corpus(spark, with_overlap=True)
    exact = {r.doc_id: r.n_hit_grams for r in decontaminate_table(docs).collect()}
    bloom = {r.doc_id: r.n_hit_grams for r in decontaminate_table_bloom(docs).collect()}
    inflated = [d for d in exact if bloom[d] > exact[d]]
    # ~800 train grams at ~0.24% FP -> expect ~2 inflated docs
    # (deterministic: xxhash64 is seed-fixed)
    assert len(inflated) <= 4
    assert sum(bloom[d] - exact[d] for d in inflated) <= 6


def test_empty_eval_split_flags_nothing(spark):
    docs = _corpus(spark, with_overlap=True).filter("NOT is_eval")
    rows = decontaminate_table_bloom(docs).collect()
    assert all(r.contaminated == 0 and r.n_hit_grams == 0 for r in rows)


def test_eval_doc_rows_keep_schema_and_self_hits(spark):
    docs = _corpus(spark, with_overlap=True)
    ev = {r.doc_id: r for r in decontaminate_table_bloom(docs).collect() if r.is_eval}
    assert len(ev) == 3
    for r in ev.values():
        assert r.contaminated == 0  # eval docs are never "contaminated"
        assert r.n_hit_grams == r.n_grams5  # their own grams are in the filter


def test_build_bits_deterministic_and_bounded():
    h1 = np.arange(1000, dtype=np.int64) * 7919 - 500
    h2 = np.arange(1000, dtype=np.int64) * 104729 + 13
    a, m = build_bloom_bits(h1, h2, 16, 4)
    b, m2 = build_bloom_bits(h1, h2, 16, 4)
    assert a == b and m == m2 == 16_000
    density = np.unpackbits(np.frombuffer(a, np.uint8)).mean()
    assert 0.15 < density < 0.25  # ~ 1 - e^{-k/bits_per_gram} = 0.221


def test_cap_guard_raises(spark, monkeypatch):
    import hyrise_generalized_dedup_spark.functions.bloom as B

    monkeypatch.setattr(B, "MAX_EVAL_GRAMS", 2)
    docs = _corpus(spark, with_overlap=False)
    with pytest.raises(ValueError, match="MAX_EVAL_GRAMS") as err:
        B.decontaminate_table_bloom(docs)
    # the collect is bounded: no gram count past cap + 1 ever reaches the
    # driver (the eval split has 108 distinct 5-grams)
    assert max(int(n) for n in re.findall(r"\d+", str(err.value))) <= 3
    assert MAX_EVAL_GRAMS > 1_000_000  # the real cap is corpus-scale


def test_registry_query_runs(spark, sf_tiny):
    from hyrise_generalized_dedup_spark.functions.queries import TEXT_QUERIES

    rows = TEXT_QUERIES["text_decontaminate_bloom"](spark, sf_tiny).collect()
    assert len(rows) > 0
    exact = {
        r.doc_id: r
        for r in TEXT_QUERIES["text_decontaminate"](spark, sf_tiny).collect()
    }
    for r in rows:
        assert r.n_hit_grams >= exact[r.doc_id].n_hit_grams
        if exact[r.doc_id].contaminated:
            assert r.contaminated == 1
