"""Trained hashed linear classifier (functions/classifier.py) oracles.

The driver gate (text_quality_classifier in g_ann_dedup) value-checks the
scored surface against a committed golden parquet (goldens.py — training
is iterative and not SQL-expressible). The strong oracles live here:

1. a from-scratch numpy twin reproduces the ENTIRE quantized-GD weight
   trajectory and the fixed-point margins bit-for-bit;
2. the learned model actually separates a planted two-vocabulary corpus
   and the real documents table's labeled slice (accuracy gates);
3. training is bit-deterministic under different partitionings — the
   soundness requirement for the committed golden;
4. the hashed feature census matches a DuckDB md5-trick twin bit-exactly;
5. edge semantics: empty docs score through the bias and never train.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest

from hyrise_generalized_dedup_spark.functions.classifier import (
    DEFAULT_BUCKETS,
    DEFAULT_ITERS,
    DEFAULT_LR,
    GRAD_SCALE,
    LABEL_HI_PM,
    LABEL_LO_PM,
    MARGIN_SCALE,
    STOPWORDS,
    X_SCALE,
    classify_quality,
    hashed_counts,
    packed_features,
    score_logreg,
    stopword_weak_label,
    train_logreg,
)
from hyrise_generalized_dedup_spark.sources.tables import load_table

# Corpus with confident positives (stopword-dense), confident negatives,
# a gap doc (unlabeled), an empty doc, and a one-token doc.
_DOCS = [
    (0, "the a the a the mat cat"),              # sw 5/7 = 714 pm -> y=1
    (1, "a the a rug dog runs fast"),            # sw 3/7 = 428 pm -> y=1
    (2, "quick brown fox jumps over lazy dog"),  # sw 0   -> y=0
    (3, "vector hash merge scan sort batch"),    # sw 0   -> y=0
    (4, "the cat sat on top of mats today ok " + "x " * 7),  # 1/17=58pm gap -> -1
    (5, ""),                                     # empty -> -1
    (6, "a"),                                    # sw 1/1 -> y=1
]


def _bucket(w: str, buckets: int = DEFAULT_BUCKETS) -> int:
    return int(hashlib.md5(w.encode()).hexdigest()[:12], 16) % buckets


def _featurize(docs, buckets=DEFAULT_BUCKETS):
    """(sorted sparse counts, n_tokens, y) per doc — the numpy twin's
    feature builder, independent of the Spark path."""
    out = []
    for doc_id, t in docs:
        toks = t.strip().lower().split() if t.strip() else []
        n = len(toks)
        sw = sum(1 for x in toks if x in STOPWORDS)
        if n == 0:
            y = -1
        elif 1000 * sw >= LABEL_HI_PM * n:
            y = 1
        elif 1000 * sw <= LABEL_LO_PM * n:
            y = 0
        else:
            y = -1
        cnt: dict[int, int] = {}
        for w in toks:
            cnt[_bucket(w, buckets)] = cnt.get(_bucket(w, buckets), 0) + 1
        out.append((doc_id, sorted(cnt.items()), n, y))
    return out


def _twin_train(feats, buckets=DEFAULT_BUCKETS, iters=DEFAULT_ITERS, lr=DEFAULT_LR):
    """Pure-Python replica of the quantized full-batch GD: per-doc float
    margins folded in ascending-bucket order, gradient contributions
    quantized to int64, summed exactly, driver-side float update."""
    w = np.zeros(buckets + 1, dtype=np.float64)
    labeled = [(fc, n, y) for _, fc, n, y in feats if y >= 0]
    if not labeled:
        return w
    for _ in range(iters):
        acc = np.zeros(buckets + 1, dtype=np.int64)
        for fc, n, y in labeled:
            z = 0.0
            for b, c in fc:  # ascending-bucket order == Spark bincount order
                z += w[b] * (c / n * X_SCALE)
            z += w[-1]
            p = 1.0 / (1.0 + math.exp(-min(max(z, -30.0), 30.0)))
            err = p - y
            for b, c in fc:
                acc[b] += np.int64(np.rint(err * (c / n * X_SCALE) * GRAD_SCALE))
            acc[-1] += np.int64(np.rint(err * GRAD_SCALE))
        w = w - lr * acc.astype(np.float64) / (GRAD_SCALE * float(len(labeled)))
    return w


def _twin_score(feats, w):
    out = {}
    for doc_id, fc, n, y in feats:
        z = 0.0
        for b, c in fc:
            z += w[b] * (c / n * X_SCALE)
        z += w[-1]
        out[doc_id] = (y, int(np.rint(z * MARGIN_SCALE)), int(z > 0.0))
    return out


@pytest.fixture(scope="module")
def toy_packed(spark):
    docs = spark.createDataFrame(_DOCS, ["doc_id", "text"])
    packed = packed_features(docs, stopword_weak_label()).persist()
    packed.count()
    return packed


@pytest.fixture(scope="module")
def toy_weights(toy_packed):
    # one Spark training run (24 sequential jobs) shared by the toy tests
    return train_logreg(toy_packed)


def test_weights_bit_match_numpy_twin(toy_weights):
    w_spark = toy_weights
    w_twin = _twin_train(_featurize(_DOCS))
    assert w_spark.shape == w_twin.shape
    assert (w_spark == w_twin).all()  # exact float64 equality, all iters deep


def test_scores_bit_match_numpy_twin(toy_packed, toy_weights):
    w = toy_weights
    got = {
        r["doc_id"]: (r["label"], r["margin_fp"], r["pred"])
        for r in score_logreg(toy_packed, w).collect()
    }
    exp = _twin_score(_featurize(_DOCS), _twin_train(_featurize(_DOCS)))
    assert got == exp


def test_weak_labels_and_empty_doc_semantics(toy_packed, toy_weights):
    rows = {r["doc_id"]: r for r in toy_packed.collect()}
    assert [rows[i]["y"] for i in range(7)] == [1, 1, 0, 0, -1, -1, 1]
    assert rows[5]["fb"] == [] and rows[5]["n_tokens"] == 0
    # Empty doc scores exactly the bias term.
    w = toy_weights
    scored = {r["doc_id"]: r for r in score_logreg(toy_packed, w).collect()}
    assert scored[5]["margin_fp"] == int(np.rint(w[-1] * MARGIN_SCALE))


def test_planted_two_vocab_separation(spark):
    # Classic fastText use case: two disjoint vocabularies; the stopword
    # label marks exactly the 'a the'-heavy class. 100% train accuracy.
    pos = [(i, "a the a the " + f"w{i % 3} w{i % 5}") for i in range(0, 40, 2)]
    neg = [(i, f"k{i % 4} k{i % 7} vector merge scan sort") for i in range(1, 40, 2)]
    docs = spark.createDataFrame(pos + neg, ["doc_id", "text"])
    out = classify_quality(docs).collect()
    assert all(r["label"] in (0, 1) for r in out)  # every doc confidently labeled
    assert all(r["pred"] == r["label"] for r in out)


def test_real_documents_labeled_accuracy(spark, sf_tiny):
    docs = load_table(spark, sf_tiny, "documents")
    out = classify_quality(docs).filter("label >= 0").collect()
    assert len(out) > 100
    acc = sum(1 for r in out if r["pred"] == r["label"]) / len(out)
    assert acc >= 0.95  # observed 1.0 at every committed scale


def test_training_invariant_under_partitioning(spark, sf_tiny):
    docs = load_table(spark, sf_tiny, "documents")
    w1 = train_logreg(
        packed_features(docs.coalesce(1), stopword_weak_label())
    )
    w7 = train_logreg(
        packed_features(docs.repartition(7), stopword_weak_label())
    )
    assert (w1 == w7).all()  # bit-exact: int gradient sums are order-free


def test_hashed_counts_match_duckdb_md5_twin(spark):
    import duckdb

    docs_py = [(i, t) for i, t in _DOCS if t.strip()]
    docs = spark.createDataFrame(docs_py, ["doc_id", "text"])
    got = sorted(
        (r["doc_id"], r["bucket"], r["cnt"])
        for r in hashed_counts(docs).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", docs_py)
    exp = sorted(
        (int(a), int(b), int(c))
        for a, b, c in con.execute(
            f"""
            SELECT doc_id,
                   CAST(('0x' || substr(md5(tok), 1, 12))::UBIGINT
                        % {DEFAULT_BUCKETS} AS INT) AS bucket,
                   COUNT(*) AS cnt
            FROM (SELECT doc_id, unnest(regexp_split_to_array(
                         trim(lower(text)), '\\s+')) AS tok FROM d)
            GROUP BY 1, 2
            """
        ).fetchall()
    )
    assert got == exp


def test_gradient_quantization_bounds():
    # |err·x_b·X_SCALE| <= X_SCALE, so every per-doc contribution fits in
    # ±X_SCALE·GRAD_SCALE. Two overflow layers, both must hold:
    # 1) the per-Arrow-batch int64 accumulator (default batches are 10k
    #    rows; allow 1000x headroom for configured batch sizes);
    per_doc_max = X_SCALE * GRAD_SCALE
    assert 10_000 * 1_000 * per_doc_max < 2**63
    # 2) the global DECIMAL(38,0) sum across 10^12 documents.
    assert 1e12 * per_doc_max < 1e38
