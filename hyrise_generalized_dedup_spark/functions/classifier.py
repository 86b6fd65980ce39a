"""FastText-style hashed linear classifier with bit-deterministic
distributed training (fixed-point integer gradient aggregation).

Large-scale curation pipelines gate documents with a cheap trained
classifier (fastText bag-of-words, Joulin et al. 2016 — the GPT-3 /
LLaMA / Falcon quality-filter recipe). The reference repo has no trained
model anywhere; this module adds the capability class the build was still
missing: a *distributed iterative optimization* loop, re-expressed
Spark-first:

- **Features** are hashed lowercase unigram counts bucketed into a fixed
  modulus ``buckets`` via the repo's shared cross-engine md5 trick
  (``conv(substr(md5(w),1,12),16,10) % B`` — bit-equal in DuckDB),
  hashed JVM-side inside an array ``transform`` (no explode) and counted
  per document in one vectorized numpy ``mapInPandas`` pass — NO shuffle:
  text never leaves its input partition. The packed per-doc sorted
  sparse arrays are cached for the whole run. Each document is its
  L1-normalized bag: ``x_b = cnt_b / n_tokens`` (× a fixed unit scale).
- **Training** is full-batch gradient descent on mean logistic loss.
  Each iteration is ONE map-only pass over the cached features: every
  task accumulates a LOCAL dense ``int64`` gradient vector of the
  per-document contributions ``rint((p-y)·x_b·X_SCALE·SCALE)`` quantized
  to fixed point (per-task bound: rows·X_SCALE·SCALE « 2^63) and emits
  at most ``buckets+1`` rows; the driver folds the n_tasks·(buckets+1)
  collected rows with Python-int (arbitrary-precision, exact at any
  document count) addition and applies ``w -= lr · G / (SCALE·n_docs)``
  — no shuffle stage anywhere in the loop. Because integer addition is
  exact and order-free, the whole weight trajectory is **bit-identical
  under any partitioning, batch size, or core count** — probed by
  scripts/probe_golden_determinism.py like every golden-backed slot.
- **Scoring** is one more map-only pass with the final weights: margins
  are folded per document in ascending-bucket order (``np.unique``
  returns keys sorted), so the float dot product is a fixed summation
  order and the emitted fixed-point margin ``rint(z·10^6)`` is stable.

Scale story (100 TB lens): the operator contains ZERO exchanges — feature
packing is map-only (JVM hash + Arrow count kernel), and every training
iteration is an embarrassingly-parallel scan of the packed cache whose
only cross-node traffic is the collected gradient. The model (B+1 doubles,
~4 KiB at the default B=512) rides the task closure; the only per-
iteration driver traffic is the collected gradient — bounded by
n_tasks·(B+1) rows ≈ a few MB even at 1000 executors. At production
scale the packed features would be checkpointed parquet rather than a
memory cache; nothing else changes.

The float weights/margins cannot be recomputed by a SQL engine (iterative
training), so the driver slot value-checks against a committed golden
parquet (goldens.py pattern) while pytest holds the strong oracles: a
from-scratch numpy twin reproducing the whole trajectory bit-for-bit,
planted-separation accuracy, partitioning-invariance, and a DuckDB parity
check for the hashed feature census (tests/test_classifier.py).

Reference parity note: cites /root/reference/README.md:40-61 only as the
scope boundary — the reference ships no learned filter; this is one of
the training-data-pipeline additions the build carries as first-class.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .lm import _tokens

# Feature-hash modulus. 512 keeps the weight vector trivially
# broadcastable and makes planted hash collisions reachable in tests;
# the fastText paper uses 10M bigram buckets at web scale — the modulus
# is a config knob, nothing in the plan depends on its size.
DEFAULT_BUCKETS = 512

# Full-batch GD steps / learning rate / feature scale. Features are
# L1-normalized then multiplied by X_SCALE (a units change that speeds
# convergence on thin margins the way per-feature lr scaling would);
# 24 steps at lr 16 saturate the default stopword-density task at every
# committed test scale (tuned offline, see tests).
DEFAULT_ITERS = 24
DEFAULT_LR = 16.0
X_SCALE = 16.0

# Fixed-point scale for gradient quantization. |(p-y)·x_b·X_SCALE| <=
# X_SCALE, so each per-document contribution fits in ±X_SCALE·SCALE; the
# quantization error per step is <= lr/(2·SCALE) per weight — noise far
# below the logloss curvature at SCALE=2^20, and identical everywhere.
GRAD_SCALE = 1 << 20

# Weak-supervision thresholds (per-mille stopword density). Documents
# with >= LABEL_HI_PM ‰ stopword tokens train as positive, <= LABEL_LO_PM
# ‰ as negative; the gap between them (and every empty doc) is UNLABELED
# (y = -1): scored but never trained on. This is the wide-margin weak-
# label recipe real curation filters use (C4/Gopher threshold heuristics
# label the confident tails; the classifier generalizes to the middle).
LABEL_HI_PM = 80
LABEL_LO_PM = 45
STOPWORDS = ("a", "the")

# Fixed-point scale for the emitted margin column.
MARGIN_SCALE = 1_000_000

# Sigmoid argument clip (exp overflow guard; deterministic).
_Z_CLIP = 30.0

_GRAD_SCHEMA = "bucket INT, gq LONG"
_SCORE_SCHEMA = "doc_id LONG, label INT, margin_fp LONG, pred INT"


def hashed_counts(
    docs: DataFrame, text_col: str = "text", buckets: int = DEFAULT_BUCKETS
) -> DataFrame:
    """Per-document hashed unigram counts ``(doc_id, bucket, cnt)``.

    The hash is the shared md5-prefix trick, so a DuckDB oracle
    reproduces every bucket id bit-for-bit (parity-tested)."""
    g = F.explode(_tokens(F.col(text_col))).alias("g")
    h = F.conv(F.substring(F.md5(F.col("g")), 1, 12), 16, 10).cast("long")
    return (
        docs.select("doc_id", g)
        .select("doc_id", (h % F.lit(buckets)).cast("int").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").cast("int").alias("cnt"))
    )


def stopword_weak_label(text_col: str = "text") -> "F.Column":
    """Per-mille stopword-density weak label: 1 (confident positive),
    0 (confident negative), -1 (gap / empty — unlabeled). Exact integer
    math end to end, so a DuckDB twin reproduces it bit-for-bit."""
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return (
        F.when(n == 0, F.lit(-1))
        .when(sw * 1000 >= n * LABEL_HI_PM, F.lit(1))
        .when(sw * 1000 <= n * LABEL_LO_PM, F.lit(0))
        .otherwise(F.lit(-1))
    )


def packed_features(
    docs: DataFrame,
    label_col,
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """One row per document: ``(doc_id, y, fb, fcnt, n_tokens)`` where
    ``fb``/``fcnt`` are the bucket-ascending sparse feature arrays and
    ``y`` is 1 / 0 / -1 (unlabeled: scored, never trained on).
    Documents with no tokens keep a row (empty arrays) — they still
    score through the bias term.

    SHUFFLE-FREE: the JVM emits each document's token array (one split,
    shared with the label expression); the pack worker ``pd.factorize``s
    the flattened occurrences and md5-buckets only the UNIQUE tokens of
    each batch (vocabulary « occurrences — hashing cost is
    vocabulary-bounded, not corpus-bounded), then counts (row, bucket)
    pairs in one vectorized ``np.unique`` pass. The text never leaves
    its input partition, so the whole classifier (featurize, every
    training iteration, scoring) runs without a single exchange. Bucket
    ids are the shared md5 trick — bit-equal to the JVM/DuckDB
    expression (parity-tested)."""
    if buckets > 32767:
        # csr_blobs ships bucket ids as int16; a larger modulus would wrap
        # negative and silently index weights from the end of the vector
        # (ADVICE r5). Widen the wire type before raising this modulus.
        raise ValueError(
            f"buckets={buckets} exceeds the int16 wire format (max 32767)"
        )
    base = docs.select(
        "doc_id",
        label_col.cast("int").alias("y"),
        _tokens(F.col(text_col)).alias("toks"),
    )

    def pack(batches):
        import hashlib

        for pdf in batches:
            n = len(pdf)
            lens = pdf["toks"].map(len).to_numpy(np.int64)
            total = int(lens.sum())
            if total:
                toks = np.concatenate(
                    [np.asarray(a, dtype=object) for a in pdf["toks"]]
                )
                codes, uniq = pd.factorize(toks)
                ubuckets = np.fromiter(
                    (
                        int(hashlib.md5(u.encode()).hexdigest()[:12], 16)
                        % buckets
                        for u in uniq
                    ),
                    dtype=np.int64,
                    count=len(uniq),
                )
                flat = ubuckets[codes]
            else:
                flat = np.empty(0, np.int64)
            rows = np.repeat(np.arange(n, dtype=np.int64), lens)
            # One sort counts every (row, bucket) pair; np.unique returns
            # keys ascending, i.e. buckets ascending within each row —
            # exactly the fold order scoring/training rely on.
            uk, counts = np.unique(rows * buckets + flat, return_counts=True)
            urows, ub = uk // buckets, uk % buckets
            starts = np.searchsorted(urows, np.arange(n, dtype=np.int64))
            ends = np.searchsorted(urows, np.arange(1, n + 1, dtype=np.int64))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "y": pdf["y"],
                    "fb": [
                        ub[s:e].astype(np.int32) for s, e in zip(starts, ends)
                    ],
                    "fcnt": [
                        counts[s:e].astype(np.int32) for s, e in zip(starts, ends)
                    ],
                    "n_tokens": lens,
                }
            )

    return base.mapInPandas(
        pack,
        schema="doc_id LONG, y INT, fb ARRAY<INT>, fcnt ARRAY<INT>, n_tokens LONG",
    )


_BLOB_SCHEMA = "blob BINARY"


def csr_blobs(packed: DataFrame) -> DataFrame:
    """Re-encode the packed feature rows as pickled CSR bundles, ONE
    binary row per Arrow batch. Every training iteration then streams a
    handful of raw-byte rows per task instead of rebuilding millions of
    per-row list objects — the distributed-GD shard layout you would
    checkpoint at production scale. Pure re-encoding: the per-document
    arithmetic (and therefore every output bit) is unchanged."""

    def fn(batches):
        import pickle

        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            lens = pdf["fb"].map(len).to_numpy(np.int64)
            total = int(lens.sum())
            idx = (
                np.concatenate([np.asarray(a, np.int64) for a in pdf["fb"]])
                if total
                else np.empty(0, np.int64)
            )
            cnt = (
                np.concatenate([np.asarray(a, np.int64) for a in pdf["fcnt"]])
                if total
                else np.empty(0, np.int64)
            )
            # 6 bytes/feature on the wire (idx int16 + cnt int32) + a few
            # ints per doc; x and row ids are rebuilt in-worker from the
            # SAME integers, so every float is bit-identical to the row
            # path while per-iteration traffic drops ~2.3x.
            if total and int(idx.max()) > 32767:
                raise ValueError(
                    "bucket id exceeds the int16 wire format (max 32767); "
                    "packed_features guards this — widen idx before raising "
                    "the modulus"
                )
            bundle = {
                "lens": lens.astype(np.int32),
                "idx": idx.astype(np.int16),  # bucket modulus << 2^15
                "cnt": cnt.astype(np.int32),
                "ntok": pdf["n_tokens"].to_numpy(np.int32),
                "y": pdf["y"].to_numpy(np.int8),
                "doc_id": pdf["doc_id"].to_numpy(np.int64),
            }
            yield pd.DataFrame(
                {"blob": [pickle.dumps(bundle, protocol=pickle.HIGHEST_PROTOCOL)]}
            )

    return packed.mapInPandas(fn, schema=_BLOB_SCHEMA)


def _blob_bundles(batches):
    import pickle

    for pdf in batches:
        for b in pdf["blob"]:
            d = pickle.loads(b)
            lens = d["lens"].astype(np.int64)
            n = len(lens)
            row_ids = np.repeat(np.arange(n, dtype=np.int64), lens)
            ntok = d["ntok"].astype(np.float64)
            x = (
                d["cnt"].astype(np.float64)
                / np.repeat(np.where(ntok == 0.0, 1.0, ntok), lens)
                * X_SCALE
            )
            yield (
                n,
                row_ids,
                d["idx"].astype(np.int64),
                x,
                d["y"].astype(np.int64),
                d["doc_id"],
            )


def _as_blobs(df: DataFrame) -> DataFrame:
    """Accept either the packed row layout or an already-encoded blob
    frame (classify_quality persists the latter)."""
    return df if df.columns == ["blob"] else csr_blobs(df)


def _margins(w: np.ndarray, n: int, row_ids, idx, x) -> np.ndarray:
    """Per-row margin z = Σ w[b]·x_b (ascending-bucket order) + bias."""
    z = np.bincount(row_ids, weights=w[idx] * x, minlength=n)
    return z + w[-1]


def _sigmoid(z: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-np.clip(z, -_Z_CLIP, _Z_CLIP)))


def _grad_pass(w: np.ndarray, buckets: int):
    wloc = w.copy()  # freeze this iteration's weights into the closure

    def fn(batches):
        acc = np.zeros(buckets + 1, dtype=np.int64)
        for _n, row_ids, idx, x, y, _doc_id in _blob_bundles(batches):
            keep = y >= 0  # gradient uses labeled docs only
            if not keep.any():
                continue
            # Compact remap of labeled rows (order-preserving, so the
            # per-doc fold order is identical to scoring's).
            compact = np.cumsum(keep) - 1
            kfeat = keep[row_ids]
            r2 = compact[row_ids[kfeat]]
            idx2, x2 = idx[kfeat], x[kfeat]
            m = int(keep.sum())
            err = _sigmoid(_margins(wloc, m, r2, idx2, x2)) - y[keep]
            q = np.rint(err[r2] * x2 * GRAD_SCALE).astype(np.int64)
            np.add.at(acc, idx2, q)
            acc[-1] += int(np.rint(err * GRAD_SCALE).astype(np.int64).sum())
        nz = np.nonzero(acc)[0]
        yield pd.DataFrame({"bucket": nz.astype(np.int32), "gq": acc[nz]})

    return fn


def train_logreg(
    packed: DataFrame,
    buckets: int = DEFAULT_BUCKETS,
    iters: int = DEFAULT_ITERS,
    lr: float = DEFAULT_LR,
) -> np.ndarray:
    """Full-batch GD over the LABELED (y >= 0) packed features (row
    layout or csr_blobs layout); returns the ``buckets+1`` float64
    weight vector (bias last). Bit-deterministic under any partitioning
    (see module docstring)."""
    packed = _as_blobs(packed)
    n_docs = _count_labeled(packed)
    if n_docs == 0:
        return np.zeros(buckets + 1, dtype=np.float64)
    w = np.zeros(buckets + 1, dtype=np.float64)
    for _ in range(iters):
        # Each map task pre-aggregates its whole partition into one dense
        # int64 vector and emits <= buckets+1 rows, so the final exact sum
        # is a driver-side fold over n_tasks·(buckets+1) rows — no shuffle
        # stage per iteration. Python-int accumulation is arbitrary-
        # precision: exact at any document count.
        grad_rows = packed.mapInPandas(
            _grad_pass(w, buckets), schema=_GRAD_SCHEMA
        ).collect()
        acc = [0] * (buckets + 1)
        for r in grad_rows:
            acc[r["bucket"]] += r["gq"]
        w = w - lr * np.array(acc, dtype=np.float64) / (GRAD_SCALE * float(n_docs))
    return w


def _count_labeled(blobs: DataFrame) -> int:
    def fn(batches):
        c = 0
        for _n, _r, _i, _x, y, _d in _blob_bundles(batches):
            c += int((y >= 0).sum())
        yield pd.DataFrame({"c": [c]})

    rows = blobs.mapInPandas(fn, schema="c LONG").collect()
    return sum(r["c"] for r in rows)


def score_logreg(packed: DataFrame, w: np.ndarray) -> DataFrame:
    """Fixed-point margins + predictions under frozen weights ``w``:
    ``(doc_id, label, margin_fp, pred)`` with
    ``margin_fp = rint(z·10^6)`` and ``pred = (z > 0)``."""
    wloc = np.asarray(w, dtype=np.float64).copy()

    def fn(batches):
        for n, row_ids, idx, x, y, doc_id in _blob_bundles(batches):
            z = _margins(wloc, n, row_ids, idx, x)
            yield pd.DataFrame(
                {
                    "doc_id": doc_id,
                    "label": y.astype(np.int32),
                    "margin_fp": np.rint(z * MARGIN_SCALE).astype(np.int64),
                    "pred": (z > 0.0).astype(np.int32),
                }
            )

    return _as_blobs(packed).mapInPandas(fn, schema=_SCORE_SCHEMA)


def classify_quality(
    docs: DataFrame,
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    iters: int = DEFAULT_ITERS,
    lr: float = DEFAULT_LR,
) -> DataFrame:
    """Train-and-score the default quality classifier over a documents
    table: wide-margin stopword-density weak labels (see
    ``stopword_weak_label``), hashed-unigram logistic regression.
    Returns ``(doc_id, label, margin_fp, pred)`` for every input
    document — unlabeled docs (label = -1) are scored, not trained on."""
    # Spread the (small: one pickled bundle per Arrow batch) blob rows
    # across the cluster before caching: the corpus often scans as ONE
    # input partition (a few-MB parquet file), which would serialize every
    # training iteration and the scoring pass into single-task jobs. The
    # trained weights and scores are bit-identical under any partitioning
    # (module invariant, probed), so the repartition only changes wall
    # time — at sf1.0 it took the 24-iteration loop from serial to
    # cluster-parallel.
    spark = docs.sparkSession
    # Half the parallelism measured best at both bench scales (full
    # parallelism pays per-task dispatch on the 26 tiny sequential jobs;
    # fewer partitions serialize the grad compute).
    n_parts = max(2, spark.sparkContext.defaultParallelism // 2)
    blobs = (
        csr_blobs(
            packed_features(
                docs, stopword_weak_label(text_col), text_col=text_col,
                buckets=buckets,
            )
        )
        .repartition(n_parts)
        .persist()
    )
    w = train_logreg(blobs, buckets=buckets, iters=iters, lr=lr)
    # The returned plan still reads `blobs`; the cache stays pinned until
    # the caller's action runs (Spark releases it on context GC). Callers
    # training many models back-to-back should unpersist explicitly.
    return score_logreg(blobs, w)
