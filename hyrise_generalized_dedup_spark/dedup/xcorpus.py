"""Cross-corpus fuzzy decontamination: doc-level MinHash-LSH between a
training corpus and an evaluation corpus, verified by EXACT shingle-set
Jaccard.

This fills the gap between the repo's exact decontamination modes
(verbatim n-gram containment in functions/queries.py, Bloom-approximate
in functions/bloom.py, contiguous-span in the GPT-3 appendix-C rule) and
full within-corpus near-dup clustering (dedup/pipeline.py): eval docs
that were paraphrased, reformatted, or lightly edited into the training
set share no long verbatim gram run but still have high shingle-set
Jaccard. Doc-level fuzzy matching against the eval set is the standard
release step for that case (used alongside exact overlap in The Stack /
StarCoder-style code releases; same MinHash machinery as the reference's
near-dup clustering config, reference README.md:52-61 context).

Scale shape (the part that matters at 10^12 train files):

- The TRAIN side never shuffles. Signatures are a map-only
  ``mapInPandas`` pass (dedup/minhash.py), the eval band index is
  BROADCAST (eval sets are 10^3-10^6 docs vs 10^12 train docs — the one
  asymmetry this operator is allowed to assume), so candidate discovery
  is a map-side hash join against the train band scan.
- The only shuffle in the whole operator is the ``distinct()`` over
  candidate PAIRS (a pair can collide in several bands) — bounded by
  band collisions, not by corpus size.
- Exact verification re-reads train content map-side: candidates and
  eval texts are both broadcast, so the verify join is again shuffle-free
  over the train scan; the Arrow kernel caches the train shingle set per
  batch so a train doc colliding with many eval docs hashes its content
  once per batch, not once per pair. When candidates outgrow the
  broadcast budget, both joins degrade to shuffled hash joins sized by
  the candidate count (the same size-gated fallback pattern as
  dedup/lsh.py's verified_edges).
- The reported surface is integer-exact: distinct-shingle intersection
  and union counts plus a per-mille Jaccard via integer division, so the
  driver gate hashes exactly against a DuckDB brute-force twin (no float
  formatting hazards), and the threshold filter is the integer
  cross-multiplication ``1000*inter >= pm*union``.

Determinism: signatures and band keys are seeded by GDConfig
(dedup/minhash.py), candidate discovery is set-equality on band hashes,
and verification is exact arithmetic — the output is bit-identical under
any partitioning (probed in tests/test_xcorpus.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..config import GDConfig
from ..session import barrier
from .minhash import shingle_hashes, signatures
from .lsh import band_table

# Candidate-pair count above which the verify joins switch from broadcast
# to shuffled hash joins. 2M pairs x ~24 B/row keeps the broadcast well
# under Spark's 8 GB hard cap with margin for the eval-text broadcast.
_BROADCAST_PAIR_CAP = 2_000_000


def fuzzy_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    cfg: GDConfig,
    *,
    train_key: str = "doc_key",
    eval_key: str = "eval_key",
    text_col: str = "content",
    threshold_pm: int | None = None,
) -> DataFrame:
    """(train_key, eval_key, inter_shingles, union_shingles, jaccard_pm)
    for every train/eval doc pair whose EXACT distinct-shingle Jaccard is
    >= threshold_pm/1000, discovered via LSH band collisions and verified
    exactly.

    ``threshold_pm`` defaults to ``round(cfg.jaccard_threshold * 1000)``.
    Detection is subject to LSH recall at the configured band/row split
    (for the default 32x4 at J=0.85 the per-pair miss probability is
    ~5e-11, and deterministic — a given corpus either hits a band or not,
    identically on every run).
    """
    if threshold_pm is None:
        threshold_pm = int(round(cfg.jaccard_threshold * 1000))
    if train_key == eval_key:
        raise ValueError("train_key and eval_key must differ (pair columns)")

    # simhash is never consumed on the cross-corpus path — skip its pass
    sig_t = signatures(train, cfg, text_col=text_col, key_col=train_key, with_simhash=False)
    sig_e = signatures(eval_df, cfg, text_col=text_col, key_col=eval_key, with_simhash=False)

    bands_t = band_table(sig_t, key_col=train_key)
    bands_e = band_table(sig_e, key_col=eval_key)

    # Eval band index rides to every task; the train side stays map-only.
    cands = (
        bands_t.join(F.broadcast(bands_e), ["band_id", "band_hash"])
        .select(train_key, eval_key)
        .distinct()
    )
    # The count gates the join mode; without the barrier the signature
    # passes (the expensive mapInPandas stages) run twice — once for the
    # count and again when the returned frame is evaluated.
    cands = barrier(cands, "gd_xcorpus_cands")
    n_cands = cands.count()  # parquet footer count — no recompute
    small = n_cands <= _BROADCAST_PAIR_CAP
    maybe_bcast = F.broadcast if small else (lambda df: df)

    eval_texts = eval_df.select(
        F.col(eval_key), F.col(text_col).alias("__eval_text")
    )
    verify_in = (
        train.select(train_key, text_col)
        .join(maybe_bcast(cands), train_key)
        .join(maybe_bcast(eval_texts), eval_key)
    )

    key_t_type = train.schema[train_key].dataType
    key_e_type = eval_df.schema[eval_key].dataType
    out_schema = StructType(
        [
            StructField(train_key, key_t_type, False),
            StructField(eval_key, key_e_type, False),
            StructField("inter_shingles", LongType(), False),
            StructField("union_shingles", LongType(), False),
            StructField("jaccard_pm", LongType(), False),
        ]
    )
    k = cfg.shingle_k
    pm = threshold_pm

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cache: dict[object, frozenset] = {}  # train shingles, per batch
            rows = {c: [] for c in out_schema.fieldNames()}
            for tk, ttext, ek, etext in zip(
                pdf[train_key], pdf[text_col], pdf[eval_key], pdf["__eval_text"]
            ):
                ts = cache.get(tk)
                if ts is None:
                    ts = frozenset(shingle_hashes((ttext or "").encode("utf-8"), k).tolist())
                    cache[tk] = ts
                es = frozenset(shingle_hashes((etext or "").encode("utf-8"), k).tolist())
                inter = len(ts & es)
                union = len(ts | es)
                if union == 0 or 1000 * inter < pm * union:
                    continue
                rows[train_key].append(tk)
                rows[eval_key].append(ek)
                rows["inter_shingles"].append(inter)
                rows["union_shingles"].append(union)
                rows["jaccard_pm"].append((1000 * inter) // union)
            yield pd.DataFrame(rows)

    return verify_in.mapInPandas(verify, out_schema)


def contamination_flags(
    pairs: DataFrame,
    *,
    train_key: str = "doc_key",
) -> DataFrame:
    """Per-train-doc rollup of ``fuzzy_pairs`` output:
    (train_key, n_eval_matches, max_jaccard_pm). One partial-aggregating
    groupBy over the (small) verified pair set; join it back to the corpus
    to drop or tag contaminated docs."""
    return pairs.groupBy(train_key).agg(
        F.count("*").alias("n_eval_matches"),
        F.max("jaccard_pm").alias("max_jaccard_pm"),
    )


def decontaminate_source(
    source: DataFrame,
    eval_df: DataFrame,
    cfg: GDConfig,
    *,
    text_col: str = "content",
    threshold_pm: int = 800,
) -> tuple[DataFrame, dict]:
    """Pipeline pre-filter: drop every source doc whose fuzzy Jaccard
    against ANY eval doc is >= threshold_pm/1000 (the Stack/StarCoder
    release order — decontaminate before spending compute on the corpus).

    Both frames carry the north-rule lineage columns (repo, path, commit);
    the join key is their concatenation, so the filter is an anti-join on
    the (small, broadcast) contaminated key set and the source scan stays
    map-side. Returns (filtered_source, summary_dict)."""
    lineage = ("repo", "path", "commit")
    keyed = source.withColumn("__train_key", F.concat_ws("|", *lineage))
    ev = eval_df.select(
        F.concat_ws("|", *lineage).alias("__eval_key"),
        F.col(text_col),
    )
    n_eval = ev.count()
    pairs = fuzzy_pairs(
        keyed, ev, cfg,
        train_key="__train_key", eval_key="__eval_key",
        text_col=text_col, threshold_pm=threshold_pm,
    )
    dirty = contamination_flags(pairs, train_key="__train_key")
    n_dirty = dirty.count()
    filtered = keyed.join(
        F.broadcast(dirty.select("__train_key")), "__train_key", "left_anti"
    ).drop("__train_key")
    summary = {
        "n_eval_docs": n_eval,
        "threshold_pm": threshold_pm,
        "n_contaminated_dropped": n_dirty,
    }
    return filtered, summary
