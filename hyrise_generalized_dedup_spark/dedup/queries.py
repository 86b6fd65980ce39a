"""Driver-gate queries for the dedup stack over the `documents` table.

The SQL-expressible subset (prefix-mode GD, exact dedup) gets a DuckDB
oracle that recomputes the transform in pure ANSI SQL — so the whole
distributed mapInPandas path is value-checked end to end. The
approximate stages (MinHash/LSH, SimHash) are not SQL-expressible; they
get rows-only driver checks here and brute-force oracles in pytest
(tests/test_minhash.py, tests/test_pipeline.py).

NOTE on the oracle encoding: documents.text is pure ASCII in the driver
corpus (verified: octet_length == length at every sf), so DuckDB VARCHAR
substring == byte slicing and sha256(VARCHAR) == sha256 of the UTF-8
bytes. The byte-exact invariant for arbitrary unicode is covered by the
pytest round-trip suite instead (DuckDB 1.0 has no BLOB substring).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..config import GDConfig
from ..goldens import golden_oracle
from ..session import barrier
from ..sources.tables import load_table
from .gd import dedup_stats, gd_segments

# prefix-mode config used for the SQL-checkable gate queries
GATE_CFG = GDConfig(gd_mode="prefix", chunk_size=64, dev_bytes=8)
# lowbits-mode canonical config (FIXTURES.md golden config)
CANON_CFG = GDConfig()

DEDUP_QUERIES = {}
DEDUP_ORACLES = {}


def _register(name: str, oracle: str | None):
    def deco(fn):
        DEDUP_QUERIES[name] = fn
        if oracle is not None:
            DEDUP_ORACLES[name] = oracle
        return fn

    return deco


def _doc_segments(spark: SparkSession, sf_dir: str, cfg: GDConfig) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return gd_segments(docs, cfg, content_col="text", key_cols=("doc_id",))


_SEG_ORACLE_CTE = """
WITH seg AS (
  SELECT doc_id,
         unnest(range(CAST(ceil(length(text) / 64.0) AS BIGINT))) AS seg_idx,
         text
  FROM documents
), parts AS (
  SELECT doc_id, seg_idx,
         substring(text, CAST(seg_idx * 64 + 1 AS BIGINT), 64) AS seg,
         substring(text, CAST(seg_idx * 64 + 1 AS BIGINT), 56) AS base
  FROM seg
)
"""


@_register(
    "gd_segments",
    _SEG_ORACLE_CTE
    + """
    SELECT doc_id, seg_idx,
           substring(sha256(base), 1, 32) AS base_fp,
           CAST(length(seg) AS BIGINT) AS seg_len,
           CAST(length(seg) - length(base) AS BIGINT) AS dev_len
    FROM parts
    """,
)
def gd_segments_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GD transform itself, segment granularity: every (doc, segment)
    with its base fingerprint and deviation length. DuckDB recomputes the
    chunking + prefix split + sha256 in SQL — a full-value check of the
    distributed transform."""
    segs = _doc_segments(spark, sf_dir, GATE_CFG)
    return segs.select(
        "doc_id",
        "seg_idx",
        F.lower(F.hex("base_fp")).alias("base_fp"),
        F.col("seg_len").cast("long").alias("seg_len"),
        F.length("deviation").cast("long").alias("dev_len"),
    )


@_register(
    "gd_dedup_ratio",
    _SEG_ORACLE_CTE
    + """
    SELECT COUNT(*) AS total_segments,
           COUNT(DISTINCT base) AS distinct_bases,
           CAST(SUM(length(seg)) AS BIGINT) AS total_bytes,
           CAST(SUM(length(seg) - length(base)) AS BIGINT) AS deviation_bytes,
           1.0 - COUNT(DISTINCT base) / CAST(COUNT(*) AS DOUBLE) AS dedup_ratio
    FROM parts
    """,
)
def gd_dedup_ratio_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup ratio — the flagship metric (reference analog: encoding
    compression accounting, AbstractSegment::memory_usage). distinct/total
    division of exact longs -> cross-engine-deterministic double."""
    segs = _doc_segments(spark, sf_dir, GATE_CFG)
    return dedup_stats(segs).select(
        "total_segments",
        "distinct_bases",
        "total_bytes",
        "deviation_bytes",
        (F.lit(1.0) - F.col("distinct_bases") / F.col("total_segments").cast("double")).alias(
            "dedup_ratio"
        ),
    )


@_register(
    "gd_base_table",
    _SEG_ORACLE_CTE
    + """
    SELECT substring(sha256(base), 1, 32) AS base_fp,
           COUNT(*) AS ref_count
    FROM parts GROUP BY 1
    """,
)
def gd_base_table_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated base table (dictionary analog): fingerprint +
    reference count. groupBy(base_fp) with map-side partial aggregation."""
    segs = _doc_segments(spark, sf_dir, GATE_CFG)
    return segs.groupBy(F.lower(F.hex("base_fp")).alias("base_fp")).agg(
        F.count(F.lit(1)).alias("ref_count")
    )


@_register(
    "dedup_exact",
    """
    SELECT content_sha, COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_doc
    FROM (SELECT doc_id, sha256(text) AS content_sha FROM documents)
    GROUP BY content_sha
    """,
)
def dedup_exact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate detection: hash-groupBy on full content — the
    simplest dedup tier (training-data pipeline staple). JVM-side sha2,
    no Python."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.sha2("text", 256).alias("content_sha"))
        .groupBy("content_sha")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("canonical_doc"))
    )


@_register(
    "dedup_paragraphs",
    """
    WITH paras AS (
      SELECT doc_id, sha256(p) AS para_sha FROM (
        SELECT doc_id,
               regexp_replace(unnest(regexp_split_to_array(text, '\\n{2,}')),
                              '^\\s+|\\s+$', '', 'g') AS p
        FROM documents) t
      WHERE length(p) > 0
    ), census AS (
      SELECT para_sha, COUNT(*) AS n_copies FROM paras GROUP BY para_sha
    ), per_doc AS (
      SELECT p.doc_id, COUNT(*) AS n_paras,
             SUM(CASE WHEN c.n_copies > 1 THEN 1 ELSE 0 END) AS n_dup
      FROM paras p JOIN census c USING (para_sha) GROUP BY p.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(pd.n_paras, 0) AS BIGINT) AS n_paras,
           CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup_paras,
           CASE WHEN coalesce(pd.n_paras, 0) = 0 THEN 0.0
                ELSE coalesce(pd.n_dup, 0) / CAST(pd.n_paras AS DOUBLE) END
             AS dup_para_ratio
    FROM documents d LEFT JOIN per_doc pd USING (doc_id)
    """,
)
def dedup_paragraphs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph-level dedup (the sub-document granularity
    used on web/code training corpora between exact-doc and fuzzy-doc
    tiers): split on blank lines, census trimmed paragraphs by sha
    across the WHOLE corpus, and report per doc how many of its
    paragraphs exist elsewhere. Only (doc_id, para_sha) crosses the
    shuffle — paragraph text never leaves the scan stage, so the
    shuffled bytes are ~40/paragraph at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    paras = (
        docs.select(
            "doc_id", F.explode(F.split("text", r"\n{2,}")).alias("para")
        )
        .select(
            "doc_id",
            F.regexp_replace("para", r"^\s+|\s+$", "").alias("para"),
        )
        .filter(F.length("para") > 0)
        .select("doc_id", F.sha2("para", 256).alias("para_sha"))
    )
    census = paras.groupBy("para_sha").agg(F.count(F.lit(1)).alias("n_copies"))
    per_doc = (
        paras.join(census, "para_sha")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0)).alias("n_dup"),
        )
    )
    n_paras = F.coalesce("n_paras", F.lit(0)).cast("long")
    n_dup = F.coalesce("n_dup", F.lit(0)).cast("long")
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            n_paras.alias("n_paras"),
            n_dup.alias("n_dup_paras"),
            F.when(n_paras == 0, F.lit(0.0))
            .otherwise(n_dup.cast("double") / n_paras)
            .alias("dup_para_ratio"),
        )
    )


@_register(
    "minhash_shingle_stats",
    """
    WITH pos AS (
      SELECT doc_id, text,
             unnest(range(CAST(greatest(length(text) - 8 + 1, 1) AS BIGINT))) AS i
      FROM documents
    )
    SELECT doc_id, COUNT(DISTINCT substring(text, CAST(i + 1 AS BIGINT), 8)) AS n_shingles
    FROM pos GROUP BY doc_id
    """,
)
def minhash_shingle_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct k-shingle count per document — the input cardinality of the
    MinHash stage, recomputed by DuckDB over raw substrings. Verifies the
    vectorized FNV shingling end to end (64-bit collisions are measure-zero
    at this scale). Docs shorter than k yield one sentinel shingle on both
    sides. r6: uses the census-only kernel — the minhash/simhash/band
    work the full signature pass also does was discarded here (identical
    n_shingles values, ~2/3 less per-doc work)."""
    from .minhash import shingle_counts

    docs = load_table(spark, sf_dir, "documents")
    return shingle_counts(docs, CANON_CFG, text_col="text", key_col="doc_id")


@_register(
    "neardup_cluster_sizes",
    # LSH/CC are not SQL-expressible; the oracle is a committed golden
    # parquet (deterministic under parallelism — probed by
    # scripts/probe_golden_determinism.py; seeded hashes, exact counts).
    # Brute-force cluster oracles stay gated in pytest (test_neardup.py).
    golden_oracle("neardup_cluster_sizes", ["cluster_size", "n_clusters"]),
)
def neardup_cluster_sizes_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline over documents: signatures -> LSH candidates
    -> verified edges -> connected components -> cluster-size histogram.
    (Histogram is non-empty even for an all-singleton corpus.) Verified
    against brute-force oracles in tests/test_neardup.py."""
    import pyspark.sql.functions as FF

    from .cluster import connected_components
    from .lsh import band_table, candidate_pairs, verified_edges
    from .minhash import signatures

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "doc_key", F.col("doc_id").cast("string")
    )
    # the gate consumes only the minhash/band columns (LSH + exact
    # verification; no simhash edges here) — skip the simhash pass
    sigs = signatures(docs, CANON_CFG, text_col="text", key_col="doc_key", with_simhash=False)
    # The band table, the verification sideboard and CC each consume the
    # signatures; without the barrier the signature stage (this gate's
    # dominant cost) re-executes once per consumer. A persist could not
    # be released in time: the driver collects the result after this
    # function returns (leak-free-session rule).
    sigs = barrier(sigs, "gd_gate_sigs")
    pairs = candidate_pairs(band_table(sigs), CANON_CFG)
    edges = verified_edges(pairs, sigs, CANON_CFG).filter(
        FF.col("jaccard_est") >= CANON_CFG.jaccard_threshold
    )
    # gate corpora are far below the pipeline's 5M-doc broadcast bound —
    # broadcast the label table so the latency-bound CC iteration chain
    # drops its per-iteration shuffle (same decision run_pipeline makes)
    cc = connected_components(
        edges, nodes=docs.select("doc_key"), broadcast_labels_max=5_000_000
    )
    return (
        cc.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


@_register(
    "suffix_shared_substrings",
    # Suffix-array pass is not SQL-expressible; committed-golden value
    # oracle (probed deterministic; edges are bit-identical across runs
    # and core counts — BENCH/evals JSONL). Exactness oracle (brute-force
    # LCS + hypothesis properties) stays in tests/test_suffix.py.
    golden_oracle(
        "suffix_shared_substrings",
        ["source", "n_edges", "min_shared", "max_shared"],
    ),
)
def suffix_shared_substrings_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-local suffix-array substring pass (the north rule's exact
    substring dedup stage) over near-dup clustered documents: edge counts
    and shared-length stats by source. Driver-visible evidence for the
    suffix stage (VERDICT r2 item 3); the exactness oracle (brute-force
    all-pairs longest-common-substring + hypothesis soundness/completeness
    properties) lives in tests/test_suffix.py. A lowered min_len (64 vs
    the canonical 256) keeps the gate non-vacuous on the short driver
    corpus without touching the pipeline's golden config."""
    from .cluster import connected_components
    from .lsh import band_table, candidate_pairs, verified_edges
    from .minhash import signatures
    from .suffix import suffix_edges

    cfg = GDConfig(suffix_min_len=64)
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "doc_key", F.col("doc_id").cast("string")
    )
    # LSH-only clustering feeds the suffix pass here — skip simhash
    sigs = signatures(docs, cfg, text_col="text", key_col="doc_key", with_simhash=False)
    pairs = candidate_pairs(band_table(sigs), cfg)
    edges = verified_edges(pairs, sigs, cfg).filter(
        F.col("jaccard_est") >= cfg.jaccard_threshold
    )
    cc = connected_components(edges, nodes=docs.select("doc_key"))
    clustered = docs.select("doc_key", F.col("text").alias("content")).join(
        cc, "doc_key"
    )
    sfx = suffix_edges(clustered, cfg)
    return sfx.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.min("shared_len").alias("min_shared"),
        F.max("shared_len").alias("max_shared"),
    )


@_register(
    "simhash_blocks_docs",
    # SimHash is not SQL-expressible; committed-golden value oracle
    # (probed deterministic). Hamming-distance semantics stay brute-force
    # oracled in pytest (tests/test_minhash.py simhash cases).
    golden_oracle("simhash_blocks_docs", ["band_id", "n_buckets", "max_bucket"]),
)
def simhash_blocks_docs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 16-bit block table over documents (the hamming-block join
    keys): per-band bucket-size distribution — the skew census the salting
    logic consumes."""
    from .minhash import signatures
    from .simhash import simhash_block_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "doc_key", F.col("doc_id").cast("string")
    )
    sigs = signatures(docs, CANON_CFG, text_col="text", key_col="doc_key")
    blocks = simhash_block_table(sigs, CANON_CFG)
    return (
        blocks.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("bucket_n").alias("max_bucket"),
        )
    )


@_register(
    "gd_roundtrip_check",
    _SEG_ORACLE_CTE
    + """
    SELECT COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE ok) AS n_roundtrip_ok
    FROM (
      SELECT p.doc_id,
             string_agg(p.base || substring(p.seg, length(p.base) + 1),
                        '' ORDER BY p.seg_idx) = MIN(d.text) AS ok
      FROM parts p JOIN documents d ON p.doc_id = d.doc_id
      GROUP BY p.doc_id
    )
    """,
)
def gd_roundtrip_check_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip invariant as a query: reassemble base+deviation per doc
    and compare with the original content hash (BASELINE.json per-row
    invariant). Spark side verifies sha256(concat(segments)) == content_sha
    computed at encode time."""
    segs = _doc_segments(spark, sf_dir, GATE_CFG)
    reassembled = (
        segs.withColumn("seg", F.concat(F.col("base"), F.col("deviation")))
        .groupBy("doc_id")
        .agg(
            F.sha2(
                F.concat_ws(
                    "", F.transform(F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))), lambda s: s["seg"].cast("string"))
                ),
                256,
            ).alias("rt_sha"),
            F.lower(F.hex(F.first("content_sha"))).alias("orig_sha"),
        )
    )
    return reassembled.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("rt_sha") == F.col("orig_sha"), 1).otherwise(0)).alias(
            "n_roundtrip_ok"
        ),
    )


@_register("cdc_chunk_census", None)  # gear-hash boundaries are not
# SQL-expressible in DuckDB -> rows-only driver check; the kernel is
# bit-oracled against a byte-at-a-time reference + hypothesis round-trip
# properties in tests/test_cdc.py
def cdc_chunk_census_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup census over `documents`: what a
    content-addressed segment store saves under shift-resilient CDC
    boundaries (dedup/cdc.py) instead of fixed-size chunks."""
    from .cdc import cdc_chunk_census

    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunk_census(docs, text_col="text")


from .spans import span_stats_oracle_sql  # noqa: E402


@_register("text_dup_spans", span_stats_oracle_sql())
def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplicated-span census (dedup/spans.py, Lee et al.
    2021): per doc, corpus-wide duplicated L-char windows merged into
    maximal spans. The rewrite twin (remove_duplicated_spans) shares the
    island logic and is brute-force-oracled in tests/test_spans.py."""
    from .spans import duplicated_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return duplicated_span_stats(docs)


_FUZZY_DECON_ORACLE = """
WITH sh AS (
  SELECT doc_id, substring(text, CAST(i + 1 AS BIGINT), 8) AS g
  FROM (
    SELECT doc_id, text,
           unnest(range(CAST(greatest(length(text) - 7, 1) AS BIGINT))) AS i
    FROM documents
  )
  GROUP BY doc_id, substring(text, CAST(i + 1 AS BIGINT), 8)
), sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT t.doc_id AS train_id, e.doc_id AS eval_id, CAST(COUNT(*) AS BIGINT) AS i
  FROM sh t JOIN sh e ON t.g = e.g
  WHERE t.doc_id % 20 <> 0 AND e.doc_id % 20 = 0
  GROUP BY 1, 2
)
SELECT inter.train_id, inter.eval_id,
       inter.i AS inter_shingles,
       st.n + se.n - inter.i AS union_shingles,
       CAST((1000 * inter.i) // (st.n + se.n - inter.i) AS BIGINT) AS jaccard_pm
FROM inter
JOIN sizes st ON st.doc_id = inter.train_id
JOIN sizes se ON se.doc_id = inter.eval_id
WHERE 1000 * inter.i >= 850 * (st.n + se.n - inter.i)
"""


@_register("text_fuzzy_decontaminate", _FUZZY_DECON_ORACLE)
def text_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level FUZZY decontamination (dedup/xcorpus.py): train docs
    (doc_id % 20 <> 0) whose exact distinct-shingle Jaccard against any
    eval doc (doc_id % 20 = 0) is >= 0.85, discovered via MinHash-LSH
    band collisions with the eval band index broadcast, then verified
    exactly. The DuckDB twin brute-forces all train x eval pairs over
    distinct character 8-grams — hash-exact because the surface is
    integer-only (counts + per-mille integer division) and the corpus is
    ASCII (byte shingles == char shingles, the minhash_shingle_stats
    precedent)."""
    from .xcorpus import fuzzy_pairs

    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 20 != 0).select(
        F.col("doc_id").alias("train_id"), "text"
    )
    ev = docs.where(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    return fuzzy_pairs(
        train, ev, CANON_CFG,
        train_key="train_id", eval_key="eval_id",
        text_col="text", threshold_pm=850,
    )


from .allpairs import all_pairs_oracle_sql as _allpairs_oracle  # noqa: E402


@_register("text_allpairs_jaccard", _allpairs_oracle(850))
def text_allpairs_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs token-Jaccard join (dedup/allpairs.py, Bayardo et
    al. 2007 prefix filtering) over `documents` — LIVE-oracled against a
    DuckDB brute-force twin that never saw the filter, so a hash-exact
    match proves zero missed pairs and zero invented pairs at this sf."""
    import os

    from .allpairs import all_pairs_jaccard

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return all_pairs_jaccard(docs, threshold_pm=850).orderBy("doc_a", "doc_b")
