"""BM25 lexical retrieval over the document corpus.

The retrieval half of benchmark decontamination: n-gram overlap
(text_decontaminate / contamination spans) answers "does this doc quote
the eval set", BM25 answers "which docs are topically CLOSEST to a
probe query" — the standard first-stage retriever training-data
pipelines use to pull candidate contaminants / near-neighbors before an
expensive exact pass (Robertson & Zaragoza 2009, "The Probabilistic
Relevance Framework: BM25 and Beyond").

Shape at 10^12 docs — everything is Column expressions, no Python:

1. POSTINGS: lowercase whitespace tokens -> explode -> probe the
   broadcast query-term set map-side -> groupBy (term, doc_id) count.
   The one corpus-wide shuffle carries only query-term occurrences;
   map-side partial aggregation absorbs in-document repetition before
   the exchange.
2. DF: COUNT(*) over a window partitioned by term on those postings —
   a query-term-sized exchange, no second corpus pass and no join back.
   ``max_df_frac`` drops terms present in more than that fraction of the
   corpus before scoring — stopword-grade terms are both the skew hazard
   (one term -> 10^11 postings) and near-zero idf, so the cap bounds
   the fan-out without moving any ranking that matters.
3. CANDIDATES: the query term list is tiny (queries x terms rows) ->
   broadcast join against postings. No shuffle of the corpus side.
4. SCORE: per-(query, doc) contributions folded in SORTED TERM ORDER
   (array_sort -> aggregate), so the double-precision score is
   bit-stable under any partitioning/retry — groupBy-sum would make
   ranks flap by 1 ulp across runs.
5. TOP-K: row_number window per query, ties broken by doc_id.

Correctness split (ln() is NOT bit-portable: JVM Math.log and DuckDB's
libm disagree by 1 ulp on ~3% of arguments — measured on this box):
the exact-integer match surface (tf/df/dl sums per query-doc pair) is
the hash-exact DuckDB gate (`text_bm25_matches`); the float score and
ranking are pytest-oracled bit-for-bit against a numpy refold that
consumes the JVM's own ln values (tests/test_bm25.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

__all__ = [
    "doc_tokens",
    "query_postings",
    "probe_queries",
    "bm25_match_stats",
    "bm25_topk",
]


def tokens_expr(col: Column) -> Column:
    """Lowercased whitespace tokens, empties dropped — the shared
    tokenizer dialect (DuckDB twin: list_filter(regexp_split_to_array(
    lower(trim(text)), '\\s+'), x -> length(x) > 0))."""
    return F.filter(
        F.split(F.lower(F.trim(col)), r"\s+"), lambda x: F.length(x) > 0
    )


def doc_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """-> (doc_id, w: array<string>, dl: int) — token array + doc length."""
    return docs.select(
        "doc_id",
        tokens_expr(F.col(text_col)).alias("w"),
    ).withColumn("dl", F.size("w").cast("long"))


def query_postings(
    docs: DataFrame, queries: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(term, doc_id, tf, dl, df) for the query terms only. The token
    stream probes the broadcast query-term set BEFORE the (term, doc_id)
    aggregation, so the corpus-wide shuffle carries only query-term
    occurrences; dropping other terms cannot change a term's own
    tf/dl/df. The doc length rides along as min(dl) — it is functionally
    dependent on doc_id — and df, the term's document count, is a window
    count over the (one row per (term, doc)) result."""
    qterms = queries.select("term").distinct()
    toks = doc_tokens(docs, text_col)
    return (
        toks.select("doc_id", "dl", F.explode("w").alias("term"))
        .join(F.broadcast(qterms), "term")
        .groupBy("term", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.min("dl").cast("long").alias("dl"),
        )
        .withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term")).cast("long")
        )
    )


def probe_queries(
    docs: DataFrame, n_queries: int = 8, n_terms: int = 6, text_col: str = "text"
) -> DataFrame:
    """Deterministic probe set: the first ``n_terms`` tokens of the
    ``n_queries`` lowest-id documents, distinct per query — the same
    self-probe convention the ANN slots use (vec_id < 10 queries)."""
    toks = doc_tokens(docs, text_col).filter(F.col("doc_id") < n_queries)
    return (
        toks.select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("w", 1, n_terms)).alias("term"),
        )
        .distinct()
    )


def bm25_match_stats(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    max_df_frac: float | None = None,
) -> DataFrame:
    """Exact-integer match surface per (query_id, doc_id): distinct
    matched terms, tf/df sums over them, and the doc length. This is
    the hash-exact driver gate (every value a BIGINT); the float score
    in bm25_topk is a deterministic scalar function of these plus N and
    avgdl. ``max_df_frac`` (0..1] prunes terms with df > frac * N —
    the hot-term skew cap for corpus scale."""
    posts = query_postings(docs, queries, text_col)
    if max_df_frac is not None:
        n_docs = docs.count()
        posts = posts.filter(F.col("df") <= F.lit(float(max_df_frac)) * n_docs)
    matched = posts.join(F.broadcast(queries), "term")
    return matched.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_match_terms"),
        F.sum("tf").cast("long").alias("sum_tf"),
        F.sum("df").cast("long").alias("sum_df"),
        F.min("dl").cast("long").alias("dl"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    max_df_frac: float | None = None,
) -> DataFrame:
    """BM25 top-k per query: (query_id, doc_id, rank, score).

    score = sum over matched terms of
        ln(1 + (N - df + 0.5) / (df + 0.5))
        * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * (dl / avgdl)))

    folded in sorted term order so the double is bit-stable under any
    partitioning. N and sum(dl) are one 1-row aggregate (the only
    driver-side collect); avgdl = sum_dl / N in exact-integer inputs."""
    posts = query_postings(docs, queries, text_col)

    stats = doc_tokens(docs, text_col).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    n_docs = int(stats["n_docs"])
    avgdl = float(stats["sum_dl"]) / float(n_docs)

    if max_df_frac is not None:
        posts = posts.filter(F.col("df") <= F.lit(float(max_df_frac)) * n_docs)

    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    norm = tf_d + F.lit(float(k1)) * (
        F.lit(1.0 - float(b)) + F.lit(float(b)) * (dl_d / F.lit(avgdl))
    )
    contrib = (idf * ((tf_d * F.lit(float(k1) + 1.0)) / norm)).alias("contrib")

    matched = (
        posts.join(F.broadcast(queries), "term")
        .select("query_id", "doc_id", "term", contrib)
    )
    scored = matched.groupBy("query_id", "doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", F.col("rank").cast("int").alias("rank"), "score")
    )
