"""Driver-gate queries: text analysis + multimodal plumbing over `documents`."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table
from . import code as C
from . import text as T
from .fingerprint import fingerprint_table
from .pack import pack_shard_oracle_sql
from .multimodal import (
    decode_media_features,
    media_table_from_documents,
    media_table_with_codecs,
)

TEXT_QUERIES = {}
TEXT_ORACLES = {}


def _register(name: str, oracle: str | None):
    def deco(fn):
        TEXT_QUERIES[name] = fn
        if oracle is not None:
            TEXT_ORACLES[name] = oracle
        return fn

    return deco


@_register(
    "text_token_stats",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS INTEGER) AS n_tokens,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(list_filter(regexp_split_to_array(
                         regexp_replace(text, '([a-z])([A-Z])', '\\1 \\2', 'g'),
                         '[^A-Za-z0-9]+'), x -> length(x) > 0)) END AS INTEGER)
             AS n_subwords
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish subword token counting — JVM-side split/regex,
    zero Python. The subword oracle restates the camelCase lookahead as
    replace-then-split (DuckDB's RE2 has no lookarounds)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        T.token_count(F.col("text")).alias("n_tokens"),
        T.subword_count(F.col("text")).alias("n_subwords"),
    )


@_register(
    "text_quality",
    """
    SELECT doc_id,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
                     / CAST(length(text) AS DOUBLE) END AS alpha_ratio,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                     / CAST(length(text) AS DOUBLE) END AS digit_ratio,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE (length(text) - length(regexp_replace(text, '[ ]', '', 'g')))
                     / CAST(length(text) AS DOUBLE) END AS space_ratio
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring ratio features (ASCII classes -> identical regex
    semantics in Java regex and RE2; the composite quality_score and punct
    class are pytest-verified instead — \\p{Punct} syntax differs)."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.length("text")
    space = n - F.length(F.regexp_replace("text", "[ ]", ""))
    return docs.select(
        "doc_id",
        T.alpha_ratio(F.col("text")).alias("alpha_ratio"),
        T.digit_ratio(F.col("text")).alias("digit_ratio"),
        F.when(n == 0, F.lit(0.0)).otherwise(space.cast("double") / n).alias("space_ratio"),
    )


@_register(
    "text_repetition",
    """
    WITH base AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)),
                                        x -> regexp_replace(x, '^\\s+|\\s+$', '', 'g')),
                         x -> length(x) > 0) AS nb,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
      FROM documents
    ), lines AS (
      SELECT doc_id, nb, w, list_distinct(nb) AS dl, len(nb) AS n_lines FROM base
    ), grams AS (
      SELECT doc_id, nb, dl, n_lines,
             CASE WHEN len(w) < 2 THEN []::VARCHAR[]
                  ELSE list_transform(generate_series(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i + 1]) END AS bg
      FROM lines
    )
    SELECT doc_id,
           CAST(n_lines AS BIGINT) AS n_lines,
           CASE WHEN n_lines = 0 THEN 0.0
                ELSE 1.0 - len(dl) / CAST(n_lines AS DOUBLE) END AS dup_line_ratio,
           CAST(coalesce(list_max(list_transform(dl,
                  d -> len(list_filter(nb, x -> x = d)))), 0) AS INTEGER)
             AS top_line_count,
           CASE WHEN coalesce(list_sum(list_transform(dl,
                       d -> len(list_filter(nb, x -> x = d)) * length(d))), 0) = 0
                THEN 0.0
                ELSE list_sum(list_transform(dl,
                       d -> CASE WHEN len(list_filter(nb, x -> x = d)) > 1
                                 THEN len(list_filter(nb, x -> x = d)) * length(d)
                                 ELSE 0 END))
                     / CAST(list_sum(list_transform(dl,
                              d -> len(list_filter(nb, x -> x = d)) * length(d)))
                            AS DOUBLE) END AS dup_line_char_ratio,
           CASE WHEN len(bg) = 0 THEN 0.0
                ELSE 1.0 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE) END
             AS dup_bigram_ratio
    FROM grams
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals for corpus quality filtering
    (the duplicate-line / duplicate-n-gram family of filters used on
    web/code training corpora): duplicate-line fraction, char-weighted
    duplicate-line fraction, most-repeated-line count, duplicate word-
    bigram fraction. All pure array HOFs over the split document — per-
    doc map work inside the scan stage, no shuffle at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    nb = T.nonblank_lines(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(nb).cast("long").alias("n_lines"),
        T.dup_line_ratio(F.col("text")).alias("dup_line_ratio"),
        T.top_line_count(F.col("text")).alias("top_line_count"),
        T.dup_line_char_ratio(F.col("text")).alias("dup_line_char_ratio"),
        T.dup_bigram_ratio(F.col("text")).alias("dup_bigram_ratio"),
    )


@_register(
    "text_langid",
    """
    SELECT doc_id, lang AS lang_declared,
      CASE WHEN en_h = 0 AND de_h = 0 AND fr_h = 0 AND es_h = 0 THEN 'unk'
           WHEN en_h >= de_h AND en_h >= fr_h AND en_h >= es_h THEN 'en'
           WHEN de_h >= fr_h AND de_h >= es_h THEN 'de'
           WHEN fr_h >= es_h THEN 'fr'
           ELSE 'es' END AS lang_guess
    FROM (
      SELECT doc_id, lang,
        (CASE WHEN p LIKE '% the %' THEN 1 ELSE 0 END) + (CASE WHEN p LIKE '% and %' THEN 1 ELSE 0 END) + (CASE WHEN p LIKE '% of %' THEN 1 ELSE 0 END) AS en_h,
        (CASE WHEN p LIKE '% der %' THEN 1 ELSE 0 END) + (CASE WHEN p LIKE '% und %' THEN 1 ELSE 0 END) + (CASE WHEN p LIKE '% nicht %' THEN 1 ELSE 0 END) AS de_h,
        (CASE WHEN p LIKE '% le %' THEN 1 ELSE 0 END) + (CASE WHEN p LIKE '% et %' THEN 1 ELSE 0 END) + (CASE WHEN p LIKE '% les %' THEN 1 ELSE 0 END) AS fr_h,
        (CASE WHEN p LIKE '% el %' THEN 1 ELSE 0 END) + (CASE WHEN p LIKE '% que %' THEN 1 ELSE 0 END) + (CASE WHEN p LIKE '% los %' THEN 1 ELSE 0 END) AS es_h
      FROM (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents)
    )
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based language id (stopword markers, deterministic tie-break);
    the oracle restates the same CASE in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        T.lang_guess(F.col("text")).alias("lang_guess"),
    )


@_register(
    "text_ngram_stats",
    """
    SELECT doc_id, CAST(greatest(length(text) - 7, 0) AS BIGINT) AS n_grams
    FROM documents
    """,
)
def text_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash gram count from the fingerprint UDF vs arithmetic
    recomputation — verifies the winnowing input cardinality."""
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint_table(docs).select("doc_id", "n_grams")


@_register(
    "text_fingerprint",
    # Winnowed minima are not SQL-expressible, so the oracle is a COMMITTED
    # GOLDEN parquet regenerated by the seeded scripts/gen_goldens.py; the
    # kernel itself is verified against a brute-force sliding-window-min
    # oracle in pytest — the golden upgrades the driver slot from a
    # rows-only check to a value check (any kernel-output drift mismatches).
    """
    SELECT doc_id, fp_len, fp_head
    FROM read_parquet('/root/repo/resources/goldens/text_fingerprint.sf0_01.parquet')
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint table (doc_id, fp_len, fp_head) — pytest
    verifies the kernel against a brute-force sliding-window min oracle;
    the driver slot value-checks against a committed golden parquet."""
    docs = load_table(spark, sf_dir, "documents")
    fp = fingerprint_table(docs)
    return fp.select(
        "doc_id",
        F.size("fingerprint").alias("fp_len"),
        F.element_at("fingerprint", 1).alias("fp_head"),
    )


@_register(
    "text_quality_classifier",
    # Iterative quantized-GD training is not SQL-expressible, so the
    # oracle is a COMMITTED GOLDEN parquet (scripts/gen_goldens.py).
    # Soundness: training is bit-deterministic under any partitioning
    # (exact int64/DECIMAL gradient sums — probed by
    # scripts/probe_golden_determinism.py); the strong oracles (numpy
    # twin bit-parity, planted separation, accuracy >= 0.95 on the real
    # labeled slice) live in tests/test_classifier.py.
    """
    SELECT doc_id, label, margin_fp, pred
    FROM read_parquet('/root/repo/resources/goldens/text_quality_classifier.sf0_01.parquet')
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-style hashed logistic regression (functions/classifier.py,
    Joulin et al. 2016) trained in-Spark with fixed-point integer gradient
    aggregation: wide-margin stopword-density weak labels (the C4/Gopher
    threshold recipe) train the model; every document is scored. Output:
    (doc_id, label 1/0/-1, margin_fp = rint(z*1e6), pred)."""
    from .classifier import classify_quality

    docs = load_table(spark, sf_dir, "documents")
    return classify_quality(docs)


from .graph import pagerank_oracle_sql as _pagerank_oracle_sql  # noqa: E402


@_register("graph_pagerank_entities", _pagerank_oracle_sql())
def graph_pagerank_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PageRank (functions/graph.py) over the customer<->
    supplier interaction graph from lineitem JOIN orders: 8 iterations
    of an all-BIGINT recurrence (div/sums bit-identical across engines),
    so the iterative graph algorithm is ORACLE-BACKED — the DuckDB twin
    replays the trajectory as a generated CTE chain."""
    from .graph import pagerank_entities

    return pagerank_entities(
        spark, load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


@_register(
    "text_gopher_quality",
    """
    WITH base AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS w,
             list_filter(list_transform(string_split(text, chr(10)),
                                        x -> regexp_replace(x, '^\\s+|\\s+$', '', 'g')),
                         x -> length(x) > 0) AS nb
      FROM documents
    )
    SELECT doc_id,
      CASE WHEN len(w) = 0 THEN 0.0
           ELSE CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE) / len(w)
      END AS mean_word_len,
      CASE WHEN len(w) = 0 THEN 0.0
           ELSE CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(w)
      END AS alpha_word_ratio,
      CASE WHEN len(w) = 0 THEN 0.0
           ELSE CAST((length(text) - length(regexp_replace(text, '#', '', 'g')))
                     + (length(text) - length(replace(text, '...', ''))) / 3
                AS DOUBLE) / len(w)
      END AS symbol_word_ratio,
      CASE WHEN len(nb) = 0 THEN 0.0
           ELSE CAST(len(list_filter(nb, x -> x LIKE '- %' OR x LIKE '* %'
                                            OR x LIKE '•%')) AS DOUBLE) / len(nb)
      END AS bullet_line_ratio,
      CASE WHEN len(nb) = 0 THEN 0.0
           ELSE CAST(len(list_filter(nb, x -> x LIKE '%...')) AS DOUBLE) / len(nb)
      END AS ellipsis_line_ratio
    FROM base
    """,
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality signals (Rae et al. 2021, the standard web/
    code corpus filter set): mean word length, alphabetic-word fraction,
    symbol-to-word ratio (# and ellipses), bullet-line and
    ellipsis-line fractions. All pure array HOFs — per-doc map work
    inside the scan stage, no shuffle at any scale; each ratio is one
    IEEE division of exact integers, so the DuckDB oracle is bit-exact."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.mean_word_length(F.col("text")).alias("mean_word_len"),
        T.alpha_word_ratio(F.col("text")).alias("alpha_word_ratio"),
        T.symbol_word_ratio(F.col("text")).alias("symbol_word_ratio"),
        T.bullet_line_ratio(F.col("text")).alias("bullet_line_ratio"),
        T.ellipsis_line_ratio(F.col("text")).alias("ellipsis_line_ratio"),
    )


@_register(
    "text_decontaminate",
    """
    WITH base AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
      FROM documents
    ), grams AS (
      SELECT doc_id, doc_id % 20 = 0 AS is_eval,
             CASE WHEN len(w) < 5 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(generate_series(1, len(w) - 4),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                              || w[i+3] || ' ' || w[i+4])) END AS g
      FROM base
    ), ev AS (
      SELECT DISTINCT unnest(g) AS gram FROM grams WHERE is_eval
    ), tg AS (
      SELECT doc_id, unnest(g) AS gram FROM grams
    ), hits AS (
      SELECT tg.doc_id, count(*) AS n_hit FROM tg JOIN ev USING (gram)
      GROUP BY tg.doc_id
    )
    SELECT t.doc_id,
           CAST(CASE WHEN t.is_eval THEN 1 ELSE 0 END AS INTEGER) AS is_eval,
           CAST(len(t.g) AS BIGINT) AS n_grams5,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit_grams,
           CAST(CASE WHEN NOT t.is_eval AND coalesce(h.n_hit, 0) > 0
                THEN 1 ELSE 0 END AS INTEGER) AS contaminated
    FROM grams t LEFT JOIN hits h USING (doc_id)
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the standard pre-training hygiene pass:
    flag train documents sharing any word 5-gram with the eval split
    (here the deterministic doc_id % 20 == 0 subset stands in for a held-
    out benchmark suite)."""
    docs = load_table(spark, sf_dir, "documents")
    return decontaminate_table(
        docs.withColumn("is_eval", F.col("doc_id") % 20 == 0)
    )


def decontaminate_table(docs: DataFrame, n: int = 5) -> DataFrame:
    """Per-doc eval-overlap census over (doc_id, text, is_eval): distinct
    word ``n``-gram count, how many of them appear anywhere in the eval
    split, and the contamination flag (train doc with >=1 shared gram).
    Scale shape for 10^12 docs: the eval-gram set is benchmark-sized
    (tiny) -> broadcast; train grams are per-doc map work (explode inside
    the scan stage) -> broadcast-hash probe, then one partial-agg count
    per doc_id. Document content never shuffles. The token split is
    projected separately so the gram lambda slices a materialized array
    (one split per doc, not one per gram — see text.tokens_lower)."""
    per_doc = docs.select(
        "doc_id", "is_eval", T.tokens_lower(F.col("text")).alias("toks")
    ).select(
        "doc_id", "is_eval", T.ngrams_of_tokens(F.col("toks"), n).alias("grams")
    )
    eval_grams = (
        per_doc.filter("is_eval")
        .select(F.explode("grams").alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    exploded = per_doc.select(
        "doc_id", "is_eval", F.explode_outer("grams").alias("gram")
    )
    flagged = exploded.join(F.broadcast(eval_grams), "gram", "left")
    return (
        flagged.groupBy("doc_id", "is_eval")
        .agg(
            F.count("gram").alias("n_grams5"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit_grams"),
        )
        .select(
            "doc_id",
            F.col("is_eval").cast("int").alias("is_eval"),
            F.col("n_grams5").cast("long").alias("n_grams5"),
            F.col("n_hit_grams").cast("long").alias("n_hit_grams"),
            (~F.col("is_eval") & (F.col("n_hit_grams") > 0))
            .cast("int")
            .alias("contaminated"),
        )
    )


@_register(
    "mm_media_stats",
    """
    SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS modality,
           COUNT(*) AS n_media,
           CAST(SUM(length(text)) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT sha256(text)) AS distinct_payloads
    FROM documents GROUP BY 1
    """,
)
def mm_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: opaque payload + typed metadata,
    aggregated per modality (payload bytes == utf-8 text bytes, ASCII
    corpus -> length(text) is the byte count in the oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    media = media_table_from_documents(docs)
    return media.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.countDistinct("payload_sha").alias("distinct_payloads"),
    )


@_register(
    "mm_decoded_features",
    """
    WITH m AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             CAST(4 + doc_id % 13 AS INTEGER) AS w,
             CAST(3 + doc_id % 7 AS INTEGER) AS h,
             CAST(8000 + 100 * (doc_id % 5) AS INTEGER) AS rate,
             CAST(300 + doc_id % 100 AS BIGINT) AS n_samp
      FROM documents
    ), pix AS (
      -- generate_series can't take lateral column bounds in DuckDB, so the
      -- grid is the fixture's MAX geometry (w<=16, h<=9) filtered per row
      SELECT m.doc_id,
             CAST(SUM((m.doc_id + 7 * y.g + x.g) % 256) AS BIGINT) AS pixel_sum
      FROM m, generate_series(0, 8) y(g), generate_series(0, 15) x(g)
      WHERE m.modality = 'image' AND y.g < m.h AND x.g < m.w
      GROUP BY m.doc_id
    ), aud AS (
      SELECT m.doc_id,
             CAST(SUM(((m.doc_id * 13 + i.g * 7) % 4001 - 2000)
                      * ((m.doc_id * 13 + i.g * 7) % 4001 - 2000)) AS BIGINT)
               AS sample_sq_sum
      FROM m, generate_series(0, 398) i(g)
      WHERE m.modality = 'audio' AND i.g < m.n_samp
      GROUP BY m.doc_id
    ), decoded AS (
      SELECT m.doc_id AS media_id, m.modality,
        CASE WHEN m.modality = 'image' THEN m.w END AS width,
        CASE WHEN m.modality = 'image' THEN m.h END AS height,
        CASE WHEN m.modality = 'image' THEN CAST(m.w * m.h AS BIGINT) END AS n_pixels,
        pix.pixel_sum,
        CASE WHEN m.modality = 'audio' THEN m.rate END AS sample_rate,
        CASE WHEN m.modality = 'audio' THEN m.n_samp END AS n_samples,
        aud.sample_sq_sum
      FROM m
      LEFT JOIN pix ON pix.doc_id = m.doc_id
      LEFT JOIN aud ON aud.doc_id = m.doc_id
    )
    SELECT *,
      CAST(pixel_sum AS DOUBLE) / CAST(n_pixels AS DOUBLE) AS mean_pixel,
      sqrt(CAST(sample_sq_sum AS DOUBLE) / CAST(n_samples AS DOUBLE)) AS rms,
      CAST(n_samples AS DOUBLE) * 1000.0 / CAST(sample_rate AS DOUBLE) AS duration_ms
    FROM decoded
    """,
)
def mm_decoded_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode path: the fixture synthesizes PNG (all five scanline
    filters) and WAV payloads whose parameters are closed-form in doc_id;
    Spark decodes the actual bytes (stdlib zlib/wave) and the oracle
    recomputes the expected geometry/pixel/sample statistics in SQL —
    an inflate, unfilter, or PCM bug shifts the sums and fails the hash.
    Derived doubles are single-rounding expressions (IEEE div/sqrt are
    correctly rounded), so bit-equality across engines holds."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_media_features(media_table_with_codecs(docs))
    return decoded.select(
        "*",
        (F.col("pixel_sum").cast("double") / F.col("n_pixels").cast("double")).alias(
            "mean_pixel"
        ),
        F.sqrt(
            F.col("sample_sq_sum").cast("double") / F.col("n_samples").cast("double")
        ).alias("rms"),
        (
            F.col("n_samples").cast("double")
            * F.lit(1000.0)
            / F.col("sample_rate").cast("double")
        ).alias("duration_ms"),
    )


@_register(
    "code_quality_signals",
    """
    WITH lines AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM documents
    ), sig AS (
      SELECT doc_id,
             CAST(coalesce(list_max(list_transform(ls, x -> length(x))), 0)
                  AS BIGINT) AS max_line_len,
             CASE WHEN len(ls) = 0 THEN 0.0
                  ELSE list_sum(list_transform(ls, x -> length(x)))
                       / CAST(len(ls) AS DOUBLE) END AS avg_line_len,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE (length(text)
                        - length(regexp_replace(text, '[A-Za-z0-9]', '', 'g')))
                       / CAST(length(text) AS DOUBLE) END AS alnum_frac,
             CAST(CASE WHEN regexp_matches(
                    array_to_string(ls[1:5], chr(10)),
                    '(?i)auto[- ]?generated|automatically generated|do not edit|generated by')
                  THEN 1 ELSE 0 END AS INTEGER) AS is_autogen,
             CAST(CASE WHEN regexp_matches(
                    array_to_string(ls[1:10], chr(10)),
                    '(?i)spdx-license-identifier|licensed under|mit license|apache license|gnu general public license')
                  THEN 1 ELSE 0 END AS INTEGER) AS has_license,
             CAST(CASE WHEN text LIKE '<?xml%' THEN 1 ELSE 0 END AS INTEGER)
               AS is_xml
      FROM lines
    )
    SELECT *,
           CAST(CASE WHEN max_line_len <= 1000 AND avg_line_len <= 100
                      AND alnum_frac >= 0.25 AND is_autogen = 0 AND is_xml = 0
                THEN 1 ELSE 0 END AS INTEGER) AS stack_keep
    FROM sig
    """,
)
def code_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Stack / StarCoder code-file quality filters (functions/code.py):
    long-line and mean-line-length caps, alphanumeric-fraction floor,
    auto-generated / XML-data-file / license-header detection, and the
    composite default keep rule. All pure Column exprs — per-file map
    work in the scan stage at any corpus size; the composite is derived
    from the already-named signal columns in a second select so each
    split/aggregate/regex tree is built once per row, not twice."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    sig = docs.select(
        "doc_id",
        C.max_line_length(c).alias("max_line_len"),
        C.avg_line_length(c).alias("avg_line_len"),
        C.alnum_fraction(c).alias("alnum_frac"),
        C.is_autogenerated(c).alias("is_autogen"),
        C.has_license_header(c).alias("has_license"),
        C.is_xml_head(c).alias("is_xml"),
    )
    return sig.withColumn(
        "stack_keep",
        (
            (F.col("max_line_len") <= C.MAX_LINE_LIMIT)
            & (F.col("avg_line_len") <= C.AVG_LINE_LIMIT)
            & (F.col("alnum_frac") >= C.MIN_ALNUM_FRAC)
            & (F.col("is_autogen") == 0)
            & (F.col("is_xml") == 0)
        ).cast("int"),
    )


@_register(
    "code_normalized_dedup",
    """
    WITH norm AS (
      SELECT doc_id,
             sha256(trim(regexp_replace(
               regexp_replace(text, '(?m)(^|[^:])(//|#|--).*$', '\\1', 'g'),
               '[ \t\r\n]+', ' ', 'g'))) AS norm_sha
      FROM documents
    ), census AS (
      SELECT norm_sha, COUNT(*) AS n_copies, MIN(doc_id) AS canonical
      FROM norm GROUP BY norm_sha
    )
    SELECT n.doc_id, n.norm_sha,
           CAST(c.n_copies AS BIGINT) AS n_copies,
           CAST(c.canonical AS BIGINT) AS canonical_doc_id,
           CAST(CASE WHEN n.doc_id <> c.canonical THEN 1 ELSE 0 END AS INTEGER)
             AS is_dup
    FROM norm n JOIN census c USING (norm_sha)
    """,
)
def code_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formatting-invariant exact dedup: group by sha256 of the
    comment-stripped whitespace-collapsed canonical form, elect the
    lowest doc_id per group. Driver testdata is reformat-free so the
    census plumbing is what this slot hash-checks; the semantic layer
    (comment/indent variants collide, token edits do not) is oracled on
    the synthetic code corpus in tests/test_code.py. Scale shape: one
    map pass + one groupBy on a 64-hex key, identical to dedup_exact."""
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select("doc_id", C.normalized_sha(F.col("text")).alias("norm_sha"))
    census = norm.groupBy("norm_sha").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("canonical_doc_id"),
    )
    return norm.join(census, "norm_sha").select(
        "doc_id",
        "norm_sha",
        F.col("n_copies").cast("long").alias("n_copies"),
        F.col("canonical_doc_id").cast("long").alias("canonical_doc_id"),
        (F.col("doc_id") != F.col("canonical_doc_id")).cast("int").alias("is_dup"),
    )


@_register(
    "source_overlap",
    """
    WITH base AS (
      SELECT source,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
      FROM documents
    ), grams AS (
      SELECT source,
             CASE WHEN len(w) < 5 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(generate_series(1, len(w) - 4),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                              || w[i+3] || ' ' || w[i+4])) END AS g
      FROM base
    ), sg AS (
      SELECT DISTINCT source, unnest(g) AS gram FROM grams
    ), sizes AS (
      SELECT source, COUNT(*) AS n FROM sg GROUP BY source
    ), shared AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
      FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s.source_a, s.source_b,
           CAST(s.n_shared AS BIGINT) AS n_shared,
           CAST(s.n_shared AS DOUBLE)
             / CAST(za.n + zb.n - s.n_shared AS DOUBLE) AS jaccard
    FROM shared s
    JOIN sizes za ON za.source = s.source_a
    JOIN sizes zb ON zb.source = s.source_b
    """,
)
def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source containment census — the repo-overlap / fork-detection
    shape applied to the driver's `source` column: distinct word-5-gram
    sets per source, pairwise shared-gram counts and Jaccard. Scale
    shape: the gram explode is map-side, and the gram table crosses ONE
    shuffle (a self-join would shuffle it twice): per-gram sorted source
    sets via collect_set — bounded because source cardinality is bounded
    (for unbounded repo keys, dedup/repos.py is the variant with the
    ubiquity cap) — then JVM array-HOF pair expansion and a partial-agg
    groupBy over the bounded pair domain."""
    docs = load_table(spark, sf_dir, "documents")
    # Shuffle 8-byte gram HASHES, not ~40-byte gram strings (guide §2.3
    # "narrower types"): every downstream op (distinct, per-source size,
    # per-gram source set) only tests gram identity, never reads the gram
    # text, so xxhash64 keys preserve all counts (64-bit collisions are
    # measure-zero at corpus scale — the same argument the hash-exact
    # minhash_shingle_stats slot already rests on, and the result stays
    # oracle-checked against DuckDB's true-string recount).
    sg = (
        docs.select("source", T.tokens_lower(F.col("text")).alias("toks"))
        .select("source", F.explode(T.ngrams_of_tokens(F.col("toks"), 5)).alias("gram"))
        .select("source", F.xxhash64("gram").alias("gram"))
        .distinct()
    )
    sizes = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    per_gram = sg.groupBy("gram").agg(F.sort_array(F.collect_set("source")).alias("ss"))
    pairs = (
        per_gram.filter(F.size("ss") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "y -> struct(x AS source_a, y AS source_b))))"
                )
            ).alias("p")
        )
        .select("p.source_a", "p.source_b")
    )
    shared = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    za = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        shared.join(za, "source_a")
        .join(zb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            (
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")).cast("double")
            ).alias("jaccard"),
        )
    )


# Shared with the DuckDB oracles below: the type-2 canonical-form
# restatement (functions/code.py normalize_tokens, RE2 dialect — \1
# backrefs, chr(1) sentinel, 'g' flags).
_CLONE_NORM_SQL = (
    r"""trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(text, '(?m)(^|[^:])(//|#|--).*$', '\1', 'g'),
                '"[^"{NL}]*"|''[^''{NL}]*''', '""', 'g'),
              '\b[0-9]+(\.[0-9]+)?\b', '0', 'g'),
            '\b({KW})\b', chr(1) || '0\1', 'g'),
          '\b[A-Za-z_][A-Za-z0-9_]*\b', 'id', 'g'),
        chr(1) || '0', '', 'g'),
      '[ {TAB}{CR}{NL}]+', ' ', 'g'))"""
)


def _clone_norm_sql() -> str:
    from .code import CODE_KEYWORDS

    # {NL}/{TAB}/{CR} become RE2 two-char escapes (\n, \t, \r) — same
    # byte semantics as the Java-regex escapes on the Spark side.
    return (
        _CLONE_NORM_SQL.replace("{KW}", CODE_KEYWORDS)
        .replace("{NL}", "\\n")
        .replace("{TAB}", "\\t")
        .replace("{CR}", "\\r")
    )


@_register(
    "code_pii_signals",
    r"""
    SELECT doc_id,
      CAST(len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}'))
        AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(text,
        '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b')) AS BIGINT) AS n_ips,
      CAST(len(regexp_extract_all(text,
        '\bAKIA[0-9A-Z]{16}\b')) AS BIGINT) AS n_aws_keys,
      CAST(len(regexp_extract_all(text,
        '-----BEGIN [A-Z ]*PRIVATE KEY-----')) AS BIGINT) AS n_private_keys,
      CAST(len(regexp_extract_all(text,
        '(?i)(api[_-]?key|secret|token|passwd|password)[ '
        || chr(9) || ']*[:=][ ' || chr(9) || ']*["''][^"'']{8,}["'']'))
        AS BIGINT) AS n_secrets,
      CAST(CASE WHEN len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}'))
        + len(regexp_extract_all(text, '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b'))
        + len(regexp_extract_all(text, '\bAKIA[0-9A-Z]{16}\b'))
        + len(regexp_extract_all(text, '-----BEGIN [A-Z ]*PRIVATE KEY-----'))
        + len(regexp_extract_all(text,
            '(?i)(api[_-]?key|secret|token|passwd|password)[ '
            || chr(9) || ']*[:=][ ' || chr(9) || ']*["''][^"'']{8,}["'']'))
        > 0 THEN 1 ELSE 0 END AS INTEGER) AS has_pii,
      sha256(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(text,
            '(?i)(api[_-]?key|secret|token|passwd|password)[ '
            || chr(9) || ']*[:=][ ' || chr(9) || ']*["''][^"'']{8,}["'']',
            '<SECRET>', 'g'),
          '-----BEGIN [A-Z ]*PRIVATE KEY-----', '<PRIVATE_KEY>', 'g'),
          '\bAKIA[0-9A-Z]{16}\b', '<AWS_KEY>', 'g'),
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}',
          '<EMAIL>', 'g'),
          '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b', '<IP>', 'g')
      ) AS redacted_sha
    FROM documents
    """,
)
def code_pii_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/secret detection + redaction (The Stack v2 / StarCoder release
    step, arXiv:2305.06161 §3): per-file counts of emails, IPv4
    addresses, AWS access-key ids, private-key blocks, and quoted
    credential assignments, plus the sha256 of the placeholder-redacted
    text so the redaction TRANSFORM (not just the counts) is
    value-checked. Pure Column regex exprs — scan-stage map work with
    zero Python at any corpus size; has_pii derives from the named
    count columns so each detector regex runs once per row."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    counts = docs.select(
        "doc_id",
        C.email_count(c).alias("n_emails"),
        C.ipv4_count(c).alias("n_ips"),
        C.aws_key_count(c).alias("n_aws_keys"),
        C.private_key_count(c).alias("n_private_keys"),
        C.secret_assign_count(c).alias("n_secrets"),
        F.sha2(C.redact_pii(c), 256).alias("redacted_sha"),
    )
    n_total = (
        F.col("n_emails")
        + F.col("n_ips")
        + F.col("n_aws_keys")
        + F.col("n_private_keys")
        + F.col("n_secrets")
    )
    return counts.select(
        "doc_id",
        "n_emails",
        "n_ips",
        "n_aws_keys",
        "n_private_keys",
        "n_secrets",
        (n_total > 0).cast("int").alias("has_pii"),
        "redacted_sha",
    )


@_register(
    "code_clone_census",
    """
    WITH norm AS (
      SELECT doc_id, sha256({NORM}) AS clone_sha FROM documents
    ), census AS (
      SELECT clone_sha, COUNT(*) AS n_copies, MIN(doc_id) AS canonical
      FROM norm GROUP BY clone_sha
    )
    SELECT n.doc_id, n.clone_sha,
           CAST(c.n_copies AS BIGINT) AS n_copies,
           CAST(c.canonical AS BIGINT) AS canonical_doc_id,
           CAST(CASE WHEN n.doc_id <> c.canonical THEN 1 ELSE 0 END AS INTEGER)
             AS is_dup
    FROM norm n JOIN census c USING (clone_sha)
    """,
)
def code_clone_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 clone dedup: census over the sha256 of the
    rename/literal-invariant canonical form (functions/code.py
    normalize_tokens — keywords preserved, identifiers -> id, literals
    abstracted), lowest doc_id elected canonical. Catches fork+rename
    copies that formatting-invariant dedup misses; the semantic layer
    (alpha-renamed clones collide, structural edits do not) is oracled
    on the synth code corpus in tests/test_code.py. Scale shape is
    identical to dedup_exact: one map pass + one shuffle on a 64-hex
    key. Copy count and canonical id are aggregates over a window on
    clone_sha, so the 7-regex canonicalization chain (the dominant cost)
    runs once per document with no self-join, and the NULL-key filter
    keeps the inner join's semantics of the SQL twin."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select("doc_id", C.clone_sha(F.col("text")).alias("clone_sha"))
    w = Window.partitionBy("clone_sha")
    return (
        norm.filter(F.col("clone_sha").isNotNull())
        .select(
            "doc_id",
            "clone_sha",
            F.count(F.lit(1)).over(w).cast("long").alias("n_copies"),
            F.min("doc_id").over(w).cast("long").alias("canonical_doc_id"),
        )
        .withColumn(
            "is_dup", (F.col("doc_id") != F.col("canonical_doc_id")).cast("int")
        )
    )


TEXT_ORACLES["code_clone_census"] = TEXT_ORACLES["code_clone_census"].replace(
    "{NORM}", _clone_norm_sql()
)


@_register(
    "code_license_census",
    """
    WITH heads AS (
      SELECT doc_id,
             lower(array_to_string((string_split(text, chr(10)))[1:20],
                                   chr(10))) AS head
      FROM documents
    ), lic AS (
      SELECT doc_id,
             CASE
               WHEN coalesce(regexp_extract(head,
                      'spdx-license-identifier:[ \\t]*([a-z0-9.+-]+)', 1),
                      '') <> ''
                 THEN regexp_extract(head,
                      'spdx-license-identifier:[ \\t]*([a-z0-9.+-]+)', 1)
               WHEN regexp_matches(head, 'gnu affero general public license')
                 THEN 'agpl-3.0'
               WHEN regexp_matches(head,
                      'gnu (lesser|library) general public license')
                 THEN 'lgpl-2.1'
               WHEN regexp_matches(head, 'gnu general public license')
                 THEN 'gpl-3.0'
               WHEN regexp_matches(head, 'mozilla public license')
                 THEN 'mpl-2.0'
               WHEN regexp_matches(head, 'apache license') THEN 'apache-2.0'
               WHEN regexp_matches(head, 'mit license') THEN 'mit'
               WHEN regexp_matches(head,
                      'redistribution and use in source and binary forms')
                 THEN 'bsd-3-clause'
               WHEN regexp_matches(head, 'isc license') THEN 'isc'
               WHEN regexp_matches(head, 'free and unencumbered software')
                 THEN 'unlicense'
               ELSE 'none'
             END AS license
      FROM heads
    )
    SELECT doc_id, license,
           CAST(CASE WHEN regexp_matches(license,
                  '^(agpl|gpl|lgpl|mpl|cc-by-sa|epl|cecill)')
                THEN 1 ELSE 0 END AS INTEGER) AS is_copyleft,
           CAST(CASE WHEN regexp_matches(license,
                  '^(mit|apache|bsd|isc|unlicense|cc0|zlib)')
                THEN 1 ELSE 0 END AS INTEGER) AS license_keep
    FROM lic
    """,
)
def code_license_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License classification per file (functions/code.py license_id):
    SPDX tag wins, else first matching header phrase (AGPL/LGPL probed
    before GPL — their phrases contain the GPL phrase), else 'none';
    plus the copyleft flag and The Stack's permissive-only keep policy.
    Driver testdata carries no license headers, so this slot hash-checks
    the 'none'/drop path end-to-end; the classification semantics are
    oracled on a synthetic licensed corpus in tests/test_code.py.
    Pure scan-stage map work — no shuffle at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    lic = C.license_id(F.col("text"))
    return docs.select(
        "doc_id",
        lic.alias("license"),
    ).select(
        "doc_id",
        "license",
        C.is_copyleft(F.col("license")).alias("is_copyleft"),
        C.license_keep(F.col("license")).alias("license_keep"),
    )


@_register(
    "code_snapshot_latest",
    """
    WITH files AS (
      SELECT doc_id,
             'r' || CAST(doc_id % 7 AS VARCHAR) AS repo,
             'f' || CAST(doc_id % 13 AS VARCHAR) || '.txt' AS path
      FROM documents
    )
    SELECT doc_id, repo, path,
           CAST(row_number() OVER (PARTITION BY repo, path
                                   ORDER BY doc_id DESC) AS BIGINT)
             AS version_rank,
           CAST(CASE WHEN row_number() OVER (PARTITION BY repo, path
                                             ORDER BY doc_id DESC) = 1
                THEN 1 ELSE 0 END AS INTEGER) AS is_head,
           CAST(COUNT(*) OVER (PARTITION BY repo, path) AS BIGINT)
             AS n_versions
    FROM files
    """,
)
def code_snapshot_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-history snapshot dedup — the first pass over any
    (repo, path, commit, content) code table: rank each file's versions
    by commit recency, keep rank 1 as the HEAD snapshot (training
    corpora dedup to the latest version before any content-level pass).
    The driver table has no commit column, so (repo, path) keys are
    synthesized deterministically from doc_id (mod 7 x mod 13: docs
    collide iff equal mod 91, giving ~N/91 multi-version keys at any
    sf) with doc_id as the commit sequence. One hash-shuffle on the
    (repo, path) key — the minimum any per-key versioning op pays; no
    content moves, so the shape holds at 10^12 files."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    files = docs.select(
        "doc_id",
        F.concat(F.lit("r"), (F.col("doc_id") % 7).cast("string")).alias("repo"),
        F.concat(
            F.lit("f"), (F.col("doc_id") % 13).cast("string"), F.lit(".txt")
        ).alias("path"),
    )
    w = Window.partitionBy("repo", "path").orderBy(F.col("doc_id").desc())
    wc = Window.partitionBy("repo", "path")
    return files.select(
        "doc_id",
        "repo",
        "path",
        F.row_number().over(w).cast("long").alias("version_rank"),
        (F.row_number().over(w) == 1).cast("int").alias("is_head"),
        F.count(F.lit(1)).over(wc).cast("long").alias("n_versions"),
    )


@_register(
    "events_funnel",
    """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    ), users AS (
      SELECT DISTINCT user_id FROM events
    )
    SELECT u.user_id,
           CAST(CASE WHEN s1.user_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
             AS reached_view,
           CAST(CASE WHEN s2.user_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
             AS reached_click,
           CAST(CASE WHEN s3.user_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
             AS reached_purchase
    FROM users u
    LEFT JOIN s1 ON s1.user_id = u.user_id
    LEFT JOIN s2 ON s2.user_id = u.user_id
    LEFT JOIN s3 ON s3.user_id = u.user_id
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): each step's
    first event must occur strictly AFTER the previous step's first
    event — the sequential-pattern shape product analytics runs, which
    plain per-type counting cannot express. Three level-wise min-joins,
    every shuffle keyed on user_id (one co-partitioned exchange chain;
    prior steps shrink each level's probe side, so the shape tightens
    as the funnel narrows at any corpus size). A stateful streaming
    twin lives in streaming/funnel.py."""
    from ..streaming.funnel import funnel_batch

    return funnel_batch(load_table(spark, sf_dir, "events"))


@_register("text_decontaminate_bloom", None)  # approximate by design (Bloom
# upper bound on hits) -> rows-only driver check; the no-false-negative and
# FP-rate contracts are pytest-gated against the exact path in
# tests/test_bloom.py
def text_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-broadcast twin of `text_decontaminate`: same per-doc overlap
    census with the eval-gram set compressed to a bit array (16 bits/gram)
    instead of broadcast strings — the shape for benchmark suites too big
    to broadcast verbatim (functions/bloom.py)."""
    from .bloom import decontaminate_table_bloom

    docs = load_table(spark, sf_dir, "documents")
    return decontaminate_table_bloom(
        docs.withColumn("is_eval", F.col("doc_id") % 20 == 0)
    )


# Shared SQL CTE for the line-dedup gates: a deterministic multi-line code
# body per document (driver `documents.text` is single-line word soup, so
# corpus-shared lines must be planted — two header lines shared across the
# license/source groups plus a per-(doc_id%3) generated-marker footer; the
# unique text line proves non-boilerplate survives).
_LINE_BODY_CTE = """
    WITH body AS (
      SELECT doc_id,
             concat_ws(chr(10),
               '// SPDX-License-Identifier: ' ||
                 CASE WHEN doc_id % 2 = 0 THEN 'MIT' ELSE 'Apache-2.0' END,
               '// (c) The ' || source || ' authors',
               text,
               CASE WHEN doc_id % 3 = 0
                    THEN '// @generated -- do not edit' END) AS body
      FROM documents
    ), l0 AS (
      SELECT doc_id, string_split(body, chr(10)) AS ls FROM body
    ), lx AS (
      SELECT doc_id, UNNEST(ls) AS line, generate_subscripts(ls, 1) AS pos
      FROM l0
    ), l AS (
      SELECT doc_id, line, pos, trim(line) AS key FROM lx
    ), common AS (
      SELECT key FROM l WHERE length(key) > 0
      GROUP BY key HAVING count(DISTINCT doc_id) >= 5
    )
"""


def _line_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_LINE_BODY_CTE`'s `body` CTE."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(
                F.lit("// SPDX-License-Identifier: "),
                F.when(F.col("doc_id") % 2 == 0, F.lit("MIT")).otherwise(
                    F.lit("Apache-2.0")
                ),
            ),
            F.concat(F.lit("// (c) The "), F.col("source"), F.lit(" authors")),
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("// @generated -- do not edit")
            ),
        ).alias("body"),
    )


@_register(
    "code_line_dedup",
    _LINE_BODY_CTE
    + """
    SELECT l.doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(*) FILTER (WHERE c.key IS NULL) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE c.key IS NOT NULL) AS BIGINT)
             AS n_dropped,
           sha256(coalesce(string_agg(
             CASE WHEN c.key IS NULL THEN l.line END,
             chr(10) ORDER BY l.pos), '')) AS clean_sha
    FROM l LEFT JOIN common c ON l.key = c.key
    GROUP BY l.doc_id
    """,
)
def code_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style line-level boilerplate strip
    (functions/lines.py strip_common_lines): drop every line whose trimmed
    form appears in >= 5 distinct documents, reconstruct the rest in
    original order, and value-check the transform via sha256 of the
    cleaned content."""
    from .lines import strip_common_lines

    return strip_common_lines(_line_body(spark, sf_dir), min_docs=5, text_col="body")


@_register(
    "corpus_serving_offsets",
    """
    WITH k AS (
      SELECT doc_id,
             sha256('shuf:' || CAST(doc_id AS VARCHAR)) AS shuf_key,
             CAST((strpos('0123456789abcdef',
                          substr(sha256('shuf:' || CAST(doc_id AS VARCHAR)),
                                 1, 1)) - 1) % 16 AS BIGINT) AS srv_bucket,
             CAST(COALESCE(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 0)
                  AS BIGINT) AS srv_n_tokens
      FROM documents
    ),
    r AS (
      SELECT doc_id, srv_bucket, srv_n_tokens,
             CAST(row_number() OVER (PARTITION BY srv_bucket
                                     ORDER BY shuf_key, doc_id) AS BIGINT)
               AS srv_rank,
             COALESCE(SUM(srv_n_tokens) OVER (
                 PARTITION BY srv_bucket ORDER BY shuf_key, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS tok_in_bucket
      FROM k
    ),
    c AS (
      SELECT srv_bucket, COUNT(*) AS n, SUM(srv_n_tokens) AS t
      FROM k GROUP BY srv_bucket
    ),
    b AS (
      SELECT srv_bucket,
             COALESCE(SUM(n) OVER (ORDER BY srv_bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS base_docs,
             COALESCE(SUM(t) OVER (ORDER BY srv_bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS base_toks
      FROM c
    )
    SELECT r.doc_id, r.srv_bucket, r.srv_rank, r.srv_n_tokens,
           CAST(b.base_docs + r.srv_rank - 1 AS BIGINT) AS global_pos,
           CAST(b.base_toks + r.tok_in_bucket AS BIGINT) AS global_token_offset
    FROM r JOIN b ON r.srv_bucket = b.srv_bucket
    """,
)
def corpus_serving_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global doc position + token offset in the seeded training order
    (functions/shuffle.py serving_offsets): the shuffle's one bucket
    exchange carries the in-bucket cumulative sums; a 16-row bucket
    census broadcast supplies the cross-bucket bases — a data loader
    can seek any doc in the served stream from this table alone."""
    from .shuffle import serving_offsets

    return serving_offsets(load_table(spark, sf_dir, "documents"))


@_register(
    "code_file_roles",
    """
    WITH p AS (
      SELECT doc_id, text,
             CASE CAST(doc_id % 7 AS INTEGER)
               WHEN 0 THEN 'vendor/lib/util.js'
               WHEN 1 THEN 'tests/test_app.py'
               WHEN 2 THEN 'src/main.py'
               WHEN 3 THEN 'docs/README.md'
               WHEN 4 THEN 'config/app.yaml'
               WHEN 5 THEN 'gen/api_pb2.py'
               ELSE 'src/util_test.go' END AS file_path
      FROM documents
    )
    SELECT doc_id, file_path,
           CASE
             WHEN regexp_matches(file_path,
               '(^|/)(vendor|vendored|third_party|thirdparty|node_modules|deps|external)/')
               THEN 'vendored'
             WHEN regexp_matches(file_path,
                    '(_pb2\\.py|\\.pb\\.go|\\.g\\.cs|\\.min\\.(js|css))$')
               OR regexp_matches(
                    array_to_string(string_split(text, chr(10))[1:5], chr(10)),
                    '(?i)auto[- ]?generated|automatically generated|do not edit|generated by')
               THEN 'generated'
             WHEN regexp_matches(file_path,
               '(^|/)(tests?|spec|__tests__)/|(^|/)test_[^/]*$|_test\\.[A-Za-z0-9]+$|Test\\.java$|\\.spec\\.[jt]sx?$')
               THEN 'test'
             WHEN regexp_matches(file_path, '\\.(md|rst|txt|adoc)$') THEN 'docs'
             WHEN regexp_matches(file_path,
               '\\.(json|ya?ml|toml|ini|cfg|lock|properties)$') THEN 'config'
             ELSE 'source'
           END AS file_role
    FROM p
    """,
)
def code_file_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-role routing (functions/code.file_role): vendored / generated
    / test / docs / config / source from path + generated-content header —
    The Stack's metadata tagging pass, here over synthesized per-doc paths
    covering every family (driver `documents` carries no path column);
    priority-conflict semantics are pytest-oracled on explicit fixtures."""
    docs = load_table(spark, sf_dir, "documents")
    path = (
        F.when(F.col("doc_id") % 7 == 0, F.lit("vendor/lib/util.js"))
        .when(F.col("doc_id") % 7 == 1, F.lit("tests/test_app.py"))
        .when(F.col("doc_id") % 7 == 2, F.lit("src/main.py"))
        .when(F.col("doc_id") % 7 == 3, F.lit("docs/README.md"))
        .when(F.col("doc_id") % 7 == 4, F.lit("config/app.yaml"))
        .when(F.col("doc_id") % 7 == 5, F.lit("gen/api_pb2.py"))
        .otherwise(F.lit("src/util_test.go"))
    )
    with_path = docs.select("doc_id", "text", path.alias("file_path"))
    return with_path.select(
        "doc_id",
        "file_path",
        C.file_role(F.col("file_path"), F.col("text")).alias("file_role"),
    )


from .split import (  # noqa: E402  (registered after the md5 helpers exist)
    split_bucket,
    split_bucket_oracle_sql,
    split_label,
    split_label_oracle_sql,
)


@_register(
    "code_leakage_split",
    f"""
    SELECT doc_id,
           md5(text) AS dup_key,
           {split_bucket_oracle_sql("md5(text)")} AS split_bucket,
           {split_label_oracle_sql("md5(text)")} AS split
    FROM documents
    """,
)
def code_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment (functions/split.py): the
    split is a pure function of the doc's exact-dup group key (md5 of
    content here; the pipeline path uses the near-dup cluster id), so
    duplicates can never straddle the train/eval boundary. The DuckDB
    oracle recomputes the md5-derived bucket and the threshold CASE
    bit-for-bit — both sides are generated from the same committed
    threshold table, so the pair cannot drift."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.col("text"))
    return docs.select(
        "doc_id",
        key.alias("dup_key"),
        split_bucket(key).alias("split_bucket"),
        split_label(key).alias("split"),
    )


@_register(
    "text_heavy_lines",
    _LINE_BODY_CTE
    + """
    , counts AS (
      SELECT key AS line, CAST(count(*) AS BIGINT) AS n
      FROM l WHERE length(key) > 0 GROUP BY key
    ), ranked AS (
      SELECT CAST(row_number() OVER (ORDER BY n DESC, line) AS BIGINT)
               AS rank,
             ('0x' || substr(md5(line), 1, 12))::BIGINT AS line_key,
             line, n
      FROM counts
    )
    SELECT rank, line_key, line, n FROM ranked
    WHERE rank <= 20 ORDER BY rank
    """,
)
def text_heavy_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most frequent trimmed lines via the two-pass heavy-hitters
    operator (functions/heavy.py): per-partition Misra-Gries candidates
    + an exact verify pass, certified against a missed hitter. The
    DuckDB oracle recomputes the exact census with a full GROUP BY —
    at driver scale capacity >> distinct lines so the sketch takes no
    decrements and both sides are exact; MG under pressure (decrements,
    retention guarantee, undersized failure) is oracled in
    tests/test_heavy.py. line_key is the 48-bit md5 prefix, carried so
    the driver's union gate can hash-check line identity as a BIGINT."""
    from .heavy import heavy_hitters

    lines = (
        _line_body(spark, sf_dir)
        .select(F.explode(F.split("body", "\n")).alias("raw"))
        .select(F.trim("raw").alias("line"))
        .filter(F.length("line") > 0)
    )
    top = heavy_hitters(lines, "line", k=20, capacity=4096)
    return top.select(
        "rank",
        F.conv(F.substring(F.md5("line"), 1, 12), 16, 10)
        .cast("long")
        .alias("line_key"),
        "line",
        "n",
    )


@_register(
    "text_lm_scores",
    # OOV keep rule constants 1/5 mirror lm.OOV_KEEP_NUM / lm.OOV_KEEP_DEN.
    """
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
      FROM documents
    ),
    bg AS (
      SELECT doc_id, p.w1 AS w1, p.w2 AS w2
      FROM (SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w)-1),
                          i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS p
            FROM toks WHERE len(w) >= 2)
    ),
    ref2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg WHERE doc_id % 2 = 0 GROUP BY w1, w2),
    ref1 AS (SELECT w1, SUM(c2) AS c1 FROM ref2 GROUP BY w1),
    scored AS (
      SELECT b.doc_id,
             COUNT(*) AS n_bigrams,
             SUM(CASE WHEN r2.c2 IS NULL THEN 1 ELSE 0 END) AS n_oov,
             SUM(COALESCE(r2.c2, 0)) AS sum_pair_c,
             SUM(COALESCE(r1.c1, 0)) AS sum_ctx_c
      FROM bg b
      LEFT JOIN ref2 r2 ON b.w1 = r2.w1 AND b.w2 = r2.w2
      LEFT JOIN ref1 r1 ON b.w1 = r1.w1
      GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(s.n_oov, 0) AS BIGINT) AS n_oov_bigrams,
           CAST(COALESCE(s.sum_pair_c, 0) AS BIGINT) AS sum_pair_c,
           CAST(COALESCE(s.sum_ctx_c, 0) AS BIGINT) AS sum_ctx_c,
           COALESCE(s.n_oov, 0) * 5 <= COALESCE(s.n_bigrams, 0) * 1 AS lm_keep
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
)
def text_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM scoring (functions/lm.py): train add-alpha
    bigram counts on the deterministic reference half (doc_id % 2 == 0),
    score every document by joining its exploded bigrams against the model.
    The gate surface is the exact-integer count columns + the integer OOV
    keep rule (bit-stable under any partitioning / summation order); the
    float cross-entropy and perplexity columns are pytest-oracled against
    numpy (tests/test_lm.py) because ln-sum order is not bit-portable
    across engines."""
    from .lm import lm_score_table

    docs = load_table(spark, sf_dir, "documents")
    return lm_score_table(docs).select(
        "doc_id", "n_bigrams", "n_oov_bigrams", "sum_pair_c", "sum_ctx_c", "lm_keep"
    )


def contamination_spans_table(
    docs: DataFrame, n: int = 5, min_span_tokens: int = 13
) -> DataFrame:
    """Span-level benchmark decontamination over (doc_id, text, is_eval):
    the GPT-3 appendix-C measure — a train doc is span-contaminated when
    it shares a CONTIGUOUS run of word n-grams with the eval split long
    enough to cover >= min_span_tokens tokens (a run of L consecutive
    n-grams spans L + n - 1 tokens). Distinct-gram overlap (the
    text_decontaminate pass) over-fires on isolated idiom collisions;
    the span length separates quotation from coincidence.

    Scale shape for 10^12 docs: eval gram set is benchmark-sized ->
    broadcast probe against the positional gram explode (map work in the
    scan stage). Only the HITS (sparse) flow into the run computation:
    one hash exchange on doc_id for the row_number window, and the
    islands groupBy + per-doc max reuse that partitioning (doc_id is a
    superset clustering key), so no further exchange. Content never
    shuffles."""
    per_doc = docs.select(
        "doc_id", "is_eval", T.tokens_lower(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        "is_eval",
        T.ngrams_of_tokens(F.col("toks"), n, distinct=False).alias("grams"),
    )
    eval_grams = (
        per_doc.filter("is_eval")
        .select(F.explode("grams").alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    pos = per_doc.select(
        "doc_id", "is_eval", F.posexplode_outer("grams").alias("pos", "gram")
    )
    flagged = pos.join(F.broadcast(eval_grams), "gram", "left")
    from pyspark.sql.window import Window

    counts = flagged.groupBy("doc_id").agg(
        F.count("gram").cast("long").alias("n_grams_pos"),
        F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hit_pos"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        flagged.where(F.col("hit") == 1)
        .select("doc_id", "pos")
        .withColumn("grp", F.col("pos") - F.row_number().over(win))
        .groupBy("doc_id", "grp")
        .agg(F.count("*").alias("run"))
        .groupBy("doc_id")
        .agg(F.max("run").cast("long").alias("max_hit_run"))
    )
    return (
        docs.select("doc_id", "is_eval")
        .join(counts, "doc_id", "left")
        .join(runs, "doc_id", "left")
        .select(
            "doc_id",
            F.col("is_eval").cast("int").alias("is_eval"),
            F.coalesce("n_grams_pos", F.lit(0)).alias("n_grams_pos"),
            F.coalesce("n_hit_pos", F.lit(0)).alias("n_hit_pos"),
            F.coalesce("max_hit_run", F.lit(0)).alias("max_hit_run"),
            F.when(F.col("max_hit_run").isNull(), F.lit(0))
            .otherwise(F.col("max_hit_run") + F.lit(n - 1))
            .cast("long")
            .alias("max_span_tokens"),
            (
                ~F.col("is_eval").cast("boolean")
                & (
                    F.coalesce("max_hit_run", F.lit(0)) + F.lit(n - 1)
                    >= F.lit(min_span_tokens)
                )
                & F.col("max_hit_run").isNotNull()
            )
            .cast("int")
            .alias("span_contaminated"),
        )
    )


@_register(
    "text_contamination_spans",
    # n=5 grams; a run of L grams spans L+4 tokens; threshold 13 tokens
    # (the GPT-3 13-gram collision rule) mirrors the Spark defaults.
    """
    WITH base AS (
      SELECT doc_id, doc_id % 20 = 0 AS is_eval,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, is_eval,
             CASE WHEN len(w) < 5 THEN []::VARCHAR[]
                  ELSE list_transform(generate_series(1, len(w) - 4),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                              || w[i+3] || ' ' || w[i+4]) END AS g
      FROM base
    ),
    ev AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE is_eval),
    tg AS (
      SELECT doc_id, is_eval, p.pos AS pos, p.gram AS gram
      FROM (SELECT doc_id, is_eval,
                   unnest(list_transform(generate_series(1, len(g)),
                          i -> struct_pack(pos := i, gram := g[i]))) AS p
            FROM grams)
    ),
    fl AS (
      SELECT t.doc_id, t.pos, ev.gram IS NOT NULL AS hit
      FROM tg t LEFT JOIN ev ON t.gram = ev.gram
    ),
    counts AS (
      SELECT doc_id, COUNT(*) AS n_grams_pos,
             SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS n_hit_pos
      FROM fl GROUP BY doc_id
    ),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM fl WHERE hit
    ),
    mx AS (
      SELECT doc_id, MAX(run) AS max_hit_run
      FROM (SELECT doc_id, grp, COUNT(*) AS run FROM isl GROUP BY doc_id, grp)
      GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.is_eval AS INTEGER) AS is_eval,
           CAST(COALESCE(c.n_grams_pos, 0) AS BIGINT) AS n_grams_pos,
           CAST(COALESCE(c.n_hit_pos, 0) AS BIGINT) AS n_hit_pos,
           CAST(COALESCE(m.max_hit_run, 0) AS BIGINT) AS max_hit_run,
           CAST(CASE WHEN m.max_hit_run IS NULL THEN 0
                     ELSE m.max_hit_run + 4 END AS BIGINT) AS max_span_tokens,
           CAST(CASE WHEN NOT b.is_eval AND m.max_hit_run IS NOT NULL
                      AND m.max_hit_run + 4 >= 13
                     THEN 1 ELSE 0 END AS INTEGER) AS span_contaminated
    FROM base b
    LEFT JOIN counts c ON c.doc_id = b.doc_id
    LEFT JOIN mx m ON m.doc_id = b.doc_id
    """,
)
def text_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination (contamination_spans_table) with the
    same deterministic eval split as text_decontaminate (doc_id % 20)."""
    docs = load_table(spark, sf_dir, "documents")
    return contamination_spans_table(
        docs.withColumn("is_eval", F.col("doc_id") % 20 == 0)
    )


@_register(
    "c4_quality_signals",
    # blocklist mirrors text.C4_BLOCKLIST (printable stand-in for LDNOOBW)
    """
    WITH base AS (
      SELECT doc_id, text,
             list_filter(list_transform(string_split(text, chr(10)),
                         x -> regexp_replace(x, '^\\s+|\\s+$', '', 'g')),
                         x -> length(x) > 0) AS nb
      FROM documents
    ),
    k AS (
      SELECT doc_id, text, nb,
             list_filter(nb, l -> regexp_matches(l, '[.!?"]$')
                              AND len(regexp_split_to_array(l, '\\s+')) >= 5) AS kept
      FROM base
    ),
    s AS (
      SELECT doc_id, text, nb, kept,
             COALESCE(array_to_string(kept, chr(10)), '') AS kt
      FROM k
    )
    SELECT doc_id,
           CAST(len(nb) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_c4_lines,
           CAST(length(kt) - length(regexp_replace(kt, '[.!?]', '', 'g')) AS BIGINT)
             AS n_sentences,
           contains(lower(text), 'lorem ipsum') AS has_lorem,
           contains(text, '{') AS has_brace,
           regexp_matches(lower(text), '\\b(viagra|casino|porn|xxx)\\b') AS has_badword,
           (length(kt) - length(regexp_replace(kt, '[.!?]', '', 'g')) >= 3
            AND NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{')
            AND NOT regexp_matches(lower(text), '\\b(viagra|casino|porn|xxx)\\b'))
             AS c4_keep
    FROM s
    """,
)
def c4_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 document filter battery (Raffel et al. 2020 §2.2): line
    retention (terminal punctuation + >= 5 words), sentence census over
    the kept lines, and the lorem-ipsum / curly-brace / word-boundary
    blocklist drop rules. Pure Column expressions — scan-stage map work
    at any corpus size; bit-exact DuckDB oracle."""
    docs = load_table(spark, sf_dir, "documents")
    sig = T.c4_signals(F.col("text"))
    return docs.select("doc_id", *[c.alias(k) for k, c in sig.items()])


# Gate parameters for text_seq_packing: capacity 96 sits inside the
# driver corpus's token range (max ~100), so the gate exercises multi-doc
# packs AND the oversize-doc-alone path; 8 shards keep the oracle's
# recursive CTE shallow while still proving shard namespacing.
_PACK_CAPACITY = 96
_PACK_SHARDS = 8

# Recursive CTE = the row-at-a-time statement of the same greedy walk the
# Spark side runs vectorized (functions/pack.py greedy_pack). Shared by the
# per-doc assignment oracle and the materialized-context oracle.
_PACK_WALK_CTE = f"""
    WITH RECURSIVE w AS (
      SELECT doc_id,
             {pack_shard_oracle_sql("doc_id", _PACK_SHARDS)} AS pack_shard,
             CAST(COALESCE(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 0)
                  AS BIGINT) AS pack_n_tokens
      FROM documents
    ),
    o AS (
      SELECT *, row_number() OVER (PARTITION BY pack_shard ORDER BY doc_id) AS rn
      FROM w
    ),
    walk AS (
      SELECT pack_shard, rn, doc_id, pack_n_tokens,
             CAST(0 AS BIGINT) AS pack_id,
             CAST(0 AS BIGINT) AS pack_offset,
             pack_n_tokens AS acc
      FROM o WHERE rn = 1
      UNION ALL
      SELECT o.pack_shard, o.rn, o.doc_id, o.pack_n_tokens,
             CASE WHEN k.acc + o.pack_n_tokens <= {_PACK_CAPACITY}
                  THEN k.pack_id ELSE k.pack_id + 1 END,
             CASE WHEN k.acc + o.pack_n_tokens <= {_PACK_CAPACITY}
                  THEN k.acc ELSE CAST(0 AS BIGINT) END,
             CASE WHEN k.acc + o.pack_n_tokens <= {_PACK_CAPACITY}
                  THEN k.acc + o.pack_n_tokens ELSE o.pack_n_tokens END
      FROM walk k JOIN o ON o.pack_shard = k.pack_shard AND o.rn = k.rn + 1
    )
"""


@_register(
    "text_seq_packing",
    _PACK_WALK_CTE
    + "SELECT doc_id, pack_shard, pack_n_tokens, pack_id, pack_offset FROM walk",
)
def text_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into fixed-capacity training contexts
    (functions/pack.py): md5-sharded, shard-local sequential walk run
    vectorized inside applyInPandas — one exchange on the shard key,
    assignment a pure function of (doc_id, n_tokens, config) so the
    recursive-CTE oracle recomputes it bit-for-bit."""
    from .pack import pack_table

    docs = load_table(spark, sf_dir, "documents")
    return pack_table(
        docs, capacity=_PACK_CAPACITY, n_shards=_PACK_SHARDS
    )


# Discrete quality score for the prune gate: token count bucketed to 0-5.
_QSCORE_SQL = (
    "CAST(LEAST(5, CAST(floor(COALESCE(CASE WHEN length(trim(text)) = 0 "
    "THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 0) "
    "/ 20.0) AS BIGINT)) AS BIGINT)"
)
_PRUNE_KEEP_FRAC = 0.4


@_register(
    "text_quality_prune",
    f"""
    WITH s AS (
      SELECT doc_id, source, {_QSCORE_SQL} AS q_score FROM documents
    ),
    c AS (SELECT source, q_score, COUNT(*) AS n FROM s GROUP BY source, q_score),
    r AS (
      SELECT source, q_score,
             SUM(n) OVER (PARTITION BY source ORDER BY q_score DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_n,
             SUM(n) OVER (PARTITION BY source) AS src_n
      FROM c
    ),
    t AS (
      SELECT source, MAX(q_score) AS q_threshold, MAX(src_n) AS src_n
      FROM r WHERE cum_n >= CAST(ceil({_PRUNE_KEEP_FRAC!r} * src_n) AS BIGINT)
      GROUP BY source
    )
    SELECT s.doc_id, s.q_score, CAST(t.src_n AS BIGINT) AS src_n, t.q_threshold,
           s.q_score >= t.q_threshold AS quality_keep
    FROM s JOIN t ON s.source = t.source
    """,
)
def text_quality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-keep_frac-per-source quality pruning (functions/mixture.py
    quality_prune): the keep set computed from a (source x score-level)
    census + threshold broadcast — NOT a per-source row_number window,
    which would serialize each source through one task at 10^12 docs.
    All docs tied at the threshold score are kept (the deterministic
    statement of top-x% for discrete scores)."""
    from .mixture import quality_prune

    docs = load_table(spark, sf_dir, "documents")
    score = F.least(
        F.lit(5),
        F.floor(
            F.coalesce(T.token_count(F.col("text")), F.lit(0)) / F.lit(20.0)
        ),
    )
    return quality_prune(docs, score, _PRUNE_KEEP_FRAC).drop("source")


@_register(
    "text_encoding_signals",
    # Marker counts are literal replace() length-diffs (chr() builds the
    # markers so no multibyte literal sits in SQL text); only the ASCII
    # char classes go through a regex, identical in RE2 and Java.
    r"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(regexp_replace(text,
                '[^\x00-\x7F]', '', 'g')) AS BIGINT) AS n_nonascii,
           CAST(length(text) - length(replace(text, chr(65533), ''))
                AS BIGINT) AS n_replacement,
           CAST(length(text) - length(regexp_replace(text,
                '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]', '', 'g'))
                AS BIGINT) AS n_control,
           CAST(length(text) - length(replace(text, chr(195), ''))
                AS BIGINT) AS n_moji_lead,
           CAST((length(text) - length(replace(text,
                chr(226) || chr(8364), ''))) // 2 AS BIGINT) AS n_moji_punct,
           (length(text) - length(replace(text, chr(65533), ''))) = 0
           AND (length(text) - length(regexp_replace(text,
                '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]', '', 'g'))) = 0
           AND (length(text) - length(replace(text, chr(195), ''))) = 0
           AND (length(text) - length(replace(text,
                chr(226) || chr(8364), ''))) = 0 AS enc_clean
    FROM documents
    """,
)
def text_encoding_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8 cleanliness / mojibake signals (text.encoding_signals —
    the CCNet-style encoding-noise filter). The driver corpus is
    ASCII-clean, so this slot hash-checks the cross-dialect expression
    plumbing; the semantic oracle runs on a crafted mojibake corpus in
    tests/test_functions.py."""
    docs = load_table(spark, sf_dir, "documents")
    sig = T.encoding_signals(F.col("text"))
    return docs.select("doc_id", *[c.alias(k) for k, c in sig.items()])


@_register(
    "text_dsir_weights",
    # Hashed-feature modulus 4096 and target slice doc_id % 2 mirror
    # dsir.DEFAULT_BUCKETS / dsir_table's target_mod default. The lean
    # vote compares single-rounded double products, bit-identical in
    # both engines (see functions/dsir.py module docstring).
    """
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_concat(w,
                    list_transform(generate_series(1, len(w)-1),
                                   i -> w[i] || ' ' || w[i+1]))) AS g
      FROM toks WHERE len(w) >= 1
    ),
    gb AS (
      SELECT doc_id,
             (('0x' || substr(md5(g), 1, 12))::BIGINT) % 4096 AS bucket
      FROM grams
    ),
    model AS (
      SELECT bucket,
             COUNT(*) AS cr,
             SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ct
      FROM gb GROUP BY bucket
    ),
    tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM model),
    scored AS (
      SELECT g.doc_id,
             COUNT(*) AS n_grams,
             SUM(m.ct) AS sum_tc,
             SUM(m.cr) AS sum_rc,
             SUM(CASE WHEN CAST(m.ct + 1 AS DOUBLE) * (t.nr + 4096)
                       > CAST(m.cr + 1 AS DOUBLE) * (t.nt + 4096)
                  THEN 1 ELSE 0 END) AS n_lean
      FROM gb g JOIN model m USING (bucket) CROSS JOIN tot t
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS dsir_n_grams,
           CAST(COALESCE(s.sum_tc, 0) AS BIGINT) AS dsir_sum_tc,
           CAST(COALESCE(s.sum_rc, 0) AS BIGINT) AS dsir_sum_rc,
           CAST(COALESCE(s.n_lean, 0) AS BIGINT) AS dsir_n_lean,
           COALESCE(s.n_lean, 0) * 2 >= COALESCE(s.n_grams, 0) AS dsir_keep
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
)
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling surface (functions/dsir.py, Xie et al.
    NeurIPS 2023): hashed unigram+bigram models for the deterministic
    target half (doc_id % 2 == 0) vs the raw pool, trained in ONE
    bucket-keyed groupBy, scored per doc through an unconditional
    broadcast join. The gate surface is the exact-integer count columns
    plus the double-product lean vote; the float log_weight (the actual
    DSIR statistic) is pytest-oracled against numpy (tests/test_dsir.py)
    because ln-sum order is not bit-portable across engines."""
    from .dsir import dsir_table

    docs = load_table(spark, sf_dir, "documents")
    return dsir_table(docs).select(
        "doc_id", "dsir_n_grams", "dsir_sum_tc", "dsir_sum_rc",
        "dsir_n_lean", "dsir_keep",
    )


@_register(
    "code_comment_signals",
    # Marker regex restates code.COMMENT_LINE_PATTERN verbatim (RE2 and
    # Java agree on this subset); the keep bounds are the integer-percent
    # cross-products of code.COMMENT_RATIO_{MIN,MAX}_PCT.
    """
    WITH lines AS (
      SELECT doc_id, text,
             list_filter(string_split(text, chr(10)),
                         x -> regexp_matches(x,
                              '^[ \\t]*(//|/\\*|\\*/|\\*|--|#|;)')) AS cl
      FROM documents
    ), sig AS (
      SELECT doc_id,
             CAST(len(cl) AS BIGINT) AS n_comment_lines,
             CAST(COALESCE(list_sum(list_transform(cl, x -> length(x))), 0)
                  AS BIGINT) AS n_comment_chars,
             CAST(CASE WHEN contains(text, '"' || '"' || '"')
                        OR contains(text, repeat(chr(39), 3))
                  THEN 1 ELSE 0 END AS INTEGER) AS has_docstring,
             CAST(length(text) AS BIGINT) AS nc
      FROM lines
    )
    SELECT doc_id, n_comment_lines, n_comment_chars, has_docstring,
           CAST(CASE WHEN n_comment_chars * 100 >= nc * 1
                      AND n_comment_chars * 100 <= nc * 80
                THEN 1 ELSE 0 END AS INTEGER) AS comment_keep
    FROM sig
    """,
)
def code_comment_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comment-density signals (functions/code.py, the StarCoder
    comment-ratio filter re-stated line-marker-heuristically): comment
    line/char counts, docstring presence, and the integer-percent keep
    bounds. Pure Column exprs — per-file map work in the scan stage;
    the ratio rule is exact integer cross-products, so the gate surface
    is bit-stable. Semantics are oracled on a planted corpus in
    tests/test_code.py."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    sig = docs.select(
        "doc_id",
        C.comment_line_count(c).alias("n_comment_lines"),
        C.comment_char_count(c).alias("n_comment_chars"),
        C.has_docstring(c).alias("has_docstring"),
        F.length(c).cast("long").alias("nc"),
    )
    return sig.select(
        "doc_id", "n_comment_lines", "n_comment_chars", "has_docstring",
        C.comment_keep(F.col("n_comment_chars"), F.col("nc")).alias(
            "comment_keep"
        ),
    )


@_register(
    "code_repo_census",
    # Repo keys synthesized as doc_id % 31 (the driver table has no repo
    # column); sha256 hex is byte-identical between Spark's sha2 and
    # DuckDB's sha256 (the gd slots' established pair).
    """
    WITH f AS (
      SELECT doc_id,
             'r' || CAST(doc_id % 31 AS VARCHAR) AS repo,
             sha256(text) AS sha,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                  END AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT sha, COUNT(*) AS n_copies, MIN(doc_id) AS canon
      FROM f GROUP BY sha
    )
    SELECT f.repo,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN c.n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_files,
           CAST(SUM(CASE WHEN f.doc_id = c.canon THEN 1 ELSE 0 END) AS BIGINT)
             AS n_canonical,
           CAST(SUM(f.n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(f.n_tokens) AS BIGINT) AS total_tokens,
           CAST(CASE WHEN 2 * SUM(CASE WHEN c.n_copies > 1 THEN 1 ELSE 0 END)
                      <= COUNT(*) THEN 1 ELSE 0 END AS INTEGER) AS census_keep
    FROM f JOIN c USING (sha)
    GROUP BY f.repo
    """,
)
def code_repo_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-repo content rollup (dedup/repos.py repo_content_census): file
    counts, corpus-wide exact-dup exposure, canonical share, size
    totals, and The-Stack-style whole-repo keep rule. Repo keys are
    synthesized deterministically (doc_id % 31) since the driver table
    carries no repo column; semantics on a planted multi-repo corpus in
    tests/test_code.py."""
    from ..dedup.repos import repo_content_census

    docs = load_table(spark, sf_dir, "documents")
    files = docs.select(
        "doc_id",
        F.concat(F.lit("r"), (F.col("doc_id") % 31).cast("string")).alias("repo"),
        "text",
    )
    return repo_content_census(files)


_CHUNK_CTE = """
    WITH chunk_toks AS (
      SELECT doc_id,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                  END AS BIGINT) AS n
      FROM documents
    ), chunk_rows AS (
      SELECT doc_id, n,
             unnest(generate_series(0,
                    GREATEST(CAST(floor((n - 128 + 96 - 1) / 96.0) AS BIGINT),
                             0))) AS chunk_id
      FROM chunk_toks WHERE n > 0
    )
"""


@_register(
    "text_chunk_census",
    _CHUNK_CTE
    + """
    , census AS (
      SELECT doc_id,
             COUNT(*) AS n_chunks,
             SUM(LEAST(128, n - chunk_id * 96)) AS cov,
             max_by(LEAST(128, n - chunk_id * 96), chunk_id) AS last_len
      FROM chunk_rows GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(c.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(COALESCE(c.cov, 0) AS BIGINT) AS chunk_cov_tokens,
           CAST(COALESCE(c.last_len, 0) AS BIGINT) AS last_chunk_len
    FROM documents d LEFT JOIN census c ON d.doc_id = c.doc_id
    """,
)
def text_chunk_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc chunking rollup over pack.chunk_windows: window count,
    covered tokens (n_tokens + overlap double-count), short-tail
    length. One exchange on doc_id; every doc gets a row."""
    from .pack import chunk_census

    docs = load_table(spark, sf_dir, "documents")
    return chunk_census(docs)


from .zorder import zorder_census_oracle_sql as _zc_oracle  # noqa: E402


@_register(
    "code_zorder_census",
    # Dims: content length x doc_id — the (size, id-range) pair a corpus
    # scan slices on. Same generator builds both dialects (zorder.py), so
    # the Morton keys are bit-identical by construction.
    _zc_oracle(
        "SELECT CAST(length(text) AS BIGINT) AS x0,"
        " CAST(doc_id AS BIGINT) AS x1 FROM documents"
    ),
)
def code_zorder_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout quality census (functions/zorder.py):
    quantize (n_chars, doc_id) to 16-bit, interleave into a Morton key,
    cut into 64 z-range slabs (the file boundaries `zorder_layout`'s
    range-partitioned write would produce) and report each slab's
    per-dimension bounding box + volume — the multi-column data-skipping
    metric behind Delta/Iceberg OPTIMIZE ZORDER. Exact integer math in
    both engines; the actual write path (`zorder_layout`) is plan- and
    file-stats-tested in tests/test_zorder.py."""
    from .zorder import zorder_census

    docs = load_table(spark, sf_dir, "documents")
    pts = docs.select(
        F.length("text").cast("long").alias("x0"),
        F.col("doc_id").cast("long").alias("x1"),
    )
    return zorder_census(pts, ["x0", "x1"], n_buckets=64)


@_register(
    "text_bm25_matches",
    # Probe set = first 6 tokens of docs 0..7 (the ANN slots' self-probe
    # convention). Every output column is an exact BIGINT, so the gate is
    # hash-exact; the float BM25 score is a deterministic scalar function
    # of exactly these integers (+ N, sum_dl) and is bit-oracled in
    # tests/test_bm25.py instead (ln() is not bit-portable across engines).
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> length(x) > 0) AS w
      FROM documents
    ), posts AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(w) AS term FROM toks) u
      GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM posts GROUP BY term
    ), dl AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks
    ), q AS (
      SELECT DISTINCT doc_id AS query_id, term
      FROM (SELECT doc_id, unnest(list_slice(w, 1, 6)) AS term
            FROM toks WHERE doc_id < 8) s
    )
    SELECT q.query_id, p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_match_terms,
           CAST(SUM(p.tf) AS BIGINT) AS sum_tf,
           CAST(SUM(d.df) AS BIGINT) AS sum_df,
           CAST(MIN(l.dl) AS BIGINT) AS dl
    FROM q
    JOIN posts p ON p.term = q.term
    JOIN dfreq d ON d.term = q.term
    JOIN dl l ON l.doc_id = p.doc_id
    GROUP BY q.query_id, p.doc_id
    """,
)
def text_bm25_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval match surface (functions/bm25.py): per (query, doc)
    the exact-integer inputs of the BM25 score — distinct matched terms,
    tf/df sums, doc length — for the 8-doc x 6-term self-probe set.
    Postings are built once (one term-partitioned shuffle), the probe
    terms broadcast; no corpus-side re-shuffle. The score/ranking twin
    is text_bm25_topk."""
    from .bm25 import bm25_match_stats, probe_queries

    docs = load_table(spark, sf_dir, "documents")
    return bm25_match_stats(docs, probe_queries(docs, n_queries=8, n_terms=6))


@_register("text_bm25_topk", None)  # float ln() score -> bit-oracled in pytest
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 per probe query (functions/bm25.py): Robertson-
    Zaragoza scoring with contributions folded in sorted term order so
    the double score is bit-stable under any partitioning. No SQL
    oracle: JVM Math.log and DuckDB ln() differ by 1 ulp on ~3% of
    arguments (measured), so the score is bit-oracled against a numpy
    refold of the JVM's own ln values in tests/test_bm25.py, and the
    integer match surface is hash-exact via text_bm25_matches."""
    from .bm25 import bm25_topk, probe_queries

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, probe_queries(docs, n_queries=8, n_terms=6), k=5)


from .graph import triangle_oracle_sql as _triangle_oracle_sql  # noqa: E402


@_register("graph_triangle_census", _triangle_oracle_sql())
def graph_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-node triangle counts (functions/graph.py) over the
    bounded same-order-date customer graph — the degree-orientation
    wedge-join census (Suri & Vassilvitskii 2011). Counts are exact
    integers, so the slot is LIVE-oracled: the DuckDB twin recounts the
    SAME triangle set via an id-order 3-way join."""
    from .graph import codate_customer_edges, triangle_census

    edges = codate_customer_edges(load_table(spark, sf_dir, "orders"))
    return triangle_census(edges).orderBy("node")
