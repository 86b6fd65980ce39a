"""Driver-checkable gates for the source readers (full registry)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import scratch_dir


def q_iceberg_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-table semantics end-to-end inside one query.

    Builds a two-snapshot table from `documents` (snapshot 1 = doc_id %
    3 != 0, snapshot 2 appends the rest), then reads it three ways —
    time travel to snapshot 1 (code 1), current (code 2), incremental
    scan of exactly the appended files (code 3) — and summarizes each
    read as (n_rows, sum of doc_id). The DuckDB oracle states the same
    three summaries straight off the parquet table, so a hash-exact
    match proves commit/manifest/hint plumbing routes precisely the
    right files to each read mode (sources/icetable.py).
    """
    from .icetable import append, create_table, incremental_scan, read_table

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    root = os.path.join(scratch_dir("gd_ice"), "docs_table")
    s1 = create_table(spark, root, docs.filter(F.col("doc_id") % 3 != 0))
    append(spark, root, docs.filter(F.col("doc_id") % 3 == 0))

    def summarize(df: DataFrame, code: int) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_rows"), F.sum("doc_id").alias("sum_ids")
        ).select(F.lit(code).cast("long").alias("read_kind"), "n_rows", "sum_ids")

    return (
        summarize(read_table(spark, root, snapshot_id=s1), 1)
        .unionByName(summarize(read_table(spark, root), 2))
        .unionByName(summarize(incremental_scan(spark, root, from_snapshot_id=s1), 3))
        .orderBy("read_kind")
    )


# read codes: 1 = as-of snapshot 1, 2 = current, 3 = incremental (1, 2]
_ICE_ORACLE = """
SELECT CAST(1 AS BIGINT) AS read_kind, COUNT(*) AS n_rows,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents WHERE doc_id % 3 <> 0
UNION ALL
SELECT CAST(2 AS BIGINT), COUNT(*), CAST(SUM(doc_id) AS BIGINT) FROM documents
UNION ALL
SELECT CAST(3 AS BIGINT), COUNT(*), CAST(SUM(doc_id) AS BIGINT)
FROM documents WHERE doc_id % 3 = 0
ORDER BY read_kind
"""

SOURCE_QUERIES = {"iceberg_time_travel": q_iceberg_time_travel}
SOURCE_ORACLES = {"iceberg_time_travel": _ICE_ORACLE}


def q_iceberg_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff across an OVERWRITE commit.

    Snapshot 1 holds doc_id % 3 != 0; snapshot 2 overwrites with
    doc_id % 5 != 0, upper-casing text where doc_id % 7 == 0 — so every
    change kind (added / removed / modified / unchanged) is planted with
    a closed-form membership rule the DuckDB oracle restates directly.
    Summarizes the diff as (change_kind, n_rows, sum_ids); codes
    1=added 2=removed 3=modified 4=unchanged."""
    from .icetable import create_table, overwrite, snapshot_diff

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    root = os.path.join(scratch_dir("gd_icediff"), "docs_table")
    s1 = create_table(spark, root, docs.filter(F.col("doc_id") % 3 != 0))
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.upper("text")).otherwise(
            F.col("text")
        ),
    )
    overwrite(spark, root, new)
    diff = snapshot_diff(spark, root, from_snapshot_id=s1)
    code = (
        F.when(F.col("change") == "added", 1)
        .when(F.col("change") == "removed", 2)
        .when(F.col("change") == "modified", 3)
        .otherwise(4)
        .cast("long")
    )
    return (
        diff.groupBy(code.alias("change_kind"))
        .agg(F.count("*").alias("n_rows"), F.sum("doc_id").alias("sum_ids"))
        .orderBy("change_kind")
    )


# membership rules: added = in new only (%3=0, %5<>0); removed = in old
# only (%3<>0, %5=0); modified = both sides with %7=0 text flip AND a
# non-empty text to flip (upper('') = ''); unchanged = the rest of both
_ICE_DIFF_ORACLE = """
SELECT CAST(1 AS BIGINT) AS change_kind, COUNT(*) AS n_rows,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents WHERE doc_id % 3 = 0 AND doc_id % 5 <> 0
UNION ALL
SELECT CAST(2 AS BIGINT), COUNT(*), CAST(SUM(doc_id) AS BIGINT)
FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0
UNION ALL
SELECT CAST(3 AS BIGINT), COUNT(*), CAST(SUM(doc_id) AS BIGINT)
FROM documents
WHERE doc_id % 3 <> 0 AND doc_id % 5 <> 0 AND doc_id % 7 = 0
  AND upper(text) <> text
UNION ALL
SELECT CAST(4 AS BIGINT), COUNT(*), CAST(SUM(doc_id) AS BIGINT)
FROM documents
WHERE doc_id % 3 <> 0 AND doc_id % 5 <> 0
  AND NOT (doc_id % 7 = 0 AND upper(text) <> text)
ORDER BY change_kind
"""

SOURCE_QUERIES["iceberg_snapshot_diff"] = q_iceberg_snapshot_diff
SOURCE_ORACLES["iceberg_snapshot_diff"] = _ICE_DIFF_ORACLE


def q_iceberg_pruned_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-pruned reads end-to-end inside one query.

    Builds a stat+bloom snapshot table from `documents` (8 key-ranged
    files; per-file min/max on doc_id/n_chars, Bloom filters on the
    content sha), then reads it three ways — manifest-pruned range scan
    on n_chars (code 1), Bloom point-lookup of doc 7's content sha
    (code 2), and a compound range scan on both stat dims (code 3) —
    summarizing each as (n_rows, sum of doc_id). The DuckDB oracle
    states the same summaries as plain filters over the parquet table,
    so a hash-exact match proves the driver-side file pruning loses no
    rows and the residual filters restore exact semantics
    (sources/icetable.py scan_table / point_lookup).
    """
    from .icetable import create_table, point_lookup, scan_table

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    keyed = docs.select(
        "doc_id", "n_chars", F.sha2(F.col("text"), 256).alias("sha")
    )
    root = os.path.join(scratch_dir("gd_icepr"), "docs_table")
    create_table(
        spark, root, keyed.repartitionByRange(8, "doc_id"),
        stat_cols=["doc_id", "n_chars"], bloom_cols=["sha"],
    )
    target_sha = keyed.filter(F.col("doc_id") == 7).collect()[0].sha

    def summarize(df: DataFrame, code: int) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_rows"), F.sum("doc_id").alias("sum_ids")
        ).select(F.lit(code).cast("long").alias("read_kind"), "n_rows", "sum_ids")

    return (
        summarize(scan_table(spark, root, {"n_chars": (100, 500)}), 1)
        .unionByName(summarize(point_lookup(spark, root, "sha", target_sha), 2))
        .unionByName(summarize(
            scan_table(spark, root, {"doc_id": (50, 199), "n_chars": (None, 800)}), 3
        ))
        .orderBy("read_kind")
    )


# read codes: 1 = range scan on n_chars, 2 = bloom point-lookup by sha,
# 3 = compound range scan (doc_id x n_chars, half-open upper)
_ICE_PRUNED_ORACLE = """
SELECT CAST(1 AS BIGINT) AS read_kind, COUNT(*) AS n_rows,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents WHERE n_chars BETWEEN 100 AND 500
UNION ALL
SELECT CAST(2 AS BIGINT), COUNT(*), CAST(SUM(doc_id) AS BIGINT)
FROM documents
WHERE sha256(text) = (SELECT sha256(text) FROM documents WHERE doc_id = 7)
UNION ALL
SELECT CAST(3 AS BIGINT), COUNT(*), CAST(SUM(doc_id) AS BIGINT)
FROM documents WHERE doc_id BETWEEN 50 AND 199 AND n_chars <= 800
ORDER BY read_kind
"""

SOURCE_QUERIES["iceberg_pruned_reads"] = q_iceberg_pruned_reads
SOURCE_ORACLES["iceberg_pruned_reads"] = _ICE_PRUNED_ORACLE


_META_FIXTURE_DIR = "/tmp/gd_meta_fixture"


def q_meta_segments_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """meta_segments over a parquet warehouse, LIVE-oracled by DuckDB.

    Writes the deterministic two-table fixture warehouse (multi-file,
    uneven row groups, nulls, nested list column, dictionary-off file,
    two codecs — sources/meta.py write_meta_fixture), then runs the
    DISTRIBUTED footer scan (mapInPandas over the file list; no data
    pages read). The oracle is DuckDB's own ``parquet_metadata()`` over
    the same files, so every reported field — encodings, codec, value
    and null censuses, compressed/uncompressed byte spans — is checked
    against an independent engine's reading of the same footers
    (reference surface: meta_segments_table.cpp:9-21).
    """
    from .meta import parquet_segments, write_meta_fixture

    write_meta_fixture(_META_FIXTURE_DIR)
    return parquet_segments(spark, _META_FIXTURE_DIR).orderBy(
        "table_name", "file_name", "chunk_id", "column_id"
    )


_META_SEGMENTS_ORACLE = f"""
SELECT regexp_extract(file_name, '.*/([^/]+)/[^/]+$', 1) AS table_name,
       regexp_extract(file_name, '([^/]+)$', 1) AS file_name,
       CAST(row_group_id AS INT) AS chunk_id,
       CAST(column_id AS INT) AS column_id,
       replace(path_in_schema, ', ', '.') AS column_name,
       type AS column_data_type,
       array_to_string(list_sort(list_distinct(string_split(encodings, ', '))), ',')
         AS encoding_type,
       compression,
       num_values,
       stats_null_count AS null_count,
       total_compressed_size AS size_in_bytes,
       total_uncompressed_size AS uncompressed_size_in_bytes,
       row_group_num_rows AS row_count
FROM parquet_metadata('{_META_FIXTURE_DIR}/*/*.parquet')
ORDER BY table_name, file_name, chunk_id, column_id
"""


def q_meta_tables_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """meta_tables over the same fixture warehouse (meta_tables_table
    .cpp:8-12): per-table column/row/chunk/file censuses aggregated from
    the distributed footer scan, with DuckDB aggregating its own
    ``parquet_metadata()`` as the oracle."""
    from .meta import parquet_tables, write_meta_fixture

    write_meta_fixture(_META_FIXTURE_DIR)
    return parquet_tables(spark, _META_FIXTURE_DIR)


_META_TABLES_ORACLE = f"""
WITH md AS (
  SELECT regexp_extract(file_name, '.*/([^/]+)/[^/]+$', 1) AS table_name,
         file_name, row_group_id, row_group_num_rows, column_id
  FROM parquet_metadata('{_META_FIXTURE_DIR}/*/*.parquet')
), rg AS (
  SELECT DISTINCT table_name, file_name, row_group_id, row_group_num_rows FROM md
), cols AS (
  SELECT table_name, CAST(MAX(column_id) + 1 AS INT) AS column_count
  FROM md GROUP BY table_name
)
SELECT rg.table_name,
       cols.column_count,
       CAST(SUM(rg.row_group_num_rows) AS BIGINT) AS row_count,
       CAST(COUNT(*) AS INT) AS chunk_count,
       CAST(COUNT(DISTINCT rg.file_name) AS INT) AS file_count,
       CAST(MAX(rg.row_group_num_rows) AS BIGINT) AS max_chunk_size
FROM rg JOIN cols ON rg.table_name = cols.table_name
GROUP BY rg.table_name, cols.column_count
ORDER BY rg.table_name
"""


# --- binary meta fixture: deterministic literals, three chunks, every
# encoded-writer family + sort descriptors in the chunk headers ---------
_BMETA_A = [None if i % 7 == 0 else ["aa", "bb", "cc"][i % 3] for i in range(20)]
_BMETA_B = [1, 1, 2, 3, 5, 8, 9, 9, 4, 2, 2, 7, 1, 0, 3, 3, 5, 5, 5, 5]
_BMETA_C = [i * 1000000007 % 97 for i in range(20)]
_BMETA_D = [i / 4 for i in range(20)]
_BMETA_ENCODINGS = [
    ["dictionary", "frameofreference", "runlength", "unencoded"],
    ["fixedstringdictionary", "dictionary", "dictionary", "runlength"],
    ["unencoded", "runlength", "dictionary", "dictionary"],
]
# chunk 0 is genuinely ascending in column 1; chunk 2 is constant in
# column 1 (Descending holds) and ascending in column 3
_BMETA_SORTS = [[(1, 0)], [], [(1, 1), (3, 0)]]


def _write_bmeta_fixture(path: str) -> None:
    from .binary import write_binary

    write_binary(
        path,
        names=["a", "b", "c", "d"],
        types=["string", "int", "long", "double"],
        nullables=[True, True, True, True],
        columns=[_BMETA_A, _BMETA_B, _BMETA_C, _BMETA_D],
        chunk_size=8,
        encodings=_BMETA_ENCODINGS,
        sorted_by=_BMETA_SORTS,
    )


def q_meta_segments_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """meta_segments_accurate over a reference-format .bin table: exact
    per-segment byte spans (reconciled to the file size inside
    scan_binary_meta), reference encoding / vector-compression names,
    and non-null distinct counts (segment_meta_data.cpp:12-90). The
    fixture drives every encoded-writer family across three chunks; the
    oracle transcribes the expected rows, each independently re-derivable
    from the byte-level layout documented in sources/binary.py (the
    advisor's closed-form formulas reproduce every size —
    tests/test_meta.py pins that)."""
    from .meta import meta_segments_binary

    path = os.path.join(scratch_dir("gd_bmeta"), "fixture.bin")
    _write_bmeta_fixture(path)
    return meta_segments_binary(spark, {"fixture": path}).orderBy(
        "chunk_id", "column_id"
    )


_META_BINARY_ORACLE = """
SELECT * FROM (VALUES
  ('fixture', 0, 0, 'a', 'string', CAST(3 AS BIGINT), 'Dictionary', 'FixedWidthInteger1Byte', CAST(44 AS BIGINT)),
  ('fixture', 0, 1, 'b', 'int', CAST(6 AS BIGINT), 'FrameOfReference', 'FixedWidthInteger1Byte', CAST(19 AS BIGINT)),
  ('fixture', 0, 2, 'c', 'long', CAST(8 AS BIGINT), 'RunLength', NULL, CAST(109 AS BIGINT)),
  ('fixture', 0, 3, 'd', 'double', CAST(8 AS BIGINT), 'Unencoded', NULL, CAST(66 AS BIGINT)),
  ('fixture', 1, 0, 'a', 'string', CAST(3 AS BIGINT), 'FixedStringDictionary', 'FixedWidthInteger1Byte', CAST(24 AS BIGINT)),
  ('fixture', 1, 1, 'b', 'int', CAST(6 AS BIGINT), 'Dictionary', 'FixedWidthInteger1Byte', CAST(38 AS BIGINT)),
  ('fixture', 1, 2, 'c', 'long', CAST(8 AS BIGINT), 'Dictionary', 'FixedWidthInteger1Byte', CAST(78 AS BIGINT)),
  ('fixture', 1, 3, 'd', 'double', CAST(8 AS BIGINT), 'RunLength', NULL, CAST(109 AS BIGINT)),
  ('fixture', 2, 0, 'a', 'string', CAST(3 AS BIGINT), 'Unencoded', NULL, CAST(42 AS BIGINT)),
  ('fixture', 2, 1, 'b', 'int', CAST(1 AS BIGINT), 'RunLength', NULL, CAST(14 AS BIGINT)),
  ('fixture', 2, 2, 'c', 'long', CAST(4 AS BIGINT), 'Dictionary', 'FixedWidthInteger1Byte', CAST(42 AS BIGINT)),
  ('fixture', 2, 3, 'd', 'double', CAST(4 AS BIGINT), 'Dictionary', 'FixedWidthInteger1Byte', CAST(42 AS BIGINT))
) AS t(table_name, chunk_id, column_id, column_name, column_data_type,
       distinct_value_count, encoding_type, vector_compression_type,
       size_in_bytes)
ORDER BY chunk_id, column_id
"""


def q_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ChunkEncoder's encoding choice as a LIVE-oracled query.

    Runs the encoding advisor (sources/advisor.py) over `documents`
    chunked by doc_id (256 rows/chunk) on a long, a string, and an int32
    column: for every (chunk, column) the EXACT encoded byte size every
    applicable binary-format encoding would produce, plus the advisor's
    pick. The DuckDB oracle replays the closed-form integer size
    formulas from the same statistics (lag-window run counts with the
    writer's NULL-merge rule, distinct censuses, value ranges), so the
    whole decision surface is hash-checked at any scale factor; the
    formulas themselves are pinned byte-for-byte against the real
    writers in tests/test_advisor.py.
    """
    from .advisor import _FOR_BLOCK, advise_encodings

    # The registered DuckDB oracle states the FrameOfReference range as
    # whole-chunk MAX-MIN; the Spark advisor (like the writer, and its
    # multi-block pytest pins) uses per-_FOR_BLOCK ranges. They coincide
    # only while the chunk fits in one FoR block — assert the invariant
    # so a future chunk-size bump cannot diverge the gate spuriously
    # (ADVICE r5). The advisor itself supports larger chunks.
    chunk_size = 256
    assert chunk_size <= _FOR_BLOCK, "oracle assumes single-FoR-block chunks"
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "lang", F.col("n_chars").cast("int").alias("n_chars_i")
    )
    return advise_encodings(
        docs, "doc_id", chunk_size,
        {"doc_id": "long", "lang": "string", "n_chars_i": "int"},
    ).orderBy("chunk_id", "column_name", "encoding")


_ADVISOR_ORACLE = """
WITH base AS (
  SELECT doc_id, lang, CAST(n_chars AS INTEGER) AS n_chars_i,
         CAST(FLOOR(doc_id / 256) AS BIGINT) AS chunk_id
  FROM documents
), lagged AS (
  SELECT chunk_id, doc_id, lang, n_chars_i,
    CASE WHEN ROW_NUMBER() OVER w = 1 THEN 1
         WHEN (doc_id IS NULL) <> (LAG(doc_id) OVER w IS NULL) THEN 1
         WHEN doc_id IS NOT NULL AND doc_id IS DISTINCT FROM LAG(doc_id) OVER w THEN 1
         ELSE 0 END AS new_doc_id,
    CASE WHEN ROW_NUMBER() OVER w = 1 THEN 1
         WHEN (lang IS NULL) <> (LAG(lang) OVER w IS NULL) THEN 1
         WHEN lang IS NOT NULL AND lang IS DISTINCT FROM LAG(lang) OVER w THEN 1
         ELSE 0 END AS new_lang,
    CASE WHEN ROW_NUMBER() OVER w = 1 THEN 1
         WHEN (n_chars_i IS NULL) <> (LAG(n_chars_i) OVER w IS NULL) THEN 1
         WHEN n_chars_i IS NOT NULL AND n_chars_i IS DISTINCT FROM LAG(n_chars_i) OVER w THEN 1
         ELSE 0 END AS new_nci
  FROM base WINDOW w AS (PARTITION BY chunk_id ORDER BY doc_id)
), stats AS (
  SELECT chunk_id, COUNT(*) AS n,
    SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS did_nulls,
    COUNT(DISTINCT doc_id) AS did_distinct,
    SUM(new_doc_id) AS did_runs,
    SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS lang_nulls,
    COUNT(DISTINCT lang) AS lang_distinct,
    SUM(new_lang) AS lang_runs,
    COALESCE(SUM(strlen(lang)), 0) AS lang_bytes,
    COALESCE(SUM(CASE WHEN new_lang = 1 AND lang IS NOT NULL
                      THEN strlen(lang) END), 0) AS lang_runbytes,
    SUM(CASE WHEN n_chars_i IS NULL THEN 1 ELSE 0 END) AS nci_nulls,
    COUNT(DISTINCT n_chars_i) AS nci_distinct,
    SUM(new_nci) AS nci_runs,
    COALESCE(MAX(n_chars_i) - MIN(n_chars_i), 0) AS nci_range
  FROM lagged GROUP BY chunk_id
), lang_dist AS (
  SELECT chunk_id, SUM(strlen(v)) AS lang_bytes_distinct,
         MAX(strlen(v)) AS lang_maxlen
  FROM (SELECT DISTINCT chunk_id, lang AS v FROM base WHERE lang IS NOT NULL)
  GROUP BY chunk_id
), full_stats AS (
  SELECT stats.*, COALESCE(lang_bytes_distinct, 0) AS lang_bytes_distinct,
         COALESCE(lang_maxlen, 0) AS lang_maxlen
  FROM stats LEFT JOIN lang_dist USING (chunk_id)
), sizes AS (
  SELECT chunk_id, 'doc_id' AS column_name, 'Unencoded' AS encoding,
         1 + 1 + CASE WHEN did_nulls > 0 THEN n ELSE 0 END + 8 * n AS size_in_bytes
  FROM full_stats
  UNION ALL
  SELECT chunk_id, 'doc_id', 'Dictionary',
         6 + 8 * did_distinct
           + (CASE WHEN did_distinct <= 255 THEN 1
                   WHEN did_distinct <= 65535 THEN 2 ELSE 4 END) * n
  FROM full_stats
  UNION ALL
  SELECT chunk_id, 'doc_id', 'RunLength', 5 + 8 * did_runs + did_runs + 4 * did_runs
  FROM full_stats
  UNION ALL
  SELECT chunk_id, 'lang', 'Unencoded',
         1 + 1 + CASE WHEN lang_nulls > 0 THEN n ELSE 0 END + 8 * n + lang_bytes
  FROM full_stats
  UNION ALL
  SELECT chunk_id, 'lang', 'Dictionary',
         6 + 8 * lang_distinct + lang_bytes_distinct
           + (CASE WHEN lang_distinct <= 255 THEN 1
                   WHEN lang_distinct <= 65535 THEN 2 ELSE 4 END) * n
  FROM full_stats
  UNION ALL
  SELECT chunk_id, 'lang', 'RunLength',
         5 + 8 * lang_runs + lang_runbytes + lang_runs + 4 * lang_runs
  FROM full_stats
  UNION ALL
  SELECT chunk_id, 'lang', 'FixedStringDictionary',
         10 + lang_maxlen * lang_distinct
            + (CASE WHEN lang_distinct <= 255 THEN 1
                    WHEN lang_distinct <= 65535 THEN 2 ELSE 4 END) * n
  FROM full_stats
  UNION ALL
  SELECT chunk_id, 'n_chars_i', 'Unencoded',
         1 + 1 + CASE WHEN nci_nulls > 0 THEN n ELSE 0 END + 4 * n
  FROM full_stats
  UNION ALL
  SELECT chunk_id, 'n_chars_i', 'Dictionary',
         6 + 4 * nci_distinct
           + (CASE WHEN nci_distinct <= 255 THEN 1
                   WHEN nci_distinct <= 65535 THEN 2 ELSE 4 END) * n
  FROM full_stats
  UNION ALL
  SELECT chunk_id, 'n_chars_i', 'RunLength', 5 + 4 * nci_runs + nci_runs + 4 * nci_runs
  FROM full_stats
  UNION ALL
  SELECT chunk_id, 'n_chars_i', 'FrameOfReference',
         1 + 1 + 4 + 4 * CAST(CEIL(n / 2048.0) AS BIGINT) + 1
           + CASE WHEN nci_nulls > 0 THEN n ELSE 0 END
           + (CASE WHEN nci_range <= 255 THEN 1
                   WHEN nci_range <= 65535 THEN 2 ELSE 4 END) * n
  FROM full_stats
)
SELECT chunk_id, column_name, encoding, CAST(size_in_bytes AS BIGINT) AS size_in_bytes,
       ROW_NUMBER() OVER (
         PARTITION BY chunk_id, column_name
         ORDER BY size_in_bytes,
           CASE encoding WHEN 'Unencoded' THEN 1 WHEN 'Dictionary' THEN 2
                WHEN 'RunLength' THEN 3 WHEN 'FixedStringDictionary' THEN 4
                WHEN 'FrameOfReference' THEN 5 END
       ) = 1 AS chosen
FROM sizes
ORDER BY chunk_id, column_name, encoding
"""

SOURCE_QUERIES["meta_segments_parquet"] = q_meta_segments_parquet
SOURCE_ORACLES["meta_segments_parquet"] = _META_SEGMENTS_ORACLE
SOURCE_QUERIES["meta_tables_parquet"] = q_meta_tables_parquet
SOURCE_ORACLES["meta_tables_parquet"] = _META_TABLES_ORACLE
SOURCE_QUERIES["meta_segments_binary"] = q_meta_segments_binary
SOURCE_ORACLES["meta_segments_binary"] = _META_BINARY_ORACLE
SOURCE_QUERIES["encoding_advisor"] = q_encoding_advisor
SOURCE_ORACLES["encoding_advisor"] = _ADVISOR_ORACLE


_SF_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def q_meta_segments_sfdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench surface: the distributed footer scan over the REAL sf_dir
    warehouse (all ten tables). No static oracle can name the sf-relative
    paths, so this registry entry is bench/pytest-facing only; the
    identical code path is LIVE-oracled on the fixture warehouse
    (meta_segments_parquet) and DuckDB-parity-tested on real testdata
    files in tests/test_meta.py."""
    from .meta import parquet_segments

    return parquet_segments(spark, sf_dir, _SF_TABLES)


SOURCE_QUERIES["meta_segments_sfdir"] = q_meta_segments_sfdir
