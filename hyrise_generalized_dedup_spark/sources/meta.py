"""Meta tables — the reference's storage-introspection surface, Spark-first.

The reference exposes its storage layer as queryable system tables
(reference: src/lib/utils/meta_tables/meta_tables_table.cpp:8-12,
meta_columns_table.cpp:8-11, meta_chunks_table.cpp:8-12,
meta_segments_table.cpp:9-21, meta_segments_accurate_table.cpp,
meta_chunk_sort_orders_table.cpp:8-11; row assembly in
segment_meta_data.cpp:12-62): per stored table the column/chunk census,
and per segment its encoding, vector-compression type, and byte size.

Spark-native re-expression — two backends:

* **parquet**: a stored table is a directory of parquet files, a chunk is
  a row group, an encoded segment is a column chunk.  Footers are read
  EXECUTOR-SIDE via ``mapInPandas`` over the file list, so introspecting a
  100k-file table is a map-only scan of ~KB footers — no data pages are
  touched, nothing shuffles, and the scan stays linear at any cluster
  size.  Field mapping (documented divergence from the in-memory
  reference): ``encoding_type`` is the parquet page-encoding set,
  ``vector_compression_type``'s slot is taken by the codec
  (``compression``), and ``size_in_bytes`` is the column chunk's
  on-disk compressed span — the honest storage analog of the
  reference's ``estimated_size_in_bytes`` (access counters are runtime
  state Spark does not keep; they are omitted rather than faked).

* **binary** (.bin): full-fidelity reference surface over the
  reference-format tables of sources/binary.py — encoding names
  ("Unencoded".."LZ4", constant_mappings.cpp:37-42), vector-compression
  names ("FixedWidthInteger{1,2,4}Byte"/"BitPacking",
  constant_mappings.cpp:85-105), EXACT per-segment byte spans measured
  while walking the file, per-segment distinct counts (the accurate
  variant, segment_meta_data.cpp:64-90 — non-null distinct, which is
  what the dictionary fast path counts), and per-chunk sort orders
  ("Ascending"/"Descending", types.hpp:221) from the format's sort
  descriptors.  Like the reader it wraps, this is a driver-side
  fixture-scale artifact; the bulk path is parquet.

Verified three ways (tests/test_meta.py): binary segment sizes reconcile
to the physical file size byte-for-byte, parquet footer rows match
DuckDB's ``parquet_metadata()`` on the same files, and the driver gate
(sources/queries.py meta_segments_parquet) LIVE-oracles the footer scan
against DuckDB over a fixture this module writes at query time.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .binary import (
    CV_BITPACKING,
    CV_FIXED1,
    CV_FIXED2,
    CV_FIXED4,
    ENC_DICTIONARY,
    ENC_FIXEDSTRINGDICT,
    ENC_FRAMEOFREF,
    ENC_LZ4,
    ENC_RUNLENGTH,
    ENC_UNENCODED,
    _decode_segment,
    _Reader,
)

# EncodingType -> display string (reference constant_mappings.cpp:37-42)
_ENC_NAMES = {
    ENC_UNENCODED: "Unencoded",
    ENC_DICTIONARY: "Dictionary",
    ENC_RUNLENGTH: "RunLength",
    ENC_FIXEDSTRINGDICT: "FixedStringDictionary",
    ENC_FRAMEOFREF: "FrameOfReference",
    ENC_LZ4: "LZ4",
}
# CompressedVectorType -> display string (constant_mappings.cpp:85-105)
_CV_NAMES = {
    CV_BITPACKING: "BitPacking",
    CV_FIXED1: "FixedWidthInteger1Byte",
    CV_FIXED2: "FixedWidthInteger2Byte",
    CV_FIXED4: "FixedWidthInteger4Byte",
}
# SortMode : i32 in the chunk header (types.hpp:221, binary_writer.cpp:140-143)
_SORT_MODES = {0: "Ascending", 1: "Descending"}

# Encodings whose layout starts with a compressed-vector-type byte
# (binary_parser.cpp:192, 256 — Dictionary/FixedStringDictionary/FoR).
_CV_ENCODINGS = {ENC_DICTIONARY, ENC_FIXEDSTRINGDICT, ENC_FRAMEOFREF}


@dataclass
class BinarySegmentMeta:
    chunk_id: int
    column_id: int
    column_name: str
    column_data_type: str
    encoding_type: str
    vector_compression_type: str | None
    size_in_bytes: int  # exact on-disk span of the encoded segment
    distinct_value_count: int  # non-null distinct (segment_meta_data.cpp:64-77)
    row_count: int


@dataclass
class BinaryTableMeta:
    """Everything the meta tables need from one .bin file, in one walk."""

    table_name: str
    column_names: list[str]
    column_types: list[str]
    column_nullables: list[bool]
    target_chunk_size: int
    header_bytes: int
    file_bytes: int
    chunk_row_counts: list[int] = field(default_factory=list)
    # per chunk: [(column_id, "Ascending"|"Descending")]
    sort_orders: list[list[tuple[int, str]]] = field(default_factory=list)
    segments: list[BinarySegmentMeta] = field(default_factory=list)

    @property
    def row_count(self) -> int:
        return sum(self.chunk_row_counts)


def scan_binary_meta(path: str, table_name: str | None = None) -> BinaryTableMeta:
    """Walk a reference-format .bin table recording, per segment, the
    exact byte span, encoding / vector-compression names, and the
    non-null distinct count.  Reuses the parser's segment decoders so the
    reported spans are the spans the real reader consumes — the sum of
    all segment spans plus the header/chunk framing equals the file size
    (asserted here and in tests)."""
    with open(path, "rb") as fh:
        buf = fh.read()
    reader = _Reader(buf)
    target_chunk_size = reader.u32()
    chunk_count = reader.u32()
    column_count = reader.u16()
    types = reader.strings(column_count)
    nullables = list(reader.bools(column_count))
    names = reader.strings(column_count)
    meta = BinaryTableMeta(
        table_name=table_name or os.path.splitext(os.path.basename(path))[0],
        column_names=names,
        column_types=types,
        column_nullables=[bool(x) for x in nullables],
        target_chunk_size=target_chunk_size,
        header_bytes=reader.pos,
        file_bytes=len(buf),
    )
    framing = 0
    for chunk_id in range(chunk_count):
        p0 = reader.pos
        n = reader.u32()
        num_sorted = reader.u32()
        meta.sort_orders.append(
            [
                (cid, _SORT_MODES.get(mode, str(mode)))
                for cid, mode in ((reader.u16(), reader.i32()) for _ in range(num_sorted))
            ]
        )
        meta.chunk_row_counts.append(n)
        framing += reader.pos - p0
        for ci in range(column_count):
            s0 = reader.pos
            values = _decode_segment(reader, types[ci], meta.column_nullables[ci], n)
            enc = buf[s0]
            cv = None
            if enc in _CV_ENCODINGS:
                cv = _CV_NAMES[buf[s0 + 1]]
            meta.segments.append(
                BinarySegmentMeta(
                    chunk_id=chunk_id,
                    column_id=ci,
                    column_name=names[ci],
                    column_data_type=types[ci],
                    encoding_type=_ENC_NAMES[enc],
                    vector_compression_type=cv,
                    size_in_bytes=reader.pos - s0,
                    distinct_value_count=len({v for v in values if v is not None}),
                    row_count=n,
                )
            )
    spans = sum(s.size_in_bytes for s in meta.segments)
    if meta.header_bytes + framing + spans != meta.file_bytes:
        raise ValueError(
            f"binary meta walk lost bytes: header {meta.header_bytes} + framing "
            f"{framing} + segments {spans} != file {meta.file_bytes}"
        )
    return meta


_BIN_SEGMENTS_SCHEMA = StructType(
    [
        StructField("table_name", StringType(), False),
        StructField("chunk_id", IntegerType(), False),
        StructField("column_id", IntegerType(), False),
        StructField("column_name", StringType(), False),
        StructField("column_data_type", StringType(), False),
        StructField("distinct_value_count", LongType(), False),
        StructField("encoding_type", StringType(), True),
        StructField("vector_compression_type", StringType(), True),
        StructField("size_in_bytes", LongType(), False),
    ]
)


def meta_segments_binary(spark: SparkSession, paths: dict[str, str]) -> DataFrame:
    """meta_segments_accurate over .bin tables (meta_segments_accurate_
    table.cpp column set, minus runtime access counters)."""
    rows = []
    for name, path in sorted(paths.items()):
        meta = scan_binary_meta(path, name)
        rows.extend(
            (
                name,
                s.chunk_id,
                s.column_id,
                s.column_name,
                s.column_data_type,
                s.distinct_value_count,
                s.encoding_type,
                s.vector_compression_type,
                s.size_in_bytes,
            )
            for s in meta.segments
        )
    return spark.createDataFrame(rows, _BIN_SEGMENTS_SCHEMA)


def meta_chunk_sort_orders_binary(spark: SparkSession, paths: dict[str, str]) -> DataFrame:
    """meta_chunk_sort_orders (meta_chunk_sort_orders_table.cpp:8-11):
    one row per individually-sorted chunk column."""
    schema = "table_name string, chunk_id int, column_id int, order_mode string"
    rows = []
    for name, path in sorted(paths.items()):
        meta = scan_binary_meta(path, name)
        for chunk_id, orders in enumerate(meta.sort_orders):
            rows.extend((name, chunk_id, cid, mode) for cid, mode in orders)
    return spark.createDataFrame(rows, schema)


def meta_tables_binary(spark: SparkSession, paths: dict[str, str]) -> DataFrame:
    """meta_tables (meta_tables_table.cpp:8-12)."""
    schema = (
        "table_name string, column_count int, row_count bigint, "
        "chunk_count int, target_chunk_size bigint"
    )
    rows = []
    for name, path in sorted(paths.items()):
        meta = scan_binary_meta(path, name)
        rows.append(
            (
                name,
                len(meta.column_names),
                meta.row_count,
                len(meta.chunk_row_counts),
                meta.target_chunk_size,
            )
        )
    return spark.createDataFrame(rows, schema)


# --- parquet backend -----------------------------------------------------

_PQ_SEGMENTS_SCHEMA = StructType(
    [
        StructField("table_name", StringType(), False),
        StructField("file_name", StringType(), False),
        StructField("chunk_id", IntegerType(), False),
        StructField("column_id", IntegerType(), False),
        StructField("column_name", StringType(), False),
        StructField("column_data_type", StringType(), False),
        StructField("encoding_type", StringType(), False),
        StructField("compression", StringType(), False),
        StructField("num_values", LongType(), False),
        StructField("null_count", LongType(), True),
        StructField("size_in_bytes", LongType(), False),
        StructField("uncompressed_size_in_bytes", LongType(), False),
        StructField("row_count", LongType(), False),
    ]
)


def _list_parquet_files(root: str, tables: list[str] | None) -> list[tuple[str, str]]:
    """(table_name, absolute file path) pairs.  ``root`` may be a
    directory of ``<table>.parquet`` files (the testdata layout) and/or
    ``<table>/`` directories of part files (the warehouse layout)."""
    out: list[tuple[str, str]] = []
    names = tables if tables is not None else sorted(os.listdir(root))
    for name in names:
        base = os.path.join(root, name)
        single = base if name.endswith(".parquet") else base + ".parquet"
        if os.path.isfile(single):
            out.append((name.removesuffix(".parquet"), os.path.abspath(single)))
        elif os.path.isdir(base):
            for fn in sorted(os.listdir(base)):
                if fn.endswith(".parquet"):
                    out.append((name, os.path.abspath(os.path.join(base, fn))))
    return out


def parquet_segments(
    spark: SparkSession, root: str, tables: list[str] | None = None
) -> DataFrame:
    """meta_segments over a parquet warehouse: one row per
    (file, row group, column chunk), read executor-side from footers.
    ``encoding_type`` is the sorted-unique comma-joined page-encoding
    set, canonicalized so any engine reading the same footer produces
    the identical string (DuckDB parity: tests/test_meta.py)."""
    files = _list_parquet_files(root, tables)
    if not files:
        return spark.createDataFrame([], _PQ_SEGMENTS_SCHEMA)
    # one footer per task at fixture scale; at warehouse scale Spark packs
    # many (table, path) rows per task — either way the work is map-only
    files_df = spark.createDataFrame(files, "table_name string, path string").repartition(
        min(len(files), spark.sparkContext.defaultParallelism)
    )

    def scan(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        cols = [f.name for f in _PQ_SEGMENTS_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for table_name, path in zip(pdf["table_name"], pdf["path"]):
                md = pq.ParquetFile(path).metadata
                fname = os.path.basename(path)
                for rg in range(md.num_row_groups):
                    group = md.row_group(rg)
                    for ci in range(group.num_columns):
                        col = group.column(ci)
                        stats = col.statistics
                        null_count = (
                            stats.null_count
                            if stats is not None and stats.has_null_count
                            else None
                        )
                        rows.append(
                            (
                                table_name,
                                fname,
                                rg,
                                ci,
                                col.path_in_schema,
                                col.physical_type,
                                ",".join(sorted(set(col.encodings))),
                                col.compression,
                                col.num_values,
                                null_count,
                                col.total_compressed_size,
                                col.total_uncompressed_size,
                                group.num_rows,
                            )
                        )
            yield pd.DataFrame(rows, columns=cols)

    return files_df.mapInPandas(scan, _PQ_SEGMENTS_SCHEMA)


def parquet_chunks(
    spark: SparkSession, root: str, tables: list[str] | None = None
) -> DataFrame:
    """meta_chunks (meta_chunks_table.cpp:8-12): one row per row group.
    The MVCC columns (invalid_row_count, cleanup_commit_id) do not exist
    in this engine (SURVEY §2.11 out-of-scope) and are omitted."""
    segs = parquet_segments(spark, root, tables)
    return (
        segs.select("table_name", "file_name", "chunk_id", "row_count")
        .distinct()
        .orderBy("table_name", "file_name", "chunk_id")
    )


def parquet_tables(
    spark: SparkSession, root: str, tables: list[str] | None = None
) -> DataFrame:
    """meta_tables over a parquet warehouse.  ``target_chunk_size`` (a
    write-side configuration in the reference) has no stored analog in a
    parquet footer; the observable twin — the largest row-group row
    count — is reported as ``max_chunk_size`` instead."""
    import pyspark.sql.functions as F

    segs = parquet_segments(spark, root, tables)
    chunks = segs.select("table_name", "file_name", "chunk_id", "row_count").distinct()
    per_table_cols = segs.groupBy("table_name").agg(
        (F.max("column_id") + 1).alias("column_count")
    )
    per_table = chunks.groupBy("table_name").agg(
        F.sum("row_count").alias("row_count"),
        F.count("*").alias("chunk_count"),
        F.countDistinct("file_name").alias("file_count"),
        F.max("row_count").alias("max_chunk_size"),
    )
    return (
        per_table.join(per_table_cols, "table_name")
        .select(
            "table_name",
            F.col("column_count").cast("int"),
            "row_count",
            F.col("chunk_count").cast("int"),
            F.col("file_count").cast("int"),
            "max_chunk_size",
        )
        .orderBy("table_name")
    )


def write_meta_fixture(root: str) -> None:
    """Deterministic two-table parquet warehouse for the meta-table
    driver gate.  Content is a pure function of nothing (fixed formulas),
    so a stale tree from an earlier run is footer-identical to a fresh
    one — the gate's DuckDB ``parquet_metadata()`` oracle reads the same
    files the Spark footer scan reads, whichever ran first.  The layout
    exercises multi-file tables, uneven row groups, nulls, a nested list
    column (path canonicalization), dictionary-off files, and two
    codecs (snappy / uncompressed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    alpha_dir = os.path.join(root, "alpha")
    beta_dir = os.path.join(root, "beta")
    os.makedirs(alpha_dir, exist_ok=True)
    os.makedirs(beta_dir, exist_ok=True)

    def alpha_rows(lo: int, hi: int) -> pa.Table:
        ids = list(range(lo, hi))
        return pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "vi": pa.array([(i * 7) % 50 for i in ids], pa.int32()),
                "x": pa.array([i / 8 for i in ids], pa.float64()),
                "name": pa.array(
                    [None if i % 11 == 0 else f"n{i % 13}" for i in ids], pa.string()
                ),
            }
        )

    pq.write_table(
        alpha_rows(0, 700),
        os.path.join(alpha_dir, "a0.parquet"),
        row_group_size=300,
        compression="snappy",
    )
    pq.write_table(
        alpha_rows(700, 1000),
        os.path.join(alpha_dir, "a1.parquet"),
        row_group_size=200,
        compression="none",
        use_dictionary=False,
    )
    vec_ids = list(range(400))
    beta = pa.table(
        {
            "vec_id": pa.array(vec_ids, pa.int64()),
            "emb": pa.array(
                [[float(i), float(i % 5), float((i * 3) % 7)] for i in vec_ids],
                pa.list_(pa.float32()),
            ),
            "tag": pa.array([f"t{i % 4}" for i in vec_ids], pa.string()),
        }
    )
    pq.write_table(
        beta, os.path.join(beta_dir, "b0.parquet"), row_group_size=150,
        compression="snappy",
    )


def meta_settings(spark: SparkSession) -> DataFrame:
    """meta_settings (meta_settings_table.cpp:8-11): the engine's
    configuration surface as a queryable table — here, the live Spark
    conf (the Spark-native analog of the reference's setting registry).
    Values are session state, so this surface is pytest-shape-checked,
    not value-oracled."""
    rows = sorted((k, v) for k, v in spark.sparkContext.getConf().getAll())
    return spark.createDataFrame(
        [(k, v, "") for k, v in rows], "name string, value string, description string"
    )


def meta_system_information(spark: SparkSession) -> DataFrame:
    """meta_system_information (meta_system_information_table.cpp:17-19:
    cpu_count / ram / hostname): the driver-visible execution substrate —
    default parallelism, executor census from the status tracker, and
    JVM max memory."""
    sc = spark.sparkContext
    jvm_max = int(sc._jvm.java.lang.Runtime.getRuntime().maxMemory())
    n_exec = len(sc._jsc.sc().statusTracker().getExecutorInfos())
    return spark.createDataFrame(
        [(sc.defaultParallelism, n_exec, jvm_max, sc.master)],
        "cpu_count int, executor_count int, jvm_max_memory_bytes bigint, master string",
    )


def parquet_columns(
    spark: SparkSession, root: str, tables: list[str] | None = None
) -> DataFrame:
    """meta_columns (meta_columns_table.cpp:8-11): Spark-visible schema
    per table — name, data type, nullability."""
    files = _list_parquet_files(root, tables)
    seen: dict[str, str] = {}
    rows = []
    for table_name, path in files:
        if table_name in seen:
            continue
        seen[table_name] = path
        schema = spark.read.parquet(path).schema
        rows.extend(
            (table_name, ci, f.name, f.dataType.simpleString(), bool(f.nullable))
            for ci, f in enumerate(schema.fields)
        )
    return spark.createDataFrame(
        rows,
        "table_name string, column_id int, column_name string, "
        "data_type string, nullable boolean",
    )
