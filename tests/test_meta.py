"""Meta-tables introspection (sources/meta.py).

Oracles: DuckDB's parquet_metadata() over the SAME files for the parquet
backend (an independent engine reading the same footers), physical file
size reconciliation + the binary writers themselves for the .bin
backend, and the reference's column sets (src/lib/utils/meta_tables/)
for the surface shape.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from hyrise_generalized_dedup_spark.sources import binary as B
from hyrise_generalized_dedup_spark.sources import meta as M

TABLES = ["region", "nation", "customer", "documents", "embeddings"]


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("meta_warehouse"))
    M.write_meta_fixture(root)
    return root


@pytest.fixture(scope="module")
def bin_path(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("meta_bin") / "t.bin")
    B.write_binary(
        path,
        names=["s", "i", "l"],
        types=["string", "int", "long"],
        nullables=[True, False, True],
        columns=[
            [None if i % 5 == 0 else f"v{i % 4}" for i in range(30)],
            [i % 9 for i in range(30)],
            [None if i % 13 == 0 else i * 31 for i in range(30)],
        ],
        chunk_size=12,
        encodings=[
            ["dictionary", "frameofreference", "runlength"],
            ["fixedstringdictionary", "unencoded", "dictionary"],
            ["runlength", "dictionary", "unencoded"],
        ],
        sorted_by=[[(1, 0)], [], [(2, 1)]],
    )
    return path


# --- parquet backend vs DuckDB parquet_metadata -------------------------


def test_parquet_segments_match_duckdb_on_fixture(spark, fixture_dir):
    segs = (
        M.parquet_segments(spark, fixture_dir)
        .orderBy("table_name", "file_name", "chunk_id", "column_id")
        .toPandas()
    )
    ora = duckdb.sql(
        f"""
        SELECT regexp_extract(file_name, '.*/([^/]+)/[^/]+$', 1) AS table_name,
               regexp_extract(file_name, '([^/]+)$', 1) AS file_name,
               CAST(row_group_id AS INT) AS chunk_id,
               CAST(column_id AS INT) AS column_id,
               replace(path_in_schema, ', ', '.') AS column_name,
               type AS column_data_type,
               array_to_string(list_sort(list_distinct(string_split(encodings, ', '))), ',') AS encoding_type,
               compression, num_values, stats_null_count AS null_count,
               total_compressed_size AS size_in_bytes,
               total_uncompressed_size AS uncompressed_size_in_bytes,
               row_group_num_rows AS row_count
        FROM parquet_metadata('{fixture_dir}/*/*.parquet')
        ORDER BY table_name, file_name, chunk_id, column_id
        """
    ).df()
    assert len(segs) == len(ora) > 0
    for col in segs.columns:
        assert segs[col].fillna(-1).astype(str).tolist() == ora[col].fillna(-1).astype(
            str
        ).tolist(), f"column {col} diverges from DuckDB's footer reading"


def test_parquet_segments_match_duckdb_on_real_testdata(spark, sf_tiny):
    """The same parity on the driver's real parquet tables."""
    segs = (
        M.parquet_segments(spark, sf_tiny, TABLES)
        .orderBy("table_name", "chunk_id", "column_id")
        .toPandas()
    )
    paths = [f"{sf_tiny}/{t}.parquet" for t in TABLES]
    ora = duckdb.sql(
        f"""
        SELECT num_values, stats_null_count, total_compressed_size,
               total_uncompressed_size,
               replace(path_in_schema, ', ', '.') AS column_name
        FROM parquet_metadata({paths!r})
        ORDER BY regexp_extract(file_name, '([^/]+)\\.parquet$', 1),
                 row_group_id, column_id
        """
    ).df()
    assert segs["num_values"].tolist() == ora["num_values"].tolist()
    assert segs["size_in_bytes"].tolist() == ora["total_compressed_size"].tolist()
    assert segs["column_name"].tolist() == ora["column_name"].tolist()


def test_parquet_tables_and_chunks(spark, fixture_dir):
    tables = {
        r["table_name"]: r
        for r in M.parquet_tables(spark, fixture_dir).collect()
    }
    assert set(tables) == {"alpha", "beta"}
    alpha, beta = tables["alpha"], tables["beta"]
    assert alpha["row_count"] == 1000 and alpha["file_count"] == 2
    # a0: 700 rows @300 -> 300/300/100; a1: 300 rows @200 -> 200/100
    assert alpha["chunk_count"] == 5 and alpha["max_chunk_size"] == 300
    assert alpha["column_count"] == 4
    assert beta["row_count"] == 400 and beta["chunk_count"] == 3
    chunks = M.parquet_chunks(spark, fixture_dir).collect()
    assert [r["row_count"] for r in chunks if r["table_name"] == "alpha"] == [
        300, 300, 100, 200, 100,
    ]


def test_parquet_columns_schema_surface(spark, fixture_dir):
    cols = M.parquet_columns(spark, fixture_dir).collect()
    alpha = [(r["column_name"], r["data_type"]) for r in cols if r["table_name"] == "alpha"]
    assert alpha == [
        ("id", "bigint"), ("vi", "int"), ("x", "double"), ("name", "string"),
    ]


def test_parquet_segments_plan_is_map_only(spark, fixture_dir):
    """The footer scan must not shuffle: file list -> mapInPandas only."""
    plan = M.parquet_segments(spark, fixture_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan


# --- binary backend -----------------------------------------------------


def test_binary_meta_sizes_reconcile_to_file(bin_path):
    """scan_binary_meta self-checks header + framing + segment spans ==
    file size; assert the walk returns and the spans match a re-encode."""
    meta = M.scan_binary_meta(bin_path)
    assert meta.file_bytes == os.path.getsize(bin_path)
    assert meta.row_count == 30 and meta.chunk_row_counts == [12, 12, 6]
    # per-segment spans equal the writer's actual encodings re-run
    cols = {
        "s": [None if i % 5 == 0 else f"v{i % 4}" for i in range(30)],
        "i": [i % 9 for i in range(30)],
        "l": [None if i % 13 == 0 else i * 31 for i in range(30)],
    }
    types = {"s": "string", "i": "int", "l": "long"}
    nullable = {"s": True, "i": False, "l": True}
    enc_fn = {
        "Unencoded": lambda v, t, c: B._encode_unencoded_segment(v, t, nullable[c]),
        "Dictionary": lambda v, t, c: B._encode_dictionary_segment(v, t, "fixed"),
        "RunLength": lambda v, t, c: B._encode_runlength_segment(v, t),
        "FixedStringDictionary": lambda v, t, c: B._encode_dictionary_segment(
            v, t, "fixed", fixed_string=True
        ),
        "FrameOfReference": lambda v, t, c: B._encode_for_segment(v, t, "fixed"),
    }
    bounds = [(0, 12), (12, 24), (24, 30)]
    for seg in meta.segments:
        name = seg.column_name
        lo, hi = bounds[seg.chunk_id]
        vals = cols[name][lo:hi]
        expect = len(enc_fn[seg.encoding_type](vals, types[name], name))
        assert seg.size_in_bytes == expect, (seg.chunk_id, name, seg.encoding_type)
        assert seg.distinct_value_count == len({v for v in vals if v is not None})


def test_binary_meta_encoding_and_cv_names(bin_path):
    meta = M.scan_binary_meta(bin_path)
    by = {(s.chunk_id, s.column_name): s for s in meta.segments}
    assert by[(0, "s")].encoding_type == "Dictionary"
    assert by[(0, "i")].encoding_type == "FrameOfReference"
    assert by[(0, "i")].vector_compression_type == "FixedWidthInteger1Byte"
    assert by[(1, "s")].encoding_type == "FixedStringDictionary"
    assert by[(0, "l")].encoding_type == "RunLength"
    assert by[(0, "l")].vector_compression_type is None
    assert by[(1, "i")].encoding_type == "Unencoded"


def test_binary_sort_orders_roundtrip(spark, bin_path):
    rows = M.meta_chunk_sort_orders_binary(spark, {"t": bin_path}).collect()
    assert [(r["chunk_id"], r["column_id"], r["order_mode"]) for r in rows] == [
        (0, 1, "Ascending"),
        (2, 2, "Descending"),
    ]


def test_binary_meta_tables_surface(spark, bin_path):
    row = M.meta_tables_binary(spark, {"t": bin_path}).collect()[0]
    assert row["column_count"] == 3 and row["row_count"] == 30
    assert row["chunk_count"] == 3 and row["target_chunk_size"] == 12


def test_binary_sorted_by_reader_writer_roundtrip(tmp_path):
    """The new sorted_by writer parameter round-trips through the parser."""
    path = str(tmp_path / "s.bin")
    B.write_binary(
        path, ["a"], ["int"], [False], [[3, 2, 1]], chunk_size=2,
        sorted_by=[[(0, 1)], []],
    )
    t = B.read_binary(path)
    assert t.sorted_by == [[(0, 1)], []]
    assert t.columns[0] == [3, 2, 1]


def test_binary_sorted_by_length_mismatch_raises(tmp_path):
    with pytest.raises(ValueError, match="sorted_by"):
        B.write_binary(
            str(tmp_path / "x.bin"), ["a"], ["int"], [False], [[1, 2, 3]],
            chunk_size=2, sorted_by=[[(0, 0)]],
        )


def test_meta_settings_and_system_information(spark):
    s = M.meta_settings(spark)
    assert [f.name for f in s.schema.fields] == ["name", "value", "description"]
    names = [r["name"] for r in s.collect()]
    assert "spark.master" in names and names == sorted(names)
    info = M.meta_system_information(spark).collect()[0]
    assert info["cpu_count"] >= 1 and info["jvm_max_memory_bytes"] > 0
    assert info["master"].startswith("local")


def test_write_binary_auto_picks_min_and_roundtrips(spark, tmp_path):
    """encodings='auto' picks the byte-minimal segment per (chunk,
    column) — never larger than any fixed whole-table choice — and the
    data round-trips."""
    cols = {
        "s": [None if i % 6 == 0 else f"v{i % 3}" for i in range(40)],
        "vi": [10_000_000 + (i % 5) for i in range(40)],
        "vl": [i * 10**9 for i in range(40)],
    }
    names, types = ["s", "vi", "vl"], ["string", "int", "long"]
    nullables = [True, False, False]
    values = [cols["s"], cols["vi"], cols["vl"]]

    def size_of(enc):
        path = str(tmp_path / f"{enc}.bin")
        B.write_binary(path, names, types, nullables, values, chunk_size=16,
                       encodings=enc)
        return os.path.getsize(path)

    auto = size_of("auto")
    for fixed in ["unencoded", "dictionary", "runlength"]:
        assert auto <= size_of(fixed), fixed
    back = B.read_binary(str(tmp_path / "auto.bin"))
    assert back.columns[0] == cols["s"] and back.columns[1] == cols["vi"]
    # auto's per-segment choices match the advisor's chosen encodings
    meta = M.scan_binary_meta(str(tmp_path / "auto.bin"))
    from hyrise_generalized_dedup_spark.sources.advisor import advise_encodings

    df = spark.createDataFrame(
        list(zip(range(40), cols["s"], cols["vi"], cols["vl"])),
        "rid bigint, s string, vi int, vl bigint",
    )
    adv = advise_encodings(
        df, "rid", 16, {"s": "string", "vi": "int", "vl": "long"},
        nullable={"s": True, "vi": False, "vl": False},
    ).toPandas()
    chosen = {
        (int(r.chunk_id), r.column_name): r.encoding
        for r in adv[adv.chosen].itertuples(index=False)
    }
    for seg in meta.segments:
        assert seg.encoding_type == chosen[(seg.chunk_id, seg.column_name)], (
            seg.chunk_id, seg.column_name,
        )
