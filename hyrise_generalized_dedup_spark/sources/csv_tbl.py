"""Typed-header .tbl / CSV import — reference Import operator parity.

The reference loads `.tbl` fixtures whose first line is pipe-separated
column names and second line pipe-separated types, `<type>[_null]` with
types {int, long, float, double, string}
(reference: src/lib/utils/load_table.cpp; RFC-4180 CSV via
src/lib/import_export/csv/csv_parser.cpp with a JSON meta sidecar).

Spark-native re-expression: the two header lines are parsed driver-side
(a few bytes), then the bulk load is a distributed `spark.read.csv` with
the explicit schema — schema inference never touches the data (the
reference's typed-header philosophy, and the production rule: never
`inferSchema` over 100 TB).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_TYPES = {
    "int": IntegerType(),
    "long": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "string": StringType(),
}


def parse_tbl_header(name_line: str, type_line: str) -> StructType:
    names = [c.strip() for c in name_line.rstrip("\n").split("|")]
    fields = []
    for name, spec in zip(names, type_line.rstrip("\n").split("|")):
        spec = spec.strip()
        nullable = spec.endswith("_null")
        base = spec[:-5] if nullable else spec
        if base not in _TYPES:
            raise ValueError(f"unknown .tbl type {spec!r} for column {name!r}")
        fields.append(StructField(name, _TYPES[base], nullable))
    return StructType(fields)


def read_tbl(spark: SparkSession, path: str) -> DataFrame:
    """Load a reference-style .tbl file as a typed DataFrame.

    The two header lines are dropped POSITIONALLY (line index < 2), exactly
    like the reference's load_table.cpp skips line 2 — never by content
    matching, which would silently drop a legitimate data row whose first
    string column happens to equal a type token (e.g. the value 'string').
    zipWithIndex costs one extra pass; .tbl is a fixture-interchange format,
    bulk data goes through parquet."""
    with open(path) as fh:
        schema = parse_tbl_header(fh.readline(), fh.readline())
    lines = (
        spark.sparkContext.textFile(path)
        .zipWithIndex()
        .filter(lambda t: t[1] >= 2)
        .map(lambda t: (t[0],))
    )
    raw = spark.createDataFrame(lines, "line string")
    ddl = ", ".join(f"`{f.name}` STRING" for f in schema.fields)
    parsed = raw.select(
        F.from_csv(F.col("line"), ddl, {"sep": "|", "nullValue": "null"}).alias("r")
    ).select("r.*")
    return parsed.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def read_csv_meta(spark: SparkSession, path: str) -> DataFrame:
    """Load a CSV with a `<file>.csv.json` sidecar — reference CsvMeta
    parity (src/lib/import_export/csv/csv_meta.hpp: columns[{name, type,
    nullable}] + ParseConfig{separator, quote, escape, rfc_mode}; fixture
    format resources/test_data/csv/*.csv.json).

    The sidecar (a few hundred bytes) is parsed driver-side; the bulk load
    is a distributed `spark.read.csv` with the explicit schema — schema
    inference never touches the data. Unquoted 'null' handling follows the
    reference's NullStringAsNull mode (its other modes are parse-rejection
    policies with no Spark reader analog; documented supersession)."""
    import json as _json

    with open(path + ".json") as fh:
        meta = _json.load(fh)
    cfg = meta.get("config", {})
    fields = [
        StructField(c["name"], _TYPES[c["type"]], bool(c.get("nullable", False)))
        for c in meta["columns"]
    ]
    return spark.read.csv(
        path,
        sep=cfg.get("separator", ","),
        quote=cfg.get("quote", '"'),
        escape=cfg.get("escape", '"'),
        schema=StructType(fields),
        nullValue="null",
        header=False,
        # RFC 4180 (the reference's rfc_mode, csv_parser.hpp:20-21) allows
        # quoted fields to contain embedded record delimiters; Spark only
        # honors that with multiLine (costs file-level split granularity —
        # acceptable for this fixture-interchange format)
        multiLine=bool(cfg.get("rfc_mode", True)),
    )


def write_csv_meta(df: DataFrame, path: str) -> None:
    """Export a DataFrame to CSV + `.csv.json` sidecar (reference Export
    operator's CSV path, csv_writer.cpp + csv_meta.hpp). The CSV body is
    written distributed then coalesced to the single file the reference
    format expects — fixture interchange only, parquet for bulk."""
    import glob
    import json as _json
    import os
    import shutil
    import tempfile

    type_names = {IntegerType(): "int", LongType(): "long", FloatType(): "float",
                  DoubleType(): "double", StringType(): "string"}
    meta = {
        "columns": [
            {"name": f.name, "type": type_names[f.dataType], "nullable": bool(f.nullable)}
            for f in df.schema.fields
        ]
    }
    with open(path + ".json", "w") as fh:
        _json.dump(meta, fh, indent=4, sort_keys=True)
    with tempfile.TemporaryDirectory(prefix="csv_export_") as tmp:
        df.coalesce(1).write.mode("overwrite").csv(tmp, nullValue="null", quote='"', escape='"')
        part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
        shutil.move(part, path)


_TBL_EXPORT_MAX_ROWS = 100_000


def write_tbl(df: DataFrame, path: str) -> None:
    """Export a (small) DataFrame to the .tbl format — the Export-operator
    analog for fixture interchange. Driver-side collect BY DESIGN, hard-
    capped at 100k rows so the fixture path can never be misused as a bulk
    sink (use parquet / write_csv_meta for bulk)."""
    capped = df.limit(_TBL_EXPORT_MAX_ROWS + 1).collect()
    if len(capped) > _TBL_EXPORT_MAX_ROWS:
        raise ValueError(
            f".tbl export is a fixture format (> {_TBL_EXPORT_MAX_ROWS} rows); "
            "use df.write.parquet or write_csv_meta for bulk data"
        )
    type_names = {IntegerType(): "int", LongType(): "long", FloatType(): "float",
                  DoubleType(): "double", StringType(): "string"}
    header = "|".join(f.name for f in df.schema.fields)
    types = "|".join(
        type_names[f.dataType] + ("_null" if f.nullable else "") for f in df.schema.fields
    )
    with open(path, "w") as fh:
        fh.write(header + "\n" + types + "\n")
        for row in capped:
            fh.write("|".join("null" if v is None else str(v) for v in row) + "\n")
