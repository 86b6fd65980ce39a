"""Snapshot-versioned table source with Iceberg-style semantics.

The north rule targets "Iceberg tables of source-code repositories":
a table whose data lives as immutable parquet files and whose *state*
(which files are live) is a chain of snapshot manifests, so readers get

- **time travel** — read the table as of any committed snapshot,
- **incremental scans** — read ONLY the rows appended between two
  snapshots (the feed for incremental dedup: no diff join, no shuffle,
  the manifest itself tells you which files are new), and
- **atomic commits** — a half-written snapshot is invisible because the
  version hint flips last.

This module implements those semantics (the part the engine needs) over
JSON manifests rather than the Iceberg binary Avro format — the
container has no Avro codec, and the *contract* (manifest-listed
immutable data files + last-wins version pointer, per the public Apache
Iceberg table spec, https://iceberg.apache.org/spec/) is what the
pipeline depends on, not the wire encoding. Data files are ordinary
Spark parquet, so column pruning / predicate pushdown / partition
coalescing are exactly what `spark.read.parquet` gives — the manifest
layer only decides WHICH files to hand to the scan.

All metadata I/O goes through :mod:`..fsutil` (Hadoop FileSystem API),
so a table root may be POSIX, ``file://``, ``hdfs://``, or ``s3a://`` —
same reach as the checkpoint layer. Reference analog: the reference
resolves all table storage through one import/export seam
(`src/lib/import_export/`, `src/lib/storage/table.hpp`); this is that
seam for versioned corpora.

Layout under ``<root>/``::

    metadata/version-hint.text     current metadata version N (written last)
    metadata/v{N}.metadata.json    snapshot log + current snapshot id
    metadata/snap-{id}.json        manifest: live data files at that snapshot
    data/s{snapshot_id}/part-*.parquet   immutable data written by that commit

Snapshot ids are sequential (1, 2, ...) and commits are deterministic —
no wall clock, no UUIDs — so goldens and incremental bit-equality tests
can pin exact table states. Single-writer discipline is assumed (the
pipeline driver is the only committer), matching how the dedup
checkpoint tree is owned.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import fsutil

_HINT = "metadata/version-hint.text"


class SnapshotError(ValueError):
    """Unknown snapshot id / invalid incremental range / no table."""


# ---------------------------------------------------------------------------
# metadata plumbing


def _meta_path(root: str, version: int) -> str:
    return fsutil.urljoin(root, f"metadata/v{version}.metadata.json")


def _manifest_path(root: str, snapshot_id: int) -> str:
    return fsutil.urljoin(root, f"metadata/snap-{snapshot_id}.json")


def _current_version(spark: SparkSession, root: str) -> int:
    hint = fsutil.urljoin(root, _HINT)
    if not fsutil.exists(spark, hint):
        raise SnapshotError(f"no snapshot table at {root} (missing {_HINT})")
    return int(fsutil.read_text(spark, hint).strip())


def _read_metadata(spark: SparkSession, root: str) -> dict:
    return json.loads(
        fsutil.read_text(spark, _meta_path(root, _current_version(spark, root)))
    )


def _read_manifest(spark: SparkSession, root: str, snapshot_id: int) -> dict:
    path = _manifest_path(root, snapshot_id)
    if not fsutil.exists(spark, path):
        raise SnapshotError(f"snapshot {snapshot_id} has no manifest at {path}")
    return json.loads(fsutil.read_text(spark, path))


def _merge_schema(prior: dict | None, df_schema) -> dict:
    """Additive schema evolution (the Iceberg spec's add-column case):
    the table schema is the prior columns, in order, plus any new
    columns ``df`` introduces, appended. Dropping columns is not a write
    side effect (a committed column stays in the table schema; writers
    that omit it produce NULLs on read), and changing a committed
    column's type is refused — the spec's promotion lattice is out of
    scope, and a silent type flip would corrupt every older file."""
    new_json = json.loads(df_schema.json())
    if prior is None:
        return new_json
    prior_by_name = {f["name"]: f for f in prior["fields"]}
    merged = list(prior["fields"])
    for f in new_json["fields"]:
        old = prior_by_name.get(f["name"])
        if old is None:
            merged.append(f)
        elif old["type"] != f["type"]:
            raise SnapshotError(
                f"schema evolution cannot change column '{f['name']}' "
                f"from {old['type']} to {f['type']}"
            )
    return {**prior, "fields": merged}


_STATABLE = ("byte", "short", "int", "bigint", "float", "double", "string",
             "boolean", "date")


def _validate_stat_cols(df: DataFrame, stat_cols: list[str]) -> None:
    for c in stat_cols:
        if c not in df.columns:
            raise SnapshotError(f"stat column '{c}' not in table columns")
        t = df.schema[c].dataType.simpleString()
        if t not in _STATABLE:
            raise SnapshotError(
                f"stat column '{c}' has type {t}; manifest stats support "
                f"{_STATABLE} (JSON-representable orderable scalars)"
            )


def _file_stats(spark: SparkSession, data_dir: str,
                stat_cols: list[str]) -> dict[str, dict]:
    """Per-file min/max of ``stat_cols`` over a just-written data dir —
    the Iceberg manifest's lower_bounds/upper_bounds. One map-side agg
    over ONLY the new files (never a table scan), paid once per commit
    so every future scan can prune at the manifest level."""
    import datetime

    def _j(v):
        return v.isoformat() if isinstance(v, datetime.date) else v

    aggs = []
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"__lo_{c}"))
        aggs.append(F.max(c).alias(f"__hi_{c}"))
    rows = (
        spark.read.parquet(data_dir)
        .groupBy(F.input_file_name().alias("__f"))
        .agg(*aggs)
        .collect()
    )
    return {
        r["__f"].rsplit("/", 1)[-1]: {
            c: [_j(r[f"__lo_{c}"]), _j(r[f"__hi_{c}"])] for c in stat_cols
        }
        for r in rows
    }


_BLOOMABLE = ("byte", "short", "int", "bigint", "string")
BLOOM_BITS_PER_VALUE = 16
BLOOM_K_HASHES = 4
BLOOM_MAX_BYTES = 64 * 1024  # per file per column; clamping only raises FP rate


def _validate_bloom_cols(df: DataFrame, bloom_cols: list[str]) -> None:
    for c in bloom_cols:
        if c not in df.columns:
            raise SnapshotError(f"bloom column '{c}' not in table columns")
        t = df.schema[c].dataType.simpleString()
        if t not in _BLOOMABLE:
            raise SnapshotError(
                f"bloom column '{c}' has type {t}; manifest blooms support "
                f"{_BLOOMABLE} (hashed via their string rendering)"
            )


def _file_blooms(spark: SparkSession, data_dir: str,
                 bloom_cols: list[str]) -> dict[str, dict]:
    """Per-file Bloom filters of ``bloom_cols`` over a just-written data
    dir — equality-lookup skipping where min/max ranges are useless
    (uniformly distributed keys like content hashes overlap on every
    file). Values are hashed via CAST(col AS STRING) so a driver-side
    literal reproduces the probe exactly; bits are built per file by an
    Arrow grouped kernel (reusing the decontamination bloom's
    Kirsch-Mitzenmacher construction) and stored base64 in the manifest.
    Production Iceberg keeps these in sidecar files; JSON manifests cap
    each filter at BLOOM_MAX_BYTES — clamping m only raises the false-
    positive rate, never produces a false negative."""
    import base64

    import pandas as pd

    from ..functions.bloom import _hash_cols, build_bloom_bits

    out: dict[str, dict] = {}
    df = spark.read.parquet(data_dir)
    for c in bloom_cols:
        h1, h2 = _hash_cols(F.col(c).cast("string"))
        hashed = (
            df.select(F.input_file_name().alias("__f"),
                      h1.alias("h1"), h2.alias("h2"))
            .dropDuplicates(["__f", "h1", "h2"])
        )

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            n = max(len(pdf), 1)
            target_m = min(n * BLOOM_BITS_PER_VALUE, BLOOM_MAX_BYTES * 8)
            # build_bloom_bits sizes m = n * bits_per_gram; the probe must
            # use the SAME m it returns (modulo arithmetic), never len*8
            packed, m = build_bloom_bits(
                pdf["h1"].to_numpy(np.int64), pdf["h2"].to_numpy(np.int64),
                max(target_m // n, 1), BLOOM_K_HASHES,
            )
            return pd.DataFrame(
                {"__f": [pdf["__f"].iloc[0]], "bloom": [packed], "m": [m]}
            )

        rows = hashed.groupBy("__f").applyInPandas(
            build, "__f string, bloom binary, m long"
        ).collect()
        for r in rows:
            out.setdefault(r["__f"].rsplit("/", 1)[-1], {})[c] = {
                "b64": base64.b64encode(bytes(r["bloom"])).decode("ascii"),
                "m": int(r["m"]),
                "k": BLOOM_K_HASHES,
            }
    return out


def _commit(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    operation: str,
    prior_files: list[dict],
    stat_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Write ``df`` as a new snapshot's data files and flip the hint.

    Commit order is the crash-safety argument: (1) parquet data,
    (2) snapshot manifest, (3) new metadata json, (4) version hint.
    A failure before (4) leaves the table readable at the prior
    version; data/metadata written by the dead commit are unreferenced
    garbage, never a corrupt state.
    """
    meta = (
        _read_metadata(spark, root)
        if fsutil.exists(spark, fsutil.urljoin(root, _HINT))
        else {"format_version": 1, "current_snapshot_id": 0, "snapshots": []}
    )
    schema = _merge_schema(meta.get("current_schema"), df.schema)
    # once live files were written under an older schema, readers of this
    # snapshot must schema-merge footers; an overwrite (no carried files)
    # resets the table to single-schema reads
    mixed = bool(prior_files) and (
        bool(meta.get("mixed_schema")) or schema != meta.get("current_schema")
    )
    # stat_cols is table config: set at create (or the first commit that
    # passes it) — validated strictly there; inherited by every later
    # commit, where a writer may legitimately omit an evolved column
    # (its files then carry no stats for it and are never pruned on it)
    if stat_cols is not None:
        _validate_stat_cols(df, stat_cols)
    cols = stat_cols if stat_cols is not None else meta.get("stat_cols")
    present = [c for c in (cols or []) if c in df.columns]
    if present and stat_cols is None:
        _validate_stat_cols(df, present)
    if bloom_cols is not None:
        _validate_bloom_cols(df, bloom_cols)
    bcols = bloom_cols if bloom_cols is not None else meta.get("bloom_cols")
    bpresent = [c for c in (bcols or []) if c in df.columns]
    if bpresent and bloom_cols is None:
        _validate_bloom_cols(df, bpresent)
    # allocate past every id ever assigned, not current+1: after a
    # rollback the current snapshot is older than the newest committed
    # one, and reusing its successor id would collide with a live
    # manifest/data dir (last_assigned_snapshot_id is absent on tables
    # written before rollback existed — current is the max there)
    snap_id = (
        max(
            int(meta["current_snapshot_id"]),
            int(meta.get("last_assigned_snapshot_id", 0)),
            max((int(s["snapshot_id"]) for s in meta["snapshots"]), default=0),
        )
        + 1
    )
    data_dir = fsutil.urljoin(root, f"data/s{snap_id}")
    df.write.mode("error").parquet(data_dir)
    stats = _file_stats(spark, data_dir, present) if present else {}
    blooms = _file_blooms(spark, data_dir, bpresent) if bpresent else {}
    added = [
        {
            "path": f"data/s{snap_id}/{name}",
            "status": "added",
            "added_snapshot_id": snap_id,
            "bytes": size,
            **({"stats": stats[name]} if name in stats else {}),
            **({"bloom": blooms[name]} if name in blooms else {}),
        }
        for name, size in fsutil.list_files(spark, data_dir)
        if name.endswith(".parquet")
    ]
    existing = [
        {**f, "status": "existing"} for f in prior_files
    ]
    manifest = {
        "snapshot_id": snap_id,
        "operation": operation,
        "files": existing + added,
        "schema": schema,
        "mixed_schema": mixed,
    }
    fsutil.write_text(
        spark, _manifest_path(root, snap_id), json.dumps(manifest, indent=1)
    )
    meta["current_snapshot_id"] = snap_id
    meta["last_assigned_snapshot_id"] = snap_id
    meta["current_schema"] = schema
    meta["mixed_schema"] = mixed
    if cols:
        meta["stat_cols"] = list(cols)
    if bcols:
        meta["bloom_cols"] = list(bcols)
    meta["snapshots"] = list(meta["snapshots"]) + [
        {"snapshot_id": snap_id, "operation": operation, "n_files_added": len(added)}
    ]
    _write_metadata(spark, root, meta)
    return snap_id


def _write_metadata(spark: SparkSession, root: str, meta: dict) -> int:
    """Persist ``meta`` as the next metadata version and flip the hint.

    Version numbers are MONOTONE (prior hint + 1), never derived from
    the snapshot-log length: after an expiry shrinks the log, a
    length-derived number would collide with (and overwrite) an older
    metadata file and move the hint backwards."""
    hint = fsutil.urljoin(root, _HINT)
    version = (_current_version(spark, root) + 1) if fsutil.exists(spark, hint) else 1
    fsutil.write_text(spark, _meta_path(root, version), json.dumps(meta, indent=1))
    fsutil.write_text(spark, hint, str(version))
    return version


# ---------------------------------------------------------------------------
# public write API


def create_table(spark: SparkSession, root: str, df: DataFrame,
                 stat_cols: list[str] | None = None,
                 bloom_cols: list[str] | None = None) -> int:
    """Create a snapshot table at ``root`` from ``df`` (snapshot 1).

    ``stat_cols`` opts the table into manifest file statistics: every
    commit records per-file min/max of these columns in its manifest,
    and :func:`scan_table` prunes files against them driver-side before
    Spark ever lists them. ``bloom_cols`` does the same for equality
    lookups (:func:`point_lookup`) via per-file Bloom filters — the
    skipping tool for uniformly-distributed keys (content hashes) whose
    min/max ranges overlap on every file. Both inherited by later
    commits."""
    if fsutil.exists(spark, fsutil.urljoin(root, _HINT)):
        raise SnapshotError(f"table already exists at {root}")
    return _commit(spark, root, df, "append", prior_files=[],
                   stat_cols=stat_cols, bloom_cols=bloom_cols)


def append(spark: SparkSession, root: str, df: DataFrame) -> int:
    """Commit ``df`` as new data files; prior files stay live."""
    meta = _read_metadata(spark, root)
    prior = _read_manifest(spark, root, int(meta["current_snapshot_id"]))["files"]
    return _commit(spark, root, df, "append", prior_files=prior)


def overwrite(spark: SparkSession, root: str, df: DataFrame) -> int:
    """Commit ``df`` as the table's full new contents (prior files
    dropped from the manifest; their bytes stay for time travel)."""
    _read_metadata(spark, root)  # must exist
    return _commit(spark, root, df, "overwrite", prior_files=[])


# ---------------------------------------------------------------------------
# public read API


def snapshots(spark: SparkSession, root: str) -> list[dict]:
    """The committed snapshot log (id, operation, files added)."""
    return list(_read_metadata(spark, root)["snapshots"])


def current_snapshot_id(spark: SparkSession, root: str) -> int:
    return int(_read_metadata(spark, root)["current_snapshot_id"])


def _manifest_scan(spark: SparkSession, root: str, manifest: dict,
                   paths: list[str] | None = None) -> DataFrame:
    """Scan a manifest's files under its recorded schema.

    Plain single-schema tables stay a bare `spark.read.parquet(*files)`
    (pushdown / pruning / split parallelism all Catalyst's). A manifest
    whose live files span schema versions (``mixed_schema``) reads with
    ``mergeSchema`` — the footer-merge cost is paid ONLY on evolved
    tables, and an overwrite resets it — and every read is projected to
    the snapshot's recorded column list, so columns a file predates come
    back as typed NULLs in stable order."""
    from pyspark.sql.types import StructType

    if paths is None:
        paths = [fsutil.urljoin(root, f["path"]) for f in manifest["files"]]
    reader = spark.read
    if manifest.get("mixed_schema"):
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*paths)
    schema_json = manifest.get("schema")
    if schema_json is not None:
        fields = StructType.fromJson(schema_json)
        df = df.select(*[
            F.col(f.name) if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in fields
        ])
    return df


def table_schema(spark: SparkSession, root: str,
                 snapshot_id: int | None = None):
    """The recorded table schema as of a snapshot (StructType), or None
    for tables written before schema tracking."""
    from pyspark.sql.types import StructType

    meta = _read_metadata(spark, root)
    snap = int(meta["current_snapshot_id"]) if snapshot_id is None else snapshot_id
    schema_json = _read_manifest(spark, root, snap).get("schema")
    return None if schema_json is None else StructType.fromJson(schema_json)


def read_table(
    spark: SparkSession, root: str, snapshot_id: int | str | None = None
) -> DataFrame:
    """The table's rows as of ``snapshot_id`` (default: current), under
    that snapshot's recorded schema (see :func:`_manifest_scan`). A
    string ``snapshot_id`` is resolved as a tag name (release refs,
    :func:`create_tag`)."""
    if isinstance(snapshot_id, str):
        snapshot_id = resolve_ref(spark, root, snapshot_id)
    meta = _read_metadata(spark, root)
    snap = int(meta["current_snapshot_id"]) if snapshot_id is None else snapshot_id
    known = {s["snapshot_id"] for s in meta["snapshots"]}
    if snap not in known:
        raise SnapshotError(f"unknown snapshot {snap}; committed: {sorted(known)}")
    return _manifest_scan(spark, root, _read_manifest(spark, root, snap))


def _file_intersects(entry: dict, bounds: dict) -> bool:
    stats = entry.get("stats") or {}
    for col, (lo, hi) in bounds.items():
        st = stats.get(col)
        if st is None:
            continue  # no stats recorded for this col/file -> must keep
        mn, mx = st
        if mn is None or mx is None:
            continue  # all-NULL file; NULLs never match the residual filter
        if (hi is not None and mn > hi) or (lo is not None and mx < lo):
            return False
    return True


def scan_table(
    spark: SparkSession,
    root: str,
    bounds: dict[str, tuple],
    snapshot_id: int | None = None,
) -> DataFrame:
    """Manifest-pruned range scan: ``bounds`` maps column -> inclusive
    ``(lo, hi)`` (either end may be None for unbounded). Files whose
    recorded min/max provably miss any bound are dropped DRIVER-SIDE
    from the scan — at 10^12-file scale this is the difference between
    Spark listing/planning every file (footer pruning still enumerates
    them) and never seeing the pruned ones at all. The residual filter
    is applied on top, so the result is exactly the filtered table; a
    file without stats is always kept (pruning is sound, never assumed).

    Composes with :func:`..functions.zorder.zorder_layout` /
    ``compact_table(zorder_cols=...)``: a Morton-clustered write is what
    makes per-file bounds tight on several columns at once.
    """
    meta = _read_metadata(spark, root)
    snap = int(meta["current_snapshot_id"]) if snapshot_id is None else snapshot_id
    known = {s["snapshot_id"] for s in meta["snapshots"]}
    if snap not in known:
        raise SnapshotError(f"unknown snapshot {snap}; committed: {sorted(known)}")
    manifest = _read_manifest(spark, root, snap)
    schema_cols = (
        {f["name"] for f in manifest["schema"]["fields"]}
        if manifest.get("schema") else None
    )
    for col in bounds:
        if schema_cols is not None and col not in schema_cols:
            raise SnapshotError(f"unknown scan column '{col}'")
    selected = [
        fsutil.urljoin(root, f["path"])
        for f in manifest["files"]
        if _file_intersects(f, bounds)
    ]
    if not selected:
        base = _manifest_scan(spark, root, manifest).limit(0)
    else:
        base = _manifest_scan(spark, root, manifest, paths=selected)
    for col, (lo, hi) in bounds.items():
        if lo is not None:
            base = base.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            base = base.filter(F.col(col) <= F.lit(hi))
    return base


def point_lookup(
    spark: SparkSession,
    root: str,
    col: str,
    value,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Equality lookup pruned by the manifest's per-file Bloom filters:
    "which rows have ``col == value``" touches only the files whose
    filter admits the value. This is the 10^12-scale answer to "find
    the document with content sha X" — content hashes are uniform, so
    min/max stats never prune them, but a 16-bits-per-key Bloom drops
    ~99.7% of non-containing files per probe. Sound by construction:
    Bloom filters have no false negatives, files without a filter are
    always kept, and the exact equality filter runs on top."""
    import base64

    import numpy as np

    from ..functions.bloom import _bit_indices, _hash_cols

    if value is None:
        raise SnapshotError("point_lookup on NULL is not defined; use scan_table")
    meta = _read_metadata(spark, root)
    snap = int(meta["current_snapshot_id"]) if snapshot_id is None else snapshot_id
    known = {s["snapshot_id"] for s in meta["snapshots"]}
    if snap not in known:
        raise SnapshotError(f"unknown snapshot {snap}; committed: {sorted(known)}")
    manifest = _read_manifest(spark, root, snap)
    schema_cols = (
        {f["name"] for f in manifest["schema"]["fields"]}
        if manifest.get("schema") else None
    )
    if schema_cols is not None and col not in schema_cols:
        raise SnapshotError(f"unknown lookup column '{col}'")

    # probe hashes computed by the SAME JVM xxhash64 the build used
    h1c, h2c = _hash_cols(F.lit(str(value)))
    row = spark.range(1).select(h1c.alias("h1"), h2c.alias("h2")).collect()[0]
    h1 = np.array([row["h1"]], dtype=np.int64)
    h2 = np.array([row["h2"]], dtype=np.int64)

    selected = []
    for f in manifest["files"]:
        bl = (f.get("bloom") or {}).get(col)
        if bl is None:
            selected.append(fsutil.urljoin(root, f["path"]))  # soundness
            continue
        bits = np.unpackbits(
            np.frombuffer(base64.b64decode(bl["b64"]), dtype=np.uint8)
        )
        idx = _bit_indices(h1, h2, int(bl["k"]), int(bl["m"])).ravel()
        if bits[idx].all():
            selected.append(fsutil.urljoin(root, f["path"]))
    if not selected:
        return _manifest_scan(spark, root, manifest).limit(0)
    return _manifest_scan(spark, root, manifest, paths=selected).filter(
        F.col(col) == F.lit(value)
    )


def incremental_scan(
    spark: SparkSession,
    root: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Rows appended in snapshots ``(from, to]`` — file-level, no diff.

    This is the scale path for incremental dedup at 10^12 files: the
    manifest names exactly the files added since the last absorbed
    snapshot, so the "what's new" question costs a driver-side JSON
    read, not a corpus-wide anti-join. Append-only ranges only: if any
    snapshot in the range is an overwrite the file-level diff no longer
    equals the row-level diff, and we refuse (the public Iceberg
    incremental append scan has the same restriction).
    """
    meta = _read_metadata(spark, root)
    to_snap = int(meta["current_snapshot_id"]) if to_snapshot_id is None else to_snapshot_id
    log = {s["snapshot_id"]: s for s in meta["snapshots"]}
    if from_snapshot_id not in log or to_snap not in log:
        raise SnapshotError(
            f"incremental range ({from_snapshot_id}, {to_snap}] not in log "
            f"{sorted(log)}"
        )
    if to_snap < from_snapshot_id:
        raise SnapshotError("to_snapshot must be >= from_snapshot")
    in_range = [s for i, s in log.items() if from_snapshot_id < i <= to_snap]
    bad = [s["snapshot_id"] for s in in_range if s["operation"] != "append"]
    if bad:
        raise SnapshotError(
            f"incremental scan crosses non-append snapshots {bad}; "
            "read_table both ends and diff instead"
        )
    manifest = _read_manifest(spark, root, to_snap)
    paths = [
        fsutil.urljoin(root, f["path"])
        for f in manifest["files"]
        if from_snapshot_id < int(f["added_snapshot_id"]) <= to_snap
    ]
    if not paths:
        return read_table(spark, root, to_snap).limit(0)
    return _manifest_scan(spark, root, manifest, paths=paths)


def snapshot_diff(
    spark: SparkSession,
    root: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    key_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Row-level diff between two snapshots: one row per key present in
    either side, tagged ``change`` in {added, removed, modified,
    unchanged}. This is the overwrite-safe complement to
    ``incremental_scan`` (which refuses non-append ranges): any commit
    sequence diffs correctly because both sides are plain snapshot reads.

    Shape at scale: two manifest-routed parquet scans + one full outer
    join on the key — Catalyst prunes each scan to key columns plus the
    change-hash input, and the join is the unavoidable single shuffle of
    any row-level diff. Modification detection hashes all non-key
    columns into one sha256 per side, so wide rows never carry past the
    scan stage."""
    old = read_table(spark, root, from_snapshot_id)
    new = read_table(spark, root, to_snapshot_id)

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        value_cols = sorted(c for c in df.columns if c not in key_cols)
        # injective row encoding: each column hashes independently to a
        # fixed-width hex token (NULL -> the non-hex marker 'null'), so
        # no value can smuggle a separator or imitate another column's
        # boundary — a concat_ws over raw values would collide on
        # separator-bearing content
        digest = F.sha2(
            F.concat_ws(
                "|",
                *[
                    F.coalesce(
                        F.sha2(F.col(c).cast("string"), 256), F.lit("null")
                    )
                    for c in value_cols
                ],
            ),
            256,
        )
        return df.select(*key_cols, digest.alias(f"{tag}_sha"))

    joined = hashed(old, "old").join(
        hashed(new, "new"), on=list(key_cols), how="full_outer"
    )
    return joined.select(
        *key_cols,
        F.when(F.col("old_sha").isNull(), F.lit("added"))
        .when(F.col("new_sha").isNull(), F.lit("removed"))
        .when(F.col("old_sha") != F.col("new_sha"), F.lit("modified"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )


# ---------------------------------------------------------------------------
# pipeline CLI seam


def resolve_input(spark: SparkSession, spec: str) -> DataFrame:
    """Parse the pipeline's ``--input iceberg:<root>[@N]`` form.

    ``iceberg:/tables/code`` reads the current snapshot;
    ``iceberg:/tables/code@3`` time-travels to snapshot 3.
    """
    body = spec[len("iceberg:"):]
    if "@" in body:
        root, _, snap = body.rpartition("@")
        # numeric -> snapshot id; anything else -> tag name (release ref)
        return read_table(spark, root, int(snap) if snap.isdigit() else snap)
    return read_table(spark, body)


# ---------------------------------------------------------------------------
# named refs (tags) — corpus release management


def _refs(meta: dict) -> dict:
    return dict(meta.get("refs") or {})


def create_tag(spark: SparkSession, root: str, name: str,
               snapshot_id: int | None = None) -> int:
    """Pin a name to a snapshot (the Iceberg spec's tag refs): a corpus
    release like ``train-v1`` stays readable by name forever — and
    :func:`..maintenance.expire_snapshots` refuses to expire a tagged
    snapshot, so the release outlives the retention window until the
    tag is dropped. A metadata-only commit (no data is written)."""
    if not name or name.strip() != name:
        raise SnapshotError(f"invalid tag name {name!r}")
    meta = _read_metadata(spark, root)
    snap = int(meta["current_snapshot_id"]) if snapshot_id is None else int(snapshot_id)
    known = {int(s["snapshot_id"]) for s in meta["snapshots"]}
    if snap not in known:
        raise SnapshotError(f"unknown snapshot {snap}; committed: {sorted(known)}")
    refs = _refs(meta)
    if name in refs:
        raise SnapshotError(f"tag {name!r} already exists (-> snapshot {refs[name]})")
    refs[name] = snap
    meta["refs"] = refs
    _write_metadata(spark, root, meta)
    return snap


def drop_tag(spark: SparkSession, root: str, name: str) -> None:
    meta = _read_metadata(spark, root)
    refs = _refs(meta)
    if name not in refs:
        raise SnapshotError(f"no tag {name!r}; tags: {sorted(refs)}")
    del refs[name]
    meta["refs"] = refs
    _write_metadata(spark, root, meta)


def list_refs(spark: SparkSession, root: str) -> dict[str, int]:
    """tag name -> snapshot id."""
    return {k: int(v) for k, v in _refs(_read_metadata(spark, root)).items()}


def resolve_ref(spark: SparkSession, root: str, name: str) -> int:
    refs = list_refs(spark, root)
    if name not in refs:
        raise SnapshotError(f"no tag {name!r}; tags: {sorted(refs)}")
    return refs[name]


# ---------------------------------------------------------------------------
# rollback — undo bad commits without rewriting data


def rollback_table(spark: SparkSession, root: str, to: int | str) -> int:
    """Make an earlier snapshot current again (Iceberg's
    ``rollback_to_snapshot`` / ``rollback_to_ref``): a bad commit — a
    botched compaction, a dedup pass with the wrong threshold — is
    undone by one metadata-only commit; no data is rewritten or
    deleted, and the newer snapshots stay in the log (re-rollback
    "forward" works until :func:`..maintenance.expire_snapshots`
    reclaims them — expiry pins the CURRENT snapshot and every tagged
    one, so a rollback target never expires out from under the table).

    ``to`` is a snapshot id or a tag name. The table's schema and
    mixed-schema flag revert to the target manifest's; table config
    (stat_cols / bloom_cols / refs) is untouched. Snapshot ids keep
    allocating past the newest ever assigned, so a commit after a
    rollback never collides with a rolled-off manifest."""
    if isinstance(to, str):
        to = resolve_ref(spark, root, to)
    to = int(to)
    meta = _read_metadata(spark, root)
    known = {int(s["snapshot_id"]) for s in meta["snapshots"]}
    if to not in known:
        raise SnapshotError(f"unknown snapshot {to}; committed: {sorted(known)}")
    if to == int(meta["current_snapshot_id"]):
        return to  # already current: no metadata churn
    manifest = _read_manifest(spark, root, to)
    meta["last_assigned_snapshot_id"] = max(
        int(meta["current_snapshot_id"]),
        int(meta.get("last_assigned_snapshot_id", 0)),
        max(known, default=0),
    )
    meta["current_snapshot_id"] = to
    meta["current_schema"] = manifest.get("schema")
    meta["mixed_schema"] = bool(manifest.get("mixed_schema"))
    _write_metadata(spark, root, meta)
    return to
