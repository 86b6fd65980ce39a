"""One scratch root for every temp dir the engine makes (session.py)."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import tempfile
from pathlib import Path

import pyspark.sql.functions as F

from hyrise_generalized_dedup_spark import session

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "hyrise_generalized_dedup_spark"


def test_only_session_makes_temp_dirs():
    """Temp dirs come from session.scratch_dir, whose root has the one
    exit-time deleter; nothing else in the package makes or registers."""
    offenders = [
        f"{p.relative_to(REPO)}:{i}"
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "session.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"tempfile\.mkdtemp|atexit", line)
    ]
    assert offenders == []


def test_scratch_dir_and_barrier(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_scratch_root", None)
    a, b = session.scratch_dir("gd_x"), session.scratch_dir("gd_x")
    root = Path(session._scratch_root)
    assert root.parent == tmp_path and root.name.startswith("gd_scratch_")
    assert a != b and {Path(a).parent, Path(b).parent} == {root}
    assert Path(a).name.startswith("gd_x_") and os.listdir(a) == []

    df = spark.range(10).withColumn("sq", F.col("id") * F.col("id"))
    cut = session.barrier(df, "gd_y")
    # eager: the Parquet files exist before anything consumes the result
    (written,) = [d for d in root.iterdir() if d.name.startswith("gd_y_")]
    assert any(f.suffix == ".parquet" for f in written.iterdir())
    assert sorted(map(tuple, cut.collect())) == [(i, i * i) for i in range(10)]


def test_rewritten_leaves_write_nothing(spark, sf_tiny, tmp_path, monkeypatch):
    """The clone census and both BM25 leaves run as single plans: no temp
    dir in the system temp dir and no bytes under the scratch root."""
    from hyrise_generalized_dedup_spark.functions.queries import TEXT_QUERIES

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_scratch_root", None, raising=False)
    for name in ("code_clone_census", "text_bm25_matches", "text_bm25_topk"):
        assert TEXT_QUERIES[name](spark, sf_tiny).collect(), name
        assert os.listdir(tmp_path) == [], name
        assert session._scratch_root is None, name


def test_process_exit_leaves_tmpdir_empty(sf_tiny, tmp_path):
    """A process that runs the barrier, sideboard, stream and snapshot-
    table queries leaves nothing in its TMPDIR once it exits."""
    child = f"""
import __spark_entry__ as e
from hyrise_generalized_dedup_spark.session import get_spark
spark = get_spark(master="local[2]", shuffle_partitions=2)
qs = e._full_registries()[0]
for name in ("stream_dedup_census", "neardup_cluster_sizes", "iceberg_time_travel"):
    assert qs[name](spark, {sf_tiny!r}).collect(), name
spark.stop()
"""
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    # PYTHONPATH reaches the child and, through the JVM, its Python workers
    path = os.pathsep.join(filter(None, [str(REPO), os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, TMPDIR=str(tmpdir), PYTHONPATH=path)
    proc = subprocess.run(
        [sys.executable, "-c", child], env=env, cwd=tmp_path,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert os.listdir(tmpdir) == []
