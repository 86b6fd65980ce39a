"""The Python worker daemon that every local-master ``get_spark`` session
starts (``hyrise_generalized_dedup_spark/worker_daemon.py``): which
sessions get it, that their workers run it, its archive-stamp rule, and
that ``--py-files``-style zips still reach workers."""

from __future__ import annotations

import importlib.util
import os
import types
import zipfile
import zipimport

from hyrise_generalized_dedup_spark import session

DAEMON = "hyrise_generalized_dedup_spark.worker_daemon"
KEYS = ("spark.python.daemon.module", "spark.executorEnv.PYTHONPATH")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_workers_run_the_package_daemon(spark):
    """Python-RDD and pandas-UDF workers are forked by the package daemon,
    so its ``invalidate_caches`` is the one they call before each task."""

    def patched(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__module__

    def batches(it):
        import zipimport

        import pandas as pd

        for _ in it:
            yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rdd_side = set(spark.sparkContext.parallelize(range(4), 2).map(patched).collect())
    df = spark.range(0, 4, numPartitions=2).mapInPandas(batches, "m string")
    pandas_side = {r.m for r in df.collect()}
    assert rdd_side == pandas_side == {DAEMON}


def test_zip_reread_only_when_archive_changes(tmp_path, monkeypatch):
    """An importer re-reads its archive when the archive's mtime or size
    changed since its last read, and only then."""
    from hyrise_generalized_dedup_spark import worker_daemon

    reads = []
    reread = worker_daemon._reread
    monkeypatch.setattr(worker_daemon, "_reread", lambda imp: (reads.append(1), reread(imp)))

    def importable(imp, name):
        spec = imp.find_spec(name)
        if spec is None:
            return None
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.VALUE

    archive = tmp_path / "gd_stamp_probe.zip"
    _write_zip(archive, {"gd_mod_a": "VALUE = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    worker_daemon.invalidate_caches(imp)  # no stamp yet: one read
    worker_daemon.invalidate_caches(imp)
    worker_daemon.invalidate_caches(imp)
    assert len(reads) == 1

    # rewritten with one more module: the size changed
    _write_zip(archive, {"gd_mod_a": "VALUE = 1\n", "gd_mod_b": "VALUE = 2\n"})
    assert importable(imp, "gd_mod_b") is None  # the importer's directory is stale
    worker_daemon.invalidate_caches(imp)
    assert len(reads) == 2 and importable(imp, "gd_mod_b") == 2
    worker_daemon.invalidate_caches(imp)
    assert len(reads) == 2

    # rewritten to the same size: only the mtime tells
    size = os.path.getsize(archive)
    mtime = os.stat(archive).st_mtime_ns
    _write_zip(archive, {"gd_mod_a": "VALUE = 1\n", "gd_mod_c": "VALUE = 3\n"})
    os.utime(archive, ns=(mtime + 10**9, mtime + 10**9))
    assert os.path.getsize(archive) == size
    worker_daemon.invalidate_caches(imp)
    assert len(reads) == 3 and importable(imp, "gd_mod_c") == 3


def test_zip_added_after_workers_ran_is_importable(spark, tmp_path):
    """A zip shipped with ``addPyFile`` once workers exist reaches a later
    task: the stamp rule does not hide new archives."""
    sc = spark.sparkContext
    assert sc.parallelize(range(4), 2).map(lambda x: x).sum() == 6
    archive = tmp_path / "gd_late_pyfile.zip"
    _write_zip(archive, {"gd_late_pyfile": "VALUE = 41\n"})
    sc.addPyFile(str(archive))

    def probe(x):
        import gd_late_pyfile

        return gd_late_pyfile.VALUE + x

    assert sc.parallelize([1], 1).map(probe).collect() == [42]


def test_worker_daemon_conf_is_local_only(monkeypatch):
    """A local master gets both daemon keys, a cluster master neither, and
    ``extra_conf`` overrides either; no JVM is started."""

    class Builder:
        def __init__(self):
            self.conf = {}

        def appName(self, name):
            return self

        def master(self, master):
            return self

        def config(self, key, value):
            self.conf[key] = value
            return self

        def getOrCreate(self):
            return self.conf

    def conf(master, **kw):
        monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=Builder()))
        return session.get_spark(master=master, **kw)

    for master in ("local[2]", "local", "local[*]", None):
        c = conf(master)
        assert c[KEYS[0]] == DAEMON, master
        assert os.path.isfile(os.path.join(c[KEYS[1]], *DAEMON.split(".")) + ".py"), master
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert not set(KEYS) & set(conf(master)), master
    mine = {KEYS[0]: "pyspark.daemon", KEYS[1]: "/elsewhere"}
    c = conf("local[2]", extra_conf=mine)
    assert {k: c[k] for k in KEYS} == mine
