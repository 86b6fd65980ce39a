"""SparkSession factory.

One place that encodes the cluster-scale defaults: AQE on (runtime
re-plan + skew-join splitting), Arrow on (every UDF in this engine is
pandas/Arrow-vectorized), UTC session timezone (duckdb-oracle parity),
shuffle partitions sized to the parallelism level instead of the
200-partition default.

At 100 TB on a real cluster the same builder is used from
``spark-submit --py-files``; only ``master`` / ``shuffle_partitions``
change (see BENCH/BASELINE.md scaling protocol).

Every temp dir the engine makes lives under one per-process scratch
root (``scratch_dir``), removed by one exit hook; ``barrier`` is the one
Parquet materialization built on it.

A local master's Python workers are forked by ``worker_daemon`` (set as
``spark.python.daemon.module``; the directory or ``--py-files`` zip that
holds this package goes on the workers' PYTHONPATH), which drops the
~0.25 s of CPU that each task otherwise spends re-reading pyspark.zip.
A cluster master keeps pyspark's default daemon: its executors cannot
import this package before the first task (see ``worker_daemon``).
``extra_conf`` overrides either key.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession

_scratch_root: str | None = None
_scratch_lock = threading.Lock()  # callers may run on driver-side thread pools


def scratch_dir(tag: str) -> str:
    """A new empty dir named ``<tag>_*`` under this process's scratch
    root. The root (``gd_scratch_*`` in the system temp dir) is made on
    first use and removed with everything under it when the interpreter
    exits; nothing deletes a dir earlier."""
    global _scratch_root
    with _scratch_lock:
        if _scratch_root is None:
            _scratch_root = tempfile.mkdtemp(prefix="gd_scratch_")
            atexit.register(shutil.rmtree, _scratch_root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{tag}_", dir=_scratch_root)


def scratch_usage(tag: str) -> tuple[int, int]:
    """``(dirs, bytes)`` held by the ``scratch_dir(tag)`` dirs made so far."""
    root = _scratch_root
    if root is None:
        return 0, 0
    dirs = [e.path for e in os.scandir(root) if e.name.startswith(f"{tag}_")]
    nbytes = sum(
        os.path.getsize(os.path.join(d, f)) for top in dirs for d, _, fs in os.walk(top) for f in fs
    )
    return len(dirs), nbytes


def barrier(df: DataFrame, tag: str) -> DataFrame:
    """``df`` written as Parquet to a ``scratch_dir(tag)`` and read back:
    a lineage cut so that consumers of the result share one evaluation
    of ``df`` instead of each recomputing it.

    Eager: the write is a Spark job that runs when this is called, so a
    plan-building function that uses it runs that job before it returns.

    The data lives until the interpreter exits, not until the last
    consumer is done: a registry query's result is collected after the
    query function has returned, so nothing inside it can know when the
    files are dead. Use it only where the intermediate is read more than
    once and a plan rewrite (e.g. a window instead of a self-join) cannot
    remove the second read."""
    path = scratch_dir(tag)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def shuffle_partitions(spark: SparkSession) -> int:
    """Numeric shuffle-partition count, tolerant of platforms that set
    ``spark.sql.shuffle.partitions`` to the non-numeric ``"auto"``
    (AQE-managed); falls back to the cluster's default parallelism."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def _worker_daemon_conf(master: str) -> dict[str, str]:
    """The worker-daemon confs for ``master``: empty unless it is local."""
    if not master.startswith("local"):
        return {}
    # the dir that holds the package, or the zip when imported from one
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return {
        "spark.python.daemon.module": f"{__package__}.worker_daemon",
        "spark.executorEnv.PYTHONPATH": root,
    }


def get_spark(
    app_name: str = "hyrise-generalized-dedup-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        sp_env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        if sp_env:
            # the pipeline CLI's way to size shuffles (e.g. 3x cores: at a
            # fixed heap, partitions == cores gives each hash-aggregate
            # task heap/cores of map space, so a high parallelism level
            # spills/GC-thrashes on pair-scale stages while a low one
            # coasts — an anti-scaling artifact of task sizing, not of
            # the plan; 2-3x cores is also the documented real-cluster
            # sizing)
            shuffle_partitions = int(sp_env)
        else:
            # local[N] -> N; a real cluster would use ~2-3x total executor cores.
            n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
            shuffle_partitions = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # edge verification collects the signature matrix driver-side while
        # it fits the broadcast budget (heap/16, see dedup/lsh.py); the
        # default 1g maxResultSize would cut that path off well below the
        # budget it was sized to
        .config("spark.driver.maxResultSize", "6g")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in {**_worker_daemon_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
