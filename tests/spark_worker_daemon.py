"""Python worker daemon for the test session's Spark: pyspark's own daemon
with one per-task cost taken out.

Before every task pyspark's worker calls ``importlib.invalidate_caches()``.
On Python < 3.12 that makes every ``zipimporter`` re-read its archive's
directory, and workers import pyspark from ``$SPARK_HOME/python/lib/
pyspark.zip`` through one importer per package (about 16 of them, ~1,700
entries each): about 0.25 s of CPU per task whatever the task does. A
4x3-row cross join over Python-sourced frames (64 tasks) took 7.5 s with
it and 1.3 s without on 4 cores.

Here an importer re-reads its archive only when the archive's mtime or
size changed since its last read, so a changed or new zip (``--py-files``)
is still picked up. The session fixture in conftest.py sets
``spark.python.daemon.module=spark_worker_daemon`` and puts this directory
on the workers' PYTHONPATH.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


zipimport.zipimporter.invalidate_caches = _invalidate_caches

if __name__ == "__main__":
    from pyspark import daemon

    daemon.manager()
