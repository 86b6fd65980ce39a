"""Python worker daemon for local-master sessions: pyspark's own daemon
with one per-task cost taken out.

Before every task pyspark's worker calls ``importlib.invalidate_caches()``.
On Python < 3.12 that makes every ``zipimporter`` re-read its archive's
directory, and workers import pyspark from ``$SPARK_HOME/python/lib/
pyspark.zip`` through one importer per package (about 16 of them, ~1,700
entries each): about 0.25 s of CPU per task whatever the task does. A
4x3-row cross join over Python-sourced frames (64 tasks) took 7.5 s with
it and 1.3 s without on 4 cores.

Here an importer re-reads its archive only when the archive's mtime or
size changed since its last read, so a changed or new zip (``--py-files``,
``addPyFile``) is still picked up.

``session.get_spark`` starts this daemon for local masters only
(``spark.python.daemon.module``, with the directory or zip that holds this
package on the workers' PYTHONPATH). On a cluster master the executors
put ``--py-files`` archives on ``sys.path`` only inside each task, so the
daemon, which starts before any task, could not import this module there;
those sessions keep pyspark's default daemon.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when its ``(mtime, size)`` differs from the last read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def main() -> None:
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    daemon.manager()


if __name__ == "__main__":
    # ``python -m`` runs this file as ``__main__``; run it under its import
    # name so that a worker can tell which daemon forked it
    from hyrise_generalized_dedup_spark import worker_daemon

    worker_daemon.main()
