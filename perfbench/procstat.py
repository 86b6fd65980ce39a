"""Process-tree resource accounting from /proc (no psutil).

The benchmark process starts the Spark JVM, and the JVM starts the
Python workers, so one operation's cost is spread over a process tree.
``TreeSampler`` sums CPU seconds over that tree (live processes plus the
children each has already reaped) and keeps the peak of the summed
resident set size, sampled on a background thread.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def tree_rss_mb(root: int) -> float:
    pages = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            pages += int(fields[21])  # rss, stat field 24
    return pages * _PAGE / 2**20


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class TreeSampler:
    """Peak summed RSS of a process tree over a ``with`` block, plus the
    tree's CPU seconds spent inside it and the machine-wide share of CPU
    time stolen by the hypervisor meanwhile (a noise indicator)."""

    def __init__(self, root: int | None = None, interval_s: float = 0.2):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self.peak_rss_mb = 0.0
        self.cpu_s = 0.0
        self.steal_frac = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> TreeSampler:
        self._cpu0 = tree_cpu_s(self.root)
        self._ticks0 = _cpu_ticks()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(self.root))
        self.cpu_s = tree_cpu_s(self.root) - self._cpu0
        d = [b - a for a, b in zip(self._ticks0, _cpu_ticks())]
        self.steal_frac = d[7] / max(sum(d), 1)


def stop_descendants(timeout_s: float = 30.0) -> None:
    """SIGTERM every live descendant of this process (the Spark JVM and
    its Python workers) and wait until each has exited; SIGKILL what is
    left after ``timeout_s``."""
    me = os.getpid()

    def alive() -> list[int]:
        pids = []
        for pid in tree_pids(me):
            fields = _stat_fields(pid)
            if pid != me and fields is not None and fields[0] != "Z":
                pids.append(pid)
        return pids

    def signal_all(sig: int) -> None:
        for pid in alive():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass

    signal_all(signal.SIGTERM)
    deadline = time.monotonic() + timeout_s
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    signal_all(signal.SIGKILL)
    while alive():
        time.sleep(0.1)


def dir_entries(path: str) -> dict[str, int]:
    """Top-level entries of ``path`` with their total bytes."""
    out = {}
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return out
    for name in names:
        out[name] = du_bytes(os.path.join(path, name))
    return out


def du_bytes(path: str) -> int:
    if os.path.isfile(path) or os.path.islink(path):
        try:
            return os.lstat(path).st_size
        except OSError:
            return 0
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total
