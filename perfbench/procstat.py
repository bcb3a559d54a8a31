"""Process-tree CPU time and resident memory, read from ``/proc``.

The tree is the benchmark process and all its descendants: the Spark
driver JVM, the PySpark daemon and its Python workers. CPU time of a
process counts its own user+system time plus that of the children it has
reaped, so work done by a Python worker that has since exited is not lost.

Resident memory is the sum of RSS. Under the JVM only the PySpark daemon's
subtree is counted: any other child is a helper the JVM spawns to run a
command, and until it execs it shares all of the JVM's pages, so a sample
taken in that window would count the JVM twice (measured: +2.4 GB in some
runs). PSS would split shared pages exactly, but reading it walks the JVM's
page tables under its memory-map lock (measured 24-107 ms per read), which
slows the JVM it is measuring.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """``/proc/<pid>/stat`` as [comm, state, ppid, ...]: utime is [12],
    stime [13], cutime [14], cstime [15], rss (pages) [22]."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # exited between listing and reading
        return None
    close = data.rindex(")")
    return [data[data.index("(") + 1:close]] + data[close + 2:].split()


def _snapshot(root: int, prune=None) -> dict[int, list[str]]:
    """``root`` and its descendants, leaving out the subtree of any
    process for which ``prune(pid, fields, parent_fields)`` is true."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                stats[int(name)] = f
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[2]), []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        f = stats.get(pid)
        if f is None or (prune and pid != root and prune(pid, f, stats.get(int(f[2])))):
            continue
        tree[pid] = f
        todo.extend(children.get(pid, ()))
    return tree


def tree_pids() -> list[int]:
    """Descendants of this process."""
    return [p for p in _snapshot(os.getpid()) if p != os.getpid()]


def tree_cpu_s() -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    tree = _snapshot(os.getpid())
    return sum(sum(int(x) for x in f[12:16]) for f in tree.values()) / _CLK


def _jvm_helper(pid: int, fields: list[str], parent: list[str] | None) -> bool:
    """A child of the JVM other than the PySpark daemon."""
    if parent is None or parent[0] != "java":
        return False
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" not in f.read()
    except OSError:
        return True


def tree_rss_mb() -> float:
    """Resident memory of the tree in MB (see the module docstring)."""
    tree = _snapshot(os.getpid(), prune=_jvm_helper)
    return sum(int(f[22]) for f in tree.values()) * _PAGE / 2**20


class RssSampler:
    """Samples the tree's total RSS in a thread; ``peak_mb`` is the largest
    total seen. Use as a context manager."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def _alive(pids: list[int]) -> list[int]:
    out = []
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None and f[1] != "Z":
            out.append(pid)
    return out


def _reap_children() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until every process in ``pids`` has exited, reaping our own
    children; kill those still alive after ``timeout_s``. Returns the
    pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    while _alive(pids) and time.monotonic() < deadline:
        _reap_children()
        time.sleep(0.1)
    killed = _alive(pids)
    for pid in killed:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while _alive(pids) and time.monotonic() < deadline + 10:
        _reap_children()
        time.sleep(0.1)
    _reap_children()
    return killed
