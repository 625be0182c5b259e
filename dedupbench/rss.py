"""Peak resident memory of a process tree, polled from /proc (no psutil).

The tree is rooted at the driver JVM, so it covers the JVM, the PySpark
daemon and every Python worker it forks. Children are re-discovered on
each poll, because workers come and go during a call, by walking the
`/proc/<pid>/task/<tid>/children` files down from the root: a full /proc
scan per poll would compete with the driver for the interpreter lock.
"""

from __future__ import annotations

import os
import threading


def _children(pid: int) -> list[int]:
    """Direct children of pid, from the per-thread `children` files."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def descendants(root: int) -> list[int]:
    """root and every process below it."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _vm_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    return sum(_vm_rss_kb(p) for p in descendants(root)) * 1024 / 1e6


class PeakRss:
    """`with PeakRss(pid) as peak: ...` then `peak.mb` is the largest summed
    VmRSS of the tree seen while the block ran (polled every `interval` s,
    plus one reading at entry and one at exit)."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root = root_pid
        self.interval = interval
        self.mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _poll(self) -> None:
        while not self._stop.is_set():
            self.mb = max(self.mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self.mb = tree_rss_mb(self.root)
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.mb = max(self.mb, tree_rss_mb(self.root))
