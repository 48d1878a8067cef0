"""Process tree tools built on /proc: combined RSS sampling and shutdown.

The JVM that PySpark launches and the Python workers it forks are found by
walking parent links in /proc, so nothing beyond the standard library is
needed.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")
_NCPU = os.cpu_count() or 1


def stolen_s() -> float:
    """CPU time the hypervisor has taken from this VM since boot, in
    seconds per vCPU (the `steal` column of /proc/stat; 0 where the kernel
    reports none)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _HZ / _NCPU if len(fields) > 8 else 0.0


def _children_by_parent() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def process_tree(root: int) -> list[int]:
    """`root` and all its live descendants."""
    kids = _children_by_parent()
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, ()))
    return tree


def cpu_s(pid: int) -> float:
    """User + system CPU seconds of all threads of `pid` and of its children
    that have ended and been waited for. The kernel counts only time a
    process ran, so time the hypervisor stole is left out."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0.0
    fields = stat[stat.rindex(")") + 2 :].split()
    return sum(int(v) for v in fields[11:15]) / _HZ


def tree_cpu_s(root: int) -> float:
    """CPU seconds of `root` and its live descendants."""
    return sum(map(cpu_s, process_tree(root)))


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """Samples the combined RSS of a process tree on a background thread
    and keeps the highest reading in `peak_bytes`.

    Walking /proc costs the driver process CPU and GIL time, so the sampler
    runs only around the loop it measures."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            tree = process_tree(self.root)
            self.peak_bytes = max(self.peak_bytes, sum(map(rss_bytes, tree)))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _alive(pid: int) -> bool:
    """True while `pid` runs; a zombie has ended and only awaits reaping."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def wait_gone(pids: set[int], timeout_s: float = 20.0) -> set[int]:
    """Wait until every pid has ended; SIGKILL what is left at the deadline.

    Returns the pids still running after the kill (normally none)."""
    deadline = time.monotonic() + timeout_s
    live = {p for p in pids if _alive(p)}
    while live and time.monotonic() < deadline:
        time.sleep(0.1)
        live = {p for p in live if _alive(p)}
    for pid in live:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 5.0
    while live and time.monotonic() < deadline:
        time.sleep(0.05)
        live = {p for p in live if _alive(p)}
    return live
