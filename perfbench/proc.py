"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is this process plus every descendant: the Spark JVM it
launches and the JVM's Python worker daemon and workers. CPU counts
user + system time of live processes plus the ``cutime``/``cstime`` of
children they have reaped, so a worker that exits mid-job still counts.
"""
from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:  # exited between listing and reading
        return None
    # fields after "comm", which may itself hold spaces and parens
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(pid))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    ticks = 0
    for pid in pids if pids is not None else tree_pids():
        st = _stat(str(pid))
        if st is not None:
            # utime, stime, cutime, cstime (proc(5) fields 14-17)
            ticks += sum(int(v) for v in st[11:15])
    return ticks / _TICK


def tree_rss_mb(pids: list[int] | None = None) -> float:
    pages = 0
    for pid in pids if pids is not None else tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            pass
    return pages * _PAGE / 2**20


class RssPeak:
    """Samples the tree's summed RSS on a background thread; ``peak_mb``
    is the largest sample since ``start``."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssPeak:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def wait_gone(pids: list[int], timeout_s: float = 60.0) -> list[int]:
    """Wait until none of ``pids`` runs (gone or zombie); return those
    still running."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if (_stat(str(p)) or ["Z"])[0] != "Z"]
        if alive:
            time.sleep(0.1)
    return alive
