"""CPU time and resident memory of a process tree, read from /proc.

The benchmark process is the root of the tree; its descendants are the
Spark JVM, the Python worker daemon and the Python workers. CPU time
counts every live process plus the children each one has reaped, so a
worker that exits inside a measured interval still counts.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces and parentheses; fields follow the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _snapshot(root: int) -> dict[int, list[str]]:
    """stat fields of ``root`` and all its descendants."""
    fields: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                fields[int(name)] = f
                children.setdefault(int(f[1]), []).append(int(name))
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in fields:
            tree[pid] = fields[pid]
            todo.extend(children.get(pid, ()))
    return tree


def descendants(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    return [pid for pid in _snapshot(root) if pid != root]


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` runs any more (zombies count as gone)."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        alive = [p for p in pids if (f := _stat_fields(p)) is not None and f[0] != "Z"]
        if not alive:
            return
        time.sleep(0.1)
    raise TimeoutError(f"processes still running: {alive}")


def cpu_seconds(root: int | None = None) -> float:
    """User plus system CPU seconds of the tree, reaped children included."""
    tree = _snapshot(root or os.getpid())
    # fields after the command: utime, stime, cutime, cstime are 11..14
    return sum(sum(int(x) for x in f[11:15]) for f in tree.values()) / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def rss_bytes(root: int | None = None) -> int:
    """Resident memory of the tree as the sum of proportional set sizes:
    pages the forked Python workers share with their daemon count once,
    so the sum does not jump with the number of idle workers alive."""
    return sum(_pss_kb(pid) for pid in _snapshot(root or os.getpid())) * 1024


class PeakRss:
    """Samples the tree's resident memory on a thread while the block runs;
    ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, rss_bytes() / 2**20)
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, rss_bytes() / 2**20)
