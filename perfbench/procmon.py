"""Process-tree resource accounting from /proc (Linux only, stdlib).

The program under test is a tree: this Python driver, the Spark JVM it
launches, and the Python workers the JVM forks.  A ``TreeMonitor``
brackets one timed call and reports, for that whole tree:

- CPU seconds: utime + stime + cutime + cstime summed over the live
  tree.  A child that exits and is reaped moves its time into its
  parent's cutime/cstime, so the sum stays whole across worker churn.
- bytes written to storage: ``write_bytes`` of /proc/<pid>/io, which
  the kernel also folds into the parent when a child is reaped.
- peak resident memory: the largest sum of RSS over the tree seen by a
  sampling thread.  A child of the JVM that is itself still the java
  executable is skipped: the JVM forks itself for a moment to run shell
  helpers, and until the fork execs it shares all the JVM's pages, so
  counting it would report a second JVM's worth of memory nobody used.

Host weather (steal %, load) comes from the repo's ``bench.py``
helpers, so a call taken on a stolen host is flagged ``degraded``.
"""

from __future__ import annotations

import os
import threading
import time

from bench import _host_delta, _host_sample

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces/parens: fields resume after the last ')'
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def resident_pids(root: int) -> list[int]:
    """The tree minus transient self-forks of the JVM (see module doc)."""
    kids = _children_map()
    out, todo = [], [(root, "")]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        if not (exe == parent_exe and exe.endswith("/java")):
            out.append(pid)
        todo.extend((k, exe) for k in kids.get(pid, ()))
    return out


def _cpu_ticks(pid: int) -> int:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # fields[0] is state (stat field 3): utime..cstime are fields 14..17
    return sum(int(x) for x in fields[11:15])


def _write_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("write_bytes:"):
                return int(line.split()[1])
    return 0


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * PAGE


def _sum_over(pids, fn) -> int:
    total = 0
    for pid in pids:
        try:
            total += fn(pid)
        except (OSError, ValueError, IndexError):
            pass  # exited between listing and reading
    return total


def tree_totals(root: int) -> dict:
    pids = tree_pids(root)
    return {
        "cpu_s": _sum_over(pids, _cpu_ticks) / CLK_TCK,
        "write_bytes": _sum_over(pids, _write_bytes),
    }


def resident_bytes(root: int) -> int:
    return _sum_over(resident_pids(root), _rss_bytes)


class TreeMonitor:
    """``with TreeMonitor(pid) as m: ...`` then read ``m.result``."""

    def __init__(self, root: int | None = None, interval_s: float = 0.05):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self.result: dict = {}
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while not self._stop.is_set():
            self._peak = max(self._peak, resident_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "TreeMonitor":
        self._host0 = _host_sample()
        self._t0 = tree_totals(self.root)
        self._peak = resident_bytes(self.root)
        self._wall0 = time.perf_counter()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        wall = time.perf_counter() - self._wall0
        self._stop.set()
        self._thread.join(timeout=5)
        t1 = tree_totals(self.root)
        self.result = {
            "wall_s": wall,
            "cpu_s": t1["cpu_s"] - self._t0["cpu_s"],
            "written_mb": (t1["write_bytes"] - self._t0["write_bytes"]) / 1e6,
            "peak_rss_mb": max(self._peak, resident_bytes(self.root)) / 1e6,
            "host": _host_delta(self._host0, _host_sample()),
        }
