"""CPU time and memory of a process tree, read from /proc.

The benchmark measures the Spark JVM and every Python worker it spawns (the
pyspark daemon and its forked workers are descendants of the JVM). Nothing
here needs psutil: each sample is a scan of /proc/<pid>/stat and
smaps_rollup.

Memory is the summed PSS (proportional set size), not RSS: the Python
workers are forked from the pyspark daemon and share most of their pages
with it, so summed RSS counts those pages once per process and jumps by
hundreds of MB whenever a worker is forked, while PSS splits each shared
page among the processes that map it.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may hold spaces: split after it
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """`root` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, counting reaped children.

    A worker that exits is reaped by its parent, whose cutime/cstime then
    carry its time; so the sum over live processes of own + reaped-children
    time only grows, and the difference of two readings is the CPU used in
    between.
    """
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def tree_pss_mb(root: int) -> float:
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:  # the process ended between listing and reading
            pass
    return total_kb / 1024


class PeakPss:
    """Polls the tree's summed PSS on a thread; use as a context manager."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
