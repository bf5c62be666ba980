"""Process-tree CPU and RSS from /proc (no psutil).

The benchmark's process tree is the Python driver, the JVM it launches
and the JVM's Python workers. CPU time counts live processes plus the
children they have already reaped (``cutime``/``cstime``), so workers
that exit and are waited for are not lost.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_seconds(root: int) -> float:
    """utime + stime + cutime + cstime over the tree, in seconds."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size: a page shared by the Python worker
    daemon and the workers it forks counts once across the tree (summed
    RSS would count it once per process)."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # the process exited between listing and reading
    return total


class PeakRss:
    """Background sampler of the tree's summed PSS; ``peak`` in bytes."""

    def __init__(self, root: int | None = None, interval_s: float = 0.2):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(self.root))
