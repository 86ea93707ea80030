"""CPU time and resident memory of a process tree, read from /proc.

The Spark JVM is a child of the Python driver (launched through
spark-submit), and PySpark's Python workers are forked by the JVM's
`pyspark.daemon`. Summing over the descendants of the driver process
therefore covers the JVM and every Python worker; the driver process
itself is left out.

CPU counts user + system time of each live process plus the time of its
reaped children (`cutime`/`cstime`), so short-lived Python workers that
exit during a measured phase are still counted through the parent that
waited for them.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # exited between listing and reading
        return None
    # the command name (field 2) may contain spaces; it ends at the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """PIDs of every process below `root` (not `root` itself)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out: list[int] = []
    stack = [root]
    while stack:
        for child in children.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def cpu_ticks(pids: list[int]) -> dict[int, int]:
    """utime + stime + cutime + cstime per PID, in clock ticks."""
    ticks = {}
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[0] is state (stat field 3); utime..cstime are 14..17
            ticks[pid] = sum(int(x) for x in fields[11:15])
    return ticks


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_SIZE
        except OSError:
            pass
    return total


def cpu_delta_s(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU-seconds spent between two `cpu_ticks` snapshots. A PID missing
    from `before` started in between and counts from zero."""
    return sum(t - before.get(pid, 0) for pid, t in after.items()) / CLK_TCK


class TreeMeter:
    """Accumulates CPU-seconds over measured segments and samples the
    tree's summed RSS on a background thread for its peak."""

    def __init__(self, root: int | None = None, interval_s: float = 0.25):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.cpu_s = 0.0
        self.peak_rss = 0
        self._mark: dict[int, int] | None = None
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def snapshot(self) -> dict[int, int]:
        return cpu_ticks(descendants(self.root))

    def begin(self) -> None:
        self._mark = self.snapshot()

    def end(self) -> None:
        if self._mark is None:
            raise RuntimeError("TreeMeter.end() without begin()")
        self.cpu_s += cpu_delta_s(self._mark, self.snapshot())
        self._mark = None

    def _sample(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_rss = max(self.peak_rss, rss_bytes(descendants(self.root)))

    def start_sampling(self) -> None:
        self.peak_rss = max(self.peak_rss, rss_bytes(descendants(self.root)))
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop_sampling(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_rss = max(self.peak_rss, rss_bytes(descendants(self.root)))
