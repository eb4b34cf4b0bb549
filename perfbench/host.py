"""Process-tree CPU/RSS sampling and the host stamp, read from /proc.

The benchmark process is the root of the tree it measures: the driver
JVM is its child, the PySpark worker daemon and its forked workers are
the JVM's descendants.  CPU is the sum of user+sys over every live
member plus the already-reaped children each member accounts for
(cutime/cstime), so a worker that exits mid-run is still counted.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree_pids(root: int) -> list[int]:
    """``root`` and its descendants, walked down from ``root`` only."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def tree_cpu_s(root: int) -> float:
    """user+sys seconds of the tree, including reaped descendants."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def wait_for_exit(pids: list[int], timeout: float) -> None:
    """Block until none of ``pids`` runs any more (exited or zombie).
    Workers orphaned by the JVM's exit leave the tree but are still
    waited for."""
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in pids if (_stat(p) or ["Z"])[0] != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {alive}")
        time.sleep(0.05)


class PeakRss:
    """Samples the tree's RSS every ``interval`` s inside a with-block.
    The sampler runs in the measured process, so only the traced job
    uses it: its CPU would otherwise land in ``cpu_core_s``."""

    def __init__(self, root: int, interval: float = 0.05):
        self.root, self.interval = root, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> PeakRss:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))


def cpu_ticks() -> tuple[int, int, int]:
    """(total, idle+iowait, steal) jiffies from the first /proc/stat line."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[3] + v[4], v[7] if len(v) > 7 else 0


class HostWindow:
    """Steal share, busy cores and load average over a measured window."""

    def __init__(self):
        self.t0 = time.time()
        self.ticks0 = cpu_ticks()
        self.load0 = os.getloadavg()

    def stamp(self) -> dict:
        t1 = cpu_ticks()
        total = max(1, t1[0] - self.ticks0[0])
        ncpu = os.cpu_count() or 1
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "window_s": round(time.time() - self.t0, 3),
            "steal_pct": round(100 * (t1[2] - self.ticks0[2]) / total, 2),
            "busy_cores": round(
                (1 - (t1[1] - self.ticks0[1]) / total) * ncpu, 2),
            "loadavg_1m": [self.load0[0], os.getloadavg()[0]],
        }
