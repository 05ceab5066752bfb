"""Small measurement helpers: ratios, process-tree memory and CPU
accounting, measured windows, and the host calibration probe."""

from __future__ import annotations

import os
import threading
import time


def ratio(num: float, den: float) -> float:
    """``num / den``, 0 when there is nothing to divide by."""
    return num / den if den else 0.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    kids = _children_map()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory, with each page shared
    between processes (a forked Python worker and its daemon) split among
    them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class PeakRss:
    """Samples the summed resident memory of this process tree (this
    process, the JVM, Spark's Python workers, the load generator) on a
    background thread; ``peak`` is the largest sum seen. Memory is counted
    as proportional set size, so pages that forked workers share with their
    daemon count once, however many workers there are. Use as a context
    manager."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def sample(self) -> None:
        self.peak = max(self.peak, sum(_pss_bytes(p) for p in process_tree()))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def cpu_accounting() -> tuple[float, float, float]:
    """``(host busy+steal CPU s, steal CPU s, this process tree's CPU s)``
    from ``/proc``. Across an interval, busy minus the tree's share is CPU
    burned by other processes; steal is time the hypervisor kept runnable
    virtual CPUs off the physical ones."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:9]]
    busy = (v[0] + v[1] + v[2] + v[5] + v[6] + v[7]) / hz
    mine = 0.0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
            mine += (int(rest[11]) + int(rest[12])) / hz
        except (OSError, IndexError, ValueError):
            continue
    return busy, v[7] / hz, mine


class HostWindow:
    """CPU accounting over a block: this process tree's CPU seconds, and
    the average number of cores other processes kept busy and the
    hypervisor stole over it. Use as a context manager. The figures go into
    the run-validity record; no measured time is corrected with them."""

    tree_cpu_s = external_cores = steal_cores = 0.0

    def __enter__(self) -> "HostWindow":
        self._t0 = time.perf_counter()
        self._start = cpu_accounting()
        return self

    def __exit__(self, *exc) -> None:
        busy, steal, mine = cpu_accounting()
        busy0, steal0, mine0 = self._start
        dt = max(time.perf_counter() - self._t0, 1e-9)
        self.tree_cpu_s = mine - mine0
        self.external_cores = max(0.0, ((busy - busy0) - self.tree_cpu_s) / dt)
        self.steal_cores = (steal - steal0) / dt


#: a measured window during which the hypervisor stole more cores than this
#: is left out of its run's median, unless no window of the run was quiet
QUIET_STEAL_CORES = 0.1


def quiet(windows: list[dict]) -> list[dict]:
    """The windows (each with its ``HostWindow`` as ``host``) during which
    the hypervisor stole at most ``QUIET_STEAL_CORES``, or all of them when
    none was quiet. On the virtual machine this was tuned on, steal comes in
    stretches of seconds to minutes and a stolen window reads up to twice as
    long, so a median over a run's quiet windows does not depend on where in
    the run a stretch fell. Nothing is measured again or corrected."""
    calm = [w for w in windows if w["host"].steal_cores <= QUIET_STEAL_CORES]
    return calm or windows


def measure_windows(one, seconds: float, at_least: int = 3) -> list[dict]:
    """Call ``one()`` — one measured window: a roundtrip cycle or a query
    pass — until ``seconds`` have passed and it ran ``at_least`` times, and
    return the windows (their median is then a median of three or more)."""
    start = time.perf_counter()
    windows = [one()]
    while len(windows) < at_least or time.perf_counter() - start < seconds:
        windows.append(one())
    return windows


def calibration_probe() -> float:
    """Best-of-3 wall time of a 2048x2048 float64 matmul after two warm
    calls: a JVM-free reading of the host's effective CPU speed."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal((2048, 2048))

    def one() -> float:
        t0 = time.perf_counter()
        (a @ a).sum()
        return time.perf_counter() - t0

    one()
    one()
    return min(one(), one(), one())
