"""Host-side probes the benchmark samples around each timed action:
co-tenant CPU load and the peak RSS of Spark's Python workers. Both
read ``/proc`` (and the cgroup v1 cpuacct counter) only."""

from __future__ import annotations

import os
import statistics
import threading
import time

_CPUACCT = "/sys/fs/cgroup/cpuacct/cpuacct.usage"


class ExternalLoad:
    """Cores burned by other tenants while a sample runs: host busy
    jiffies (``/proc/stat``) minus this container's cpuacct usage, as an
    average over the sample and the peak 1 s delta (the same attribution
    as ``bench.py``'s ExternalLoad). Samples are reported as measured;
    nothing is dropped or retried because of load."""

    def __init__(self) -> None:
        self.hz = os.sysconf("SC_CLK_TCK") or 100
        try:
            self._snap()
            self.ok = True
        except OSError:
            self.ok = False

    @staticmethod
    def _snap():
        with open("/proc/stat") as f:
            vals = list(map(int, f.readline().split()[1:]))
        # guest/guest_nice are already inside user/nice: sum the first
        # eight fields, minus idle and iowait
        busy = sum(vals[:8]) - vals[3] - vals[4]
        with open(_CPUACCT) as f:
            own_ns = int(f.read())
        return busy, own_ns, time.monotonic()

    def _ext(self, a, b) -> float:
        wall = max(b[2] - a[2], 1e-6)
        return (b[0] - a[0]) / self.hz / wall - (b[1] - a[1]) / 1e9 / wall

    def start(self) -> None:
        if not self.ok:
            return
        self._t0 = self._snap()
        self._peak = 0.0
        self._stop = threading.Event()
        self._thr = threading.Thread(target=self._sample, daemon=True)
        self._thr.start()

    def _sample(self) -> None:
        prev = self._t0
        while not self._stop.wait(1.0):
            try:
                cur = self._snap()
            except OSError:
                return
            self._peak = max(self._peak, self._ext(prev, cur))
            prev = cur

    def stop(self) -> tuple[float | None, float | None]:
        """(average, peak 1 s) external cores since start()."""
        if not self.ok:
            return None, None
        self._stop.set()
        self._thr.join(timeout=5.0)
        avg = self._ext(self._t0, self._snap())
        return round(max(avg, 0.0), 2), round(max(self._peak, 0.0), 2)


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: ppid follows the ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(name))
    return tree


def _is_python_worker(pid: int) -> bool:
    # the JVM's own command line names "pyspark-shell": match on the
    # executable first
    try:
        with open(f"/proc/{pid}/comm") as f:
            if not f.read().startswith("python"):
                return False
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark" in f.read()
    except OSError:
        return False


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRSS:
    """Peak resident set of any single Python worker process among this
    process's descendants, polled from ``VmHWM`` (the kernel's own
    high-water mark, so a peak between two polls is not missed)."""

    def __init__(self, period_s: float = 0.05) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thr = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> None:
        tree = _children()
        todo = list(tree.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            todo.extend(tree.get(pid, []))
            if _is_python_worker(pid):
                self.peak_kb = max(self.peak_kb, _hwm_kb(pid))

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self._poll()

    def __enter__(self) -> "WorkerRSS":
        self._thr.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thr.join(timeout=5.0)
        self._poll()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of ``values``."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def spread(values: list[float]) -> float:
    """Interquartile range as a share of the median (0 for < 2 values)."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0
