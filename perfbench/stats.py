"""Small pure helpers: order statistics, failure counting, metric-name
rules, and process-tree CPU / RSS readers from ``/proc``."""

from __future__ import annotations

import math
import os
import re
import statistics

import numpy as np

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

#: run_results / op statuses that count as a completed op
OK_STATUSES = frozenset({"success", "pass"})

_TICK = os.sysconf("SC_CLK_TCK")


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


def median(values) -> float:
    return float(statistics.median(values))


def hd_quantile(samples, q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a Beta((n+1)q,
    (n+1)(1-q))-weighted mean of the order statistics. Where the samples
    are sparse (a tail of mixed op kinds), it moves smoothly instead of
    jumping from one order statistic to the next."""
    x = np.sort(np.asarray(samples, dtype=float))
    n = len(x)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    grid = np.linspace(0.0, 1.0, 8001)
    with np.errstate(divide="ignore"):
        logpdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    pdf = np.exp(logpdf - logpdf[np.isfinite(logpdf)].max())
    pdf[~np.isfinite(pdf)] = 0.0
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(weights @ x)


def tail_quantile(samples, q: float = 0.8, min_beyond: int = 10):
    """The ``q`` quantile (hd_quantile), or None unless at least
    ``min_beyond`` samples lie past its nearest rank (a p80 needs 50
    samples, a p90 100)."""
    n = len(samples)
    if n == 0 or n - math.ceil(q * n) < min_beyond:
        return None
    return hd_quantile(samples, q)


def count_failures(statuses, mismatches: int = 0) -> tuple[int, int]:
    """``(attempted, failed)`` over op statuses plus output checks.

    Every status outside OK_STATUSES (error, fail, skipped, warn, partial
    success) is a failed op; each output check is one more attempt and
    each mismatch one more failure."""
    statuses = list(statuses)
    failed = sum(1 for s in statuses if s not in OK_STATUSES)
    return len(statuses), failed + mismatches


def error_rate(attempted: int, failed: int) -> float:
    return failed / attempted if attempted else 0.0


def _stat_fields(path: str) -> list[str]:
    """Fields of a ``/proc/.../stat`` file from ``state`` on (the command
    name may hold spaces and parentheses: it ends at the last ')')."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, found through the ppid field of
    each ``/proc/<pid>/stat``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat_fields(f"/proc/{entry}/stat")[1])
            except (OSError, IndexError, ValueError):  # exited meanwhile
                continue
            children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo += children.get(pid, [])
    return tree


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds of ``root``'s process tree: utime + stime of each live
    process plus cutime + cstime, the CPU of the children it has reaped
    (a Python worker that exited still counts in its parent)."""
    total = 0
    for pid in process_tree(root):
        try:
            f = _stat_fields(f"/proc/{pid}/stat")
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def thread_cpu_seconds(tid: int) -> float:
    """utime + stime of one thread of this process."""
    f = _stat_fields(f"/proc/self/task/{tid}/stat")
    return (int(f[11]) + int(f[12])) / _TICK


def vm_kib(pid: int, field: str) -> int:
    """A ``Vm...`` line of ``/proc/<pid>/status`` in KiB (0 if absent)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


class PeakMemory:
    """Peak resident memory of the driver, its JVM and the JVM's other
    descendants (the PySpark daemons and Python workers), in MiB.

    The driver and the JVM live for the whole run, so their peaks are the
    kernel's ``VmHWM``. Workers start and stop, so a thread of its own
    samples their summed ``VmRSS`` every ``interval`` seconds and keeps the
    largest sum. A child the JVM has forked but not yet exec'd (a shell
    for ``chmod``, say) still shows the JVM's whole resident set; it is
    left out, or the JVM would count twice."""

    def __init__(self, driver: int, jvm: int, interval: float = 0.2) -> None:
        import threading

        self.driver, self.jvm, self.interval = driver, jvm, interval
        self.jvm_exe = os.readlink(f"/proc/{jvm}/exe")
        self.workers_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        import threading

        self.tid = threading.get_native_id()
        while not self._stop.wait(self.interval):
            self.sample()
        self._used = thread_cpu_seconds(self.tid)

    def sample(self) -> None:
        total = 0
        for pid in process_tree(self.jvm)[1:]:
            try:
                if os.readlink(f"/proc/{pid}/exe") != self.jvm_exe:
                    total += vm_kib(pid, "VmRSS")
            except OSError:  # exited meanwhile
                continue
        self.workers_mb = max(self.workers_mb, total / 1024.0)

    def cpu_seconds(self) -> float:
        """CPU the sampling thread has used so far (an ended thread's CPU
        stays in its process's total)."""
        if self._thread.is_alive() and hasattr(self, "tid"):
            try:
                return thread_cpu_seconds(self.tid)
            except OSError:  # ended meanwhile
                pass
        return getattr(self, "_used", 0.0)

    def stop(self) -> float:
        """Stop sampling; the peak so far."""
        self._stop.set()
        self._thread.join()
        self.sample()
        return (vm_kib(self.driver, "VmHWM") + vm_kib(self.jvm, "VmHWM")) \
            / 1024.0 + self.workers_mb


def tree_bytes(path: str) -> int:
    """Total size of the regular files under ``path`` (or of the file)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total
