"""Process-tree CPU and RSS read from /proc.

The tree is this Python process, the Spark JVM it launched and the
Python workers the JVM forks. CPU time counts every live process
(utime + stime) plus the CPU of children it has already reaped
(cutime + cstime), so short-lived Python workers are not lost when they
exit. Memory is the tree's proportional set size (PSS: a page shared by
n processes counts 1/n in each), sampled on a background thread; the peak
is the largest sum seen since the last ``reset_peak``. Summing plain RSS
would count pages shared after a fork once per process: a child the JVM
spawns shows the JVM's whole resident set until it execs.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:  # the process exited between listing and reading
        return None
    # comm may contain spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> dict[int, list[str]]:
    """pid -> stat fields (from field 3, ``state``, on) for ``root`` and
    all its descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None:
            continue
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def descendants(root: int | None = None) -> list[int]:
    """pids of every live descendant of ``root`` (default: this process)."""
    root = root or os.getpid()
    return [pid for pid in _tree(root) if pid != root]


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the process tree, reaped children
    included."""
    total = 0
    for f in _tree(root or os.getpid()).values():
        # fields[11..14] = utime, stime, cutime, cstime (stat fields 14-17)
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # exited, or a kernel thread without a memory map
        pass
    return 0


def tree_rss_mb(root: int | None = None) -> float:
    """Summed PSS of the process tree, in MB."""
    return sum(_pss_kb(pid) for pid in _tree(root or os.getpid())) / 1e3


class RssSampler:
    """Samples the tree's summed PSS every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            rss = tree_rss_mb()
            with self._lock:
                self._peak = max(self._peak, rss)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = tree_rss_mb()

    def peak_mb(self) -> float:
        with self._lock:
            return max(self._peak, tree_rss_mb())
