"""Peak RSS of the benchmark's process tree, sampled from /proc.

The tree is the benchmark's own Python process (the Spark driver side),
the JVM it launches, and the Python workers the JVM forks. Each sample
sums RSS per class at one instant; the peaks are kept per class, for the
Python processes together (``python``: driver and workers) and for the
whole tree (``total``).
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_MB = 1024.0 * 1024.0


def _scan() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, rss bytes) for every readable process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited between listdir and open
            continue
        # comm may contain spaces and parentheses: split after the last ')'
        lp, rp = stat.index("("), stat.rindex(")")
        fields = stat[rp + 2 :].split()
        out[int(name)] = (int(fields[1]), stat[lp + 1 : rp], int(fields[21]) * _PAGE)
    return out


def sample_tree(root: int) -> dict[str, float]:
    """One sample: summed RSS in MB of ``driver_py`` (``root`` itself),
    ``jvm`` (java processes under it) and ``pyworker`` (everything under
    a JVM), plus ``python`` and ``total``."""
    procs = _scan()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    sums = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
    if root in procs:
        sums["driver_py"] = procs[root][2] / _MB
    stack = [(pid, False) for pid in children.get(root, [])]
    while stack:
        pid, under_jvm = stack.pop()
        _, comm, rss = procs[pid]
        is_jvm = comm == "java"
        if under_jvm:
            cls = "pyworker"
        elif is_jvm:
            cls = "jvm"
        else:  # launcher scripts between the driver and the JVM
            cls = "driver_py"
        sums[cls] += rss / _MB
        stack.extend((c, under_jvm or is_jvm) for c in children.get(pid, []))
    sums["python"] = sums["driver_py"] + sums["pyworker"]
    sums["total"] = sums["python"] + sums["jvm"]
    return sums


class TreeSampler:
    """Background thread that samples :func:`sample_tree` every
    ``interval`` seconds until :meth:`stop`, which returns the peaks."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peaks = dict.fromkeys(("driver_py", "jvm", "pyworker", "python", "total"), 0.0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            for cls, mb in sample_tree(root).items():
                if mb > self.peaks[cls]:
                    self.peaks[cls] = mb
            if self._stop.wait(self.interval):
                return

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("memory sampler thread did not stop")
        return dict(self.peaks)
