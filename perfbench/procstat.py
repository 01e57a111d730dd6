"""CPU and memory of this process and every descendant (the JVM and its
Python workers), read from /proc."""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_cpu_s(python_workers_only: bool = False) -> float:
    """CPU seconds (user + system, including reaped children) of the
    process tree. With ``python_workers_only``, only the Python processes
    below this one: the Spark Python workers and their daemon."""
    me = os.getpid()
    total = 0.0
    for pid in tree_pids():
        if python_workers_only and (pid == me
                                    or not _comm(pid).startswith("python")):
            continue
        st = _stat(pid)
        if st is not None:
            # utime stime cutime cstime
            total += sum(int(x) for x in st[11:15]) / _CLK
    return total


def tree_pss_mb() -> float:
    """Summed proportional set size of the process tree: like RSS, but a
    page shared by forked Python workers is split between them instead
    of counted once per worker."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024


class MemPeak:
    """Samples the process tree's memory (``tree_pss_mb``) on a background
    thread; use as a context manager around the runs, then read
    ``peak_mb``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "MemPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
