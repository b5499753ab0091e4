"""CPU and resident memory of a process tree, read from /proc.

The tree is the Spark JVM plus every descendant (the PySpark
daemon and its Python workers).  CPU is ``utime + stime`` of each live
process plus ``cutime + cstime``, the CPU of children it has already
reaped, so a worker that exits between two readings is still counted
once, through its parent.  The Python workers' memory is, per
operation, the largest resident high-water mark among them, read by a
background thread.  Steal time, the CPU time the hypervisor gave to other
guests, comes from /proc/stat.
"""

from __future__ import annotations

import os
import signal
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def tree(root: int) -> list[int]:
    """``root`` and its live descendants, by the ppid field of every
    /proc/<pid>/stat."""
    parent: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            parent.setdefault(int(f[1]), []).append(int(name))
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(parent.get(pid, ()))
    return pids


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields start after the closing paren
    return raw[raw.rindex(")") + 2:].split()


def _alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def _reap(pids: list[int]) -> None:
    for pid in pids:
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:  # not our child, or already reaped
            pass


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait up to ``timeout`` seconds for ``pids`` to exit, reaping our
    own children; returns the ones still alive."""
    deadline = time.monotonic() + timeout
    while True:
        _reap(pids)
        left = [p for p in pids if _alive(p)]
        if not left or time.monotonic() >= deadline:
            _reap(pids)
            return left
        time.sleep(0.1)


def end_all(pids: list[int], timeout: float = 10.0) -> None:
    """Wait for ``pids`` to exit; terminate, then kill, what remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = wait_gone(pids, timeout)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
    wait_gone(pids, timeout)


def cpu_seconds(root: int) -> float:
    ticks = 0
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        # fields 14-17 of stat(5), counted from 1 with pid and comm
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of the CPU time between two ``steal_ticks`` readings that
    the hypervisor gave to other guests."""
    total = b[1] - a[1]
    return (b[0] - a[0]) / total if total > 0 else 0.0


def peak_rss_bytes(pid: int) -> int:
    """The kernel's high-water mark of a Python process's resident
    memory; 0 for other processes (a child the JVM forks shares the JVM's
    memory until it execs)."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if not f.read().startswith("python"):
                return 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def reset_peak_rss(pid: int) -> None:
    """Reset a Python process's resident high-water mark to its current
    resident size (``clear_refs`` 5, see proc(5))."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if not f.read().startswith("python"):
                return
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


class Sampler:
    """Per operation, the peak resident memory of the largest Python
    process under the root (the PySpark daemon and its workers under the
    JVM): ``begin_op`` resets each one's high-water mark, a background
    thread reads them every ``interval`` seconds, and ``end_op`` keeps
    the largest.  The largest single worker, not the sum: how many
    workers are alive at a given moment depends on task scheduling."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root = root
        self.interval = interval
        self._peak = 0
        self.op_peaks: list[int] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> Sampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        rss = max((peak_rss_bytes(p) for p in tree(self.root)[1:]),
                  default=0)
        with self._lock:
            self._peak = max(self._peak, rss)

    def begin_op(self) -> None:
        for pid in tree(self.root)[1:]:
            reset_peak_rss(pid)
        with self._lock:
            self._peak = 0

    def end_op(self) -> None:
        self.sample()
        with self._lock:
            self.op_peaks.append(self._peak)

    def workers_mb(self) -> float:
        """Median over the operations of their peak."""
        return (statistics.median(self.op_peaks) / 2**20
                if self.op_peaks else 0.0)

    def cpu_s(self) -> float:
        return cpu_seconds(self.root)
