"""CPU time and resident memory of this process and everything it started
(the JVM and the Python workers the JVM forks), read from ``/proc``."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def tree(pid: int | None = None) -> list[int]:
    pids, todo = [], [pid or os.getpid()]
    while todo:
        p = todo.pop()
        pids.append(p)
        todo += _children(p)
    return pids


def cpu_seconds(pid: int | None = None) -> float:
    """User+system CPU of the process tree, including reaped children."""
    total = 0
    for p in tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


class JitMeter:
    """CPU seconds of one JVM's JIT compiler threads (HotSpot's
    ``C1 CompilerThread*`` / ``C2 CompilerThread*``).

    HotSpot starts and stops compiler threads as its queue grows and
    shrinks, and a thread's CPU leaves ``/proc`` when it ends, so a thread
    samples them every ``interval`` seconds and keeps each one's last
    reading. ``own_cpu_s`` is what the sampling itself cost; it runs in this
    process and is subtracted from the pass CPU with the JIT's."""

    def __init__(self, jvm_pid: int, interval: float = 0.05):
        self.pid, self.interval = jvm_pid, interval
        self.names: dict[str, bool] = {}  # tid -> is a compiler thread
        self.last: dict[str, float] = {}
        self.own_cpu_s = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="jit-meter", daemon=True)
        self._thread.start()

    def _is_compiler(self, tid: str) -> bool:
        if tid not in self.names:
            try:
                with open(f"/proc/{self.pid}/task/{tid}/comm") as f:
                    self.names[tid] = f.read().startswith(("C1 CompilerThre", "C2 CompilerThre"))
            except OSError:
                return False
        return self.names[tid]

    def sample(self) -> None:
        with self._lock:
            c0 = time.thread_time()
            try:
                tids = os.listdir(f"/proc/{self.pid}/task")
            except OSError:
                tids = []
            for tid in tids:
                if not self._is_compiler(tid):
                    continue
                try:
                    with open(f"/proc/{self.pid}/task/{tid}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                self.last[tid] = (int(fields[11]) + int(fields[12])) / _TICK
            self.own_cpu_s += time.thread_time() - c0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def reading(self) -> tuple[float, float]:
        """(JIT CPU so far, the meter's own CPU so far), freshly sampled."""
        self.sample()
        with self._lock:
            return sum(self.last.values()), self.own_cpu_s

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def peak_rss_mb(pid: int | None = None) -> float:
    """Sum over the live process tree of each process's peak RSS (VmHWM)."""
    kb = 0
    for p in tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def rss_mb(pid: int | None = None) -> float:
    """Current resident memory of one process."""
    with open(f"/proc/{pid or os.getpid()}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise OSError("no VmRSS line")


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    (the ``steal`` column of ``/proc/stat``); it explains slow runs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0
