"""Host readings from /proc: CPU steal/busy deltas, load, memory size and
the proportional set size (PSS) of a process tree."""

from __future__ import annotations

import os
import threading


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


class HostSample:
    """Steal and busy shares of all CPU time between ``__init__`` and
    :meth:`close`, with the 1-minute load average at both ends."""

    def __init__(self):
        self._t0 = cpu_times()
        self.load1_before = load1()

    def close(self) -> dict:
        t1 = cpu_times()
        d = [b - a for a, b in zip(self._t0, t1)]
        total = max(1, sum(d))
        idle = d[3] + d[4]
        return {"steal_pct": 100.0 * d[7] / total,
                "busy_pct": 100.0 * (total - idle - d[7]) / total,
                "load1_before": self.load1_before, "load1_after": load1()}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pids) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # a worker exited between listing and reading
    return total


class PssPeak:
    """Background sampler of the summed PSS of this process's descendants
    (the JVM, the Python daemon and its forked workers). PSS splits shared
    pages between the processes that map them, so forked workers are not
    counted twice. The benchmark's own process is left out. Reading the
    JVM's ``smaps_rollup`` walks its page tables, about 25 ms of kernel time
    on a 4-vCPU VM, so the sampler reads once a second to keep out of the
    way of the work it measures."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_bytes(descendants(me)))
            self._stop.wait(self.interval)

    def start(self) -> "PssPeak":
        self._thread.start()
        return self

    def reset(self) -> None:
        self.peak = 0

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak
