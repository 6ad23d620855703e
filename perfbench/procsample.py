"""A ``/proc`` sampler for one process tree (the benchmark process, the
JVM it launches and the Python workers the JVM forks).

One background thread samples the tree at a fixed interval and keeps
the peak of its summed resident memory; on request it returns the tree's
CPU seconds: ``utime + stime + cutime + cstime`` of every live member,
so children that exited and were reaped inside the tree stay counted,
less the sampling thread's own CPU time.

Resident memory is the RSS of the driver and the JVM (``statm``) plus
the PSS of the Python workers (``smaps_rollup``).  A worker forked from
the worker daemon shares most of its pages with it, and plain RSS would
count those pages once per worker, so the sum would jump with every
fork.  The JVM shares almost nothing, and reading its ``smaps_rollup``
walks its page tables under its memory-map lock (about 10 ms for a
1 GiB heap, four times a second), which stalls the JVM's own mappings.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stats() -> dict[int, tuple[int, int, bytes]]:
    """pid -> (ppid, cpu ticks incl. reaped children, command)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces; fields resume after ')'
        fields = raw[raw.rfind(b")") + 2 :].split()
        ticks = int(fields[11]) + int(fields[12]) + int(fields[13]) + int(fields[14])
        command = raw[raw.find(b"(") + 1 : raw.rfind(b")")]
        out[int(name)] = (int(fields[1]), ticks, command)
    return out


def tree_sample(root: int) -> tuple[float, int, list[int], dict[str, tuple[float, int]]]:
    """(cpu seconds, resident bytes, pids, {part: (cpu seconds, resident
    bytes)}) over ``root``'s tree; the parts are the driver (``root``),
    the JVM (with the helpers it spawns) and the Python workers."""
    stats = _read_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            pids.append(pid)
            todo.extend(children.get(pid, ()))
    parts = {"driver": [0, 0], "jvm": [0, 0], "python_workers": [0, 0]}
    for p in pids:
        ppid, ticks, command = stats[p]
        if p == root:
            part, mem = "driver", _rss_bytes(p)
        elif command.startswith(b"python"):
            part, mem = "python_workers", _pss_bytes(p)
        elif command == b"java" and ppid == root:
            part, mem = "jvm", _rss_bytes(p)
        else:
            # a helper the JVM spawns (Hadoop's local file system runs
            # chmod and the like): its CPU goes to the JVM, as it does once
            # the JVM reaps it, and its memory is left out, because until
            # it execs it shares the JVM's pages and would count them twice
            part, mem = "jvm", 0
        parts[part][0] += ticks
        parts[part][1] += mem
    ticks = sum(v[0] for v in parts.values())
    mem = sum(v[1] for v in parts.values())
    return ticks / _TICK, mem, pids, {k: (t / _TICK, m) for k, (t, m) in parts.items()}


def host_cpu_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole host from ``/proc/stat``:
    time the hypervisor gave this machine's CPUs to someone else, which
    slows every wall-clock metric without showing in process CPU time."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0  # exited since the stat scan


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited since the stat scan
    return 0


class ProcSampler:
    """Samples the tree rooted at ``root`` every ``interval`` seconds
    while started; ``peak_rss`` covers samples since the last reset."""

    def __init__(self, root: int | None = None, interval: float = 0.25):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_rss = 0
        self.peak_parts: dict[str, int] = {}
        self._own_cpu = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()
            self._own_cpu = time.thread_time()

    def sample(self) -> dict[str, float]:
        """Take one sample now; returns CPU seconds per part and in total."""
        cpu, mem, _, parts = tree_sample(self.root)
        with self._lock:
            if mem > self.peak_rss:
                self.peak_rss = mem
                self.peak_parts = {k: r for k, (_, r) in parts.items()}
        # the sampling thread's own CPU is the benchmark's, not the driver's
        out = {k: c for k, (c, _) in parts.items()}
        out["driver"] -= self._own_cpu
        out["total"] = cpu - self._own_cpu
        return out

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_rss = 0
            self.peak_parts = {}

    def start(self) -> "ProcSampler":
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
