"""Process-tree and host readings from ``/proc``.

The benchmark's process tree is the driver (this Python process), the JVM
it launches and the Python workers the JVM forks.  CPU is read as
``utime + stime + cutime + cstime`` of every live process in the tree, so a
worker that exits and is reaped inside the tree keeps its CPU in its
parent's ``cutime``.
"""

from __future__ import annotations

import os
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields 3.. of ``/proc/<pid>/stat`` (after the parenthesised comm)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def is_alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] not in ("Z", "X")


def cpu_ticks(pid: int, with_children: bool = True) -> int:
    st = _stat(pid)
    if st is None:
        return 0
    n = 4 if with_children else 2
    return sum(int(x) for x in st[11:11 + n])


class ProcessTree:
    """CPU split of the tree rooted at this process: the driver's own
    CPU, the JVM's own CPU, and the rest (Python workers and anything else
    the JVM started)."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.jvm: int | None = None

    def find_jvm(self) -> int | None:
        for p in descendants(self.root)[1:]:
            if _comm(p) == "java":
                self.jvm = p
                break
        return self.jvm

    def cpu(self) -> dict[str, float]:
        pids = descendants(self.root)
        total = sum(cpu_ticks(p) for p in pids)
        driver = cpu_ticks(self.root, with_children=False)
        jvm = cpu_ticks(self.jvm, with_children=False) if self.jvm in pids else 0
        return {"total": total / _TICK, "driver": driver / _TICK, "jvm": jvm / _TICK,
                "workers": (total - driver - jvm) / _TICK}

    def python_workers(self) -> set[tuple[int, str]]:
        """(pid, start time) of every live Python process below the JVM."""
        if self.jvm is None:
            return set()
        out = set()
        for p in descendants(self.jvm)[1:]:
            if _comm(p).startswith("python"):
                st = _stat(p)
                if st is not None:
                    out.add((p, st[19]))
        return out

    def peak_rss_mb(self) -> dict[str, float]:
        """Each live tree process's own peak RSS (``VmHWM``), summed for the
        driver, the JVM and the rest, and in total."""
        out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        for p in descendants(self.root):
            kind = "driver" if p == self.root else "jvm" if p == self.jvm else "workers"
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            out[kind] += int(line.split()[1]) / 1024.0
            except OSError:
                pass
        out["total"] = sum(out.values())
        return out


def process_age_s() -> float:
    """Seconds since this process started."""
    start = int(_stat(os.getpid())[19]) / _TICK
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) - start


class Steal:
    """Share of host CPU time stolen by the hypervisor since ``start()``."""

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)

    def __init__(self) -> None:
        self.s0, self.t0 = self._read()

    def frac(self) -> float:
        s1, t1 = self._read()
        return (s1 - self.s0) / max(1, t1 - self.t0)


PROBE_ITERS = 300_000


def probe_s(repeats: int = 5) -> float:
    """Median time of a fixed single-thread Python loop: the host's speed
    at this moment, independent of the program."""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        x = 0
        for i in range(PROBE_ITERS):
            x += i * i
        times.append(time.perf_counter() - t)
    return statistics.median(times)
