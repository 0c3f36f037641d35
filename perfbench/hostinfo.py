"""Host and process readings from ``/proc`` (Linux), cheap enough to
take around every timed item.

* :func:`tree_cpu` — CPU seconds of a process and all its descendants,
  split into the driver interpreter, the JVM and everything else (the
  Spark Python workers and their daemon).
* :class:`StealMeter` — the share of host CPU time stolen by the
  hypervisor between two readings of ``/proc/stat``.
* :func:`loadavg1` — the one-minute load average.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) of one pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:                       # exited between listdir and open
        return None
    # comm may hold spaces and parentheses: split at the LAST ')'
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return comm, ppid, (utime + stime + cutime + cstime) / _TICK


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


@dataclass
class CpuSplit:
    driver_py_s: float = 0.0
    jvm_s: float = 0.0
    py_workers_s: float = 0.0

    @property
    def total_s(self) -> float:
        return self.driver_py_s + self.jvm_s + self.py_workers_s

    def __add__(self, o: "CpuSplit") -> "CpuSplit":
        return CpuSplit(self.driver_py_s + o.driver_py_s,
                        self.jvm_s + o.jvm_s,
                        self.py_workers_s + o.py_workers_s)


def tree_cpu() -> dict[int, tuple[str, float]]:
    """{pid: (role, cpu seconds)} for this process and every
    descendant.  Role is ``driver`` for this process, ``jvm`` for java
    processes and ``worker`` for the rest."""
    root = os.getpid()
    procs: dict[int, tuple[str, int, float]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[str, float]] = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid not in procs:
            continue
        comm, _, cpu = procs[pid]
        role = ("driver" if pid == root
                else "jvm" if comm == "java" else "worker")
        out[pid] = (role, cpu)
        stack.extend(children.get(pid, ()))
    return out


def cpu_delta(before: dict[int, tuple[str, float]],
              after: dict[int, tuple[str, float]]) -> CpuSplit:
    """CPU spent between two :func:`tree_cpu` readings.  A process born
    in between counts from zero; one that exited in between is lost
    unless its parent reaped it (then it shows in the parent)."""
    split = CpuSplit()
    for pid, (role, cpu) in after.items():
        d = cpu - before.get(pid, (role, 0.0))[1]
        if role == "driver":
            split.driver_py_s += d
        elif role == "jvm":
            split.jvm_s += d
        else:
            split.py_workers_s += d
    return split


class StealMeter:
    """Share of all host CPU time that was stolen between
    construction and :meth:`read`."""

    def __init__(self) -> None:
        self._t0 = self._sample()

    @staticmethod
    def _sample() -> tuple[int, int]:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:9]]
        return vals[7], sum(vals)       # steal, user..steal total

    def read(self) -> float:
        steal, total = self._sample()
        d_total = total - self._t0[1]
        return (steal - self._t0[0]) / d_total if d_total else 0.0


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
