"""CPU, memory and host-noise readings from ``/proc``.

CPU is split three ways, as the end-to-end ``pass_cpu_s`` sums it:

- the driver JVM, leaving out its JIT-compiler threads, whose CPU does
  not settle within a run;
- the Python workers, which are the JVM's descendant processes (their
  own time plus the time of reaped children, so a worker that exits
  between two readings is still counted);
- the calling Python thread (``time.thread_time``).
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
_JIT_PREFIXES = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of a ``/proc/.../stat`` file."""
    with open(path, encoding="ascii", errors="replace") as f:
        raw = f.read()
    lo, hi = raw.index("("), raw.rindex(")")
    return raw[lo + 1:hi], raw[hi + 2:].split()


def _cpu_ticks(fields: list[str], children: bool = False) -> int:
    # fields[11:13] are utime, stime; fields[13:15] cutime, cstime
    n = int(fields[11]) + int(fields[12])
    if children:
        n += int(fields[13]) + int(fields[14])
    return n


def jvm_cpu_s(pid: int) -> float:
    """CPU seconds of process ``pid`` minus its JIT-compiler threads."""
    _, fields = _stat_fields(f"/proc/{pid}/stat")
    total = _cpu_ticks(fields)
    jit = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            comm, tf = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        except FileNotFoundError:  # thread ended while listing
            continue
        if comm.startswith(_JIT_PREFIXES):
            jit += _cpu_ticks(tf)
    return (total - jit) / _TICK


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            _, fields = _stat_fields(f"/proc/{name}/stat")
        except (FileNotFoundError, ProcessLookupError):
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's descendant processes (Python workers),
    including children they have reaped."""
    ticks = 0
    for p in descendants(jvm_pid):
        try:
            _, fields = _stat_fields(f"/proc/{p}/stat")
        except (FileNotFoundError, ProcessLookupError):
            continue
        ticks += _cpu_ticks(fields, children=True)
    return ticks / _TICK


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size (``VmHWM``) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class CpuMeter:
    """Cumulative CPU readings of one run's three process groups."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def read(self) -> dict[str, float]:
        return {"jvm": jvm_cpu_s(self.jvm_pid),
                "pyworker": pyworker_cpu_s(self.jvm_pid),
                "driver_py": time.thread_time()}

    @staticmethod
    def delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
        return {k: b[k] - a[k] for k in a}


def loadavg() -> float:
    """One-minute load average."""
    with open("/proc/loadavg", encoding="ascii") as f:
        return float(f.read().split()[0])


def steal_s() -> float:
    """Cumulative CPU time stolen by the hypervisor, over all CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def memory_limit_bytes() -> int:
    """The smaller of host memory and the cgroup memory limit."""
    with open("/proc/meminfo", encoding="ascii") as f:
        host = int(f.readline().split()[1]) * 1024
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path, encoding="ascii") as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            return min(host, int(raw))
    return host
