"""Process-level readings from ``/proc``: peak resident memory and CPU
time of the benchmark's driver, the Spark JVM it launched, and the
JVM's Python workers."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def children(pid: int) -> list[int]:
    out = []
    for e in os.listdir("/proc"):
        if e.isdigit():
            st = _stat(int(e))
            if st is not None and int(st[1]) == pid:
                out.append(int(e))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = children(todo.pop())
        out += kids
        todo += kids
    return out


def cpu_s(pid: int, reaped: bool = False) -> float:
    """utime + stime of ``pid`` (plus its reaped children when asked)."""
    st = _stat(pid)
    if st is None:
        return 0.0
    ticks = int(st[11]) + int(st[12])
    if reaped:
        ticks += int(st[13]) + int(st[14])
    return ticks / _TICK


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole machine from /proc/stat:
    time a hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcGroup:
    """The driver (this process), the JVM and the JVM's Python
    workers. Workers are found as the JVM's descendants; exited
    workers are counted through their parent's reaped-children time."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm = jvm_pid

    def workers(self) -> list[int]:
        return descendants(self.jvm)

    def cpu(self) -> dict[str, float]:
        return {
            "driver": cpu_s(os.getpid()),
            "jvm": cpu_s(self.jvm),
            "pyworker": sum(cpu_s(p, reaped=True) for p in self.workers()),
        }

    def peak_rss_mb(self) -> float:
        pids = [os.getpid(), self.jvm] + self.workers()
        return sum(hwm_mb(p) for p in pids)
