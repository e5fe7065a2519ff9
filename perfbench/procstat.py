"""CPU time and peak memory of this process tree, read from /proc.

The benchmark process starts the Spark driver JVM, which starts the Python
worker daemon, which forks the Python workers. CPU is summed over every
live descendant, each counting its own time plus the time of children it
has already reaped, so a worker that exits between two samples is still
counted through its parent.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """root and every process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                children.setdefault(int(st[1][1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int | None = None) -> dict[str, float]:
    """{'jvm': s, 'python': s}: user+system CPU of the tree, by process
    kind (the Spark JVM, and every Python process: this one and the
    workers)."""
    out = {"jvm": 0.0, "python": 0.0}
    for pid in descendants(root or os.getpid()):
        st = _stat(pid)
        if st is None:
            continue
        name, f = st
        # utime, stime, cutime, cstime are fields 14-17 of /proc/pid/stat
        ticks = sum(int(x) for x in f[11:15])
        out["jvm" if name == "java" else "python"] += ticks / _TICK
    return out


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat: the share
    of time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def process_uptime_s() -> float:
    """Seconds since this process started (field 22 of /proc/self/stat,
    in clock ticks since boot)."""
    start = int(_stat(os.getpid())[1][19]) / _TICK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def worker_peak_rss_mb(root: int | None = None) -> float:
    """Highest VmHWM (peak resident set) of any Spark Python worker."""
    peak = 0
    for pid in descendants(root or os.getpid()):
        if "pyspark.daemon" not in _cmdline(pid) and "pyspark.worker" not in _cmdline(pid):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


def reap(pids: list[int], timeout_s: float = 20.0) -> None:
    """Waits until every pid has exited; SIGKILLs what is left at the
    timeout and waits for that too."""
    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if p != os.getpid()]
    while alive:
        alive = [p for p in alive if (st := _stat(p)) and st[1][0] != "Z"]  # Z: exited
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.05)
