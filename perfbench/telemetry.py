"""Run telemetry read from ``/proc``: machine steal/busy, process age,
process-tree CPU time split into JVM (with its JIT compiler threads'
share) and Python, process-tree peak RSS, and a host-speed probe.

The process tree is this bench process plus every live descendant: the
JVM that ``pyspark`` launches, and the Python worker daemon and workers
the JVM forks. A reaped child's CPU time is already folded into its
parent's ``cutime``/``cstime``, so summing utime+stime+cutime+cstime over
the live tree counts every process exactly once.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def cpu_ticks() -> tuple[int, int, int]:
    """(steal, busy, total) clock ticks from the aggregate ``/proc/stat``
    cpu line; busy excludes idle and iowait. Zeros when unreadable, so
    telemetry can never fail a run."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0, 0
    steal = v[7] if len(v) > 7 else 0
    total = sum(v[:8])
    return steal, total - v[3] - v[4], total


def ppm(part: int, whole: int) -> int:
    return round(1_000_000 * part / whole) if whole else 0


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` start time
    against ``/proc/uptime``); 0 when unreadable."""
    try:
        with open("/proc/self/stat") as fh:
            raw = fh.read()
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
    except (OSError, ValueError):
        return 0.0
    start = int(raw[raw.rindex(")") + 2 :].split()[19]) / _TICK
    return max(0.0, uptime - start)


def calibrate_s(n: int = 1_000_000) -> float:
    """Median seconds of three runs of a fixed single-threaded Python
    loop: the host's current per-core speed. Neighbour load that is not
    counted as steal (a busy hyperthread sibling, memory bandwidth)
    still shows here, so a slow run can be traced to its window."""
    times = []
    for _ in range(3):
        t, x = time.perf_counter(), 0
        for i in range(n):
            x = (x * 31 + i) % 1_000_003
        times.append(time.perf_counter() - t)
    return sorted(times)[1]


class Window:
    """Steal and busy share of the machine between ``start`` and
    ``stop``, in parts per million."""

    def __init__(self) -> None:
        self._t0 = cpu_ticks()

    def read(self) -> dict:
        s1, b1, t1 = cpu_ticks()
        s0, b0, t0 = self._t0
        return {"steal_ppm": ppm(s1 - s0, t1 - t0), "busy_ppm": ppm(b1 - b0, t1 - t0)}


def _stat(pid: str) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu seconds, reaped children's cpu seconds) of
    one process, or of one thread given as ``<pid>/task/<tid>``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; it is bracketed by the first '(' and last ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
    own = (int(f[11]) + int(f[12])) / _TICK
    return comm, int(f[1]), own, (int(f[13]) + int(f[14])) / _TICK


def _tree() -> dict[str, tuple[str, float]]:
    """pid -> (comm, cpu seconds) for this process and its descendants."""
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                procs[pid] = st
    root = str(os.getpid())
    children: dict[int, list[str]] = {}
    for pid, (_, ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            comm, _, own, reaped = procs[pid]
            out[pid] = (comm, own + reaped)
        todo.extend(children.get(int(pid), ()))
    return out


#: HotSpot JIT compiler thread names, as truncated in ``/proc``
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_cpu(pid: str) -> float:
    """CPU seconds of one JVM's JIT compiler threads."""
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        st = _stat(f"{pid}/task/{tid}")
        if st is not None and st[0].startswith(_JIT_THREADS):
            total += st[2]
    return total


def tree_cpu() -> dict[str, float]:
    """Process-tree CPU seconds so far: ``jvm`` (java processes), ``python``
    (this process and the Python workers), ``total``, and ``jit``, the
    part of ``jvm`` spent by JIT compiler threads."""
    jvm = py = jit = 0.0
    for pid, (comm, cpu) in _tree().items():
        if comm == "java":
            jvm += cpu
            jit += _jit_cpu(pid)
        else:
            py += cpu
    return {"jvm": jvm, "python": py, "total": jvm + py, "jit": jit}


def tree_peak_rss_mb() -> float:
    """Sum of each live tree process's peak RSS (``VmHWM``), in MB — an
    upper bound on the tree's simultaneous peak, dominated by the JVM."""
    total_kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
