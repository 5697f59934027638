"""CPU time and peak memory of this process and everything it spawned
(the Spark JVM and the Python workers the JVM forks), read from /proc."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; every field after it is numeric
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of `pids`, including their reaped children
    (pyspark.daemon reaps its forked workers, so their CPU lands in the
    daemon's cutime/cstime)."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def jit_cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of the JVMs' JIT compiler threads ("C1
    CompilerThread0", "C2 CompilerThread1", ...). Complete only while
    those threads live: the JVM runs with
    -XX:-UseDynamicNumberOfCompilerThreads, so none exits early."""
    ticks = 0
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            name = raw[raw.index("(") + 1:raw.rindex(")")]
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                ticks += sum(int(x) for x in raw[raw.rindex(")") + 2:].split()[11:13])
    return ticks / _TICK


def peak_rss_by_name(pids: list[int]) -> dict[str, float]:
    """Peak resident set (VmHWM) in MB, summed per process name."""
    out: dict[str, float] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started."""
    # both clocks count from boot: /proc/uptime to 10 ms, starttime in ticks
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - int(_stat(os.getpid())[19]) / _TICK)
