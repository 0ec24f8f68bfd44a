"""Host-noise counters: hypervisor steal, JVM JIT/GC time, CPU seconds
and peak resident memory of the session JVM plus the Python process.

Every reader here is a cheap snapshot; the benchmark takes one at each
round boundary and reports differences. Nothing is sampled in the
background, so the counters add no load of their own.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def steal_pct(a: tuple[int, int], b: tuple[int, int]) -> float:
    total = b[1] - a[1]
    return 100.0 * (b[0] - a[0]) / total if total > 0 else 0.0


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and every live descendant
    (the JVM and its Python workers), plus reaped children."""
    ticks = 0
    for pid in _descendants(root):
        st = _proc_stat(pid)
        if st is not None:
            # utime stime cutime cstime: fields 14-17 of /proc/<pid>/stat
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM), in MiB."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


class JvmCounters:
    """JIT compilation and GC milliseconds from the session JVM's
    management beans, read over the py4j gateway."""

    def __init__(self, spark) -> None:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def snapshot(self) -> tuple[float, float]:
        jit = float(self._jit.getTotalCompilationTime())
        gc = float(sum(max(0, b.getCollectionTime()) for b in self._gcs))
        return jit, gc
