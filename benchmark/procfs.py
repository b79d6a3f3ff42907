"""Resource use of this process tree (this process, the JVM it starts
and the JVM's Python workers), read from /proc: psutil is not a
dependency of the repository."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    """/proc/<pid>/stat fields after the command name (field 3 on)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = int(_stat_fields(int(d))[1])
            except (OSError, IndexError, ValueError):
                continue
    me, out = os.getpid(), []
    for pid in parent:
        p = pid
        while p and p != me:
            p = parent.get(p)
        if p == me:
            out.append(pid)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) the tree has used so far, counting
    children its members have already reaped. Time the host gives the
    vCPUs to other guests (steal) is not charged, so on a shared
    machine a run's CPU seconds move less than its wall time."""
    total = 0
    for pid in tree_pids():
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat
        total += sum(int(x) for x in f[11:15])
    return total / CLK_TCK


def tree_jit_cpu_s() -> float:
    """CPU seconds the tree's JIT compiler threads (HotSpot's "C1/C2
    CompilerThreadN") have used so far. The JVM must keep them alive
    (-XX:-UseDynamicNumberOfCompilerThreads): a thread that exits takes
    its own count with it while the process total keeps it."""
    total = 0
    for pid in tree_pids():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    head, rest = f.read().rsplit(")", 1)
            except OSError:
                continue
            if " CompilerThre" in head:
                total += sum(int(x) for x in rest.split()[11:13])
    return total / CLK_TCK


def tree_read_bytes() -> int:
    """Bytes the live tree has read so far through read()-family calls
    (`rchar` of /proc/<pid>/io), whether or not the page cache served
    them."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("rchar:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


def tree_peak_rss() -> int:
    """Sum over the live tree of each process's peak resident set
    (VmHWM), in bytes. The kernel keeps the high-water marks, so
    nothing samples while the runs are timed (reading the JVM's
    smaps_rollup costs ~40 ms of CPU a call)."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total
