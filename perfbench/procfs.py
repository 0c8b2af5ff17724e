"""Process-tree and cgroup readings from /proc and /sys (Linux only).

Used by ``run.py`` (peak memory of the worker's process
tree) and by the worker itself (JVM vs Python CPU split at span
boundaries, cgroup CPU over a timed interval).
"""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024

_CGROUP_CPU_FILES = (
    ("/sys/fs/cgroup/cpuacct/cpuacct.usage", 1e9),   # v1: nanoseconds
    ("/sys/fs/cgroup/cpu.stat", 1e6),                # v2: usage_usec
    ("/sys/fs/cgroup/unified/cpu.stat", 1e6),        # hybrid mount
)


def cgroup_cpu_seconds() -> float | None:
    """Container-wide CPU seconds; None when no controller is readable."""
    for path, scale in _CGROUP_CPU_FILES:
        try:
            with open(path) as fh:
                txt = fh.read()
        except OSError:
            continue
        if path.endswith("cpu.stat"):
            for line in txt.splitlines():
                if line.startswith("usage_usec"):
                    return int(line.split()[1]) / scale
            continue
        return int(txt.strip()) / scale
    return None


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat:
    steal is time the hypervisor ran something else on our vCPUs."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _snapshot() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, CPU seconds incl. reaped children)."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        head, _, tail = raw.rpartition(")")
        parts = tail.split()
        try:
            # utime + stime + cutime + cstime: a recycled Python worker's
            # CPU moves into its daemon's cutime instead of vanishing
            cpu = sum(int(x) for x in parts[11:15]) / _CLK
            out[int(pid)] = (int(parts[1]), head.split("(", 1)[1], cpu)
        except (IndexError, ValueError):
            continue
    return out


def descendants(root: int, snap: dict | None = None) -> list[int]:
    snap = _snapshot() if snap is None else snap
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in snap.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], list(children.get(root, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def cpu_split(root: int | None = None) -> tuple[float, float]:
    """(JVM CPU-s, Python-worker CPU-s) of the tree below ``root``.

    The JVM is the ``java`` descendant; Python workers are every
    descendant of the JVM (the PySpark daemon and its forks). The
    calling Python process itself is in neither."""
    root = os.getpid() if root is None else root
    snap = _snapshot()
    jvm = py = 0.0
    for pid in descendants(root, snap):
        if snap[pid][1] != "java":
            continue
        jvm += snap[pid][2]
        py += sum(snap[c][2] for c in descendants(pid, snap))
    return jvm, py


def tree_pss_mb(root: int) -> float:
    """Memory of ``root`` and its descendants in MB, shared pages once.

    Forked Python workers share most of their pages with the daemon
    they fork from; their proportional set size (PSS) splits each
    shared page among its mappers, so the sum counts it once. The JVM
    shares next to nothing (PSS within 0.5 % of RSS) and its
    smaps_rollup walk costs milliseconds under its mm lock, so it is
    read as RSS from statm instead."""
    snap = _snapshot()
    total_kb = 0
    for pid in [root] + descendants(root, snap):
        try:
            if snap.get(pid, (0, ""))[1] == "java":
                with open(f"/proc/{pid}/statm") as fh:
                    total_kb += int(fh.read().split()[1]) * _PAGE_KB
                continue
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
