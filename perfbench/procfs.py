"""Process-tree CPU and memory readings from /proc (Linux only).

The benchmark's process tree is this Python driver, the JVM it launches,
and the PySpark worker daemon with its forked Python workers. CPU of
workers that already exited is folded into their parent's cutime/cstime
once reaped, so summing (utime + stime + cutime + cstime) over the live
tree counts them without double counting live children.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _stat(pid: int) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu s, reaped-children cpu s) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces/parentheses: split after the last ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    own = (int(f[11]) + int(f[12])) / _TICK
    kids = (int(f[13]) + int(f[14])) / _TICK
    return comm, int(f[1]), own, kids


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            out.setdefault(st[1], []).append(int(name))
    return out


def tree(root: int | None = None) -> list[int]:
    """Every live pid in the tree rooted at `root` (default: this process)."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_split(root: int | None = None) -> dict[str, float]:
    """CPU seconds so far, split into the driver Python process, JVM
    processes and Python worker processes (the JVM's Python descendants,
    including reaped ones)."""
    root = os.getpid() if root is None else root
    kids = _children()
    out = {"driver_py": 0.0, "jvm": 0.0, "py_worker": 0.0}

    def walk(pid: int, under_jvm: bool) -> None:
        st = _stat(pid)
        if st is None:
            return
        comm, _, own, reaped = st
        is_jvm = comm == "java"
        if pid == root:
            out["driver_py"] += own
            # reaped children of the driver are short-lived helpers
            # (launcher scripts); count them with the JVM side
            out["jvm"] += reaped
        elif is_jvm:
            out["jvm"] += own
            out["py_worker"] += reaped
        elif under_jvm:
            out["py_worker"] += own + reaped
        else:
            out["jvm"] += own + reaped
        for c in kids.get(pid, ()):
            walk(c, under_jvm or is_jvm)

    walk(root, False)
    return out


def cpu_total(root: int | None = None) -> float:
    return sum(cpu_split(root).values())


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of each live process's peak resident set (VmHWM), in MB."""
    total_kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over all CPUs."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) / _TICK
