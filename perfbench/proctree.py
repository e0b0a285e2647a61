"""Process-tree readings from /proc: CPU-seconds, peak RSS, steal.

The benchmark process starts the Spark JVM, and the JVM starts the
PySpark worker daemon, which forks the Python workers. Summing over the
tree rooted at the benchmark process covers all three. A reaped child's
CPU is folded into its parent's ``cutime``/``cstime``, so counting
``utime + stime + cutime + cstime`` of every live process counts each
CPU-second once.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed.
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie waiting to be reaped has ended."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_seconds(pid: int) -> float:
    """User + system CPU of ``pid`` and its reaped children."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # After the comm field: utime, stime, cutime, cstime are fields 14-17,
    # i.e. offsets 11-14 of the remainder.
    return sum(int(v) for v in fields[11:15]) / CLK_TCK


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeSample:
    """One reading of the tree: total CPU, Python-worker CPU, summed VmHWM."""

    def __init__(self, root: int) -> None:
        self.cpu_s = 0.0
        self.python_worker_cpu_s = 0.0
        self.hwm_mb = 0.0
        for pid in tree_pids(root):
            cpu = cpu_seconds(pid)
            self.cpu_s += cpu
            self.hwm_mb += _vm_hwm_kb(pid) / 1024.0
            if "pyspark.daemon" in _cmdline(pid):
                self.python_worker_cpu_s += cpu


def steal_seconds() -> float:
    """Machine-wide stolen CPU time so far (all CPUs), from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(fields[8]) / CLK_TCK if len(fields) > 8 else 0.0
