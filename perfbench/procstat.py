"""CPU time and peak RSS of this process and all of its descendants, from /proc.

In ``local[N]`` mode the tree is: this driver, the JVM it launched, the
PySpark daemon the JVM forked, and the Python workers the daemon forked.
CPU time of a descendant that already exited and was reaped is kept in its
parent's ``cutime``/``cstime``, so summing own + reaped-children time over
the live tree counts every process that ever ran under this one.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may contain spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped descendants."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot,
    over all its CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def wait_quiet(
    root: int | None = None, window_s: float = 0.2, max_cores: float = 0.25,
    timeout_s: float = 3.0,
) -> float:
    """Wait until the tree uses at most ``max_cores`` cores over one
    ``window_s`` window (background JIT, GC, Spark's cleaner or Python
    workers winding down have ended), or ``timeout_s`` has passed. Returns
    the seconds waited."""
    t0 = time.monotonic()
    c0 = tree_cpu_s(root)
    while time.monotonic() - t0 < timeout_s:
        time.sleep(window_s)
        c1 = tree_cpu_s(root)
        if c1 - c0 <= window_s * max_cores:
            break
        c0 = c1
    return time.monotonic() - t0


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of per-process ``VmHWM`` (peak resident set) over the live tree."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def reset_peak_rss(root: int | None = None) -> None:
    """Restart every live process's ``VmHWM`` from its current RSS (Linux
    ``clear_refs`` value 5), so a later read covers only what ran since."""
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def tree_commands(root: int | None = None) -> list[str]:
    """The executable name of each process in the tree (for tests/reports)."""
    out = []
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                out.append(f.read().replace(b"\0", b" ").decode(errors="replace"))
        except OSError:
            continue
    return out

