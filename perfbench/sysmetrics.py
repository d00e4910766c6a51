"""Process and host readings from ``/proc``.

- CPU seconds of a process tree (the Python driver, the JVM it
  launched and the JVM's Python workers). A process that exits and is
  reaped by a parent inside the tree is still counted, through the
  parent's ``cutime``/``cstime``.
- The JVM's peak resident set (``VmHWM``).
- Host state: load average and the CPU steal share between two
  ``/proc/stat`` snapshots, so host drift is visible next to each run.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds used so far by ``root``'s tree."""
    ticks = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def _status(pid: int) -> dict[str, str]:
    try:
        with open(f"/proc/{pid}/status") as f:
            return dict(line.split(":", 1) for line in f if ":" in line)
    except OSError:
        return {}


def jvm_pid(root: int) -> int | None:
    """The ``java`` process below ``root``."""
    for pid in descendants(root):
        if _status(pid).get("Name", "").strip() == "java":
            return pid
    return None


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of ``pid`` in MiB."""
    kb = _status(pid).get("VmHWM", "0 kB").split()[0]
    return int(kb) / 1024.0


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostState:
    """Load average at start and end, and the share of CPU time stolen
    by the hypervisor in between."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()[0]
        self._ticks = _cpu_ticks()

    def report(self) -> dict:
        now = _cpu_ticks()
        delta = [b - a for a, b in zip(self._ticks, now)]
        steal = delta[7] if len(delta) > 7 else 0
        return {"load1_start": self.load_start,
                "load1_end": os.getloadavg()[0],
                "steal_pct": round(100.0 * steal / max(sum(delta), 1), 3)}
