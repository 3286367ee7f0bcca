"""Process-tree memory and host-contention readings from ``/proc``
(``psutil`` is not available)."""

from __future__ import annotations

import os
import signal
import time


def _ppid_map() -> dict[int, int]:
    out: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4, after the parenthesised command name
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of one process, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Max VmHWM seen per process of a tree; the peak is their sum."""

    def __init__(self, root: int):
        self.root = root
        self.peak_kb: dict[int, int] = {}

    def sample(self) -> None:
        for pid in descendants(self.root):
            kb = vm_hwm_kb(pid)
            if kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb

    def total_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat;
    steal is time the hypervisor ran something else on our vCPUs."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # guest time is already counted in user
    return fields[7], sum(fields[:8])


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait for ``pids`` to exit; SIGTERM, then SIGKILL, stragglers.
    Returns the pids still alive at the end (normally none)."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        while alive and time.monotonic() < deadline:
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                     and not _is_zombie(p)]
            if alive:
                time.sleep(0.05)
        if not alive:
            break
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
