"""Host readings from /proc: CPU steal, peak memory, a CPU probe."""

from __future__ import annotations

import hashlib
import os
import time


def parse_proc_stat(text: str) -> tuple[int, int]:
    """``(total, steal)`` jiffies from the aggregate ``cpu`` line of
    /proc/stat. Guest time is already counted in user/nice, so it is
    left out of the total."""
    for line in text.splitlines():
        parts = line.split()
        if parts and parts[0] == "cpu":
            vals = [int(v) for v in parts[1:9]]
            vals += [0] * (8 - len(vals))
            return sum(vals), vals[7]
    raise ValueError("no aggregate cpu line in /proc/stat")


def read_proc_stat() -> tuple[int, int]:
    with open("/proc/stat") as f:
        return parse_proc_stat(f.read())


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor stole between two readings, in %."""
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def _parent_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ")"
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _parent_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def proc_name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of ``pid`` in kB (0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int | None = None) -> tuple[float, float]:
    """Peak RSS of this Python process and of its JVM child(ren), in MB."""
    pid = pid or os.getpid()
    jvms = [c for c in descendants(pid) if proc_name(c) == "java"]
    return vm_hwm_kb(pid) / 1024.0, sum(vm_hwm_kb(j) for j in jvms) / 1024.0


def calib_cpu_s(rounds: int = 200_000) -> float:
    """Seconds for a fixed single-core hashing loop: a host-speed probe
    that lets a drifting run be told apart from a slower engine."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(rounds):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0
