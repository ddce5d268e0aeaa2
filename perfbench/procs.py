"""Host and process-tree readings from ``/proc`` (Linux).

The benchmark's process tree is this Python process, the JVM it launches
and the JVM's Python workers. CPU seconds and resident memory are summed
over the tree, so they count the whole job, not one process.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while the tree was walked
        return None
    # comm (field 2) may hold spaces; the fields after it are plain
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """``pid`` exists and is not a zombie."""
    fields = _stat(pid)
    return fields is not None and fields[0] != "Z"


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (``VmHWM``), in MB."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def host_probe() -> float:
    """Seconds a fixed pure-Python loop takes: a host-speed reading that
    explains drift between runs. No metric is scaled by it."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def host_snapshot() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg(),
        "steal_ticks": steal_ticks(),
        "probe_s": host_probe(),
    }
