"""Process CPU, disk-write and load stamps read from ``/proc``.

Wall-clock numbers on a shared machine move with other tenants' load; the
CPU seconds of the driver and the JVM, and the load average around a run,
sit next to every wall number so a contaminated draw is visible.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pid: int | None) -> float | None:
    """User plus system CPU seconds of ``pid`` (this process when None)."""
    if pid is None:
        t = os.times()
        return t.user + t.system
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may hold spaces; fields resume after ')'
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return (int(fields[11]) + int(fields[12])) / _TICK


def write_bytes(pid: int) -> int | None:
    """Bytes ``pid`` has sent to the storage layer, or None when /proc does
    not expose them."""
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                k, _, v = line.partition(":")
                if k == "write_bytes":
                    return int(v)
    except OSError:
        pass
    return None


def steal_seconds() -> float | None:
    """CPU seconds the hypervisor gave to other guests, all cores summed."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return None
    return int(fields[8]) / _TICK if len(fields) > 8 else None


def stamp(jvm_pid: int | None) -> dict:
    """One reading: wall time, load averages, stolen and used CPU seconds."""
    return {
        "time": time.time(),
        "loadavg": list(os.getloadavg()),
        "steal_s": steal_seconds(),
        "driver_cpu_s": cpu_seconds(None),
        "jvm_cpu_s": cpu_seconds(jvm_pid) if jvm_pid else None,
    }


def tree_bytes(root: str) -> int:
    """Bytes of the distinct inodes under ``root``; hard links shared
    between collection versions count once."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            try:
                st = os.stat(os.path.join(dirpath, n))
            except OSError:
                continue
            key = (st.st_dev, st.st_ino)
            if key not in seen:
                seen.add(key)
                total += st.st_size
    return total
