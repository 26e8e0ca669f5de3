"""Process-tree CPU time, peak memory and shutdown from ``/proc``.

The benchmark's process tree is this Python process, the Spark driver
JVM it launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants() -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its live
    descendants, including children they have already reaped."""
    total = 0
    for pid in [os.getpid()] + descendants():
        st = _stat(pid)
        if st:
            # utime, stime, cutime, cstime: fields 14-17 of /proc/pid/stat
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _alive(pid: int, start: str) -> bool:
    st = _stat(pid)
    return bool(st) and st[19] == start and st[0] != "Z"


def snapshot() -> list[tuple[int, str]]:
    """(pid, start time) of every live descendant."""
    out = []
    for pid in descendants():
        st = _stat(pid)
        if st:
            out.append((pid, st[19]))
    return out


def wait_gone(procs: list[tuple[int, str]], timeout: float) -> None:
    """Wait until every process in ``procs`` has ended; SIGKILL the
    ones still running after ``timeout`` seconds, then wait for them."""
    deadline = time.monotonic() + timeout
    while any(_alive(p, s) for p, s in procs):
        if time.monotonic() > deadline:
            for p, s in procs:
                if _alive(p, s):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            deadline = float("inf")
        time.sleep(0.05)
