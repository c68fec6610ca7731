"""Wall and CPU time of the benchmark's whole process tree.

Every operation is timed both ways: `Clock.now()` returns (wall seconds,
CPU seconds), where CPU seconds are the user plus system time of this
Python process, the Spark JVM, and every live or reaped descendant of
the JVM (the Python worker daemon and its workers), read from `/proc`.
CPU seconds leave out the time the tree waits for a core or for I/O.

The JVM's JIT compiler threads count too: in a JVM started seconds ago
they still take about a third of its CPU, but leaving them out made the
per-operation figures noisier, not steadier (code not yet compiled costs
its callers more), so the whole tree is the steadier measure.

CPU seconds still follow the host's speed. On a shared 4-vCPU VM, other
tenants' load slowed whole runs about twofold for minutes at a time,
wall and CPU seconds alike (their ratio stayed near 2.3), so runs that
are to be compared should run in one stretch. Scaling by a calibration
kernel timed in the same run did not help: a single-threaded kernel's
speed swung between 13 and 23 ms within seconds while the engine's
multi-threaded figures held steady, which made the scaled figures
noisier than the raw ones.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as fh:
            return fh.read()
    except OSError:
        return None


def _stat(pid: int) -> tuple[float, float] | None:
    """(own CPU seconds, reaped children's CPU seconds)."""
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    fields = raw[raw.rindex(b")") + 2:].split()
    # utime, stime, cutime, cstime are fields[11:15]
    ut, st, cut, cst = (int(x) for x in fields[11:15])
    return (ut + st) / _TICK, (cut + cst) / _TICK


def _children(pid: int) -> list[int]:
    """Live children of every thread of `pid`."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        raw = _read(f"/proc/{pid}/task/{tid}/children")
        if raw:
            out.extend(int(x) for x in raw.split())
    return out


class Clock:
    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid

    def cpu(self) -> float:
        """CPU seconds of the JVM's process tree, walked through each
        process's own children list (never a scan of every process on
        the host), plus this process's CPU read last, so the walk's own
        cost is not inside the reading it starts."""
        total = 0.0
        todo = [] if self.jvm_pid is None else [self.jvm_pid]
        while todo:
            pid = todo.pop()
            st = _stat(pid)
            if st is not None:
                total += st[0] + st[1]
                todo.extend(_children(pid))
        return total + time.process_time()

    def now(self) -> tuple[float, float]:
        return time.perf_counter(), self.cpu()
