"""Host-side measurements taken from /proc, outside the measured program.

* CPU steal over a window (``StealMeter``) and a bounded wait for a calm
  host before a timed window (``wait_calm``). Co-tenant steal bursts on a
  shared VM last minutes and inflate every latency alike, so each run
  records the steal it saw instead of hiding it.
* Process-tree CPU time (``tree_cpu_s``): this Python driver, the Spark
  JVM it launched and the JVM's Python workers, including the CPU of
  children that have already exited and been reaped.
"""

from __future__ import annotations

import os
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _cpu_fields() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class StealMeter:
    """Share of all CPU time that the hypervisor stole between ``start``
    and ``stop`` (the 8th field of the aggregate /proc/stat line), in %."""

    def __init__(self) -> None:
        self._t0 = _cpu_fields()

    def pct(self) -> float:
        t1 = _cpu_fields()
        total = sum(t1) - sum(self._t0)
        return 100.0 * (t1[7] - self._t0[7]) / max(total, 1)


CALM_STEAL_PCT = 3.0
CALM_SAMPLE_S = 0.5
CALM_MAX_WAIT_S = 3.0


def wait_calm() -> float:
    """Sample steal in ``CALM_SAMPLE_S`` slices until one is below
    ``CALM_STEAL_PCT`` or ``CALM_MAX_WAIT_S`` has passed; returns the
    seconds spent. The wait is bounded: a run that starts inside a long
    burst still runs, and records the burst."""
    t0 = time.perf_counter()
    while True:
        meter = StealMeter()
        time.sleep(CALM_SAMPLE_S)
        waited = time.perf_counter() - t0
        if meter.pct() < CALM_STEAL_PCT or waited >= CALM_MAX_WAIT_S:
            return waited


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces or parentheses: split after it
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and all its descendants,
    reaped children included (utime, stime, cutime, cstime)."""
    root = os.getpid()
    ticks = 0
    for pid in [root, *descendants(root)]:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat(5); st[0] is field 3
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _CLK_TCK
