"""CPU time of the program's own processes, split by what spent it.

The program runs as this Python process (the client and the PySpark
driver side), the JVM it launches (Spark's driver and local executors)
and the Python workers the JVM forks. :class:`CpuMeter` reads Linux
``/proc`` for all of them and splits the total into

- ``jit``: the JVM's JIT compiler threads and its code-cache sweeper;
- ``gc``: the JVM's garbage-collector threads and its VM thread;
- ``app``: everything else: JVM application threads (task threads,
  scheduler, query planning), this process and the Python workers.

``app`` is the work the program does for a call. JIT compilation runs
in bursts on its own threads while the JVM warms up, long after the
code that triggered it, so it is kept apart: in the first minutes of a
JVM it would otherwise land on whichever call happens to be running.
Time the hypervisor gave to other guests (steal) is in none of them.
"""

from __future__ import annotations

import os
from pathlib import Path

MS_PER_TICK = 1000.0 / os.sysconf("SC_CLK_TCK")
JIT_PREFIXES = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")
GC_PREFIXES = ("GC Thread", "G1 ", "VM Thread")


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the task ended between listing and reading
        return None


def process_ms(pid: int) -> float:
    """User + system CPU time of every thread of ``pid``, ended threads
    included, in ms (0 when the process has ended)."""
    stat = _read(f"/proc/{pid}/stat")
    if stat is None:
        return 0.0
    f = stat.rsplit(")", 1)[1].split()
    return (int(f[11]) + int(f[12])) * MS_PER_TICK


def thread_ms(pid: int, prefixes: tuple[str, ...]) -> dict[int, float]:
    """tid -> on-CPU time in ms of each live thread of ``pid`` whose
    name starts with one of ``prefixes`` (scheduler statistics: ns
    resolution)."""
    out = {}
    for task in Path(f"/proc/{pid}/task").glob("*"):
        comm = _read(f"{task}/comm")
        if comm is None or not comm.startswith(prefixes):
            continue
        sched = _read(f"{task}/schedstat")
        if sched:
            out[int(task.name)] = int(sched.split()[0]) / 1e6
    return out


def descendants(pid: int) -> list[int]:
    """Every live descendant process of ``pid``."""
    children: dict[int, list[int]] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        text = _read(str(stat))
        if text is None:
            continue
        ppid = int(text.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(stat.parent.name))
    out, frontier = [], [pid]
    while frontier:
        kids = children.get(frontier.pop(), [])
        out += kids
        frontier += kids
    return out


class CpuMeter:
    """Reads the CPU the program has spent so far; the difference of two
    readings is what a call cost. ``jvm_pid`` is the JVM's process id
    (None: this process only)."""

    def __init__(self, jvm_pid: int | None = None):
        self.jvm_pid = jvm_pid
        # the JVM starts and ends compiler threads as the JIT's queue
        # grows and shrinks, and Python workers end too; an ended task
        # takes its CPU time out of the per-task readings but not out of
        # the process total, so the last reading of each is kept
        self._last: dict[str, dict[int, float]] = {"jit": {}, "gc": {}, "workers": {}}

    def _keep(self, kind: str, readings: dict[int, float]) -> float:
        last = self._last[kind]
        last.update(readings)
        return sum(last.values())

    def read(self) -> dict[str, float]:
        own = process_ms(os.getpid())
        if self.jvm_pid is None:
            return {"app": own, "jit": 0.0, "gc": 0.0}
        jvm = process_ms(self.jvm_pid)
        jit = self._keep("jit", thread_ms(self.jvm_pid, JIT_PREFIXES))
        gc = self._keep("gc", thread_ms(self.jvm_pid, GC_PREFIXES))
        workers = self._keep(
            "workers", {p: process_ms(p) for p in descendants(self.jvm_pid)}
        )
        return {"app": own + jvm - jit - gc + workers, "jit": jit, "gc": gc}


class HostProbe:
    """How fast this host runs CPU work right now, in CPU ms of a fixed
    piece of work that no change to the program can alter.

    On a shared host the CPU time of the same work rises and falls by
    tens of percent for minutes at a time (other guests compete for
    caches, memory bandwidth and the other thread of each core), which
    moves every CPU figure of a run alike. Scaling a run's CPU figures
    by the probe's CPU, measured right after each call, takes most of
    that out. The probe
    mixes the kinds of work the program does: a parallel sort of 1M ints
    on the JVM's common pool (memory-bound, all cores), a big-integer
    power in one JVM thread, and a Python interpreter loop."""

    N_INTS = 1_000_000
    # the probe's own code runs 2-4x slower for its first few runs in a
    # fresh JVM; the constructor runs it this many times untimed
    WARMUP = 6

    def __init__(self, jvm, meter: CpuMeter):
        self.jvm = jvm
        self.meter = meter
        self.ints = jvm.java.util.Random(7).ints(self.N_INTS).toArray()
        for _ in range(self.WARMUP):
            self._work()

    def _work(self) -> int:
        arrays = self.jvm.java.util.Arrays
        arrays.parallelSort(arrays.copyOf(self.ints, self.N_INTS))
        self.jvm.java.math.BigInteger.valueOf(7).pow(30000).bitLength()
        h = 0
        for i in range(300_000):
            h = (h * 31 + i) & 0xFFFFFFFF
        return h

    def __call__(self) -> float:
        """CPU ms one run of the probe takes now."""
        c0 = self.meter.read()["app"]
        self._work()
        return self.meter.read()["app"] - c0
