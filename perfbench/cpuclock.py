"""CPU time of the program: the driver Python process and the driver JVM,
without the JVM's JIT compiler threads.

The clocks are the kernel's per-process scheduler clocks, read with
``clock_gettime`` on the CPU-clock id of each process. They have
nanosecond resolution, keep the time of threads that have already ended,
and count only time a thread actually ran: on a kernel built with
``CONFIG_PARAVIRT_TIME_ACCOUNTING``, time the hypervisor steals from the
virtual CPU is not in them, while it is in every wall-clock reading.
The JIT compiler threads are read from ``/proc``; the JVM is launched
with a fixed set of them (``-XX:-UseDynamicNumberOfCompilerThreads`` in
``run.py``), so none ends with its time uncounted.
"""

from __future__ import annotations

import os
import time

_CPUCLOCK_SCHED = 2


def process_cpu_s(pid: int) -> float:
    """Scheduler run time of every thread of process ``pid``, in seconds."""
    # The clock id clock_getcpuclockid(3) returns on Linux: the negated
    # pid, shifted past the clock type (CPUCLOCK_SCHED, whole process).
    return time.clock_gettime((~pid << 3) | _CPUCLOCK_SCHED)


def _thread_cpu_s(pid: int, tid: str) -> float:
    with open(f"/proc/{pid}/task/{tid}/schedstat") as fh:
        return int(fh.read().split()[0]) / 1e9


class ProgramClock:
    """Monotonic CPU seconds of the program. Before ``attach`` it reads the
    driver Python process alone; after it, the JVM too, counted from its
    launch."""

    def __init__(self) -> None:
        self.jvm: int | None = None
        self.jit: list[str] = []

    def attach(self, jvm: int) -> None:
        self.jvm = jvm
        for tid in os.listdir(f"/proc/{jvm}/task"):
            try:
                with open(f"/proc/{jvm}/task/{tid}/comm") as fh:
                    name = fh.read()
            except OSError:  # a thread that ended after the listing
                continue
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                self.jit.append(tid)

    def jit_s(self) -> float:
        return sum(_thread_cpu_s(self.jvm, t) for t in self.jit) if self.jvm else 0.0

    def read(self) -> float:
        total = process_cpu_s(os.getpid())
        if self.jvm is not None:
            total += process_cpu_s(self.jvm) - self.jit_s()
        return total


class SpeedProbe:
    """How fast this host runs the program's kind of work right now.

    CPU time still moves with the host: a neighbour on the same physical
    core or the same memory bus slows every instruction, and none of that
    is stolen time. The probe is a fixed, memory-bound job (a random
    gather from a 64 MB table, the pointer-chasing the JVM's planner does
    most), timed on this thread's CPU clock before every op and every
    set-up. ``slowdown`` is its median over the run against
    ``NOMINAL_S``; the end-to-end CPU times are divided by it, so that
    they read as CPU seconds on a host where the probe takes NOMINAL_S.
    The probe's inputs are the same in every run, whatever the seed.
    """

    NOMINAL_S = 0.020

    def __init__(self) -> None:
        import numpy as np

        rng = np.random.default_rng(0)
        self.table = rng.integers(0, 1 << 30, 8_000_000)
        self.index = rng.integers(0, len(self.table), 1_000_000)
        self.samples: list[float] = []

    def sample(self) -> None:
        t0 = time.thread_time()
        self.table[self.index].sum()
        self.samples.append(time.thread_time() - t0)

    def slowdown(self) -> float:
        import statistics

        return statistics.median(self.samples) / self.NOMINAL_S
