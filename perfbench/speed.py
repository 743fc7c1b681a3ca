"""Host-speed probe: how fast this host runs the driver right now.

The benchmark shares a few cores of a host that has slow spells lasting
minutes, in which the driver's calls take up to twice as long, some with
the hypervisor taking 5-20% of the cores' time (the ``steal`` column of
``/proc/stat``), some with none; outside them the host's speed still
drifts by a fifth.  A run's raw times follow the host, so the
run-to-run spread of a raw time measures the host, not the program.

``probe()`` does a fixed amount of work of the kinds a driver call does
and returns its wall time: a pure-interpreter loop (core speed), a random
gather over 16 MB (past the per-core caches, into the shared cache and
memory that neighbours contend for) and a few py4j round trips to the
driver JVM, each a hand-off between two processes that waits whenever
either side's core is taken away, as the engine's calls wait on every
py4j call and every task they schedule.  The wall time, not the CPU
time, because stolen time is not counted as the thread's CPU time.
The driver probes after each setup step and before every call, outside
every timed interval, and reports its times scaled to the reference
speed: ``raw * PROBE_REF_S / lower quartile(probes of the run)``.  A
program change moves a scaled time by the same factor as the raw one; the
host's drift between runs cancels.  Raw times and the probe samples are
kept in the run's report.
"""

from __future__ import annotations

import time

import numpy as np

from perfbench import stats

#: iterations of the interpreter loop (~7 ms on the 4-core host)
LOOPS = 50_000
#: int32 elements the gather reads from (16 MB), and how many it reads
GATHER_SPAN = 4_000_000
GATHER_READS = 250_000
#: py4j calls (~1.5 ms each: class lookup, member lookup, call)
ROUND_TRIPS = 10
#: the probe's wall time at the reference speed: its lower quartile on a
#: quiet 4-core x86 host, so scaled times read close to wall seconds there
PROBE_REF_S = 0.026

_rng = np.random.default_rng(0)
_DATA = np.arange(GATHER_SPAN, dtype=np.int32)
_INDEX = _rng.integers(0, GATHER_SPAN, GATHER_READS, dtype=np.int32)


def probe(jvm) -> float:
    """Wall seconds the fixed work takes; ``jvm`` is the session's py4j
    JVM view (``sparkContext._jvm``)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(LOOPS):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    int(_DATA[_INDEX].sum())
    for _ in range(ROUND_TRIPS):
        jvm.java.lang.System.nanoTime()
    return time.perf_counter() - t0


def scale(probes: list[float]) -> float:
    """Factor taking a raw time measured while ``probes`` were taken to
    the reference speed.  It divides by the probes' lower quartile, not
    their median: in a spell with steal some round trips wait on a core
    the hypervisor took, and the probes' median slowed 2-3x while the
    program slowed 1.3-1.8x; the lower quartile skips those waits."""
    return PROBE_REF_S / stats.percentile(probes, 25)
