"""How fast the host ran while the benchmark timed.

The machines this benchmark runs on are virtual and share their host:
the same code ran twice as slowly in one set of runs as in another 20
minutes later, with little CPU steal in either. Before each op, untimed,
the runner times a fixed reference piece of work, a Python loop plus a
JVM computation in the session's own JVM, the two kinds of work the
workloads do. The end-to-end times are reported scaled by
``REFERENCE_S`` / (the run's median probe time): seconds on a host where
the probe takes ``REFERENCE_S``. The wall times are kept on the detail
line. The probe runs no code of the program under test, so a change to
the program moves the scaled times as it moves the wall times; a change
to the JVM's own options moves the probe too.
"""

from __future__ import annotations

import time

from perfbench import stats

# a round figure near the probe's median on a quiet host of the 4-vCPU
# machine the bounds were set on (31-40 ms); it only fixes the scale
REFERENCE_S = 0.040


def probe(jvm, repeats: int = 3) -> float:
    """Median seconds, over ``repeats`` runs, of the reference work:
    200 000 Python additions, then 7 ** 200 000 in the JVM (about 15 and
    20 ms on a quiet host)."""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i
        jvm.java.math.BigInteger.valueOf(7).pow(200_000).bitCount()
        times.append(time.perf_counter() - t)
    return stats.median(times)


def scale(probes: list[float]) -> float:
    """Factor that turns this run's wall times into reference seconds."""
    return REFERENCE_S / stats.median(probes) if probes else 1.0
