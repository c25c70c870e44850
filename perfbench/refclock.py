"""Reference clock: how fast the host runs right now.

The benchmark runs on a share of a host whose speed per thread drifts
with the load of its other tenants, by up to 2x within a minute (a
fixed pure-Python loop on an idle 4-cpu guest took 0.24 s to 0.49 s).
Raw wall times of the engine drift with it. So the benchmark times a
fixed reference work, which does not touch the engine, in the idle gaps
between the operations it measures, and reports each operation's time
as a multiple of the median of the readings taken around it (unit
``ref``). A change to the engine moves that ratio; a change in the
host's speed moves both sides of it. The raw seconds and every reading
stay in the run record.

The reference work runs in one helper process per cpu at once, so it
feels the load on every cpu the engine uses. Each helper runs one
untimed round to warm its caches, then times ``ROUNDS`` rounds of a
Python loop and a memory-bound sort and reports the median round; the
clock reads the mean over the helpers: a helper's round takes either
about 15 or about 25 ms on a 4-cpu guest, depending on the cpu it runs
on at the time, and the mean follows the share of slow helpers more
smoothly than the median does.

Run as a script, this file is one helper: it waits for a line on stdin,
answers with its time, and exits at end of input.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

ROUNDS = 5


def _round(array) -> float:
    import numpy as np

    t0 = time.perf_counter()
    x, d = 0, {}
    for i in range(60_000):  # interpreter work: arithmetic, dict, str
        x += i * i % 7
        d[i & 1023] = str(x)
    np.sort(array)
    return time.perf_counter() - t0


def _serve() -> None:
    import numpy as np

    array = np.random.default_rng(0).random(200_000)
    for _ in sys.stdin:
        _round(array)
        times = sorted(_round(array) for _ in range(ROUNDS))
        print(times[len(times) // 2], flush=True)


class RefClock:
    """One helper process per cpu, started at once and stopped by
    ``close()``."""

    def __init__(self, helpers: int | None = None):
        n = helpers or len(os.sched_getaffinity(0))
        self.procs = [
            subprocess.Popen([sys.executable, os.path.abspath(__file__)],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                             text=True)
            for _ in range(n)]
        self.readings: list[float] = []
        try:
            self.read()  # the helpers' imports and first round stay out of it
        except Exception:
            self.close()
            raise
        self.reset()

    def read(self) -> float:
        """Time the reference work on every cpu at once; keeps and
        returns the mean over the helpers, in seconds."""
        for p in self.procs:
            p.stdin.write("\n")
            p.stdin.flush()
        t = statistics.fmean(float(p.stdout.readline()) for p in self.procs)
        self.readings.append(t)
        return t

    def reset(self) -> None:
        """Forget the readings so far: the caller's timed phase starts."""
        self.readings = []

    def in_ref(self, seconds: float, lo: int, hi: int | None = None) -> float:
        """``seconds`` as a multiple of the median of ``readings[lo:hi]``,
        the readings taken around the operation that took them."""
        return seconds / statistics.median(self.readings[lo:hi])

    def close(self) -> None:
        for p in self.procs:
            p.stdin.close()  # a helper exits at end of input
        for p in self.procs:
            p.wait(timeout=30)
            p.stdout.close()
        self.procs = []


if __name__ == "__main__":
    _serve()
