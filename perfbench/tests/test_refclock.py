import os

from perfbench.procmon import descendants, sample
from perfbench.refclock import RefClock


def test_clock_reads_and_stops_its_helpers():
    clock = RefClock(helpers=2)
    pids = frozenset(p.pid for p in clock.procs)
    try:
        assert len(pids) == 2
        assert clock.readings == []  # the start-up reading is dropped
        readings = [clock.read() for _ in range(3)]
        assert clock.readings == readings
        assert all(0 < r < 5 for r in readings)
        assert clock.in_ref(3.0, 0) == 3.0 / sorted(readings)[1]
        assert clock.in_ref(3.0, 1, 2) == 3.0 / readings[1]
        clock.reset()
        assert clock.readings == []
        # helpers left out of the RSS sample leave only this process
        assert sample(os.getpid(), skip=pids)["workers"] == 0
    finally:
        clock.close()
    assert not pids & set(descendants(os.getpid()))
