"""Process-tree resident-memory sampler reading ``/proc``.

One background thread sums VmRSS over this process and all of its
descendants and keeps the peak of the sum and of each group: the driver
(this Python process), the JVM (``java`` processes) and the Python
workers (every other descendant, forked by the JVM's worker daemon).
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # comm may hold spaces and parentheses: fields follow the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def _rss_kb(pid: int) -> tuple[str, int] | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            name, rss = "", 0
            for line in f:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmRSS:"):
                    rss = int(line.split()[1])
            return name, rss
    except OSError:
        return None


def sample(root: int, skip: frozenset[int] = frozenset()) -> dict[str, float]:
    """One reading of the tree's RSS in MB, split by process group,
    leaving out the processes in ``skip``."""
    groups = {"driver": 0, "jvm": 0, "workers": 0}
    for pid in [root] + descendants(root):
        if pid in skip:
            continue
        got = _rss_kb(pid)
        if got is None:
            continue
        name, kb = got
        group = "driver" if pid == root else "jvm" if name == "java" else "workers"
        groups[group] += kb
    mb = {k: v / 1024.0 for k, v in groups.items()}
    mb["total"] = sum(mb.values())
    return mb


class RssSampler:
    """Samples this process's tree, but for the processes in ``skip``,
    every ``INTERVAL`` seconds until ``stop()``, keeping the peak of each
    group and of the sum."""

    INTERVAL = 0.5

    def __init__(self, skip: frozenset[int] = frozenset()):
        self.root = os.getpid()
        self.skip = skip
        self.peak = {"driver": 0.0, "jvm": 0.0, "workers": 0.0, "total": 0.0}
        self.samples = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.take()
            self._stop.wait(self.INTERVAL)

    def reset(self) -> None:
        """Forget the peaks so far: the caller's timed phase starts."""
        with self._lock:
            self.peak = dict.fromkeys(self.peak, 0.0)
        self.take()

    def take(self) -> None:
        reading = sample(self.root, self.skip)
        with self._lock:
            for k, v in reading.items():
                self.peak[k] = max(self.peak[k], v)
            self.samples += 1

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)
        self.take()
