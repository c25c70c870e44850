import subprocess
import sys
import time

from perfbench.procmon import RssSampler, sample


def test_child_memory_counts_toward_the_tree():
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; b = bytearray(80_000_000); time.sleep(30)"])
    try:
        deadline = time.time() + 20  # wait for the child's allocation
        while sample(child.pid)["driver"] < 70 and time.time() < deadline:
            time.sleep(0.1)
        with RssSampler() as rss:
            time.sleep(0.3)
        assert rss.peak["workers"] >= 70  # the child: neither driver nor java
        assert rss.peak["total"] >= rss.peak["driver"] + rss.peak["workers"] - 1e-6
        assert rss.samples >= 2
    finally:
        child.kill()
        child.wait(timeout=10)
