"""Session lifecycle shared by the workloads: one SparkSession at a time,
built through the engine's ``session.get_spark``, with every file Spark
writes kept inside the run's work directory."""

from __future__ import annotations

import os
import time

from . import procmon


class Sessions:
    """Starts and stops the engine's sessions for one benchmark run."""

    def __init__(self, work: str, traced: bool):
        self.work = work
        self.traced = traced
        self.spark = None
        self.event_dir = os.path.join(work, "eventlog")
        os.makedirs(self.event_dir, exist_ok=True)

    def start(self):
        """A new session; returns (spark, seconds spent in get_spark)."""
        from mapreduce_framework_in_go_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.ui.showConsoleProgress": "false",
            # The inputs are a few MB. A 2 GB heap, all of it from the
            # start, keeps heap growth out of the timed phase and bounds
            # the JVM's memory on a host shared with other work.
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": "-Xms2g",
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench",
                               cpus=len(os.sched_getaffinity(0)), extra_conf=conf)
        return self.spark, time.perf_counter() - t0

    def app_id(self) -> str:
        return self.spark.sparkContext.applicationId

    def stop(self) -> None:
        """Stop the session, which writes out its event log; the JVM
        keeps running."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def event_log(self, app_id: str) -> str:
        """Path of a stopped application's event log."""
        return os.path.join(self.event_dir, app_id)

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for every process
        this run started to end."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 60
        while procmon.descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)
        left = procmon.descendants(os.getpid())
        if left:
            raise RuntimeError(f"processes still running after shutdown: {left}")
