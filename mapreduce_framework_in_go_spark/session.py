"""SparkSession factory.

Local-mode defaults are tuned for the test harness (local[N] single JVM);
the config knobs mirror what a cluster deployment would set differently:
``spark.sql.shuffle.partitions`` should be ~2-3x total executor cores at
scale, and AQE coalesces/re-splits at runtime so the static value only
needs to be the right order of magnitude.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mapreduce-framework-in-go-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` (defaults to 32) so the bench driver can
    size parallelism. All queries in this package also run fine on a
    session they did not create (the correctness driver passes its own).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # local mode: ~cores; a cluster would use 2-3x total cores and
        # rely on AQE coalescing for small stages.
        shuffle_partitions = cpus

    builder = (
        # local[N,2]: allow one task re-execution, mirroring the
        # reference's timeout-and-reissue fault tolerance
        # (mr/master.go:200-214); on a cluster this is
        # spark.task.maxFailures=4 + speculative execution.
        SparkSession.builder.master(f"local[{cpus},2]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Every glob read (sources.tables.scan_text_corpus) makes FileStreamSink
    # probe for a streaming-sink metadata dir and log the expected miss as
    # a WARN with a full FileNotFoundException trace; mute that one logger.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    # make package-referencing UDFs importable on executor workers even
    # when this process's cwd is not the repo (see pyship.py)
    from .pyship import ensure_package_shipped

    ensure_package_shipped(spark)
    return spark
