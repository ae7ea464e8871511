"""Spark session sized to the machine, and its complete teardown."""

from __future__ import annotations

import os
import resource
import subprocess


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Task slots of the Spark session: half the cores.  A query on the
    Spark path keeps every slot busy (a Python worker per task plus the
    JVM feeding it); with one slot per core it saturated the machine,
    and on a shared host its latency then followed the neighbours'
    load.  With half the cores it ran faster and moved less when a
    busy loop took one or two cores."""
    return max(1, cores() // 2)


def physical_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def driver_memory_mb() -> int:
    """A quarter of physical RAM, at most 4 GiB: the inputs are tens of
    MB, and the machine is shared."""
    return min(4096, physical_mb() // 4)


def peak_rss_mb() -> float:
    """Peak resident set of this (driver) process so far, in MB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def start_spark(work: str):
    from pyspark.sql import SparkSession

    n = spark_cores()
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Dderby.system.home={work}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
