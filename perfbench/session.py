"""Host-fitted SparkSession for the benchmark, and the run environment.

The session is sized from the host: ``local[nproc]`` and a JVM heap of
a quarter of physical RAM, clamped to 1-8 GiB (``bench.py`` defaults
to 48g, which is above the RAM of small hosts).  Every directory Spark
writes to (local dirs, warehouse, event log, JVM temp files) lives
under the benchmark's work directory.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import traceback

from . import procstat


def host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_ram_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_gib() -> int:
    return max(1, min(8, int(host_ram_gib() // 4)))


def settings(work: str, trace: bool) -> dict[str, str]:
    cores = str(host_cores())
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{heap_gib()}g",
        "spark.sql.shuffle.partitions": cores,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.sql.files.openCostInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # The heap is committed at its full size up front, so G1 does not
        # resize it by GC-time heuristics.  C1 only: in runs this short
        # the C2 compiler never reaches steady state and spent about half
        # of the JVM's CPU recompiling Spark's planner, at the same wall
        # time.  C1 alone gets a 48 MB code cache, which Spark's generated
        # classes fill within a minute; the JVM then flushed and
        # recompiled code for the rest of the run, and every third or so
        # operation ran 25% slower.  No hsperfdata file in the system temp
        # dir either.
        "spark.driver.extraJavaOptions":
            f"-Xms{heap_gib()}g "
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
            "-XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'tmp')}",
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
        "spark.eventLog.enabled": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    return conf


def stop() -> None:
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def shutdown() -> None:
    """Stop the session, the JVM and every process under it, and wait
    until all of them have exited."""
    from pyspark import SparkContext

    try:
        stop()
    except Exception:  # a session half-started when the run was cut short
        traceback.print_exc()
    started = procstat.tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when this pipe closes
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    # the Python workers, and a JVM whose launch was interrupted
    procstat.end_all(started)


def start(work: str, trace: bool):
    """Start a session (the first call in a process launches the JVM;
    later calls, after ``stop``, reuse it)."""
    from pyspark.sql import SparkSession

    for sub in ("spark-local", "warehouse", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    builder = SparkSession.builder
    for k, v in settings(work, trace).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    """PID of the Spark JVM (``spark-submit`` execs into ``java``)."""
    return spark.sparkContext._gateway.proc.pid


def collect_garbage(spark) -> None:
    """A full collection in the driver and in the JVM: run between
    operations, so each starts on the same heap rather than paying for
    the garbage of the ones before it."""
    import gc

    gc.collect()  # drop Python proxies, so the JVM objects they pin can go
    spark.sparkContext._jvm.java.lang.System.gc()


def jvm_live_mb(spark) -> float:
    """Memory the JVM holds after a full collection: the live heap plus
    the non-heap pools (class metadata, code cache).  Unlike resident
    memory it does not depend on how far the collector let the heap
    fill before collecting."""
    collect_garbage(spark)
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getMemoryMXBean()
    return (mx.getHeapMemoryUsage().getUsed()
            + mx.getNonHeapMemoryUsage().getUsed()) / 2**20


def environment(spark, seed: int) -> dict:
    import pyarrow

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext.getConf()
    return {
        "seed": seed,
        "cores": host_cores(),
        "host_ram_gib": round(host_ram_gib(), 1),
        "master": conf.get("spark.master"),
        "driver_memory": conf.get("spark.driver.memory"),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "platform": sys.platform,
    }
