"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same settings are what we would
ship to a multi-executor cluster via spark-submit (AQE on, skew-join
splitting on, Arrow for pandas UDFs). Shuffle partitions default to the
core count locally; on a real cluster this is sized to ~2-3x total cores
and AQE coalesces down.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def default_cpus() -> int:
    """Task threads for ``local[N]``: ``$SPARK_GRAFT_CPUS`` if set, else
    the CPUs this process may run on (its affinity mask, which a cgroup
    cpuset or ``taskset`` narrows below ``os.cpu_count()``)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """``spark.driver.memory``: ``$SPARK_DRIVER_MEM`` if set, else half of
    physical memory in MB. In local mode it is also the executor heap."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys // 2 // 2**20}m"


# Share of the live driver heap one size-adaptive fetch or broadcast may
# take. At an 8 GB heap this admits ~2.1M (string, string) rows.
DRIVER_HEAP_FRACTION = 1 / 100


def driver_rows(df: DataFrame) -> int:
    """Rows of `df` the driver may hold, the one rule behind every driver
    fetch vs distributed path and broadcast vs shuffle join switch:
    `DRIVER_HEAP_FRACTION` of the JVM max heap over Spark's per-row size
    estimate for the schema (20 B a string, 8 a long). Callers take the
    driver side iff their row count is ``<=`` this."""
    heap = df.sparkSession._jvm.java.lang.Runtime.getRuntime().maxMemory()
    return int(DRIVER_HEAP_FRACTION * heap) // df._jdf.schema().defaultSize()


def _gc_opts(master: str) -> str:
    """Pin GC worker threads to the N of ``local[N]`` or
    ``local[N,maxFailures]``: G1 sizes its pools from the HOST core count
    however few task threads run (local[8] on a 32-core box: wall 588 s →
    328 s at the 4.3M-turn input). Regions stay at the 16 MB G1 picks for
    a 56 GB heap: at 8 GB it picks 4 MB, so 2-8 MB buffers become
    humongous and double the concurrent mark cycles (~4 JVM cpu-s per
    steady bench-fixture pass). Other masters' executors size GC from
    their own cgroup quota, so they get no options."""
    if master == "local":
        n_threads = 1
    elif master.startswith("local["):
        inner = master[len("local[") : -1].split(",")[0]
        n_threads = (os.cpu_count() or 32) if inner == "*" else int(inner)
    else:
        return ""
    return (
        f"-XX:ParallelGCThreads={max(2, n_threads)}"
        f" -XX:ConcGCThreads={max(1, n_threads // 4)} -XX:G1HeapRegionSize=16m"
    )


def get_spark(
    app_name: str = "entity_resolution__spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; keeps shuffles 1 task/core, AQE coalesces further.
        shuffle_partitions = cpus if "local" in master else 2 * cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.driver.extraJavaOptions", _gc_opts(master))
        .config("spark.ui.enabled", "false")
        # console progress bar pushes large \r-frames through stderr every
        # 200ms — megabytes per run through a piped/captured stderr, and a
        # blocked pipe stalls the JVM writer thread. Pure noise for a
        # benchmarked engine.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session (needed between two-parallelism bench runs)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # Spark caches the JVM-side context; clear so a new master takes effect.
    from pyspark import SparkContext

    with SparkContext._lock:  # noqa: SLF001 - sanctioned reset for re-master
        SparkContext._active_spark_context = None
    SparkSession._instantiatedSession = None  # noqa: SLF001
    SparkSession._activeSession = None  # noqa: SLF001
