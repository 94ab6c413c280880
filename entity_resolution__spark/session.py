"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same settings are what we would
ship to a multi-executor cluster via spark-submit (AQE on, skew-join
splitting on, Arrow for pandas UDFs). Shuffle partitions default to the
core count locally; on a real cluster this is sized to ~2-3x total cores
and AQE coalesces down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Task threads for ``local[N]``: ``$SPARK_GRAFT_CPUS`` if set, else
    the CPUs this process may run on (its affinity mask, which a cgroup
    cpuset or ``taskset`` narrows below ``os.cpu_count()``)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


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

    # Pin GC worker threads to the task parallelism. JVM ergonomics size
    # G1's thread pools from the HOST core count (~5/8×32 ≈ 23 parallel
    # GC workers on this box) no matter how few task threads local[N]
    # runs — so under allocation pressure every GC cycle burns ~23
    # threads of cpu against an N-thread workload. Measured at the
    # 4.3M-turn input, local[8]: wall 588 s → 328 s, engine cpu 3,939 →
    # 2,495 cpu-s, scores-stage cpu back to parity with the local[2]
    # leg (1,249 vs 1,176 cpu-s) — the un-pinned runs' cpu inflation
    # that looked like co-tenant dilution was GC ergonomics. On a real
    # cluster each executor JVM sees its cgroup quota and sizes GC
    # accordingly; local[N] on a big box must do it explicitly.
    gc_opts = ""
    if master.startswith("local"):
        inner = master[master.index("[") + 1 : -1] if "[" in master else "1"
        n_threads = (os.cpu_count() or 32) if inner == "*" else int(inner)
        gc_opts = (
            f"-XX:ParallelGCThreads={max(2, n_threads)}"
            f" -XX:ConcGCThreads={max(1, n_threads // 4)}"
        )

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
        # local mode: the driver heap IS the executor heap; 32 concurrent
        # tasks over array-heavy payloads GC-thrash a 24g heap (measured:
        # blocks/pairs stages 5-10x slower at local[32] on 2M-turn input)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "56g"))
        .config("spark.driver.extraJavaOptions", gc_opts)
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
