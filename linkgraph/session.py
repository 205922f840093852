"""SparkSession builder with the engine's required configuration.

Arrow execution on, adaptive query execution on (skew-join handling at
scale), configurable shuffle partitions. local[*] here; on a real cluster
the same builder is used by ``spark-submit --py-files`` jobs (jobs/*.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from linkgraph.conventions import DEFAULT_SHUFFLE_PARTITIONS

# local mode: driver JVM == all executors; size the heap for the thread
# count or 32 threads' shuffle buffers thrash an 8g heap — but never above
# a share of the host's RAM: the JVM's off-heap, the Python workers and the
# page cache need the rest, and on a swapless host a heap that can outgrow
# RAM ends in the OOM killer instead of a GC
DRIVER_MEM_CAP_MB = 24 * 1024
DRIVER_MEM_RAM_SHARE = 0.5


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Default ``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM`` verbatim
    if set, else ``DRIVER_MEM_RAM_SHARE`` of ``MemTotal`` in ``meminfo``,
    at most ``DRIVER_MEM_CAP_MB`` (the cap alone where ``meminfo`` is
    unreadable, e.g. off Linux)."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        with open(meminfo) as f:
            total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{DRIVER_MEM_CAP_MB}m"
    return f"{min(DRIVER_MEM_CAP_MB, int(total_kb * DRIVER_MEM_RAM_SHARE) // 1024)}m"


def get_spark(
    app_name: str = "linkgraph",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession configured for the engine.

    ``master`` resolution: explicit argument > ``$SPARK_GRAFT_MASTER``
    (verbatim — e.g. ``local-cluster[4,8,24576]`` for multi-JVM runs) >
    ``local[$SPARK_GRAFT_CPUS]`` > ``local[*]``. Under spark-submit set
    ``SPARK_GRAFT_MASTER`` to the submitted master so the builder agrees
    with the CLI instead of overriding it.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # one-shot relational queries: prefer shuffled-hash over SMJ's
        # extra sorts. Iterative superstep loops OVERRIDE this to true for
        # their duration (SuperstepEngine.run): there both join sides are
        # pre-sorted + co-partitioned (build.gather_layout / checkpointed
        # state), so SMJ streams with zero sorts, while the cost model's
        # SHJ would hash-build the O(E) edge cache every superstep (the
        # checkpointed state scan has unknown stats and looks huge).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.driver.memory", default_driver_memory())
        # throughput GC keeps superstep latencies steadier than G1 here
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # local mode: shuffle files through tmpfs when available — one shared
    # disk otherwise serializes all executor threads' shuffle I/O (on a real
    # cluster each executor has its own local disks)
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        b = b.config("spark.local.dir", "/dev/shm/spark-local")
    if not SparkSession.getActiveSession():
        b = b.master(master)
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()
