"""SparkSession factory tuned for the crawler engine.

Local mode here; on a real cluster the same conf applies minus ``master``.
AQE is on everywhere (skew joins, partition coalescing) — the reference has
no skew handling because its cursor walks one key at a time
(/root/reference/src/database/master_data_service.rs:77-90); at 10^10-URL
scale skew is handled by AQE + host-salted windows (operators/politeness.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """A quarter of physical memory, capped at 16g. The rest stays free for
    the Python workers, the OS and the tmpfs shuffle dir (``/dev/shm``
    pages count against the same RAM); a heap sized to the whole machine
    gets the JVM OOM-killed once it grows."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1024, min(16 * 1024, total // 4 // 2**20))}m"


def get_spark(
    app_name: str = "data-collector-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: thread count for local[N]; default env SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: 4x cores on real cores, 2x once local[N]
    oversubscribes into SMT (DCS_SHUFFLE_PARTITIONS env overrides).
    Measured (SCALING_r05 shuffle-mult sweep + 32-thread bench A/B): at 8
    pinned cores 2 waves/core leaves straggler bubbles at the end of every
    shuffle stage (crawl wall -13% going 16->32 partitions) and 8x flips
    to task-launch overhead (+31% at 64); but at local[32] on this
    2-SMT box 32 slots already oversubscribe ~18 effective cores, so the
    extra waves only add scheduling overhead (headline 23.3k at 64
    partitions vs 16.6k at 128). Boundary at 16 = the point where this
    box's slots stop mapping to real cores; cluster deployments size
    explicitly per executor topology.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        n = (os.cpu_count() or 8) if str(cores) == "*" else int(cores)
        env_sp = os.environ.get("DCS_SHUFFLE_PARTITIONS")
        shuffle_partitions = (
            int(env_sp) if env_sp else max(8, 4 * n if n <= 16 else 2 * n)
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
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local corpora are small relative to the default 128 MB split size;
        # finer splits keep scan parallelism ~= cores (raise on a real
        # cluster where files are TB-scale)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1 * 1024 * 1024))
    )
    # shuffle spill dir: the sandbox's /tmp is one virtio disk and shuffle
    # writeback stalls dominate round walls (measured 2-4x swings); tmpfs
    # is the local-SSD analog. Cluster deployments set real local dirs.
    local_dir = os.environ.get("DCS_SPARK_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/dcs_spark_local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
