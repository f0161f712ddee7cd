"""SparkSession factory with scale-aware defaults.

Local-mode settings tuned for the sandbox (single JVM, N executor threads);
the same knobs transfer to a real cluster where they are per-executor.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "lsh-hdc-spark",
    warehouse_dir: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: int for local[N], "*" for local[*]; defaults to $SPARK_GRAFT_CPUS
    or "*". shuffle_partitions defaults to 2x cores (small-partition friendly
    at local scale; on a cluster, set it from executor count x cores).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        ncores = os.cpu_count() or 8 if cores == "*" else int(cores)
        shuffle_partitions = max(8, 2 * ncores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default 64MB coalescing targets starve CPU-dense/byte-light stages
        # (exact-Jaccard on hashed-shingle arrays ran on ~4 of 32 cores);
        # 8MB keeps whole-machine parallelism while still merging dust
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # verify-stage rows carry ~1.6 KB hashed-shingle arrays; SMJ spends
        # its time sorting fat rows — hash joins skip the sort (measured
        # 73 s -> 26 s on a 400k-doc verify stage).  AQE still upgrades to
        # broadcast when a side is small.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # audio-free dedup stages are narrow rows; bigger Arrow batches
        # amortize the Python<->JVM hop (SURVEY.md §4.2)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # syscalls-per-shuffle-byte is the scaling tax on hosts whose kernel
        # serializes write()/page-alloc across threads (BENCH/BASELINE.md
        # appendix); 1 MB shuffle write buffers + 512 KB lz4 blocks cut the
        # syscall count ~32x for a few MB of extra memory per active task
        .config("spark.shuffle.file.buffer", "1m")
        .config("spark.shuffle.localDisk.file.output.buffer", "1m")
        .config("spark.io.compression.lz4.blockSize", "512k")
        # ANSI-on is the Spark 4 default AND a standing requirement: the
        # product must work on sessions it does not own (e.g. the driver
        # harness), which run default-ANSI.  Set explicitly so our own tests
        # exercise exactly that mode.
        .config("spark.sql.ansi.enabled", "true")
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def clone_session(parent: SparkSession, overrides: dict[str, str]) -> SparkSession:
    """A new session on `parent`'s SparkContext with `parent`'s runtime SQL
    conf, then `overrides` on top.

    ``newSession()`` alone starts from the builder-time conf, so a value the
    caller set with ``spark.conf.set`` (time zone, case sensitivity, AQE
    toggles) would silently revert inside the clone; every modifiable key
    of the parent's conf is copied first."""
    sess = parent.newSession()
    for k, v in parent.conf.getAll.items():
        if parent.conf.isModifiable(k):
            sess.conf.set(k, v)
    for k, v in overrides.items():
        sess.conf.set(k, v)
    return sess
