"""SparkSession construction with scale-appropriate defaults.

Local testing runs on ``local[N]``; the same conf block is what we would
ship to a 1000-executor cluster — AQE for runtime re-planning (skew joins,
partition coalescing), Arrow for any Pandas-UDF exchange, and a shuffle
partition count that AQE is free to shrink.

The session also swaps Hadoop's local filesystem for the one in
``jvm/nio-localfs.jar`` (source beside it, rebuilt by
``tools/build_jvm.py``). Without ``libhadoop.so`` the stock one starts a
``chmod`` process for every local file and directory it creates and a
``readlink`` for every ``FileContext`` rename, which is most of the cost of
a CDC micro-batch's offset and commit log writes. The replacement does both
through ``java.nio``: same modes, same ``.crc`` sidecars, no processes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "nio-localfs.jar")


def get_spark(
    app_name: str = "sqlite-cdc-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (fallback 32) for bench runs;
    tests pass a smaller value for faster startup.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's default 1 MB coalesce floor squeezes hash-heavy but
        # byte-small stages (minhash/md5 pipelines) to a handful of
        # tasks on a 32-core box — CPU-bound rows deserve parallelism
        # even when bytes are tiny. Swept 1m/512k/256k/128k on the
        # seven most shuffle-sensitive headline queries (r7): 512k is
        # the optimum — hash-heavy lines speed up (bootstrap, minhash,
        # pmi) without the iterative-join task-overhead regression the
        # 128k floor caused on pagerank. Partition count still never
        # exceeds the parallelism target, so big shuffles are
        # unaffected.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "512k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scans: 128 MiB splits keep partitions executor-memory-sized
        # at 100 TB; vectorized reader stays on for columnar batches.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Spark 4 rejects TIMESTAMP(NANOS) parquet columns; read them as
        # epoch-nanos longs and let sources.load_table restore timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # local[N]: the executors run in the driver JVM, so the driver
        # classpath is theirs too
        .config("spark.driver.extraClassPath", LOCALFS_JAR)
        .config("spark.hadoop.fs.file.impl", "sqlitecdc.NioLocalFs$Local")
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "sqlitecdc.NioLocalFs$Context")
    )
    return builder.getOrCreate()
