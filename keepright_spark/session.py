"""SparkSession factory with the engine's scale-oriented defaults.

Local mode here stands in for a multi-executor cluster: everything is
keyed by (tile, …) so the same plans shuffle-partition cleanly on a
real cluster; AQE handles runtime coalescing and skew-join splitting.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "keepright_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 8)
    # Partition-size targets scaled to the local test volume (tens of
    # MB).  On a real cluster at planet scale the Spark defaults
    # (128m maxPartitionBytes / 64m advisory) are correct — these env
    # knobs exist so the same code exercises genuine parallelism on
    # the small synthetic world: without them every scan bin-packs
    # into 1-2 splits and AQE coalesces each shuffle to one task.
    max_part = os.environ.get("KR_MAX_PARTITION_BYTES", "1m")
    open_cost = os.environ.get("KR_OPEN_COST_BYTES", "64k")
    advisory = os.environ.get("KR_ADVISORY_PARTITION_BYTES", "1m")
    b = SparkSession.builder.appName(app)
    # Under spark-submit (north-rule deployment: --py-files on a
    # multi-executor cluster) the master comes from the launcher —
    # KR_SPARK_MASTER=submit keeps the builder from overriding it;
    # any other value is used verbatim (e.g. a yarn/k8s URL).
    km = os.environ.get("KR_SPARK_MASTER")
    if km is None:
        b = b.master(f"local[{cores}]")
    elif km != "submit":
        b = b.master(km)
    b = (
        b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", max_part)
        .config("spark.sql.files.openCostInBytes", open_cost)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # every engine join/agg/window keys on a (tile, …) prefix, and
        # tiled_views caches each view hash-partitioned by tile; subset
        # co-partition matching lets Catalyst reuse that one exchange
        # for all of them instead of reshuffling per full join key
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # local mode = one JVM for driver AND all executor threads;
        # size the heap for 32 concurrent tasks (cluster deployments
        # size per-executor memory instead)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        # the 32-check suite generates thousands of whole-stage-codegen
        # classes; the JVM default 240m code cache fills mid-suite and
        # silently DISABLES JIT ("CodeHeap ... compilation: disabled"),
        # leaving every later stage interpreted.  Only effective for
        # the first session of a process (JVM launch option).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing",
        )
        # with KR_CHECKPOINT_DIR set, every lib.materialize call writes
        # reliable checkpoint files; a materialization scope deletes
        # them on exit, and this deletes an untracked call's files
        # once the JVM garbage-collects its RDD
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    for k, vv in (extra_conf or {}).items():
        b = b.config(k, vv)
    spark = b.getOrCreate()
    # Reliable checkpoint dir for lineage-truncation points
    # (lib.materialize): on a cluster this must be shared
    # storage (HDFS/S3) so an executor loss can't orphan the
    # truncated lineage; unset, the engine falls back to
    # localCheckpoint (single-JVM local mode, where executor loss
    # and driver loss coincide).
    ckpt = os.environ.get("KR_CHECKPOINT_DIR")
    if ckpt and not spark.sparkContext.getCheckpointDir():
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark
