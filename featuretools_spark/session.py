"""SparkSession factory tuned for this engine."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "featuretools_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cores:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = cores or os.cpu_count() or 8
        shuffle_partitions = int(n)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # allow co-partitioned joins when both sides share the SAME
        # subset of the join keys: the sortmerge running windows leave
        # their output entity-partitioned, and the joins on (entity,
        # cutoff) after them (the windows' output onto the chained key
        # frame, approximate's one fan-out of every group's output onto
        # the key frame) then need no re-shuffle of an
        # entity-partitioned side; the same holds for a per-cutoff
        # direct's (key, cutoff) join (guide §2.4). Scale-independent planner behavior, not a
        # local[32] tune: the subset key's skew equals the skew the
        # upstream aggregation already carried.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # no Python call-site capture: with it on, every DataFrame and
        # functions.* call pays ~3 extra py4j round trips
        # (getActiveSession, a conf.get, PySparkCurrentOrigin.set):
        # ~60% of the round trips of a depth-2 DFS plan build.
        # Trade-off: analysis errors lose the DataFrame call-site context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
