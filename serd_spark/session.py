"""SparkSession factory with the engine's tuned defaults.

Scale posture: AQE on (runtime re-plan + skew-join splitting), Arrow
on (every pandas UDF crosses the JVM↔Python boundary in columnar
batches), shuffle partitions sized for the local harness but meant to
be overridden to ~2-3× total cores on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "serd_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesce floor: measured across the whole query board,
        # the 1m default wins — a 16k floor sped one CPU-dense query
        # up but cost 10-30% on a dozen small-shuffle queries via
        # task-count overhead; the one query whose compute hid
        # behind a tiny shuffle (prefix_filter_pairs) is fixed
        # structurally with a broadcast candidate join instead.
        # Env-overridable for cluster tuning.  The Turtle parse does
        # not rely on this floor: its shuffle is small but feeds the
        # job's only Python stage, so it pins one partition per core
        # (operators/parse.py), which AQE leaves uncoalesced.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "1m"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()
