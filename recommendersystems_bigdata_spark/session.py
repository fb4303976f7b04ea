"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[*]`` but every knob here is chosen for the
multi-executor case (SURVEY.md §4/§6): AQE handles runtime partition
coalescing and skew-join splitting, Arrow handles the Python boundary,
and the shuffle-partition default is sized for the test scale factors
(the 100 TB deployment would raise it or rely on AQE's initialPartitionNum).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


# Spark's bundled disk-backed state store for Structured Streaming. The
# default HDFSBackedStateStoreProvider keeps every state row on the
# executor HEAP (plus snapshot files), which caps stateful-query key
# cardinality at executor memory; RocksDB keeps state off-heap on local
# disk with incremental checkpointing — the 100 TB-cardinality choice
# (SCALE.md §2 streaming). It is a per-query SQL conf read at stream
# start, so it can also be flipped for one query via
# ``conf_scope(spark, ROCKSDB_PROVIDER_CONF, ROCKSDB_PROVIDER_CLASS)``.
ROCKSDB_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB_PROVIDER_CLASS = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextmanager
def conf_scope(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set the session conf ``key`` to ``value`` for the ``with`` body only.

    On exit the prior value is restored, or the key is unset if the session
    had none, so no query leaks conf into the next one on a shared session.
    """
    saved = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def get_spark(
    app_name: str = "recommendersystems_bigdata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    rocksdb_state_store: bool = False,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's tuned defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` defaults to the core count — at the test scale
    factors a 200-way shuffle is pure overhead; AQE coalesces further.
    ``rocksdb_state_store=True`` (or env ``SPARK_GRAFT_ROCKSDB_STATE=1``)
    selects the RocksDB streaming state-store provider — the setting a
    high-key-cardinality stateful deployment runs with.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(8, int(cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if rocksdb_state_store or os.environ.get("SPARK_GRAFT_ROCKSDB_STATE") == "1":
        builder = builder.config(ROCKSDB_PROVIDER_CONF, ROCKSDB_PROVIDER_CLASS)
    return builder.getOrCreate()
