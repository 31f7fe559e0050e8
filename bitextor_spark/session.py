"""SparkSession factory with scale-oriented defaults.

Tuned per SURVEY.md §4: AQE on (runtime re-plan ≈ the reference's Snakemake
checkpoint re-evaluation), skew-join handling, Arrow for all pandas UDF
exchange, and shuffle partitions sized to the core count (overridable via
SPARK_GRAFT_SHUFFLE_PARTITIONS for cluster runs). ``unpin`` frees the
blocks of pinned (localCheckpoint or persisted) DataFrames.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

# Spark's generated-class cache (static conf, default 100 entries): a crawl
# epoch's working set is 131 classes, so at the default LRU evicts each one
# before its next use and every epoch recompiles all of them.
CODEGEN_CACHE_ENTRIES = 1024


def get_spark(
    app_name: str = "bitextor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")
        ) or (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def unpin(dfs: list[DataFrame]) -> None:
    """Free pinned blocks now instead of at GC + ContextCleaner. A persist
    pin is a cached query; a localCheckpoint pin is not (its unpersist is
    a no-op), so its checkpointed RDD is freed directly."""
    for df in dfs:
        try:
            if df.is_cached:
                df.unpersist()
            else:
                df._jdf.queryExecution().logical().rdd().unpersist(False)
        except (AttributeError, Py4JError):
            pass  # session already stopped: nothing left to free
