"""SparkSession factory with scale-oriented defaults.

Tuned per SURVEY.md §4: AQE on (runtime re-plan ≈ the reference's Snakemake
checkpoint re-evaluation), skew-join handling, Arrow for all pandas UDF
exchange, and shuffle partitions sized to the core count (overridable via
SPARK_GRAFT_SHUFFLE_PARTITIONS for cluster runs). ``spread`` fans a
DataFrame out to the session's shuffle parallelism; ``unpin`` frees the
blocks of pinned (localCheckpoint or persisted) DataFrames.

``drop_zip_finders`` keeps a reused Python worker's per-task set-up cheap.
Before every task the worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.setup_spark_files``). On CPython < 3.13 that makes
each cached ``zipimporter`` re-read its archive's central directory, and a
worker caches one per pyspark subpackage it imported from ``pyspark.zip``
(16, ~21k zip entries parsed per task): about 85 ms of worker CPU per task,
against 5–8 ms for the crawl's UDF bodies (SURVEY §4 "Python task fixed
cost"). The crawl's per-epoch Python functions call it first, so the
worker's next task finds no importer to invalidate.
"""

from __future__ import annotations

import os
import sys
import zipimport

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

# Spark's generated-class cache (static conf, default 100 entries): a crawl
# epoch's working set is 131 classes, so at the default LRU evicts each one
# before its next use and every epoch recompiles all of them.
CODEGEN_CACHE_ENTRIES = 1024
# the thread-local properties setJobGroup writes; a new thread starts
# without them, so code that hands Spark work to a thread carries them
JOB_GROUP_PROPS = (
    "spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel",
)


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


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's shuffle parallelism before
    an expensive narrow stage. Two jobs at once: (a) single-file dev inputs
    (one row group = one scan task) fan out across all cores; (b) the
    Exchange is a materialization boundary, so per-row work (signatures,
    vectors) is computed ONCE below it instead of being projection-collapsed
    into a pair-join filter and re-evaluated per candidate pair."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n)


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


def drop_zip_finders() -> None:
    """Forget this process's cached zip importers, so the next
    ``importlib.invalidate_caches()`` has no archive to re-read.

    A later import from a zip still works: the path finder builds a new
    importer from ``zipimport``'s directory cache without reading the
    archive again. The archives a worker imports from never change while
    it lives (``pyspark.zip`` is static, and Spark refuses to re-add a
    ``--py-files`` file with other contents), so no stale directory stays
    in use. On CPython 3.13+, where invalidation is lazy, it saves nothing
    and costs a scan of a small dict."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
