"""Scale-safe global total ordering (O1/O3/O4).

``Window.orderBy`` with no partition key collapses to ONE task — fine for
inspection-scale reads, fatal at 10^10 rows. The scalable exact pattern
(same as a distributed sort-rank): range-repartition on the sort key, rank
locally within each range partition, then add cumulative per-partition
offsets (a #partitions-row driver exchange, not a data collect).

The ranged intermediate MUST be materialized once and read by both the
count pass and the rank pass: ``repartitionByRange`` samples its boundaries
with an RDD-id-derived seed, so two independent executions of the same
logical subtree can disagree by a row or two at partition boundaries —
enough to corrupt the offsets (observed, test_ordering caught it). The pins
live in a bounded registry: each new ranking releases the previous call's
blocks (its consumers have materialized by then), and ``release_pins()``
frees the last one explicitly.

Reference semantics: multi-key LC_ALL=C sort pipelines
(bitextor/Snakefile:1543-1608 presort, bitextor_build_TMX.py:222 ordering).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bitextor_spark.session import unpin

_DEFAULT_PINS: list[DataFrame] = []


def release_pins() -> None:
    """Free blocks pinned by previous rankings."""
    unpin(_DEFAULT_PINS)
    _DEFAULT_PINS.clear()


def _default_pin(df: DataFrame) -> DataFrame:
    # bounded leak: at most one ranking's blocks stay pinned at a time
    release_pins()
    out = df.localCheckpoint()
    _DEFAULT_PINS.append(out)
    return out


def _ranked(
    df: DataFrame, keys: list[Column]
) -> tuple[DataFrame, "F.Column", int]:
    """(joined ranged df, 0-based global seq column expr, total rows)."""
    spark = df.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = df.repartitionByRange(nparts, *keys).withColumn(
        "_pid", F.spark_partition_id()
    )
    ranged = _default_pin(ranged)
    counts = {
        r["_pid"]: r["count"] for r in ranged.groupBy("_pid").count().collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = spark.createDataFrame(
        [(p, o) for p, o in offsets.items()] or [(0, 0)], "_pid int, _off long"
    )
    w_local = Window.partitionBy("_pid").orderBy(*keys)
    joined = ranged.join(F.broadcast(off_df), "_pid")
    seq0 = F.row_number().over(w_local) + F.col("_off") - 1
    return joined, seq0, acc


def global_row_number(
    df: DataFrame,
    keys: list[Column],
    seq_col: str = "seq",
    offset: int = 0,
    small_threshold: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact 1-based global row_number over `keys` without a single-task sort.

    If `n_rows` is known and below `small_threshold`, uses the plain global
    window (cheapest for inspection-scale inputs). Otherwise the
    range-partitioned rank (module docstring).
    """
    if (
        small_threshold is not None
        and n_rows is not None
        and n_rows < small_threshold
    ):
        w = Window.orderBy(*keys)
        return df.withColumn(seq_col, F.row_number().over(w) + offset)
    joined, seq0, _total = _ranked(df, keys)
    return joined.withColumn(seq_col, seq0 + 1 + offset).drop("_pid", "_off")


def global_ntile(
    df: DataFrame,
    keys: list[Column],
    n: int,
    tile_col: str = "batch",
    small_threshold: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact global ntile(n) over `keys`, built on the same ranged pass.

    Standard ntile semantics (Spark == DuckDB): with T rows, the first
    T mod n tiles get ceil(T/n) rows, the rest floor(T/n). T comes free
    from the offsets collect — no extra count job.
    """
    if (
        small_threshold is not None
        and n_rows is not None
        and n_rows < small_threshold
    ):
        w = Window.orderBy(*keys)
        return df.withColumn(tile_col, F.ntile(n).over(w))
    joined, seq0, total = _ranked(df, keys)
    q, r = divmod(total, n)
    big = r * (q + 1)  # rows living in the (q+1)-sized leading tiles
    if q == 0:
        tile = seq0 + 1
    else:
        tile = F.when(seq0 < big, F.floor(seq0 / (q + 1)) + 1).otherwise(
            r + F.floor((seq0 - big) / q) + 1
        )
    return joined.withColumn(tile_col, tile.cast("int")).drop("_pid", "_off")
