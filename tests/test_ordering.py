"""plans/ordering: the range-partitioned global rank/ntile must equal the
single-partition window versions exactly (which are only usable at
inspection scale — the helper exists so 10^10-row sorts never hit one
task)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from bitextor_spark.plans.ordering import (
    global_ntile,
    global_row_number,
    release_pins,
)


def _fixture(spark, n=5000):
    return (
        spark.range(n)
        .select(
            (F.xxhash64("id") % 997).alias("a"),
            (F.xxhash64("id", F.lit(2)) % 13).alias("b"),
            F.col("id"),
        )
        .repartition(16)
    )


def test_global_row_number_matches_window(spark):
    df = _fixture(spark)
    keys = [F.col("a"), F.col("b").desc(), F.col("id")]
    got = {
        r["id"]: r["seq"]
        for r in global_row_number(df, keys, seq_col="seq").collect()
    }
    w = Window.orderBy(*keys)
    want = {
        r["id"]: r["seq"]
        for r in df.withColumn("seq", F.row_number().over(w)).collect()
    }
    assert got == want


def test_global_ntile_matches_window(spark):
    df = _fixture(spark, n=4001)  # non-divisible: exercises ragged tiles
    keys = [F.col("a"), F.col("id")]
    got = {
        r["id"]: r["batch"]
        for r in global_ntile(df, keys, 8, tile_col="batch").collect()
    }
    w = Window.orderBy(*keys)
    want = {
        r["id"]: r["batch"]
        for r in df.withColumn("batch", F.ntile(8).over(w)).collect()
    }
    assert got == want


def test_release_pins_frees_the_ranking_pin(spark):
    """release_pins() frees the localCheckpoint the last ranking pinned:
    the session holds as many persisted RDDs afterwards as before it."""
    release_pins()
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = len(persisted())
    global_row_number(_fixture(spark), [F.col("a"), F.col("id")]).count()
    release_pins()
    assert len(persisted()) == before


def test_per_key_topk_passthrough_matches_naive(spark):
    """per_key_topk_passthrough ≡ (top-k of rankable rows) ∪ (all
    passthrough rows), for a skewed random input — one hot key far over k,
    several under it, passthrough rows interleaved everywhere."""
    from bitextor_spark.plans.topk import per_key_topk, per_key_topk_passthrough

    df = (
        spark.range(4000)
        .select(
            F.when(F.xxhash64("id") % 4 == 0, F.lit("mega"))
            .otherwise(F.concat(F.lit("h"), F.pmod(F.xxhash64("id", F.lit(1)), F.lit(37))))
            .alias("key"),
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1000)).alias("score"),
            (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(5)) == 0).alias("blocked"),
            F.col("id"),
        )
        .repartition(8)
    )
    order = [F.col("score").desc(), F.col("id")]
    k = 20
    got = per_key_topk_passthrough(df, "key", order, k, F.col("blocked"))
    want = per_key_topk(
        df.filter(~F.col("blocked")), "key", order, k
    ).unionByName(df.filter(F.col("blocked")))
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w and len(g) > 0
    # the hot key was actually truncated (the test exercises the rank path)
    n_mega_kept = sum(1 for r in g if r[0] == "mega" and not r[2])
    assert n_mega_kept == k


def test_partition_counts_follow_the_session(spark):
    """`spread` and the range-partitioned rank size themselves from the
    session's shuffle partitions, Spark's default when the conf is unset,
    not from a fallback of their own."""
    from bitextor_spark.plans import ordering
    from bitextor_spark.session import spread

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        want = int(spark.conf.get(key))
        assert want != int(prev)
        df = _fixture(spark)
        assert spread(df).rdd.getNumPartitions() == want
        global_row_number(df, [F.col("id")]).count()
        assert ordering._DEFAULT_PINS[-1].rdd.getNumPartitions() == want
    finally:
        release_pins()
        spark.conf.set(key, prev)
