"""Bloom URL-seen shards: no false negatives, bounded false positives."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from bitextor_spark.frontier import seen as seen_mod

N_SHARDS = 8
M_BITS = 1 << 16
K = 5


def test_no_false_negatives_and_fp_rate(spark):
    inserted = spark.range(0, 2000).select(F.xxhash64("id").alias("url_hash"))
    blooms = seen_mod.update_blooms(
        seen_mod.empty_blooms(spark, N_SHARDS, M_BITS), inserted, N_SHARDS, M_BITS, K
    )
    blooms = spark.createDataFrame(blooms.collect(), seen_mod.BLOOM_SCHEMA).cache()

    flagged_in = seen_mod.flag_maybe_seen(
        inserted, blooms, N_SHARDS, M_BITS, K
    ).collect()
    assert all(r.maybe_seen for r in flagged_in), "false negative!"

    probes = spark.range(1_000_000, 1_002_000).select(
        F.xxhash64("id").alias("url_hash")
    )
    flagged_out = seen_mod.flag_maybe_seen(probes, blooms, N_SHARDS, M_BITS, K)
    fp = flagged_out.filter(F.col("maybe_seen")).count()
    # 2000 keys over 8×65536 bits at k=5 → theoretical fp ~1e-4
    assert fp <= 20


def test_incremental_update_preserves_members(spark):
    first = spark.range(0, 500).select(F.xxhash64("id").alias("url_hash"))
    second = spark.range(500, 1000).select(F.xxhash64("id").alias("url_hash"))
    b0 = seen_mod.empty_blooms(spark, N_SHARDS, M_BITS)
    b1 = spark.createDataFrame(
        seen_mod.update_blooms(b0, first, N_SHARDS, M_BITS, K).collect(),
        seen_mod.BLOOM_SCHEMA,
    )
    b2 = spark.createDataFrame(
        seen_mod.update_blooms(b1, second, N_SHARDS, M_BITS, K).collect(),
        seen_mod.BLOOM_SCHEMA,
    )
    both = first.unionByName(second)
    flagged = seen_mod.flag_maybe_seen(both, b2, N_SHARDS, M_BITS, K).collect()
    assert all(r.maybe_seen for r in flagged)
    assert {r.n_items for r in b2.collect()} and sum(
        r.n_items for r in b2.collect()
    ) == 1000
