"""Partitioned Bloom URL-seen structure (C5) — a standalone dedup operator.

Heritrix's BdbUriUniqFilter (crawler-beans.cxml:430-433) is a disk-backed
exact set. A bloom prefilter can shrink an exact anti-join to the "maybe
seen" residue (true hits + ~1% false positives at 10 bits/key); no false
negatives by construction. The crawl engine does NOT use it: its URL-seen
check is the exact anti-join over the persisted url_hash base layout plus
the gated delta keys, and an interleaved A/B measured the bloom flag as
pure extra cost there (SURVEY §4). This module stays as the measured
operator that ``bench.py``'s dedup bench, perfbench's traced ``seen.*``
round and ``tests/test_seen.py`` drive.

Sharding is by ``pmod(url_hash, n_shards)`` — uniform by hash, so a
mega-domain cannot hot-spot a shard (host-derived keys alone would put a
whole mega-host in one shard; hashing the full URL is the degenerate-salt
limit that provably balances). Each shard is one binary blob row;
membership tests vectorize in numpy over Arrow buffers, streamed through a
cogrouped-Arrow join per shard, so nothing is collected to the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql import functions as F

BLOOM_SCHEMA = "shard int, bloom binary, n_items long"

_MASK64 = (1 << 64) - 1
_MIX2 = np.uint64(0xBF58476D1CE4E5B9)
_MIX3 = np.uint64(0x94D049BB133111EB)


def _positions(hashes: np.ndarray, m_bits: int, k: int) -> list[np.ndarray]:
    """k bit positions per key via splitmix64 remixes of the xxhash64 value."""
    h = hashes.astype(np.int64).view(np.uint64)
    out = []
    for i in range(k):
        x = h + np.uint64((0x9E3779B97F4A7C15 * (i + 1)) & _MASK64)
        x = (x ^ (x >> np.uint64(30))) * _MIX2
        x = (x ^ (x >> np.uint64(27))) * _MIX3
        x = x ^ (x >> np.uint64(31))
        out.append((x % np.uint64(m_bits)).astype(np.int64))
    return out


def shard_col(hash_col, n_shards: int):
    return F.pmod(hash_col, F.lit(n_shards)).cast("int")


def empty_blooms(spark: SparkSession, n_shards: int = 0, m_bits: int = 0) -> DataFrame:
    """Zero-row bloom table: shards materialize lazily on first update
    (update_blooms creates a fresh blob for unseen shards; flag_maybe_seen
    treats a missing shard as definitely-new). Avoids shipping n_shards ×
    m_bits/8 bytes of zeros from the driver."""
    return spark.createDataFrame([], BLOOM_SCHEMA)


def update_blooms(
    blooms: DataFrame,
    new_hashes: DataFrame,  # columns: url_hash
    n_shards: int,
    m_bits: int,
    k: int,
) -> DataFrame:
    """Merge newly-admitted url hashes into their shards (cogrouped map)."""
    hashed = new_hashes.select(
        shard_col(F.col("url_hash"), n_shards).alias("shard"), "url_hash"
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left = new hashes for this shard, right = existing bloom row
        if len(right):
            shard = int(right["shard"].iloc[0])
            bits = np.frombuffer(right["bloom"].iloc[0], dtype=np.uint8).copy()
            n = int(right["n_items"].iloc[0])
        else:
            shard = int(left["shard"].iloc[0])
            bits = np.zeros(m_bits // 8, dtype=np.uint8)
            n = 0
        if len(left):
            for pos in _positions(left["url_hash"].to_numpy(), m_bits, k):
                np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
            n += len(left)
        return pd.DataFrame(
            {"shard": [shard], "bloom": [bits.tobytes()], "n_items": [n]}
        )

    return (
        hashed.groupBy("shard")
        .cogroup(blooms.groupBy("shard"))
        .applyInPandas(merge, BLOOM_SCHEMA)
    )


def _probe(bits: np.ndarray, hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """Vectorized membership test of ``hashes`` against a uint8 bitmap."""
    maybe = np.ones(len(hashes), dtype=bool)
    for pos in _positions(hashes, m_bits, k):
        maybe &= (bits[pos >> 3] >> (pos & 7) & 1).astype(bool)
    return maybe


def flag_maybe_seen(
    candidates: DataFrame,  # must carry url_hash
    blooms: DataFrame,
    n_shards: int,
    m_bits: int,
    k: int,
) -> DataFrame:
    """Adds boolean ``maybe_seen``; False ⇒ definitely never admitted.

    Cogrouped-ARROW per shard (the any-scale path: shard blobs stream from
    executors, nothing is collected): candidate columns never materialize
    as Python objects — the probe reads only the url_hash buffer and the
    1-row bloom blob, and the batch passes through column-pruned Arrow."""
    import pyarrow as pa

    out_schema = T.StructType(
        list(candidates.schema.fields)
        + [T.StructField("maybe_seen", T.BooleanType())]
    )  # fresh StructType: .add would mutate the DF's cached schema
    with_shard = candidates.withColumn(
        "_shard", shard_col(F.col("url_hash"), n_shards)
    )

    def check(left: "pa.Table", right: "pa.Table") -> "pa.Table":
        h = left.column("url_hash").to_numpy(zero_copy_only=False)
        if right.num_rows == 0:
            maybe = np.zeros(len(h), dtype=bool)
        else:
            bits = np.frombuffer(
                right.column("bloom")[0].as_py(), dtype=np.uint8
            )
            maybe = _probe(bits, h, m_bits, k)
        return left.drop_columns(["_shard"]).append_column(
            "maybe_seen", pa.array(maybe)
        )

    return (
        with_shard.groupBy("_shard")
        .cogroup(blooms.groupBy("shard"))
        .applyInArrow(check, out_schema)
    )
