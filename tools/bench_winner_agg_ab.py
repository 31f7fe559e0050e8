"""A/B evidence for the discovery winner-aggregation design decision (r5).

The epoch's largest shuffle+agg is the wave dedup: ``groupBy(url_canon)``
with ``min(struct(fetch_start_ms, disc_host, disc_url, ...))`` picking the
first discoverer in global fetch order over the O(links) resolver output
(``frontier/engine.py``, discovery DAG). ``min``/``max`` over STRUCT (or
string) buffers cannot use HashAggregate (the UnsafeRow agg buffer needs
mutable fixed-width fields), so Spark plans a SortAggregate — the obvious
suspicion is that the interpreted struct ordering, or the sort itself, is
the phase's cost. This tool races three EXACT formulations on the bench
world's fat epoch (2M pages, ~790k attempts, ~7.6M resolved links):

- ``v0 struct-min``: the shipped path — ``min(when(in_scope,
  struct(...)))`` + scalar sums, SortAggregate with interpreted struct
  ordering.
- ``v1 packed-min``: the full ordering key + payload packed into ONE
  string (fixed-width hex ms, then host/url, 0x01 separators — byte order
  == tuple order; the (ms, disc_host, disc_url) key is unique per
  candidate URL, so the payload suffix never decides a comparison), then
  ``min(string)`` — still SortAggregate, but UTF8String binary compares
  instead of interpreted per-field ordering; unpacked post-agg with
  ``split``/``conv``.
- ``v3 arrow-argmin``: no sort at all — plain hash
  ``repartition(url_canon)`` then a per-PARTITION pyarrow
  ``group_by(url_canon).aggregate(min/sum)`` inside ``mapInArrow``
  (C++ hash aggregation; the partition holds every row of its URLs).

MEASURED (16 cores, bench world, interleaved runs, per-variant result
checksums — sum(xxhash64(all columns)) — asserted IDENTICAL):

    v0 struct-min    10.1-19.3 s
    v1 packed-min    11.2-15.6 s
    v3 arrow-argmin  15.5-18.1 s

No variant separates from the shipped path beyond host noise. Why: the
phase's cost is the DATA VOLUME through the exchange + (map-side partial)
aggregation of ~7.6M wide rows — the winner payload (url_canon + disc
url/host strings) rides the shuffle in every exact formulation, and
Spark's partial SortAggregate already combines map-side, so the packed
comparator saves little, while v3 gives up map-side combining entirely
(full rows shuffle) and pays an extra Arrow round trip. The obvious
structural cut — scope + winner selection AFTER a urls-only dedup — is
NOT exact: ``in_scope`` depends on the discoverer's ``hop``/``trans_hops``
(Heritrix hop-limit rules), which vary across duplicate discoveries, so
the per-row conditional must see pre-dedup rows. The engine keeps the
declarative struct-min: same cost, and Catalyst prunes the struct wherever
a consumer reads only the counters.

Run: ``python tools/bench_winner_agg_ab.py [--cpus 16] [--pages 2000000]``
(smaller ``--pages`` for a smoke run; the conclusion was measured at the
bench-world default).
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SEP = "\x01"  # sorts below every byte legal in a canonical URL or host


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument("--pages", type=int, default=2_000_000)
    ap.add_argument("--rounds", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType,
    )

    from bitextor_spark.config import CrawlConfig
    from bitextor_spark.frontier.engine import FrontierEngine
    from bitextor_spark.frontier.world import spark_world
    from bitextor_spark.functions.urls import make_flat_resolver
    from bitextor_spark.plans.scope import apply_scope, is_embed_col
    from bitextor_spark.session import get_spark

    spark = get_spark(
        master=f"local[{args.cpus}]", shuffle_partitions=2 * args.cpus,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    n = args.pages
    dfs = spark_world(spark, n_pages=n, n_hosts=max(n // 333, 50),
                      mean_outlinks=10, seed=42, n_seeds=max(n * 3 // 5, 10))
    cfg = CrawlConfig(max_epochs=1, max_retries=1, max_fetches=10_000_000,
                      replenish_per_epoch=1000, epoch_window_ms=36_000_000,
                      compact_delta_ratio=3.0)
    root = tempfile.mkdtemp(prefix="winner_ab_")
    eng = FrontierEngine(spark, cfg, root, dfs["pages"], dfs["robots"],
                         dfs["seeds"])
    eng.bootstrap()
    eng.run_epoch()  # stages the fat epoch's events
    ev_path = sorted(glob.glob(root + "/data/fetch_log/delta-*"))[0]
    events = spark.read.parquet(ev_path).persist()
    print(f"events (fat epoch): {events.count()} attempts", flush=True)

    def scoped_df():
        # mirrors the engine's discovery DAG head (frontier/engine.py,
        # run_epoch discovery section) up to the winner aggregation
        fetched = (
            events.filter(
                (F.col("outcome") == "FETCHED")
                & (F.col("status") >= 200) & (F.col("status") < 300)
            )
            .select("url_canon", "hop", "seed_id", "fetch_start_ms",
                    F.col("host").alias("disc_host"),
                    F.col("trans_hops").alias("parent_trans"),
                    F.col("priority").alias("parent_priority"))
            .join(eng.pages.select("url_canon", "outlinks"), "url_canon")
        )
        disc_in = fetched.select(
            F.col("url_canon").alias("disc_url"),
            "hop", "seed_id", "fetch_start_ms", "disc_host", "parent_trans",
            "parent_priority",
            F.slice("outlinks", 1, cfg.max_outlinks).alias("outlinks"),
        )
        _pt = ["disc_url", "hop", "seed_id", "fetch_start_ms", "disc_host",
               "parent_trans"]
        raw_links = disc_in.mapInArrow(
            make_flat_resolver("disc_url", "outlinks", "parent_priority", _pt),
            StructType([disc_in.schema[c] for c in _pt] + [
                StructField("cash", DoubleType()),
                StructField("cand_canon", StringType()),
                StructField("cand_host", StringType()),
                StructField("cand_reg_domain", StringType())]),
        )
        candidates = raw_links.select(
            F.col("cand_canon").alias("url_canon"),
            (F.col("hop") + 1).cast("int").alias("hop"),
            "seed_id", "fetch_start_ms", "disc_host", "disc_url",
            F.col("cand_host").alias("host"),
            F.col("cand_reg_domain").alias("reg_domain"),
            F.when(is_embed_col(F.col("cand_canon"), cfg),
                   F.col("parent_trans") + 1)
            .otherwise(F.lit(0)).cast("int").alias("trans_hops"),
            F.col("cash").alias("priority"))
        return apply_scope(candidates, eng._load("seed_domains"),
                           eng.robots, cfg)

    def v0():
        return scoped_df().groupBy("url_canon").agg(
            F.min(F.when(F.col("in_scope"), F.struct(
                "fetch_start_ms", "disc_host", "disc_url", "hop",
                "seed_id", "host", "trans_hops", "priority"))).alias("w"),
            F.sum(F.when(F.col("in_scope"), 1).otherwise(0)).alias("n_disc"),
            F.sum(F.when(~F.col("in_scope"), 1).otherwise(0)).alias("n_reject"),
            F.max("host").alias("_any_host"))

    def packed_col():
        return F.concat(
            F.lpad(F.hex(F.col("fetch_start_ms")), 16, "0"), F.lit(SEP),
            F.col("disc_host"), F.lit(SEP),
            F.col("disc_url"), F.lit(SEP),
            F.col("hop").cast("string"), F.lit(SEP),
            F.col("seed_id").cast("string"), F.lit(SEP),
            F.col("host"), F.lit(SEP),
            F.col("trans_hops").cast("string"), F.lit(SEP),
            F.col("priority").cast("string"))

    def unpack(g):
        p = F.split(F.col("wp"), SEP)
        return g.select(
            "url_canon",
            F.struct(
                F.conv(p[0], 16, 10).cast("long").alias("fetch_start_ms"),
                p[1].alias("disc_host"), p[2].alias("disc_url"),
                p[3].cast("int").alias("hop"),
                p[4].cast("int").alias("seed_id"),
                p[5].alias("host"), p[6].cast("int").alias("trans_hops"),
                p[7].cast("double").alias("priority")).alias("w"),
            "n_disc", "n_reject", "_any_host")

    def v1():
        g = scoped_df().groupBy("url_canon").agg(
            F.min(F.when(F.col("in_scope"), packed_col())).alias("wp"),
            F.sum(F.when(F.col("in_scope"), 1).otherwise(0)).alias("n_disc"),
            F.sum(F.when(~F.col("in_scope"), 1).otherwise(0)).alias("n_reject"),
            F.max("host").alias("_any_host"))
        return unpack(g)

    def v3():
        import pyarrow as pa
        pre = scoped_df().select(
            "url_canon",
            F.when(F.col("in_scope"), packed_col()).alias("wp"),
            F.col("in_scope").cast("int").alias("in1"),
            (~F.col("in_scope")).cast("int").alias("in0"),
            "host",
        ).repartition(2 * args.cpus, "url_canon")

        def argmin(batches):
            rows = list(batches)
            if not rows:
                return
            t = pa.Table.from_batches(rows)
            g = t.group_by("url_canon").aggregate(
                [("wp", "min"), ("in1", "sum"), ("in0", "sum"),
                 ("host", "max")])
            yield from g.rename_columns(
                ["url_canon", "wp", "n_disc", "n_reject", "_any_host"]
            ).to_batches()

        out = pre.mapInArrow(
            argmin,
            "url_canon string, wp string, n_disc long, n_reject long, "
            "_any_host string")
        return unpack(out)

    def force(df):
        return df.select(
            F.sum(F.xxhash64("url_canon", "w", "n_disc", "n_reject",
                             "_any_host").cast("decimal(38,0)")).alias("h"),
            F.count("*").alias("n")).collect()[0]

    v0().count()  # warm python workers / codegen
    variants = [("v0 struct-min", v0), ("v1 packed-min", v1),
                ("v3 arrow-argmin", v3)]
    hashes = set()
    for rnd in range(args.rounds):
        for name, fn in variants:
            t0 = time.time()
            r = force(fn())
            w = time.time() - t0
            hashes.add((str(r["h"]), r["n"]))
            print(f"round {rnd} {name:17s} wall={w:6.2f}s "
                  f"hash={r['h']} n={r['n']}", flush=True)
    assert len(hashes) == 1, f"variants disagree: {hashes}"
    print("EXACT: all variants produced the identical result checksum")
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
