"""Cluster entrypoint for the frontier engine — run via spark-submit.

Packaging (north_rule: ``spark-submit --py-files`` on a multi-executor
cluster)::

    ./jobs/package.sh                 # builds dist/bitextor_spark.zip
    spark-submit \
        --py-files dist/bitextor_spark.zip \
        --conf spark.sql.shuffle.partitions=<2-4x total cores> \
        --conf spark.sql.adaptive.enabled=true \
        jobs/crawl_job.py \
        --catalog-root  /mnt/shared/crawl-state \
        --images-table  /path/to/images.parquet \
        --pages-table   /path/to/pages.parquet \
        --robots-table  /path/to/robots.parquet \
        --seeds-table   /path/to/seeds.parquet \
        --max-epochs 50

``--catalog-root`` must be a POSIX path on a filesystem shared by the
driver and every executor (NFS/Lustre/FUSE mount): SnapshotCatalog manages
its manifests with local file IO while Spark writes the parquet data files
through the same path, so both sides must see one filesystem. Object-store
URIs (s3://...) are rejected — swap SnapshotCatalog for real Iceberg
tables (sources/snapshots.py docstring) before pointing state at S3.

The session is taken from spark-submit (no master/conf override here);
shuffle partitioning, AQE, and executor sizing are cluster-side flags.
Resume is automatic: if ``--catalog-root`` already holds a committed
snapshot, the run continues from the last epoch without re-fetching or
violating politeness (SnapshotCatalog manifest protocol).

With ``--synthetic-world N`` the job generates the deterministic test
world (N pages) instead of reading pages/robots/seeds tables — the shape
used for the two-cluster-size scaling benchmark.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="frontier crawl job")
    p.add_argument("--catalog-root", required=True,
                   help="directory/URI for snapshot state tables")
    p.add_argument("--pages-table", help="parquet path: url_canon, status, "
                   "fetch_ms, outlinks, image_id")
    p.add_argument("--robots-table", help="parquet path: host, crawl_delay_s, "
                   "disallow_prefixes")
    p.add_argument("--seeds-table", help="parquet path: seed_id, seed_url")
    p.add_argument("--images-table", help="parquet path (input_hint shape): "
                   "image_id, bytes, w, h, fmt, caption, phash")
    p.add_argument("--synthetic-world", type=int, default=0,
                   help="generate a deterministic N-page world instead of "
                   "reading tables (bench/test mode)")
    p.add_argument("--max-epochs", type=int, default=100)
    p.add_argument("--max-fetches", type=int, default=1_000_000)
    p.add_argument("--replenish-per-epoch", type=int, default=3000)
    p.add_argument("--epoch-window-ms", type=int, default=600_000)
    p.add_argument("--queue-order", choices=("bfs", "priority"),
                   default="bfs",
                   help="per-host queue precedence: wget-BFS (C3) or "
                   "OPIC-style priority with precedence floor (C10)")
    p.add_argument("--priority-floor", type=float, default=0.0)
    p.add_argument("--verify-payloads", action="store_true",
                   help="decode+verify image bytes per fetch wave (M4 gate)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if "://" in args.catalog_root and not args.catalog_root.startswith("file://"):
        raise SystemExit(
            "--catalog-root must be a driver+executor-shared POSIX path; "
            f"got URI {args.catalog_root!r}. SnapshotCatalog manifests use "
            "local file IO — use the Iceberg swap (sources/snapshots.py) "
            "for object-store state."
        )

    from pyspark.sql import SparkSession

    from bitextor_spark.config import CrawlConfig
    from bitextor_spark.frontier.engine import FrontierEngine

    spark = SparkSession.builder.appName("bitextor-spark-crawl").getOrCreate()

    cfg = CrawlConfig(
        max_epochs=args.max_epochs,
        max_fetches=args.max_fetches,
        replenish_per_epoch=args.replenish_per_epoch,
        epoch_window_ms=args.epoch_window_ms,
        queue_order=args.queue_order,
        priority_floor=args.priority_floor,
    )

    images = None
    if args.synthetic_world:
        from bitextor_spark.frontier.world import spark_world

        n = args.synthetic_world
        dfs = spark_world(spark, n_pages=n, n_hosts=max(n // 300, 4),
                          mean_outlinks=10, seed=42, n_seeds=max(n // 5, 10),
                          with_images=args.verify_payloads)
        pages, robots, seeds = dfs["pages"], dfs["robots"], dfs["seeds"]
        images = dfs.get("images")
    else:
        if not (args.pages_table and args.robots_table and args.seeds_table):
            raise SystemExit("need --pages/--robots/--seeds tables "
                             "(or --synthetic-world N)")
        pages = spark.read.parquet(args.pages_table)
        robots = spark.read.parquet(args.robots_table)
        seeds = spark.read.parquet(args.seeds_table)
        if args.images_table:
            images = spark.read.parquet(args.images_table)
    if args.verify_payloads and images is None:
        raise SystemExit("--verify-payloads needs an images source "
                         "(--images-table, or synthetic-world mode)")

    eng = FrontierEngine(
        spark, cfg, args.catalog_root, pages, robots, seeds,
        images=images, verify_payloads=args.verify_payloads,
    )
    stats = eng.run(max_epochs=args.max_epochs)
    out = {
        "epochs": len(stats),
        "fetched": sum(s.fetched for s in stats),
        "attempts": sum(s.attempts for s in stats),
        "urls_discovered": sum(s.new_urls for s in stats),
        "queued_remaining": stats[-1].queued_remaining if stats else 0,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
