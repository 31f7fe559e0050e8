"""Tiny end-to-end crawl demo: ``python -m bitextor_spark.frontier.demo``.

Runs the full engine (canonicalize → scope → politeness schedule → fetch →
discover → URL-seen anti-join → snapshot) over the deterministic small
world and prints the fetch-log head plus per-host metrics. The same world
drives the simulator-parity tests, so what this prints is the exact crawl
order the reference semantics mandate.
"""

from __future__ import annotations

import shutil
import tempfile


def main() -> None:
    from bitextor_spark.config import CrawlConfig, WorldConfig
    from bitextor_spark.frontier.engine import FrontierEngine
    from bitextor_spark.frontier.world import small_world, world_to_dfs
    from bitextor_spark.session import get_spark

    spark = get_spark(app_name="frontier-demo", master="local[4]",
                      shuffle_partitions=8)
    world = small_world(WorldConfig(n_hosts=6, n_pages=120))
    cfg = CrawlConfig(max_epochs=3, max_retries=1)
    dfs = world_to_dfs(spark, world)
    root = tempfile.mkdtemp(prefix="frontier_demo_")
    try:
        eng = FrontierEngine(spark, cfg, root, dfs["pages"], dfs["robots"],
                             dfs["seeds"])
        stats = eng.run(max_epochs=3)
        for s in stats:
            print(f"epoch {s.epoch}: fetched={s.fetched} attempts={s.attempts} "
                  f"new_urls={s.new_urls} queued={s.queued_remaining}")
        print("\nfetch log (first 15 in exact global order):")
        eng.fetch_log().select(
            "seq", "epoch", "host", "url_canon", "status", "outcome"
        ).show(15, truncate=44)
        print("per-host metrics (epoch 0):")
        eng.metrics().filter("epoch = 0").orderBy("host").show(10, truncate=30)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
