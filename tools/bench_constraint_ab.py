"""Interleaved A/B: spark.sql.constraintPropagation.enabled for the crawl.

The candidate-phase floor is attributed to driver-side Catalyst work on
the ~200-operator epoch DAG; constraint propagation is superlinear in
plan width and is semantics-neutral to disable (it only ADDS inferred
filters). Race full 3-epoch crawls with the conf on/off inside one JVM,
interleaved.

MEASURED (16 cores, bench world, 3 interleaved rounds, r5):

    cp=on   65.6 / 64.3 / 61.8 s   (3-epoch crawl wall)
    cp=off  63.4 / 54.0 / 59.6 s   (~7% median win, every round)

The engine therefore sets the conf to false at construction
(frontier/engine.py __init__); parity suites green either way.
NOTE: the engine under test now sets cp=false itself — the cp=true side
of a re-run must be read as "engine default overridden back to true",
which is exactly what one_run() does via spark.conf.set after init."""
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bitextor_spark.config import CrawlConfig
from bitextor_spark.frontier.engine import FrontierEngine
from bitextor_spark.frontier.world import spark_world
from bitextor_spark.session import get_spark

cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 16
spark = get_spark(app_name="ab-constraint", master=f"local[{cpus}]",
                  shuffle_partitions=2 * cpus,
                  extra_conf={"spark.sql.adaptive.enabled": "false"})
wdfs = spark_world(spark, n_pages=2000, n_hosts=50, mean_outlinks=8,
                   seed=7, n_seeds=500)
wcfg = CrawlConfig(max_epochs=2, max_retries=1)
wr = tempfile.mkdtemp(prefix="abc_warm_")
FrontierEngine(spark, wcfg, wr, wdfs["pages"], wdfs["robots"],
               wdfs["seeds"]).run(max_epochs=2)
shutil.rmtree(wr, ignore_errors=True)

dfs = spark_world(spark, n_pages=2_000_000, n_hosts=6000, mean_outlinks=10,
                  seed=42, n_seeds=1_200_000)
cfg = CrawlConfig(max_epochs=3, max_retries=1, max_fetches=10_000_000,
                  replenish_per_epoch=1000, epoch_window_ms=36_000_000,
                  compact_delta_ratio=3.0)


def one_run(mode):
    root = tempfile.mkdtemp(prefix=f"abc_{mode}_")
    eng = FrontierEngine(spark, cfg, root, dfs["pages"], dfs["robots"],
                         dfs["seeds"])
    # AFTER init: the engine defaults the conf to false at construction
    spark.conf.set("spark.sql.constraintPropagation.enabled", mode)
    eng.bootstrap()
    out = []
    for _ in range(3):
        if eng.meta().get("done"):
            break
        t0 = time.time()
        eng.run_epoch()
        out.append((round(time.time() - t0, 2), dict(eng.last_timings)))
    shutil.rmtree(root, ignore_errors=True)
    return out


for rnd in range(3):
    for mode in ("true", "false"):
        res = one_run(mode)
        tot = sum(w for w, _ in res)
        cand = [round((t.get('pin_delta') or 0) + (t.get('topk_gate') or 0)
                      + (t.get('plan_candidates') or 0), 1) for _, t in res]
        disc = [t.get('discovery_dag') for _, t in res]
        print(f"round {rnd} cp={mode}: total={tot:.1f}s cand={cand} "
              f"disc={disc}", flush=True)
spark.stop()
