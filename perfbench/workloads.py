"""Crawl workloads of the benchmark: world shape, crawl config, epoch plan.

A workload's seed selects one of ``N_VARIANTS`` synthetic worlds, so every
world a run can receive has stored reference digests (``digests.json``,
written by ``make_digests.py``). The program receives only the tables that
``spark_world`` generates from the variant's world seed.
"""

from __future__ import annotations

from dataclasses import dataclass

N_VARIANTS = 8
# Spark task slots: half the machine's 4 vCPUs. The driver JVM (planning,
# GC, JIT) and the Python workers keep about three vCPUs busy at local[2];
# at local[4] the process tree wanted more CPU than the machine has, and a
# stage waited on whichever task's vCPU the host had taken away.
CORES = 2
# epochs of every crawl run: epoch 0 on the set-up's engine (the cold
# epoch: JIT and caches warm up in it), then MEASURED epochs, each on a new
# engine that resumes the catalog from cold session caches. The work is
# fixed, so a faster program does the same epochs in less time;
# digests.json holds the reference of all N_EPOCHS epochs.
MEASURED = 2
N_EPOCHS = 1 + MEASURED
# Driver JVM options. The JIT's first tier only: with C2 on, its compiler
# threads kept one to three vCPUs busy all through a run compiling Spark's
# generated classes (about 40% of the process tree's CPU), epochs kept
# getting cheaper from one to the next, and how far they had got depended
# on how much CPU the host gave the run. With C1 only, the measured epochs
# cost the same CPU each, and their wall was no slower in trial runs. The
# serial collector: G1 sizes its young generation from measured pause
# times, so how far the heap grew, and the peak memory with it, followed
# the host's load; the serial collector grows the heap from the
# allocations alone and runs no concurrent GC threads.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
# Spark conf shared by every crawl the benchmark runs: bench.py's crawl
# settings (AQE off) with a heap sized for a machine shared with other jobs.
SPARK_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.driver.memory": "2g",
    "spark.ui.showConsoleProgress": "false",
}


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    n_hosts: int
    n_seeds: int
    epoch_window_ms: int
    compact_delta_ratio: float
    host_budget: int  # per-host fetch budget of an epoch

    def crawl_config(self):
        from bitextor_spark.config import CrawlConfig

        return CrawlConfig(
            max_epochs=N_EPOCHS,
            max_retries=1,
            max_fetches=10_000_000,
            replenish_per_epoch=self.host_budget,
            error_penalty=1,  # a failed fetch spends one budget unit
            epoch_window_ms=self.epoch_window_ms,
            num_host_shards=CORES,
            bloom_bits_per_shard=1 << 20,
            compact_delta_ratio=self.compact_delta_ratio,
        )


WORKLOADS = {
    # Thin waves: a 120 s virtual window admits about 19 fetches per host,
    # so each epoch fetches about 930 URLs and per-epoch fixed cost
    # (planning, job submission, commit and compaction writes, cold caches
    # on resume) dominates the wall. Ratio 0.0 compacts in every epoch, so
    # every epoch does the same kind of work and the catalog sees replace
    # and drop commits.
    "crawl_thin": Workload(
        name="crawl_thin", n_pages=10_000, n_hosts=50, n_seeds=1_000,
        epoch_window_ms=120_000, compact_delta_ratio=0.0, host_budget=1_000,
    ),
    # Fat waves: a 10 h virtual window, so the per-host budget (10
    # fetches), not the clock, ends a host's wave. Four times the hosts of
    # crawl_thin give about twice its URLs per epoch, the same from one
    # epoch and one world to the next. Compaction stays outside the run
    # (ratio 3.0), as in bench.py's crawl, so the catalog is only appended
    # to.
    "crawl_fat": Workload(
        name="crawl_fat", n_pages=20_000, n_hosts=200, n_seeds=4_000,
        epoch_window_ms=36_000_000, compact_delta_ratio=3.0, host_budget=10,
    ),
}


def world_seed(seed: int) -> int:
    """World seed of the variant that benchmark seed ``seed`` selects."""
    return 1000 + seed % N_VARIANTS
