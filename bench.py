"""Benchmark harness — prints ONE JSON line for the driver.

  value          = total seconds over the headline operator queries
  queries        = per-query seconds at $SPARK_GRAFT_SF_DIR
  crawl          = frontier engine throughput (URLs scheduled+fetched/sec)
                   at N and 4N local cores + scaling efficiency
  dedup          = frontier-dedup (bloom shard) throughput

Scaling evidence per BASELINE.md: the same crawl job runs at local[N] and
local[4N] on the same deterministic world; efficiency =
(thr_4N / thr_N) / 4. Set SPARK_GRAFT_BENCH_SCALING=0 to skip the scaling
section (quick mode). All human-readable detail goes to BENCH/BASELINE.md;
stdout carries exactly the one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
DO_SCALING = os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0"

# Keep the default 8g heap: measured on this box, a 48g heap made the
# 32-core crawl 2.6x SLOWER (G1 young-gen scaling with 32 allocating
# threads); the workload's live set per epoch is far below 8g.

HEADLINE = [
    "q1_pricing_summary",
    "w1_topk_per_group",
    "o1_multikey_sort",
    "o4_range_batching",
    "dedup_exact_first",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "ann_lsh_bucketed",
    "text_analysis",
    "tfidf_similarity",
    "t1_jaccard_overlap",
    "events_windowed_agg",
    "events_sessionize",
    "word_freq",
    "inverted_index",
    "ann_ivf_topk",
    "warc_roundtrip_stats",
    "f6_structure_distance",
    "p7_langid_trigram",
    "img_phash_neardup",
    "img_pipeline",
]


def _materialize(df) -> int:
    """Force full computation without driver-side collect."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def run_headline(spark) -> tuple[dict[str, float], list[str]]:
    from bitextor_spark.queries import QUERIES

    # one untimed warm-up: session/scan/codegen warmup otherwise leaks into
    # the first measured query (q1 measured 3x its steady-state in r1)
    _materialize(QUERIES["q1_pricing_summary"](spark, SF_DIR))
    out = {}
    failed = []
    for name in HEADLINE:
        # one transient failure (executor hiccup, noop-sink race) must not
        # abort the whole unattended bench: retry once, then record the
        # query as failed and keep going — a failed query is excluded from
        # the total and surfaced in "failed_queries", never silently fast
        for attempt in (0, 1):
            t0 = time.time()
            try:
                _materialize(QUERIES[name](spark, SF_DIR))
                out[name] = round(time.time() - t0, 3)
                break
            except Exception as exc:  # noqa: BLE001 - bench must survive
                print(f"[bench] {name} attempt {attempt} failed: {exc}",
                      file=sys.stderr, flush=True)
        else:
            failed.append(name)
    return out, failed


def _cpu_stat() -> dict | None:
    """Box-wide CPU jiffies from /proc/stat — steal is the hypervisor
    withholding cycles from this VM, the confound that moves measured
    scaling ratios between sessions on identical code."""
    try:
        with open("/proc/stat") as fh:
            v = list(map(int, fh.readline().split()[1:]))
    except (OSError, ValueError):
        return None
    idle = v[3] + v[4]
    return {"total": sum(v), "steal": v[7], "idle": idle}


def cpu_window(before: dict | None, after: dict | None) -> dict | None:
    """steal%/busy% of the box over a measurement window (jiffy deltas)."""
    if not before or not after:
        return None
    dt = after["total"] - before["total"]
    if dt <= 0:
        return None
    return {
        "steal_pct": round(100.0 * (after["steal"] - before["steal"]) / dt, 2),
        "busy_pct": round(
            100.0 * (dt - (after["idle"] - before["idle"])) / dt, 2
        ),
    }


def jvm_ceiling(spark, n_rows: int = 600_000_000) -> float:
    """Embarrassingly-parallel JVM throughput (rows/s) in THIS session — the
    machine's parallel ceiling at the session's core count. On shared/SMT
    virtualized boxes wall-clock scaling tops out well below core-count
    ratio even for perfect workloads; reporting the crawl's efficiency next
    to the same-methodology ceiling separates the job's parallel quality
    from the hypervisor's."""
    from pyspark.sql import functions as F

    expr = F.sum(F.shiftrightunsigned(F.xxhash64("id"), 33)).alias("s")
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.range(20_000_000, numPartitions=n).select(expr).collect()  # warm
    t0 = time.time()
    spark.range(n_rows, numPartitions=2 * n).select(expr).collect()
    return round(n_rows / (time.time() - t0), 1)


def crawl_bench(cpus: int, n_pages: int, n_hosts: int, n_seeds: int,
                max_epochs: int, warmup: bool = True,
                replenish: int = 1000, epoch_window_ms: int = 36_000_000) -> dict:
    """One full crawl of a deterministic spark_world; returns throughput,
    including per-epoch wall/attempt/job-count samples (the sandbox VM has
    ±2-3x wall-clock noise from host steal, so scaling efficiency is judged
    on MEDIANS over per-epoch throughput samples, not a single wall clock).

    A tiny untimed warmup crawl first exercises every stage shape (python
    workers, codegen, Arrow paths) so the timed run measures steady state.
    """
    import tempfile as _tf

    from bitextor_spark.config import CrawlConfig
    from bitextor_spark.frontier.engine import FrontierEngine
    from bitextor_spark.frontier.world import spark_world
    from bitextor_spark.session import get_spark

    spark = get_spark(
        app_name=f"crawl-bench-{cpus}",
        master=f"local[{cpus}]",
        # 2x cores: straggler absorption for the skewed host groups
        shuffle_partitions=2 * cpus,
        # AQE off: on vs off was a wash for the crawl epochs (SURVEY §4)
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    try:
        if warmup:
            wdfs = spark_world(spark, n_pages=2000, n_hosts=50,
                               mean_outlinks=8, seed=7, n_seeds=500)
            wcfg = CrawlConfig(max_epochs=2, max_retries=1)
            wr = _tf.mkdtemp(prefix="crawl_warm_")
            FrontierEngine(spark, wcfg, wr, wdfs["pages"], wdfs["robots"],
                           wdfs["seeds"]).run(max_epochs=2)
            shutil.rmtree(wr, ignore_errors=True)

        dfs = spark_world(spark, n_pages=n_pages, n_hosts=n_hosts,
                          mean_outlinks=10, seed=42, n_seeds=n_seeds)
        cfg = CrawlConfig(
            max_epochs=max_epochs,
            max_retries=1,
            max_fetches=10_000_000,  # scaling epochs must not hit the cap
            replenish_per_epoch=replenish,
            epoch_window_ms=epoch_window_ms,  # wide epochs amortize fixed costs
            # web-representative MOR regime: at the north-star scale the
            # per-epoch delta log is ≪ the frontier, so epochs never pay a
            # full-frontier rewrite; the default 0.2 ratio fires EVERY
            # epoch at bench scale (delta ≈ frontier) and the compaction
            # write is pure non-scaling fixed cost. Cadence is a cost
            # knob, not a semantics knob (cadence-invariance parity test
            # in tests/test_frontier_parity.py); the 3-epoch delta log
            # stays far under the engine's DELTA_BROADCAST_ROWS.
            compact_delta_ratio=3.0,
        )
        root = tempfile.mkdtemp(prefix=f"crawl_bench_{cpus}_")
        eng = FrontierEngine(spark, cfg, root, dfs["pages"], dfs["robots"],
                             dfs["seeds"])
        eng.bootstrap()  # includes world materialization (setup, untimed)
        epochs = []
        t0 = time.time()
        for _ in range(max_epochs):
            if eng.meta().get("done"):
                break
            te = time.time()
            cpu0 = _cpu_stat()
            st = eng.run_epoch()
            e_wall = time.time() - te
            epochs.append({
                "attempts": st.attempts,
                "wall_sec": round(e_wall, 2),
                "urls_per_sec": round(st.attempts / e_wall, 1),
                "n_jobs": eng.last_timings.get("n_jobs"),
                "n_compiles": eng.last_timings.get("n_compiles"),
                "phases": {k: v for k, v in eng.last_timings.items()
                           if k not in ("n_jobs", "n_compiles")},
                # per-EPOCH steal/busy: each throughput sample carries the
                # box state it was measured under, so a steal episode is
                # attributable to the exact samples it distorted
                "cpu": cpu_window(cpu0, _cpu_stat()),
            })
            if st.attempts == 0 and st.queued_remaining == 0:
                break
        wall = time.time() - t0
        attempts = sum(e["attempts"] for e in epochs)
        shutil.rmtree(root, ignore_errors=True)
        # ceiling job + its own steal window: the ceiling is only a valid
        # normalizer for THIS run if the box state during the ceiling job
        # matches the crawl's — both windows are reported so a mismatch is
        # visible instead of silently biasing vs-ceiling
        c0 = _cpu_stat()
        ceil = jvm_ceiling(spark)
        return {
            "cpus": cpus,
            "epochs": len(epochs),
            "fetch_attempts": attempts,
            "wall_sec": round(wall, 2),
            "urls_per_sec": round(attempts / wall, 1),
            "epoch_samples": epochs,
            "jvm_ceiling_rows_per_sec": ceil,
            "ceiling_cpu": cpu_window(c0, _cpu_stat()),
        }
    finally:
        spark.stop()


def crawl_bench_subprocess(cpus: int, retries: int = 1, **kw) -> dict:
    """Run crawl_bench in a fresh process (fresh JVM — no cross-run JIT or
    page-cache warmth biasing the comparison). One transient JVM death must
    not abort a ~40-minute bench session, so failures retry once (fresh
    process, so no state carries over) and the final failure surfaces the
    child's stderr tail instead of a bare exit status."""
    import subprocess

    args = ", ".join(f"{k}={v}" for k, v in kw.items())
    code = (
        "import json; from bench import crawl_bench; "
        f"print(json.dumps(crawl_bench({cpus}, {args})))"
    )
    for attempt in range(retries + 1):
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        if out.returncode == 0:
            return json.loads(out.stdout.strip().splitlines()[-1])
        sys.stderr.write(
            f"crawl_bench_subprocess(cpus={cpus}) attempt {attempt} "
            f"failed (exit {out.returncode}); stderr tail:\n"
            + "\n".join(out.stderr.strip().splitlines()[-15:]) + "\n"
        )
    raise RuntimeError(
        f"crawl_bench subprocess failed {retries + 1}x at cpus={cpus}"
    )


def dedup_bench(spark, n_keys: int = 2_000_000, samples: int = 3) -> dict:
    """Frontier-dedup throughput: bloom build + membership over n_keys.

    Runs `samples` independent build+probe rounds and reports the best
    wall of each (plus all samples): a single sample on the shared box
    swings several-fold with host steal and JVM warmup, and the best
    sample is what the code costs."""
    from pyspark.sql import functions as F

    from bitextor_spark.frontier import seen as seen_mod

    n_shards, m_bits, k = CPUS, 1 << 24, 5
    build_walls, probe_walls, fps = [], [], []
    for _ in range(samples):
        inserted = spark.range(n_keys).select(
            F.xxhash64("id").alias("url_hash"))
        t0 = time.time()
        blooms = seen_mod.update_blooms(
            seen_mod.empty_blooms(spark, n_shards, m_bits), inserted,
            n_shards, m_bits, k,
        ).localCheckpoint()
        build_walls.append(time.time() - t0)
        probes = spark.range(n_keys, 2 * n_keys).select(
            F.xxhash64("id").alias("url_hash")
        )
        t0 = time.time()
        n_maybe = (
            seen_mod.flag_maybe_seen(probes, blooms, n_shards, m_bits, k)
            .filter("maybe_seen").count()
        )
        probe_walls.append(time.time() - t0)
        fps.append(n_maybe)
    build_sec, probe_sec = min(build_walls), min(probe_walls)
    return {
        "n_keys": n_keys,
        "samples": samples,
        "build_sec": round(build_sec, 2),
        "probe_sec": round(probe_sec, 2),
        "build_keys_per_sec": round(n_keys / build_sec, 1),
        "probe_keys_per_sec": round(n_keys / probe_sec, 1),
        "build_sec_all": [round(b, 2) for b in build_walls],
        "probe_sec_all": [round(p, 2) for p in probe_walls],
        "false_positives": max(fps),
    }


def _git_sha() -> str | None:
    import subprocess

    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], capture_output=True,
            text=True, cwd=os.path.dirname(os.path.abspath(__file__)),
            check=True,
        ).stdout.strip()
    except Exception:
        return None


def _append_history(result: dict) -> tuple[list[dict], int]:
    """Append this run's crawl summary to BENCH/history.jsonl and return
    (comparable sessions, n_excluded). Host steal on the shared VM moves
    the measured efficiency ratio between bench sessions even when the
    code is unchanged; the cross-session record separates code effects
    (absolute urls/s at each core count) from box effects (the ratio).
    Every row carries the world/config fingerprint + git SHA, and only
    rows whose methodology matches the CURRENT run are tabulated — world
    changes must not silently mix incomparable sessions."""
    os.makedirs("BENCH", exist_ok=True)
    path = "BENCH/history.jsonl"
    if "crawl" in result:
        c = result["crawl"]
        row = {
            "ts": round(time.time(), 1),
            "git": _git_sha(),
            "world": c.get("world"),
            "pair": [c["n_low"], c["n_high"]],
            "low_median": c["low"]["median_urls_per_sec"],
            "high_median": c["high"]["median_urls_per_sec"],
            "efficiency": c["efficiency"],
            "ceiling": c["machine_ceiling_efficiency"],
            "vs_ceiling": c["efficiency_vs_ceiling"],
            "headline_total_sec": result["value"],
            "steal_med": [c["low"].get("steal_pct_median"),
                          c["high"].get("steal_pct_median")],
            "cand_med": [c["low"].get("cand_phase_sec_median"),
                         c["high"].get("cand_phase_sec_median")],
        }
        # idempotence: re-rendering the report from a saved last_run.json
        # (write_report(result) in a REPL) must not duplicate the run's
        # history row — skip the append when the last row is this run
        # modulo timestamp.
        last = None
        if os.path.exists(path):
            with open(path) as fh:
                tail_lines = fh.read().splitlines()
            if tail_lines:
                try:
                    last = json.loads(tail_lines[-1])
                except ValueError:
                    last = None
        if not (last and {k: v for k, v in last.items() if k != "ts"}
                == {k: v for k, v in row.items() if k != "ts"}):
            with open(path, "a") as fh:
                fh.write(json.dumps(row) + "\n")
    try:
        with open(path) as fh:
            rows = [json.loads(ln) for ln in fh if ln.strip()]
    except FileNotFoundError:
        return [], 0
    if "crawl" not in result:
        return rows, 0
    cur_world = result["crawl"].get("world")
    cur_pair = [result["crawl"]["n_low"], result["crawl"]["n_high"]]
    match = [r for r in rows
             if r.get("world") == cur_world and r.get("pair") == cur_pair]
    return match, len(rows) - len(match)


def write_report(result: dict) -> None:
    history, n_legacy = _append_history(result)
    lines = [
        "# BENCH/BASELINE — measured numbers",
        "",
        f"sf dir: `{result['sf']}` · headline cpus: {CPUS}",
        "",
        "## Headline operator queries (seconds, noop-sink materialization)",
        "",
        "| query | sec |",
        "|---|---|",
    ]
    for k, v in sorted(result["queries"].items(), key=lambda kv: -kv[1]):
        lines.append(f"| {k} | {v} |")
    if result.get("failed_queries"):
        lines.append(
            f"| FAILED (excluded): {', '.join(result['failed_queries'])} | — |"
        )
    lines += [
        "",
        f"**total: {result['value']} s**",
        "",
        "Context: `p7_langid_trigram` scores the committed 17-language "
        "corpus-derived default profile (816 rows) through the CHUNKED "
        "shuffle-free codegen tier since round 5 (~1.4 s, vs ~4.6 s "
        "through the round-4 broadcast-join path; oversize profiles still "
        "fall back to the join). Headline totals swing ~±60% between "
        "sessions with host steal on this shared VM (BENCH/history.jsonl "
        "headline_total_sec column, identical code) — compare per-query "
        "medians across history rows, not single sessions.",
        "",
    ]
    pairs = [p for p in (result.get("crawl"), result.get("crawl_pair_8_32"))
             if p]
    if pairs:
        c0 = pairs[0]
        lines += [
            "## Crawl engine scaling (same world, two parallelism levels, "
            "two core-count pairs)",
            "",
            f"Per pair: {c0['n_runs']} fresh-JVM runs per core count, "
            f"{c0['epochs_per_run']} epochs per run; each epoch is one "
            "throughput sample (attempts / epoch wall). The shared-VM "
            "sandbox has ±2-3x wall-clock noise from host steal, so the "
            "efficiency headline is the MEDIAN over per-epoch samples. "
            "4→16 covers the box's physical cores; 8→32 is the driver's "
            "spec'd example pair (its high side lands in 2-way SMT "
            "oversubscription — see each pair's machine ceiling). Each "
            "per-epoch sample carries the /proc/stat steal% of its own "
            "measurement window; min/median/max columns expose dispersion "
            "so a steal episode reads as noise, not regression. jobs/epoch "
            "is the MAX over epochs. It does not grow with the "
            "uncompacted delta log (this bench pushes compaction out of "
            "the window on purpose): the log's latest versions are the "
            "read itself for one append and one latest-wins groupBy for "
            "more, so it is constant per epoch, not frontier-size-"
            "dependent.",
            "",
            "| cores | samples | urls/s min/med/max | best run | "
            "steal% min/med/max | cand-phase s min/med/max | jobs/epoch |",
            "|---|---|---|---|---|---|---|",
        ]
        for c in pairs:
            for r in (c["low"], c["high"]):
                lines.append(
                    f"| {r['cpus']} | {r['n_samples']} | "
                    f"{r['min_urls_per_sec']} / "
                    f"{r['median_urls_per_sec']} / "
                    f"{r['max_urls_per_sec']} | "
                    f"{r['best_urls_per_sec']} | "
                    f"{r['steal_pct_min']} / {r['steal_pct_median']} / "
                    f"{r['steal_pct_max']} | "
                    f"{r.get('cand_phase_sec_min')} / "
                    f"{r.get('cand_phase_sec_median')} / "
                    f"{r.get('cand_phase_sec_max')} | "
                    f"{r['jobs_per_epoch']} |"
                )
        lines += [
            "",
            "cand-phase = pin_delta + topk_gate + plan_candidates marks "
            "(everything from epoch start to the materialized politeness "
            "walk / events pin — the r4 'candidate phase < 5 s at 16 "
            "cores' target). Its min tracks what the code costs on a calm "
            "box; the spread to max co-moves with the steal column (the "
            "walk exchange is O(queued), but the mark also absorbs driver "
            "scheduling gaps under contention). Read the min row ACROSS "
            "core counts: on a calm box it is nearly identical at every "
            "parallelism level, i.e. the residual is driver-side latency "
            "(Catalyst planning of the epoch DAG, job submission, the one "
            "gate collect) rather than executor compute — a per-wave "
            "constant that amortizes as waves grow toward production "
            "size, not a term that scales with frontier volume.",
        ]
        for c in pairs:
            lines += [
                "",
                f"**scaling efficiency {c['n_low']}→{c['n_high']} cores: "
                f"{c['efficiency']}** (median-based; best-run-based: "
                f"{c['efficiency_best']}; target ≥ 0.8; efficiency = "
                "(thr_4N/thr_N)/(4N/N)). Machine ceiling over the same "
                f"pair — an *embarrassingly-parallel* JVM job "
                f"(range→xxhash64→sum, no shuffle, no Python) in the same "
                f"sessions — is **{c['machine_ceiling_efficiency']}**; "
                f"the crawl relative to that ceiling: "
                f"**{c['efficiency_vs_ceiling']}**. Job identity across "
                f"core counts: per-epoch attempt counts are "
                f"{'IDENTICAL' if c.get('identical_work_across_cores') else 'NOT identical — investigate'} "
                "at both parallelism levels (deterministic world ⇒ the two "
                "sides measure the same work, the north rule's same-job "
                "criterion); epoch-index-matched efficiency (epoch i at N "
                "vs the same epoch i at 4N, removing the fat/drained-epoch "
                f"mix): **{c.get('efficiency_epoch_matched')}**.",
            ]
        lines += [
            "",
            "On real dedicated executors the ceiling is ~1.0 and the "
            "crawl's partitioning (url-hash seen-set layout, per-host "
            "top-k prefix, parallel snapshot writes) carries its relative "
            "efficiency.",
            "",
        ]
        if len(history) > 1:
            h0 = history[-1]
            lines += [
                "Cross-session record (matching methodology only — world "
                f"fingerprint {h0.get('world')} and pair {h0.get('pair')}; "
                f"{n_legacy} rows with other/unrecorded methodologies "
                "excluded; `BENCH/history.jsonl`): absolute throughput at "
                "each core count tracks code changes; the efficiency ratio "
                "moves with box conditions between sessions — host steal "
                "AND single-run scheduling luck (it swings even at ~0% "
                "steal when one side happens to draw a fast window), which "
                "is why the cross-session MEDIAN below, not any single "
                "session, is the load-bearing estimator.",
                "",
                "| session | git | low median | high median | efficiency "
                "| box ceiling | vs ceiling |",
                "|---|---|---|---|---|---|---|",
            ]
            for i, h in enumerate(history, 1):
                lines.append(
                    f"| {i} | {h.get('git') or '?'} | {h['low_median']} | "
                    f"{h['high_median']} | "
                    f"{h['efficiency']} | {h['ceiling']} | "
                    f"{h['vs_ceiling']} |"
                )

            def _med(key):
                return round(statistics.median(h[key] for h in history), 3)

            lines.append(
                f"| **median ({len(history)} sessions)** | — | "
                f"{_med('low_median')} | {_med('high_median')} | "
                f"**{_med('efficiency')}** | {_med('ceiling')} | "
                f"**{_med('vs_ceiling')}** |"
            )
            lines.append("")
        lines += [
            "Fixed cost per epoch is bounded by design: the engine runs a "
            "constant Spark-job count per epoch regardless of data volume "
            "(pinned intermediates, one single-row counter collect, "
            "parallel commit writes, plus one narrow "
            "hot-host gate job that skips the rank's two full exchanges "
            "of the queued set while the over-cap volume is small) — see "
            "the jobs/epoch column, measured via per-epoch job groups. "
            "Epoch phases in BENCH/last_run.json: "
            "pin_delta + topk_gate + plan_candidates together are the "
            "candidate phase (the former single plan_candidates mark).",
            "",
        ]
    if "dedup" in result:
        d = result["dedup"]
        lines += [
            "## Frontier-dedup (bloom shard) throughput",
            "",
            f"- build: {d['build_keys_per_sec']:,} keys/s over {d['n_keys']:,} keys"
            + (f" (best of {d['samples']}; walls {d['build_sec_all']} s)"
               if "samples" in d else ""),
            f"- probe: {d['probe_keys_per_sec']:,} keys/s "
            f"({d['false_positives']} false positives of {d['n_keys']:,})"
            + (f" (best of {d['samples']}; walls {d['probe_sec_all']} s)"
               if "samples" in d else ""),
            "",
        ]
    with open("BENCH/BASELINE.md", "w") as fh:
        fh.write("\n".join(lines))


def main() -> None:
    from bitextor_spark.session import get_spark

    sf_label = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    queries, failed_queries = run_headline(spark)
    dedup = dedup_bench(spark)
    spark.stop()

    result = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf_label,
        "dedup": dedup,
    }
    if failed_queries:
        result["failed_queries"] = failed_queries

    if DO_SCALING:
        # N→4N executor-scaling evidence in sandbox form: the same job at
        # local[N] and local[4N]. N=4 → 4N=16 stays within the box's
        # physical cores (local[32] lands in SMT oversubscription, where
        # even an embarrassingly-parallel JVM job scales NEGATIVELY here —
        # measured and reported as jvm_ceiling below).
        n_low = max(CPUS // 8, 2)
        n_high = n_low * 4
        n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
        epochs_per_run = 3
        # world sized so every epoch stays FAT at the high core count
        # (strong-scaling on a starved input measures job-launch latency,
        # not the partitioning): ~790k/460k/260k attempts per epoch.
        # SPARK_GRAFT_BENCH_WORLD_SCALE shrinks it for smoke runs only —
        # comparable history rows all carry the full-world fingerprint.
        ws = float(os.environ.get("SPARK_GRAFT_BENCH_WORLD_SCALE", "1"))
        kw = dict(n_pages=int(2_000_000 * ws), n_hosts=max(50, int(6000 * ws)),
                  n_seeds=int(1_200_000 * ws), max_epochs=epochs_per_run)

        def summarize(cpus, runs):
            """Per-epoch throughput samples + medians over k fresh-JVM runs.

            Median over per-epoch samples (advisor guidance): a ratio of
            maxima is biased and unstable under the VM's ±2-3x steal noise;
            the median of 9 per-epoch samples is a stable estimator. The
            min/median/max dispersion and the per-epoch steal distribution
            are reported alongside, so a steal episode shows up as wide
            dispersion + high steal rather than masquerading as a code
            regression (r4 verdict directive #3)."""
            eps = [e for r in runs for e in r["epoch_samples"]]
            thr = sorted(e["urls_per_sec"] for e in eps)
            steals = sorted(
                e["cpu"]["steal_pct"] for e in eps if e.get("cpu")
            )
            # candidate-phase wall per epoch (r4 directive #4 evidence):
            # pin_delta + topk_gate + plan_candidates, i.e. everything
            # between epoch start and the materialized walk/events pin.
            # Reported as min/median/max so a steal episode shows up as
            # dispersion next to its own steal column, not as a silently
            # inflated single number.
            cand = sorted(
                round(sum(e["phases"].get(k) or 0.0
                          for k in ("pin_delta", "topk_gate",
                                    "plan_candidates")), 2)
                for e in eps if e.get("phases")
            )
            return {
                "cpus": cpus,
                "runs": runs,
                "n_samples": len(eps),
                "min_urls_per_sec": thr[0],
                "median_urls_per_sec": round(statistics.median(thr), 1),
                "max_urls_per_sec": thr[-1],
                "best_urls_per_sec": round(
                    max(r["urls_per_sec"] for r in runs), 1
                ),
                "jobs_per_epoch": max(e["n_jobs"] or 0 for e in eps),
                "median_jvm_ceiling": statistics.median(
                    r["jvm_ceiling_rows_per_sec"] for r in runs
                ),
                "steal_pct_min": steals[0] if steals else None,
                "steal_pct_median": (
                    round(statistics.median(steals), 2) if steals else None
                ),
                "steal_pct_max": steals[-1] if steals else None,
                "cand_phase_sec_min": cand[0] if cand else None,
                "cand_phase_sec_median": (
                    round(statistics.median(cand), 2) if cand else None
                ),
                "cand_phase_sec_max": cand[-1] if cand else None,
            }

        def run_pair(a: int, b: int, k: int) -> dict:
            """k interleaved fresh-JVM runs at each of two core counts.

            INTERLEAVED (a,b,a,b,...): host steal on this shared VM drifts
            over minutes, so sampling all-N then all-4N would let a steal
            episode land entirely on one side and bias the ratio."""
            a_runs, b_runs = [], []
            for _ in range(k):
                a_runs.append(crawl_bench_subprocess(a, **kw))
                b_runs.append(crawl_bench_subprocess(b, **kw))
            low, high = summarize(a, a_runs), summarize(b, b_runs)
            # job identity: the world+config is deterministic, so epoch i
            # must attempt the SAME urls at every core count — hard
            # evidence the two sides measure identical work ("same job at
            # two cluster sizes", BASELINE.md north rule)
            att = lambda runs: sorted(  # noqa: E731
                tuple(e["attempts"] for e in r["epoch_samples"]) for r in runs
            )
            identical_work = att(a_runs) == att(b_runs)
            # epoch-index-matched efficiency: epoch i at N vs the SAME
            # epoch i at 4N (same attempts, same frontier state) — removes
            # the fat-vs-drained-epoch mix from the pooled-median ratio
            n_ep = min(min(len(r["epoch_samples"]) for r in a_runs),
                       min(len(r["epoch_samples"]) for r in b_runs))
            per_epoch_eff = [
                (statistics.median(r["epoch_samples"][i]["urls_per_sec"]
                                   for r in b_runs)
                 / statistics.median(r["epoch_samples"][i]["urls_per_sec"]
                                     for r in a_runs)) / (b / a)
                for i in range(n_ep)
            ]
            eff_matched = round(statistics.median(per_epoch_eff), 3)
            eff = (high["median_urls_per_sec"] / low["median_urls_per_sec"]) / (b / a)
            eff_best = (
                high["best_urls_per_sec"] / low["best_urls_per_sec"]
            ) / (b / a)
            # same-methodology machine ceiling: how well a PERFECT parallel
            # job scales across the same two core counts on this box now
            ceil_eff = (
                high["median_jvm_ceiling"] / low["median_jvm_ceiling"]
            ) / (b / a)
            return {
                "low": low,
                "high": high,
                "n_low": a,
                "n_high": b,
                "n_runs": k,
                "epochs_per_run": epochs_per_run,
                "world": {kk: kw[kk] for kk in
                          ("n_pages", "n_hosts", "n_seeds", "max_epochs")},
                "efficiency": round(eff, 3),
                "efficiency_epoch_matched": eff_matched,
                "identical_work_across_cores": identical_work,
                "efficiency_best": round(eff_best, 3),
                "machine_ceiling_efficiency": round(ceil_eff, 3),
                "efficiency_vs_ceiling": round(eff / ceil_eff, 3) if ceil_eff else None,
                "peak_urls_per_sec": max(
                    low["best_urls_per_sec"], high["best_urls_per_sec"]
                ),
                "peak_measured_at_cores": (
                    a if low["best_urls_per_sec"] >= high["best_urls_per_sec"]
                    else b
                ),
            }

        # Two scaling pairs: 4→16 (the physical-core regime — local[32]
        # lands in SMT oversubscription where even the perfect JVM job
        # scales negatively here) and the driver's own spec'd example
        # 8→32 (BASELINE.md §2). Both use the same median-of-per-epoch
        # methodology + same-session machine ceiling.
        n_runs_2 = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS_PAIR2",
                                      str(max(2, n_runs - 1))))
        result["crawl"] = run_pair(n_low, n_high, n_runs)
        if n_runs_2 > 0:  # PAIR2=0 skips the second pair (quick verify)
            result["crawl_pair_8_32"] = run_pair(
                2 * n_low, 2 * n_high, n_runs_2
            )

    write_report(result)
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/last_run.json", "w") as fh:
        json.dump(result, fh, indent=1)

    # stdout line must stay SMALL: the driver records only the last ~2000
    # bytes of output and parses the JSON line from that — the full result
    # (per-run epoch samples etc.) lives in BENCH/last_run.json instead
    def compact_pair(c: dict) -> dict:
        return {
            "pair": [c["n_low"], c["n_high"]],
            "median_low": c["low"]["median_urls_per_sec"],
            "median_high": c["high"]["median_urls_per_sec"],
            "jobs_per_epoch": c["high"]["jobs_per_epoch"],
            "efficiency": c["efficiency"],
            "ceiling": c["machine_ceiling_efficiency"],
            "vs_ceiling": c["efficiency_vs_ceiling"],
            "steal_med": [c["low"]["steal_pct_median"],
                          c["high"]["steal_pct_median"]],
            "cand_med": [c["low"]["cand_phase_sec_median"],
                         c["high"]["cand_phase_sec_median"]],
        }

    line = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "queries": result["queries"],
        "sf": result["sf"],
        "dedup": {k: result["dedup"][k] for k in
                  ("build_keys_per_sec", "probe_keys_per_sec",
                   "false_positives")},
    }
    for key in ("crawl", "crawl_pair_8_32"):
        if key in result:
            line[key] = compact_pair(result[key])
    print(json.dumps(line))


if __name__ == "__main__":
    main()
