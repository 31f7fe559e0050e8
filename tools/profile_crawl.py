"""Profile one crawl-bench run with Spark event logs and report per-stage
wall/task breakdowns grouped by epoch job-group and engine phase.

Usage: python tools/profile_crawl.py [cpus] [n_pages] [n_hosts] [n_seeds]

Diagnostic-only (not part of bench.py): answers "which STAGES inside each
phase mark burn the wall, how many tasks do they run, and how skewed are
they" — the question the phase marks themselves can't answer.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    n_hosts = int(sys.argv[3]) if len(sys.argv) > 3 else 6_000
    n_seeds = int(sys.argv[4]) if len(sys.argv) > 4 else 1_200_000

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bitextor_spark.config import CrawlConfig
    from bitextor_spark.frontier.engine import FrontierEngine
    from bitextor_spark.frontier.world import spark_world
    from bitextor_spark.session import get_spark

    evdir = tempfile.mkdtemp(prefix="crawl_evlog_")
    spark = get_spark(
        app_name=f"crawl-profile-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": f"file://{evdir}",
        },
    )
    # warmup (same shapes as bench)
    wdfs = spark_world(spark, n_pages=2000, n_hosts=50, mean_outlinks=8,
                       seed=7, n_seeds=500)
    wcfg = CrawlConfig(max_epochs=2, max_retries=1)
    wr = tempfile.mkdtemp(prefix="crawl_warm_")
    FrontierEngine(spark, wcfg, wr, wdfs["pages"], wdfs["robots"],
                   wdfs["seeds"]).run(max_epochs=2)
    shutil.rmtree(wr, ignore_errors=True)

    dfs = spark_world(spark, n_pages=n_pages, n_hosts=n_hosts,
                      mean_outlinks=10, seed=42, n_seeds=n_seeds)
    cfg = CrawlConfig(
        max_epochs=3, max_retries=1, max_fetches=10_000_000,
        replenish_per_epoch=1000, epoch_window_ms=36_000_000,
        compact_delta_ratio=3.0,
    )
    root = tempfile.mkdtemp(prefix=f"crawl_prof_{cpus}_")
    eng = FrontierEngine(spark, cfg, root, dfs["pages"], dfs["robots"],
                         dfs["seeds"])
    t0 = time.time()
    stats = eng.run(max_epochs=3)
    wall = time.time() - t0
    for s in stats:
        print("epoch", s.epoch, "attempts", s.attempts, flush=True)
    print("last epoch phase marks:", eng.last_timings, flush=True)
    print(f"total wall {wall:.1f}s", flush=True)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # ---- parse the event log ----
    import glob as _glob
    cands = [p for p in _glob.glob(os.path.join(evdir, "*"))
             if app_id in os.path.basename(p)]
    if not cands:
        cands = _glob.glob(os.path.join(evdir, "*"))
    path = cands[0]
    if os.path.isdir(path):  # rolling layout: concat event files
        files = sorted(_glob.glob(os.path.join(path, "events*")))
        merged = os.path.join(evdir, "merged.jsonl")
        with open(merged, "w") as out:
            for f in files:
                out.write(open(f).read())
        path = merged
    jobs = {}           # jobId -> {group, submit, stages:set}
    stage_info = {}     # stageId -> dict
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id", ""),
                    "desc": (props.get("spark.job.description") or "")[:60],
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                    "callsite": (props.get("callSite.short") or "")[:60],
                }
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stage_info[si["Stage ID"]] = {
                    "name": si["Stage Name"][:70],
                    "tasks": si["Number of Tasks"],
                    "wall_ms": (si.get("Completion Time", 0)
                                - si.get("Submission Time", 0)),
                    "details": (si.get("Details") or "")[:200],
                }
    # task time percentiles + aggregate IO metrics per stage
    task_ms = defaultdict(list)
    stage_io = defaultdict(lambda: defaultdict(int))
    stage_scopes = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerTaskEnd":
                ti = ev.get("Task Info") or {}
                sid = ev.get("Stage ID")
                task_ms[sid].append(
                    ti.get("Finish Time", 0) - ti.get("Launch Time", 0))
                tm = ev.get("Task Metrics") or {}
                io = stage_io[sid]
                io["run_ms"] += tm.get("Executor Run Time", 0)
                io["cpu_ms"] += tm.get("Executor CPU Time", 0) // 1_000_000
                io["gc_ms"] += tm.get("JVM GC Time", 0)
                io["deser_ms"] += tm.get("Executor Deserialize Time", 0)
                io["in_b"] += (tm.get("Input Metrics") or {}).get(
                    "Bytes Read", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                io["sh_r_b"] += (sr.get("Local Bytes Read", 0)
                                 + sr.get("Remote Bytes Read", 0))
                io["sh_w_b"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                io["py_ms"] += sum(
                    a.get("Update", 0) for a in ti.get("Accumulables", [])
                    if isinstance(a.get("Update"), int)
                    and "data sent to Python workers" == a.get("Name")
                )
            elif e == "SparkListenerStageSubmitted":
                si = ev["Stage Info"]
                scopes = []
                for rdd in si.get("RDD Info", []):
                    sc = rdd.get("Scope")
                    if sc:
                        try:
                            scopes.append(json.loads(sc).get("name", ""))
                        except Exception:
                            pass
                # innermost few operator scopes, deduped, newest first
                seen_s, uniq = set(), []
                for s in scopes:
                    if s not in seen_s:
                        seen_s.add(s)
                        uniq.append(s)
                stage_scopes[si["Stage ID"]] = ">".join(uniq[:6])

    by_group = defaultdict(list)
    for jid, j in sorted(jobs.items()):
        by_group[j["group"]].append((jid, j))
    for group, js in by_group.items():
        label = group if group.startswith("epoch-") else (group or "(none)")
        tot = 0
        rows = []
        for jid, j in js:
            for sid in j["stages"]:
                si = stage_info.get(sid)
                if not si:
                    continue
                tms = sorted(task_ms.get(sid, [0]))
                mx = tms[-1] if tms else 0
                md = tms[len(tms) // 2] if tms else 0
                tot += si["wall_ms"]
                rows.append((si["wall_ms"], jid, sid, si["tasks"], md, mx,
                             j["callsite"] or j["desc"], si["name"]))
        rows.sort(reverse=True)
        print(f"\n== group {label}  (sum stage wall {tot/1000:.1f}s, "
              f"{len(js)} jobs)")
        for wms, jid, sid, nt, md, mx, cs, nm in rows[:18]:
            io = stage_io.get(sid, {})
            mb = 1024 * 1024
            print(f"  {wms/1000:6.2f}s job{jid:>3} stage{sid:>4} "
                  f"tasks={nt:<4} med={md/1000:5.2f}s max={mx/1000:5.2f}s "
                  f"run={io.get('run_ms',0)/1000:6.1f}s "
                  f"cpu={io.get('cpu_ms',0)/1000:6.1f}s "
                  f"gc={io.get('gc_ms',0)/1000:4.1f}s "
                  f"in={io.get('in_b',0)/mb:6.0f}M "
                  f"shR={io.get('sh_r_b',0)/mb:5.0f}M "
                  f"shW={io.get('sh_w_b',0)/mb:5.0f}M "
                  f"| {stage_scopes.get(sid, '')[:80]}")
    shutil.rmtree(evdir, ignore_errors=True)
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
