"""One crawl run of a benchmark workload, in its own process and JVM.

``run.py`` starts this with ``PYTHONPATH`` set to the checkout root and
reads the JSON it writes to ``--out``. The run:

1. set-up: Spark session, world tables and ``FrontierEngine.bootstrap()``
   on a fresh catalog, timed from the moment run.py started this process;
2. the crawl, ``N_EPOCHS`` epochs, one per engine, each followed by
   ``flush_pending_metrics``: the cold epoch 0 on the set-up's engine, then
   ``MEASURED`` epochs, before each of which the session caches are cleared
   and a new engine resumes the catalog. The end-to-end metrics are taken
   over the measured epochs;
3. outside the timed window: fetch-log and URL-seen digests against the
   stored reference, session hygiene counts and, when traced, the
   per-layer numbers (event log, catalog proxy, standalone bloom round).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import threading
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
from workloads import (CORES, JVM_OPTS, MEASURED, N_EPOCHS, SPARK_CONF,  # noqa: E402
                       WORKLOADS, world_seed)

PHASES = ("pin_delta", "topk_gate", "plan_candidates", "state_updates",
          "discovery_dag", "metrics_dag", "commit")
PHASE_FIELDS = ("wall_s", "driver_s", "jobs", "exec_cpu_s", "shuffle_b",
                "py_in_b", "py_out_b")
LOG_COLS = ("epoch", "fetch_start_ms", "host", "url_canon", "outcome")
BLOOM_KEYS = 200_000


def start_session(workload: str, workdir: str, trace: bool,
                  master: str = f"local[{CORES}]"):
    from bitextor_spark.session import get_spark

    conf = dict(SPARK_CONF)
    conf["spark.local.dir"] = os.path.join(workdir, "spark-local")
    conf["spark.sql.warehouse.dir"] = os.path.join(workdir, "warehouse")
    conf["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} {JVM_OPTS}"
    )
    if trace:
        os.makedirs(os.path.join(workdir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(workdir, "eventlog"),
        })
    # one shuffle partition (and one host shard) per task slot: at these
    # sizes per-task overhead dominates, and twice as many made epochs slower
    spark = get_spark(app_name=f"perfbench-{workload}", master=master,
                      shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _sha(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def log_digests(engine, n_epochs: int) -> dict:
    """Digest of each epoch's fetch log over (epoch, fetch_start_ms, host,
    url_canon, outcome), rows in that total order."""
    rows = sorted(
        tuple(r) for r in engine.fetch_log().select(*LOG_COLS).collect()
    )
    by_epoch: dict[int, list[str]] = {i: [] for i in range(n_epochs)}
    for r in rows:
        by_epoch.setdefault(r[0], []).append("\t".join(map(str, r)))
    return {"epochs": [_sha(by_epoch[i]) for i in range(n_epochs)],
            "rows": [len(by_epoch[i]) for i in range(n_epochs)]}


def seen_digest(engine) -> tuple[str, int]:
    """Digest and size of the URL-seen set (the frontier's url_canons)."""
    seen = sorted(r[0] for r in engine.frontier().select("url_canon").collect())
    return _sha(seen), len(seen)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and its descendants:
    the JVM and the Python workers, with the children they have reaped."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            ticks += procs[pid][1]
            todo.extend(kids.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def make_world(spark, wl, seed: int) -> dict:
    from bitextor_spark.frontier.world import spark_world

    return spark_world(spark, n_pages=wl.n_pages, n_hosts=wl.n_hosts,
                       mean_outlinks=10, seed=world_seed(seed),
                       n_seeds=wl.n_seeds)


class TimedCatalog:
    """The engine's catalog interface around a SnapshotCatalog, timing and
    counting commits (the ``snapshots`` layer)."""

    def __init__(self, inner):
        self._inner = inner
        self.commit_s = 0.0
        self.commits = 0
        self.compactions = 0

    def commit(self, replace=None, append=None, meta=None, pre_written=None,
               drop=None):
        t0 = time.perf_counter()
        try:
            return self._inner.commit(replace=replace, append=append, meta=meta,
                                      pre_written=pre_written, drop=drop)
        finally:
            self.commit_s += time.perf_counter() - t0
            self.commits += 1
            self.compactions += int("frontier_delta" in (drop or ()))

    def __getattr__(self, name):
        return getattr(self._inner, name)


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def live_bytes(catalog) -> int:
    manifest = catalog.load_manifest()
    return sum(
        _tree_bytes(os.path.join(catalog.data_dir, rel))
        for t in manifest["tables"].values() for rel in t["paths"]
    )


def bloom_round(spark) -> dict:
    """Standalone seen.update_blooms / flag_maybe_seen round: build over
    BLOOM_KEYS keys, probe the same number of fresh keys; every inserted
    key must probe as maybe-seen (no false negatives)."""
    from pyspark.sql import functions as F

    from bitextor_spark.frontier import seen as seen_mod

    n_shards, m_bits, k = 2 * CORES, 1 << 21, 5
    keys = spark.range(BLOOM_KEYS).select(F.xxhash64("id").alias("url_hash"))
    t0 = time.perf_counter()
    blooms = seen_mod.update_blooms(
        seen_mod.empty_blooms(spark, n_shards, m_bits), keys, n_shards, m_bits, k
    ).localCheckpoint()
    build_s = time.perf_counter() - t0
    fresh = spark.range(BLOOM_KEYS, 2 * BLOOM_KEYS).select(
        F.xxhash64("id").alias("url_hash"))
    t0 = time.perf_counter()
    false_pos = seen_mod.flag_maybe_seen(
        fresh, blooms, n_shards, m_bits, k).filter("maybe_seen").count()
    probe_s = time.perf_counter() - t0
    false_neg = seen_mod.flag_maybe_seen(
        keys, blooms, n_shards, m_bits, k).filter("NOT maybe_seen").count()
    return {"build_s": build_s, "probe_s": probe_s,
            "false_positives": false_pos, "false_negatives": false_neg}


def dupe_ratio(engine) -> float:
    from pyspark.sql import functions as F

    row = engine.metrics().agg(F.sum("skipped_seen"), F.sum("queued")).first()
    skipped, queued = (int(v or 0) for v in row)
    return skipped / max(skipped + queued, 1)


def per_layer(res: dict, epochs: list[dict], trace_data: dict) -> dict:
    """Per-layer metrics of a traced run: means over the measured epochs
    (all but the cold epoch 0) for the engine phases and epoch totals, run
    totals elsewhere."""
    n = len(epochs) - 1
    out: dict[str, float] = {}
    attr = trace_data["attribution"]
    for ph in PHASES:
        rows = attr["phases"][ph][1:]
        out[f"engine.{ph}.wall_s"] = sum(e["marks"][ph] for e in epochs[1:]) / n
        for f in PHASE_FIELDS[1:]:
            out[f"engine.{ph}.{f}"] = sum(r.get(f, 0) for r in rows) / n
    out["engine.epoch.wall_s"] = sum(e["wall_s"] for e in epochs[1:]) / n
    for f in ("jobs", "tasks", "driver_s", "gc_s"):
        out[f"engine.epoch.{f}"] = sum(
            r.get(f, 0) for r in attr["epochs"][1:]) / n
    out["engine.epoch.attempts"] = sum(e["attempts"] for e in epochs[1:]) / n
    out["engine.epoch.new_urls"] = sum(e["new_urls"] for e in epochs[1:]) / n
    out["engine.cold_epoch.wall_s"] = epochs[0]["wall_s"]
    out["engine.write_behind.jobs"] = attr["write_behind"].get("jobs", 0)
    out["engine.write_behind.exec_cpu_s"] = attr["write_behind"].get(
        "exec_cpu_s", 0.0)
    out["engine.flush.wall_s"] = res["flush_s"]
    out["engine.bootstrap.wall_s"] = res["bootstrap_s"]
    out["engine.resume_bootstrap.wall_s"] = res["resume_bootstrap_s"]
    out.update(trace_data["snapshots"])
    out.update(trace_data["seen"])
    out["session.start_s"] = res["session_s"]
    out["session.threads_left"] = res["threads_left"]
    out["session.confs_changed"] = res["confs_changed"]
    out["trace.crawl_wall_s"] = res["crawl_wall_s"]
    out["trace.crawl_cpu_s"] = res["crawl_cpu_s"]
    # how far the phase walls' sum is from the epoch wall: the marks' 0.01 s
    # rounding plus run_epoch's work after its last mark
    out["trace.phase_sum_err_s"] = max(
        abs(e["wall_s"] - sum(e["marks"].values())) for e in epochs)
    return out


def run(args) -> dict:
    from bitextor_spark.frontier.engine import FrontierEngine
    from bitextor_spark.sources.snapshots import SnapshotCatalog

    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    spark = start_session(wl.name, args.workdir, trace)
    # args.started: wall-clock time just before run.py started this process
    res: dict = {"session_s": time.time() - args.started, "errors": []}
    try:
        cfg = wl.crawl_config()
        threads0 = {t.ident for t in threading.enumerate()}
        confs0 = dict(spark.conf.getAll)

        # set-up: world tables, then bootstrap() on a fresh catalog
        dfs = make_world(spark, wl, args.seed)
        root = os.path.join(args.workdir, "catalog")
        catalog = TimedCatalog(SnapshotCatalog(root)) if trace else root

        def engine():
            return FrontierEngine(spark, cfg, catalog, dfs["pages"],
                                  dfs["robots"], dfs["seeds"])

        eng = engine()
        t0 = time.time()
        eng.bootstrap()
        t1 = time.time()
        res["setup_s"] = t1 - args.started
        res["bootstrap_s"] = t1 - t0

        def run_epoch(eng) -> dict:
            c0, t0 = tree_cpu_s(), time.time()
            st = eng.run_epoch()
            t1, c1 = time.time(), tree_cpu_s()
            return {
                "epoch": st.epoch, "start_s": t0, "end_s": t1, "wall_s": t1 - t0,
                "end_cpu_s": c1, "cpu_s": c1 - c0,
                "attempts": st.attempts, "new_urls": st.new_urls,
                "group": f"epoch-{id(eng):x}-{st.epoch}",
                "marks": {ph: eng.last_timings[ph] for ph in PHASES},
            }

        # the cold epoch 0 on the set-up's engine: JIT and caches warm up
        epochs = [run_epoch(eng)]
        eng.flush_pending_metrics()
        if trace:
            commits0 = (catalog.commit_s, catalog.commits, catalog.compactions)
            bytes0 = _tree_bytes(catalog.data_dir)

        # the crawl window: MEASURED epochs, each on a new engine that
        # resumes the catalog from cold session caches and each followed by
        # flush_pending_metrics
        flush_s, resumes, resume_cpus, resume_boots = 0.0, [], [], []
        c_crawl, t_crawl = tree_cpu_s(), time.time()
        for _ in range(MEASURED):
            spark.catalog.clearCache()
            c_resume, t_resume = tree_cpu_s(), time.time()
            eng = engine()
            eng.bootstrap()
            resume_boots.append(time.time() - t_resume)
            epochs.append(run_epoch(eng))
            resumes.append(epochs[-1]["end_s"] - t_resume)
            resume_cpus.append(epochs[-1]["end_cpu_s"] - c_resume)
            t1 = time.time()
            eng.flush_pending_metrics()
            flush_s += time.time() - t1
        t_end, c_end = time.time(), tree_cpu_s()
        res["attempted"], res["failed"] = N_EPOCHS, 0

        measured = epochs[1:]
        res["attempts"] = sum(e["attempts"] for e in measured)
        res["crawl_wall_s"] = t_end - t_crawl
        res["crawl_cpu_s"] = c_end - c_crawl
        res["epoch_s_p50"] = statistics.median(e["wall_s"] for e in measured)
        res["epoch_cpu_s"] = statistics.median(e["cpu_s"] for e in measured)
        res["resume_s"] = statistics.median(resumes)
        res["resume_cpu_s"] = statistics.median(resume_cpus)
        res["resume_bootstrap_s"] = statistics.median(resume_boots)
        res["flush_s"] = flush_s
        res["threads_left"] = len(
            {t.ident for t in threading.enumerate()} - threads0)
        confs1 = dict(spark.conf.getAll)
        res["confs_changed"] = sum(
            confs0.get(k) != confs1.get(k) for k in set(confs0) | set(confs1))

        # correctness, outside the timed window
        got = log_digests(eng, N_EPOCHS)
        got["seen"], got["seen_rows"] = seen_digest(eng)
        want = load_digests().get(wl.name, {}).get(str(world_seed(args.seed)))
        if want is None:
            res["errors"].append("no stored digest for this world")
            res["failed"] = N_EPOCHS
        else:
            bad = [i for i in range(N_EPOCHS)
                   if got["epochs"][i] != want["epochs"][i]]
            if got["seen"] != want["seen"][-1] and N_EPOCHS - 1 not in bad:
                bad.append(N_EPOCHS - 1)
            if bad:
                res["errors"].append(f"digest mismatch in epochs {bad}")
            res["failed"] = len(bad)
        if any(e["attempts"] == 0 for e in epochs):
            res["errors"].append("an epoch made no fetch attempt")
        # where the run's time went, for the reader (run.py prints it)
        res["timeline_s"] = {
            "session": res["session_s"], "setup": res["setup_s"],
            "cold epoch": t_crawl - (args.started + res["setup_s"]),
            "crawl": res["crawl_wall_s"], "checks": time.time() - t_end,
        }

        if trace:
            cs, cn, cc = commits0
            written = _tree_bytes(catalog.data_dir) - bytes0
            snapshots = {
                "snapshots.commit_s": catalog.commit_s - cs,
                "snapshots.commits": catalog.commits - cn,
                "snapshots.compactions": catalog.compactions - cc,
                "snapshots.bytes_written": written,
                "snapshots.bytes_per_attempt": written / max(res["attempts"], 1),
                "snapshots.live_bytes": live_bytes(catalog),
            }
            bloom = bloom_round(spark)
            if bloom["false_negatives"]:
                res["errors"].append(
                    f"bloom false negatives: {bloom['false_negatives']}")
                res["failed"] += 1
            res["attempted"] += 1
            seen = {"seen.dupe_ratio": dupe_ratio(eng),
                    "seen.build_s": bloom["build_s"],
                    "seen.probe_s": bloom["probe_s"],
                    "seen.false_positives": bloom["false_positives"]}
    finally:
        spark.stop()

    if trace:
        log = eventlog.find_log(os.path.join(args.workdir, "eventlog"))
        attribution = eventlog.attribute(log, epochs, PHASES, t_end)
        res["per_layer"] = per_layer(
            res, epochs,
            {"attribution": attribution, "snapshots": snapshots, "seen": seen})
        spans = {"epochs": epochs, "attribution": attribution}
        with open(os.path.join(args.workdir, "spans.json"), "w") as fh:
            json.dump(spans, fh)
    return res


def load_digests() -> dict:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
    with open(path) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--started", type=float, required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    try:
        res = run(args)
    except Exception:  # noqa: BLE001 - report the failed run to run.py
        res = {"crashed": traceback.format_exc()}
    with open(args.out, "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
