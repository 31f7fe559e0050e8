"""E2E parity: the distributed engine must reproduce the reference
simulator EXACTLY — crawl order, URL-seen set, per-host metrics — and be
resumable from any committed snapshot (BASELINE.json correctness gate;
the analog of the reference's golden-output md5 comparison,
tests/common.sh:27-60).
"""

from __future__ import annotations

import collections
import contextlib
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from bitextor_spark.config import CrawlConfig, WorldConfig
from bitextor_spark.frontier.engine import FrontierEngine
from bitextor_spark.frontier.simulator import simulate
from bitextor_spark.frontier.world import small_world, world_to_dfs

N_EPOCHS = 6

CFG = CrawlConfig(
    max_epochs=N_EPOCHS, max_retries=2, replenish_per_epoch=300, num_host_shards=8
)
WORLD_CFG = WorldConfig(n_hosts=6, n_pages=150)


@pytest.fixture(scope="module")
def world():
    return small_world(WORLD_CFG)


@pytest.fixture(scope="module")
def sim(world):
    return simulate(world, CFG)


@pytest.fixture(scope="module")
def no_aqe(spark):
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", prev)


def _log_tuples_engine(eng):
    return [
        (r.epoch, r.fetch_start_ms, r.host, r.url_canon, r.hop, r.seed_id,
         r.retry_count, r.status, r.outcome)
        for r in eng.fetch_log().collect()
    ]


def _log_tuples_sim(sim):
    return [
        (e.epoch, e.fetch_start_ms, e.host, e.url_canon, e.hop, e.seed_id,
         e.retry_count, e.status, e.outcome)
        for e in sim.fetch_log
    ]


@pytest.fixture(scope="module")
def engine_run(spark, world, no_aqe):
    dfs = world_to_dfs(spark, world)
    root = tempfile.mkdtemp(prefix="frontier_parity_")
    eng = FrontierEngine(
        spark, CFG, root, dfs["pages"], dfs["robots"], dfs["seeds"]
    )
    eng.run(max_epochs=N_EPOCHS)
    yield eng
    shutil.rmtree(root, ignore_errors=True)


def test_exact_crawl_order(engine_run, sim):
    assert _log_tuples_engine(engine_run) == _log_tuples_sim(sim)


def test_url_seen_set(engine_run, sim):
    eng_seen = {
        r.url_canon for r in engine_run.frontier().select("url_canon").collect()
    }
    assert eng_seen == sim.seen


def _assert_metrics_parity(eng, sim):
    got = collections.defaultdict(collections.Counter)
    for r in eng.metrics().collect():
        for k in ("fetched", "errors", "skipped_seen", "skipped_scope", "queued"):
            got[r.host][k] += r[k]
    want = {h: {k: v for k, v in c.items()} for h, c in sim.metrics.items()}
    got = {h: dict(c) for h, c in got.items()}
    # drop all-zero hosts on both sides (engine omits hosts with no events)
    want = {h: c for h, c in want.items() if any(c.values())}
    got = {h: c for h, c in got.items() if any(c.values())}
    assert got == want


def test_metrics_parity(engine_run, sim):
    _assert_metrics_parity(engine_run, sim)


def test_politeness_invariant(engine_run, world):
    """Consecutive fetch starts per host respect the effective delay
    (min-delay clamp raised to the robots Crawl-delay, C1/C9)."""
    byh = collections.defaultdict(list)
    for r in engine_run.fetch_log().collect():
        byh[r.host].append(r)
    for host, evs in byh.items():
        evs.sort(key=lambda r: r.fetch_start_ms)
        delay_s = world.robots.get(host, (0, []))[0]
        for a, b in zip(evs, evs[1:]):
            min_gap = a.fetch_ms + CFG.effective_delay_ms(a.fetch_ms, delay_s)
            assert b.fetch_start_ms - a.fetch_start_ms >= min_gap, host


def test_retries_and_scope_exercised(sim):
    """World sanity: the fixture actually exercises retry + scope paths."""
    outcomes = collections.Counter(e.outcome for e in sim.fetch_log)
    assert outcomes["RETRY"] > 0
    assert sum(m["skipped_scope"] for m in sim.metrics.values()) > 0
    assert sum(m["skipped_seen"] for m in sim.metrics.values()) > 0


def test_resume_from_snapshot(spark, world, sim, no_aqe):
    """Kill after epoch 2, resume in a NEW engine instance: identical crawl
    and identical per-host metrics.

    The first engine runs its epochs one by one and never returns from a
    run(), as a driver killed right after its second commit would. Also
    drops an orphan data directory (as a crash mid-epoch-3 would) to show
    uncommitted files are invisible to the resumed run (C14)."""
    dfs = world_to_dfs(spark, world)
    root = tempfile.mkdtemp(prefix="frontier_resume_")
    try:
        eng1 = FrontierEngine(
            spark, CFG, root, dfs["pages"], dfs["robots"], dfs["seeds"],
        )
        eng1.bootstrap()
        eng1.run_epoch()
        eng1.run_epoch()
        assert int(eng1.meta()["epoch"]) == 2

        # crash artifacts: an orphan (uncommitted) frontier snapshot
        orphan = os.path.join(root, "data", "frontier", "snap-000099")
        os.makedirs(orphan)
        with open(os.path.join(orphan, "garbage.parquet"), "wb") as fh:
            fh.write(b"not a parquet file")

        eng2 = FrontierEngine(
            spark, CFG, root, dfs["pages"], dfs["robots"], dfs["seeds"],
        )
        eng2.run(max_epochs=N_EPOCHS)  # resumes from snapshot, runs 4 more
        assert _log_tuples_engine(eng2) == _log_tuples_sim(sim)
        seen = {r.url_canon for r in eng2.frontier().select("url_canon").collect()}
        assert seen == sim.seen
        _assert_metrics_parity(eng2, sim)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_scope_chain_rules_exercised(engine_run, sim):
    """The full decide-rule chain (C7): transclusion embeds crawl off the
    seed domains up to maxTransHops, deeper embed chains are rejected, the
    custom regex list blocks archives, and prerequisites (robots.txt) are
    fetchable even on blacklisted hosts."""
    seen = sim.seen
    # off-seed-domain CDN embeds were admitted via the transclusion rule
    cdn = [u for u in seen if "cdn.exnet99.net" in u]
    assert any(u.endswith(".png") or u.endswith(".css") for u in cdn), cdn
    # the 3rd trailing embed hop (css -> png -> gif) is beyond maxTransHops
    assert not any(u.endswith(".gif") for u in cdn)
    # embed chains reached depth 2 (css -> deep png)
    assert any("/deep" in u and u.endswith(".png") for u in cdn)
    # custom REJECT regex: no archive URL is ever admitted
    assert not any(u.endswith(".zip") for u in seen)
    # prerequisite accept overrides the host blacklist
    assert any(u == "http://facebook.com/robots.txt" for u in seen)
    # and the engine agrees exactly (same seen set)
    eng_seen = {
        r.url_canon
        for r in engine_run.frontier().select("url_canon").collect()
    }
    assert eng_seen == seen


def test_priority_queue_parity(spark, no_aqe):
    """C10: OPIC-style priority queue order + precedence floor. The engine
    reproduces the simulator's exact fetch order under queue_order=
    'priority', and that order genuinely differs from BFS (the rule has
    teeth)."""
    cfg_p = CrawlConfig(
        max_epochs=4, max_retries=1, replenish_per_epoch=200,
        num_host_shards=8, queue_order="priority", priority_floor=5e-3,
    )
    w = small_world(WorldConfig(n_hosts=5, n_pages=120, seed=99))
    sim_p = simulate(w, cfg_p)
    sim_bfs = simulate(w, CrawlConfig(
        max_epochs=4, max_retries=1, replenish_per_epoch=200,
        num_host_shards=8,
    ))
    order_p = [(r.url_canon) for r in sim_p.fetch_log]
    order_b = [(r.url_canon) for r in sim_bfs.fetch_log]
    assert order_p != order_b, "priority order should differ from BFS"
    # floor actually defers someone: cash below 1e-4 exists in the frontier
    low = [e for e in sim_p.frontier.values()
           if e["state"] == "QUEUED" and e["priority"] < 5e-3]
    assert low, "floor case not exercised — lower the floor or grow the world"

    dfs = world_to_dfs(spark, w)
    root = tempfile.mkdtemp(prefix="frontier_prio_")
    try:
        eng = FrontierEngine(
            spark, cfg_p, root, dfs["pages"], dfs["robots"], dfs["seeds"],
        )
        eng.run(max_epochs=4)
        assert _log_tuples_engine(eng) == _log_tuples_sim(sim_p)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@contextlib.contextmanager
def _session_confs(spark, confs):
    """Set session confs for the block, then put back each one's value (or
    absence)."""
    prev = {k: spark.conf.getAll.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_compaction_cadence_invariance(spark, world, sim, no_aqe,
                                       monkeypatch):
    """MOR frontier storage: the crawl is byte-identical whatever the
    compaction cadence, including a resume that lands between two
    compactions (the resumed engine reads base + delta logs). At cadence
    4 the resume point holds three delta appends, so the resumed epoch
    and the final frontier read both take the multi-append latest-wins
    merge.

    The third input runs the physical regimes a small local crawl never
    reaches: the shuffled (non-broadcast) delta-key anti-join, the
    cluster-mode persist + count pins, and 3-row Arrow batches, so the
    walk carries host groups across batch boundaries and the flat
    resolver sees many batches. After each crawl's ``close()`` the session
    holds no persisted RDD the crawl made."""
    import dataclasses

    from bitextor_spark.frontier import engine as engine_mod

    cluster_confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "3",
    }
    # (cadence, frontier_delta appends at the epoch-3 resume point,
    # delta log left after epoch 6, cluster regimes); the ratio trigger is
    # off (it would compact every epoch at this scale and never leave a
    # delta log standing): cadence-only compaction here
    for cadence, n_appends, delta_left, cluster in (
        (2, 1, False, False), (4, 3, True, False), (5, 3, True, True),
    ):
        cfg_c = dataclasses.replace(
            CFG, frontier_compact_epochs=cadence,
            compact_delta_ratio=float("inf"),
        )
        dfs = world_to_dfs(spark, world)
        root = tempfile.mkdtemp(prefix="frontier_compact_")
        if cluster:
            monkeypatch.setattr(engine_mod, "DELTA_BROADCAST_ROWS", -1)

        def crawl(max_epochs):
            eng = FrontierEngine(
                spark, cfg_c, root, dfs["pages"], dfs["robots"],
                dfs["seeds"],
            )
            if cluster:
                eng._is_local = False
            eng.pages.count()
            eng.robots.count()
            before = _persisted_ids(spark)
            eng.run(max_epochs=max_epochs)
            eng.close()
            # every pin and per-base cache the crawl took is freed
            assert _persisted_ids(spark) <= before
            return eng

        try:
            with _session_confs(spark, cluster_confs if cluster else {}):
                eng1 = crawl(3)
                m = eng1.catalog.load_manifest()
                assert len(m["tables"]["frontier_delta"]["paths"]) == n_appends
                # the URL-seen check is the exact anti-join alone: no blooms
                assert not {"blooms", "bloom_pending"} & set(m["tables"])
                eng2 = crawl(N_EPOCHS)
            assert _log_tuples_engine(eng2) == _log_tuples_sim(sim)
            seen = {r.url_canon
                    for r in eng2.frontier().select("url_canon").collect()}
            assert seen == sim.seen
            m = eng2.catalog.load_manifest()
            assert ("frontier_delta" in m["tables"]) == delta_left
            assert not {"blooms", "bloom_pending"} & set(m["tables"])
        finally:
            monkeypatch.undo()
            shutil.rmtree(root, ignore_errors=True)


def test_bootstrap_releases_its_pins(spark, world):
    """bootstrap() frees the blocks it pins once its commit is written:
    with the engine's own pages/robots caches materialized, the session
    holds as many persisted RDDs after bootstrap() as before it."""
    dfs = world_to_dfs(spark, world)
    root = tempfile.mkdtemp(prefix="frontier_boot_pins_")
    try:
        eng = FrontierEngine(
            spark, CFG, root, dfs["pages"], dfs["robots"], dfs["seeds"],
        )
        eng.pages.count()
        eng.robots.count()
        persisted = spark.sparkContext._jsc.getPersistentRDDs
        before = len(persisted())
        eng.bootstrap()
        assert eng.meta()["epoch"] == 0
        assert len(persisted()) == before
        eng.close()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_run_flushes_metrics_when_an_epoch_raises(spark, world):
    """When a later epoch raises out of run(), every committed epoch's
    metrics are already in the catalog: they commit with their epoch."""
    dfs = world_to_dfs(spark, world)
    root = tempfile.mkdtemp(prefix="frontier_flush_")
    try:
        eng = FrontierEngine(
            spark, CFG, root, dfs["pages"], dfs["robots"], dfs["seeds"],
        )
        real_run_epoch = eng.run_epoch
        calls = []

        def run_epoch():
            calls.append(1)
            if len(calls) == 2:
                raise RuntimeError("injected epoch failure")
            return real_run_epoch()

        eng.run_epoch = run_epoch
        with pytest.raises(RuntimeError, match="injected epoch failure"):
            eng.run(max_epochs=N_EPOCHS)
        # read the catalog directly, as a new engine would
        metrics = eng.catalog.read(
            spark, "metrics",
            schema=FrontierEngine._TABLE_SCHEMAS["metrics"],
        )
        assert metrics is not None, "epoch 0 metrics were never registered"
        fetched = metrics.filter("epoch = 0").agg(F.sum("fetched")).first()[0]
        log_fetched = eng.fetch_log().filter(
            "epoch = 0 AND outcome = 'FETCHED'"
        ).count()
        assert log_fetched > 0 and fetched == log_fetched
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("backend", ["fs", "table"])
def test_crash_inside_the_commit_pool(spark, world, sim, no_aqe, monkeypatch,
                                      backend):
    """A write that fails inside the commit pool publishes nothing: the
    previous manifest stays the latest, the epoch's other tables (the
    fetch log among them) are orphans no manifest lists, and a new engine
    reruns the epoch to the simulator's exact crawl, seen set and per-host
    metrics. The failure is injected at the class level of both catalog
    backends: the third epoch's metrics write raises. ``close()`` frees
    the pins the failed epoch left."""
    from bitextor_spark.sources.catalogs import TableCatalog
    from bitextor_spark.sources.snapshots import SnapshotCatalog

    for cls in (SnapshotCatalog, TableCatalog):
        def failing(self, df, name, kind, snap_id, _write=cls._write):
            if name == "metrics" and snap_id == 3:
                raise RuntimeError("injected commit-pool failure")
            return _write(self, df, name, kind, snap_id)
        monkeypatch.setattr(cls, "_write", failing)

    dfs = world_to_dfs(spark, world)
    root = tempfile.mkdtemp(prefix="frontier_pool_crash_")
    ns = "pool_crash"
    cat = root if backend == "fs" else TableCatalog(spark, ns)
    try:
        eng1 = FrontierEngine(
            spark, CFG, cat, dfs["pages"], dfs["robots"], dfs["seeds"],
        )
        eng1.pages.count()
        eng1.robots.count()
        before = _persisted_ids(spark)
        eng1.bootstrap()
        eng1.run_epoch()
        eng1.run_epoch()
        with pytest.raises(RuntimeError, match="injected commit-pool"):
            eng1.run_epoch()
        # close() frees the failed epoch's pins with the per-base caches
        eng1.close()
        assert _persisted_ids(spark) <= before
        m = eng1.catalog.load_manifest()
        assert m["snapshot_id"] == 2 and m["meta"]["epoch"] == 2

        # the failed epoch's fetch log was written beside the failing
        # write; no manifest lists it
        if backend == "fs":
            ref = "fetch_log/delta-{:06d}".format
            orphan = spark.read.parquet(os.path.join(root, "data", ref(3)))
        else:
            ref = f"{ns}.fetch_log__d{{:06d}}".format
            orphan = spark.table(ref(3))
        assert orphan.filter("epoch = 2").count() > 0
        assert m["tables"]["fetch_log"]["paths"] == [ref(1), ref(2)]
        history = eng1.catalog.history()
        assert [h["snapshot_id"] for h in history] == [0, 1, 2]
        for h in history:
            listed = eng1.catalog.load_manifest(h["snapshot_id"])["tables"]
            assert not any(ref(3) in t["paths"] for t in listed.values())

        monkeypatch.undo()
        eng2 = FrontierEngine(
            spark, CFG, cat, dfs["pages"], dfs["robots"], dfs["seeds"],
        )
        eng2.run(max_epochs=N_EPOCHS)
        assert _log_tuples_engine(eng2) == _log_tuples_sim(sim)
        seen = {r.url_canon
                for r in eng2.frontier().select("url_canon").collect()}
        assert seen == sim.seen
        _assert_metrics_parity(eng2, sim)
    finally:
        monkeypatch.undo()
        if backend == "table":
            spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")
        shutil.rmtree(root, ignore_errors=True)


# Runs in a fresh process: Spark sizes its generated-class cache once per
# JVM, and this session's cache already holds the earlier tests' classes.
_COMPILE_PROBE = """
import dataclasses, json, sys
sys.path.insert(0, {tests_dir!r})
from bitextor_spark.frontier.engine import FrontierEngine
from bitextor_spark.frontier.world import small_world, world_to_dfs
from bitextor_spark.session import get_spark
from test_frontier_parity import CFG, WORLD_CFG

spark = get_spark(master="local[2]", shuffle_partitions=4, extra_conf={{
    "spark.sql.adaptive.enabled": "false",
    "spark.ui.showConsoleProgress": "false"}})
compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME())
dfs = world_to_dfs(spark, small_world(WORLD_CFG))
eng = FrontierEngine(spark, dataclasses.replace(CFG, compact_delta_ratio=0.0),
                     {root!r}, dfs["pages"], dfs["robots"], dfs["seeds"])
eng.bootstrap()
counts = []
for _ in range(3):
    c0 = compiles.getCount()
    eng.run_epoch()
    counts.append(compiles.getCount() - c0)
print(json.dumps(counts))
"""


def test_steady_state_epoch_reuses_generated_code(tmp_path):
    """Every epoch at a fixed plan shape (compaction each epoch) runs the
    same generated classes up to a few epoch-valued literals, so a
    steady-state epoch must find them in Spark's codegen cache instead of
    compiling its whole working set again."""
    import json
    import subprocess
    import sys

    tests_dir = os.path.dirname(os.path.abspath(__file__))
    repo = os.path.dirname(tests_dir)
    code = _COMPILE_PROBE.format(tests_dir=tests_dir,
                                 root=str(tmp_path / "catalog"))
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g",
           "PYTHONPATH": os.pathsep.join(
               p for p in (repo, os.environ.get("PYTHONPATH")) if p)}
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, cwd=repo, env=env, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    counts = json.loads(proc.stdout.strip().splitlines()[-1])
    assert counts[2] * 4 <= counts[0], f"compiles per epoch: {counts}"


def test_close_restores_session(spark, world):
    """close() after run() frees the per-base caches and leaves the
    session's confs as they were."""
    from bitextor_spark.frontier.engine import _CONSTRAINT_PROPAGATION

    # as in a fresh session, so close() has an override to undo
    spark.conf.unset(_CONSTRAINT_PROPAGATION)
    confs = dict(spark.conf.getAll)
    dfs = world_to_dfs(spark, world)
    root = tempfile.mkdtemp(prefix="frontier_close_")
    try:
        eng = FrontierEngine(
            spark, CFG, root, dfs["pages"], dfs["robots"], dfs["seeds"],
        )
        eng.run(max_epochs=2)
        base_caches = [df for _, df in eng._base_caches.values()]
        assert base_caches and all(df.is_cached for df in base_caches)
        eng.close()
        assert dict(spark.conf.getAll) == confs
        assert not any(df.is_cached for df in base_caches)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_https_fallback_seed(engine_run, sim):
    """C2: the dead-http seed for the https-only host bootstraps as https
    and gets crawled (utils/common.py:155-181 semantics), identically in
    simulator and engine."""
    sec = [u for u in sim.seen if "secure.exsec.com" in u]
    assert sec and all(u.startswith("https://") for u in sec), sec
    fetched = {
        r.url_canon for r in sim.fetch_log
        if r.outcome == "FETCHED" and "secure.exsec.com" in r.url_canon
    }
    assert "https://secure.exsec.com/p0.html" in fetched
    eng_sec = {
        r.url_canon
        for r in engine_run.frontier().select("url_canon").collect()
        if "secure.exsec.com" in r.url_canon
    }
    assert eng_sec == set(sec)


def test_robots_ttl_refresh_parity(spark, no_aqe):
    """Robots freshness (C-robots-TTL, crawler-beans.cxml:239-243): a
    mid-crawl server-side robots change alters the schedule IDENTICALLY in
    the engine and the reference simulator, the TTL cache delays when the
    change is observed, and the per-host robots cache survives a mid-crawl
    resume from snapshot."""
    import dataclasses

    from bitextor_spark.frontier.world import server_crawl_delay

    world = small_world(WORLD_CFG)
    w_ms = CFG.epoch_window_ms
    # server-side changes at t=W: the zero-delay mega host turns slow, a
    # slow host frees up, the >300s-clamped host drops to 1s
    world.robots_updates = {
        "mega.ex0.com": [(w_ms, 60)],
        "site4.ex4.com": [(w_ms, 0)],
        "site5.ex5.com": [(w_ms, 1)],
    }
    assert server_crawl_delay(world, "mega.ex0.com", 0) == 0
    assert server_crawl_delay(world, "mega.ex0.com", w_ms) == 60
    ttl_cfg = dataclasses.replace(CFG, robots_ttl_ms=2 * w_ms)

    ttl_sim = simulate(world, ttl_cfg)
    static_sim = simulate(world, CFG)
    # the refresh must actually change the crawl, or the test is vacuous
    assert _log_tuples_sim(ttl_sim) != _log_tuples_sim(static_sim)

    dfs = world_to_dfs(spark, world)
    root = tempfile.mkdtemp(prefix="frontier_ttl_")
    try:
        args = (spark, ttl_cfg, root, dfs["pages"], dfs["robots"], dfs["seeds"])
        kw = {"robots_versions": dfs["robots_versions"]}
        eng1 = FrontierEngine(*args, **kw)
        eng1.run(max_epochs=3)  # stop mid-crawl: cache is warm + committed
        eng2 = FrontierEngine(*args, **kw)  # resume from snapshot
        eng2.run(max_epochs=N_EPOCHS)
        assert _log_tuples_engine(eng2) == _log_tuples_sim(ttl_sim)
        seen = {r.url_canon for r in eng2.frontier().select("url_canon").collect()}
        assert seen == ttl_sim.seen
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_politeness_overlay_parity(spark, no_aqe):
    """Heritrix overlay sheets (crawler-beans.cxml:469-480, the shipped
    'veryPolite' sheet): a per-host politeness overlay changes the
    schedule IDENTICALLY in the engine and the reference simulator, slows
    exactly the overlaid host, and leaves unmatched hosts untouched."""
    import dataclasses

    from bitextor_spark.config import VERY_POLITE

    world = small_world(WORLD_CFG)
    slow_host = "mega.ex0.com"  # zero crawl-delay host -> overlay dominates
    ov_cfg = dataclasses.replace(
        CFG, politeness_overlays=((slow_host,) + VERY_POLITE,)
    )
    ov_sim = simulate(world, ov_cfg)
    base_sim = simulate(world, CFG)
    assert _log_tuples_sim(ov_sim) != _log_tuples_sim(base_sim)

    # the overlaid host's fetch spacing honors the sheet's knobs: every
    # same-host gap >= fetch_ms + minDelayMs (10s); other hosts keep the
    # base clamp (their schedules may shift globally, but no unmatched
    # host is ever spaced below ITS base minimum)
    def gaps(sim_res, host):
        ev = [e for e in sim_res.fetch_log if e.host == host]
        return [
            (b.fetch_start_ms - a.fetch_start_ms, a.fetch_ms)
            for a, b in zip(ev, ev[1:])
            if b.epoch == a.epoch  # only intra-epoch spacing is delay-bound
        ]

    ov_gaps = gaps(ov_sim, slow_host)
    assert ov_gaps and all(g >= fm + 10_000 for g, fm in ov_gaps)
    base_gaps = gaps(base_sim, slow_host)
    assert any(g < fm + 10_000 for g, fm in base_gaps)  # overlay did work

    # engine parity under the overlay
    dfs = world_to_dfs(spark, world)
    root = tempfile.mkdtemp(prefix="frontier_overlay_")
    try:
        eng = FrontierEngine(
            spark, ov_cfg, root, dfs["pages"], dfs["robots"], dfs["seeds"],
        )
        eng.run(max_epochs=N_EPOCHS)
        assert _log_tuples_engine(eng) == _log_tuples_sim(ov_sim)
        seen = {r.url_canon for r in eng.frontier().select("url_canon").collect()}
        assert seen == ov_sim.seen
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_rank_regime_parity(spark, world, no_aqe):
    """The pre-walk k_cap rank is a volume cap, never a correctness step:
    both gate regimes — excess-gated single consumption (default) and the
    skew-proof full rank (rank_excess_rows=0) — must reproduce the
    reference simulator byte-for-byte on a world whose per-host queues
    exceed k_cap."""
    import dataclasses

    # k_cap = replenish_per_epoch = 4 << per-host queue depth (~25): every
    # host is hot and the walk sees over-cap queues in the single-pass
    # regime
    hot_cfg = dataclasses.replace(CFG, replenish_per_epoch=4)
    ref = _log_tuples_sim(simulate(world, hot_cfg))

    def run(cfg):
        dfs = world_to_dfs(spark, world)
        root = tempfile.mkdtemp(prefix="frontier_rank_")
        try:
            eng = FrontierEngine(
                spark, cfg, root, dfs["pages"], dfs["robots"], dfs["seeds"],
            )
            eng.run(max_epochs=N_EPOCHS)
            return _log_tuples_engine(eng)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    # default: excess (~hundreds of rows) is under the gate -> single pass
    assert run(hot_cfg) == ref
    # any over-cap volume -> the full rank
    assert run(dataclasses.replace(hot_cfg, rank_excess_rows=0)) == ref
