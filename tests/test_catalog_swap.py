"""The storage seam is real: the SAME crawl through a different catalog
backend produces an IDENTICAL fetch log, frontier, and resume behavior.

- ``TableCatalog`` (Spark session-catalog parquet tables) runs in every
  environment — this is the jar-free proof that the engine depends only on
  the catalog interface, not on the filesystem manifest implementation.
- ``IcebergCatalog`` runs only when the iceberg-spark-runtime jar is on
  the classpath (CI with the jar; skipped in the sandbox), exercising the
  real ``writeTo(...).using("iceberg")`` path.

Reference resume model: Heritrix CheckpointService
(crawler-beans.cxml:541-547); C14 in SURVEY.md §2.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from bitextor_spark.config import CrawlConfig, WorldConfig
from bitextor_spark.frontier.engine import FrontierEngine
from bitextor_spark.frontier.world import small_world, world_to_dfs
from bitextor_spark.sources.catalogs import IcebergCatalog, TableCatalog

N_EPOCHS = 4
CFG = CrawlConfig(
    max_epochs=N_EPOCHS, max_retries=2, replenish_per_epoch=200,
    num_host_shards=4,
)
WORLD_CFG = WorldConfig(n_hosts=5, n_pages=120)


def _log_tuples(eng):
    return [
        (r.epoch, r.fetch_start_ms, r.host, r.url_canon, r.status, r.outcome)
        for r in eng.fetch_log().collect()
    ]


@pytest.fixture(scope="module")
def no_aqe(spark):
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", prev)


@pytest.fixture(scope="module")
def fs_run(spark, no_aqe):
    """Ground truth: the filesystem SnapshotCatalog crawl."""
    dfs = world_to_dfs(spark, small_world(WORLD_CFG))
    root = tempfile.mkdtemp(prefix="cat_swap_fs_")
    eng = FrontierEngine(
        spark, CFG, root, dfs["pages"], dfs["robots"], dfs["seeds"],
    )
    eng.run(max_epochs=N_EPOCHS)
    yield eng
    shutil.rmtree(root, ignore_errors=True)


def _run_with_catalog(spark, catalog, max_epochs=N_EPOCHS):
    dfs = world_to_dfs(spark, small_world(WORLD_CFG))
    eng = FrontierEngine(
        spark, CFG, catalog, dfs["pages"], dfs["robots"], dfs["seeds"],
    )
    eng.run(max_epochs=max_epochs)
    return eng


def _drop_namespace(spark, ns):
    spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")


def test_table_catalog_parity(spark, fs_run, no_aqe):
    """Session-catalog backend: identical crawl order + URL-seen set."""
    cat = TableCatalog(spark, "swap_parity")
    try:
        eng = _run_with_catalog(spark, cat)
        assert _log_tuples(eng) == _log_tuples(fs_run)
        assert (
            {r.url_canon for r in eng.frontier().select("url_canon").collect()}
            == {r.url_canon
                for r in fs_run.frontier().select("url_canon").collect()}
        )
        assert eng.meta()["epoch"] == fs_run.meta()["epoch"]
    finally:
        _drop_namespace(spark, "swap_parity")


def test_table_catalog_resume(spark, fs_run, no_aqe):
    """Kill after epoch 2, resume in a NEW engine over the SAME catalog
    tables: the finished crawl matches the uninterrupted FS run."""
    cat = TableCatalog(spark, "swap_resume")
    try:
        _run_with_catalog(spark, cat, max_epochs=2)
        dfs = world_to_dfs(spark, small_world(WORLD_CFG))
        eng2 = FrontierEngine(
            spark, CFG, cat, dfs["pages"], dfs["robots"], dfs["seeds"],
        )
        assert int(eng2.meta()["epoch"]) == 2  # resumed, not reseeded
        eng2.run(max_epochs=N_EPOCHS)
        assert _log_tuples(eng2) == _log_tuples(fs_run)
    finally:
        _drop_namespace(spark, "swap_resume")


def _stage_entries() -> list[str]:
    tmp = tempfile.gettempdir()
    return [f for f in os.listdir(tmp) if f.startswith("stage_")]


def test_table_catalog_crawl_leaves_no_staging_files(spark, no_aqe):
    """A catalog-table crawl writes its fetch log into the catalog only:
    nothing is staged in the system temp directory, so a 3-epoch crawl
    leaves as many ``stage_*`` entries there as it found."""
    before = len(_stage_entries())
    cat = TableCatalog(spark, "swap_nostage")
    try:
        eng = _run_with_catalog(spark, cat, max_epochs=3)
        epochs = {r.epoch for r in eng.fetch_log().select("epoch").collect()}
        assert epochs == {0, 1, 2}
    finally:
        _drop_namespace(spark, "swap_nostage")
    assert len(_stage_entries()) == before


def _iceberg_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def test_iceberg_catalog_parity(spark, fs_run, no_aqe):
    """Real-Iceberg backend — runs when the runtime jar is present."""
    if not _iceberg_available(spark):
        pytest.skip("iceberg-spark-runtime jar not on the classpath")
    wh = tempfile.mkdtemp(prefix="iceberg_wh_")
    spark.conf.set(
        "spark.sql.catalog.swapice", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.swapice.type", "hadoop")
    spark.conf.set("spark.sql.catalog.swapice.warehouse", wh)
    try:
        cat = IcebergCatalog(spark, "crawl", catalog="swapice")
        eng = _run_with_catalog(spark, cat)
        assert _log_tuples(eng) == _log_tuples(fs_run)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def test_table_catalog_drop_keeps_time_travel(spark):
    """`drop` is manifest-entry removal only (FS-catalog parity): older
    snapshots keep reading the dropped table's data, and a crash between
    the commit's writes and the __commits__ append can never orphan the
    LATEST manifest. gc_unreferenced() reclaims storage post-publish."""
    cat = TableCatalog(spark, "swap_droptt")
    try:
        df1 = spark.range(5).selectExpr("id", "id * 2 AS v")
        s0 = cat.commit(append={"delta": df1})
        s1 = cat.commit(replace={"other": spark.range(3).selectExpr("id")},
                        drop=["delta"])
        # latest manifest no longer lists it ...
        assert cat.read(spark, "delta") is None
        # ... but time travel to the pre-drop snapshot still reads the data
        tt = cat.read(spark, "delta", cat.load_manifest(s0))
        assert tt is not None and tt.count() == 5
        # post-publish GC physically drops only unreferenced tables: the
        # dropped delta is still referenced by snapshot s0's manifest
        assert cat.gc_unreferenced() == []
        assert cat.read(spark, "delta", cat.load_manifest(s0)).count() == 5
        assert cat.read(spark, "other", cat.load_manifest(s1)).count() == 3
    finally:
        _drop_namespace(spark, "swap_droptt")


def test_table_catalog_read_casts_drifted_types(spark):
    """read(schema=...) casts EXISTING columns to the requested types, so a
    backend table with a drifted column type cannot silently diverge from
    the FS catalog's explicit-schema parquet read."""
    cat = TableCatalog(spark, "swap_cast")
    try:
        cat.commit(replace={"t": spark.range(4).selectExpr(
            "CAST(id AS INT) AS a", "CAST(id AS STRING) AS b")})
        got = cat.read(spark, "t", schema="a bigint, b string, c double")
        assert [f.dataType.simpleString() for f in got.schema.fields] == [
            "bigint", "string", "double"
        ]
        assert got.count() == 4
    finally:
        _drop_namespace(spark, "swap_cast")


def test_table_catalog_load_manifest_is_one_job(spark):
    """One `load_manifest()` on a catalog-table backend runs one Spark job,
    whether it resolves the latest snapshot or a given one."""
    cat = TableCatalog(spark, "swap_load_jobs")
    sc = spark.sparkContext
    try:
        cat.commit(replace={"t": spark.range(3).selectExpr("id")},
                   meta={"e": 0})
        cat.commit(append={"log": spark.range(2).selectExpr("id")},
                   meta={"e": 1})
        for snapshot_id, want_e in ((None, 1), (0, 0)):
            group = f"swap-load-{snapshot_id}"
            sc.setJobGroup(group, "one manifest load")
            try:
                m = cat.load_manifest(snapshot_id)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert m["meta"]["e"] == want_e
            n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            assert n_jobs <= 1, (snapshot_id, n_jobs)
    finally:
        _drop_namespace(spark, "swap_load_jobs")


@pytest.mark.parametrize("backend", ["fs", "table"])
def test_load_manifest_of_an_unpublished_id_is_none(spark, backend):
    """Every backend answers None for a snapshot id it never published,
    on an empty catalog and past its latest snapshot."""
    from bitextor_spark.sources.snapshots import SnapshotCatalog

    root = tempfile.mkdtemp(prefix="cat_unpublished_")
    ns = "swap_unpublished"
    cat = SnapshotCatalog(root) if backend == "fs" else TableCatalog(spark, ns)
    try:
        assert cat.load_manifest(3) is None
        cat.commit(replace={"t": spark.range(2).selectExpr("id")})
        assert cat.load_manifest(0)["snapshot_id"] == 0
        assert cat.load_manifest(3) is None
    finally:
        if backend == "table":
            _drop_namespace(spark, ns)
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("backend", ["fs", "table"])
def test_epoch_loads_the_manifest_at_most_three_times(
    spark, no_aqe, monkeypatch, backend
):
    """A crawl epoch resolves all its state against the manifest it loads
    once; its commit loads the parent once more. Counted at the class
    level, because the catalogs call `load_manifest` on themselves. Runs
    with compaction every epoch (ratio 0.0) and with none (ratio 3.0)."""
    import dataclasses

    from bitextor_spark.sources.snapshots import SnapshotCatalog

    loads = []
    for cls in (SnapshotCatalog, TableCatalog):
        def counted(self, *args, _load=cls.load_manifest, **kwargs):
            loads.append(1)
            return _load(self, *args, **kwargs)
        monkeypatch.setattr(cls, "load_manifest", counted)

    for ratio in (0.0, 3.0):
        cfg = dataclasses.replace(CFG, compact_delta_ratio=ratio)
        root = tempfile.mkdtemp(prefix="cat_loads_")
        ns = f"swap_loads_{int(ratio)}"
        cat = root if backend == "fs" else TableCatalog(spark, ns)
        try:
            dfs = world_to_dfs(spark, small_world(WORLD_CFG))
            eng = FrontierEngine(
                spark, cfg, cat, dfs["pages"], dfs["robots"], dfs["seeds"],
            )
            eng.bootstrap()
            per_epoch = []
            for _ in range(3):
                loads.clear()
                eng.run_epoch()
                per_epoch.append(len(loads))
            compacted = "frontier_delta" not in eng.catalog.load_manifest()[
                "tables"]
            assert compacted == (ratio == 0.0)
            assert max(per_epoch) <= 3, (ratio, per_epoch)
            eng.close()
        finally:
            if backend == "table":
                _drop_namespace(spark, ns)
            shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("backend", ["fs", "table"])
def test_commit_pool_jobs_run_in_the_epoch_group(
    spark, no_aqe, monkeypatch, backend
):
    """The commit writes its tables on a thread pool, and every write runs
    under the epoch's job group and description, so the epoch's ``n_jobs``
    counts the commit's writes. The one job an epoch may run outside a
    group is a catalog-table backend's manifest load, which comes before
    the epoch number that names the group is known."""
    from bitextor_spark.sources.snapshots import SnapshotCatalog

    keys = ("spark.jobGroup.id", "spark.job.description")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    seen = []
    for cls in (SnapshotCatalog, TableCatalog):
        def labelled(self, df, *args, _write=cls._write):
            seen.append(tuple(sc.getLocalProperty(k) for k in keys))
            return _write(self, df, *args)
        monkeypatch.setattr(cls, "_write", labelled)

    root = tempfile.mkdtemp(prefix="cat_pool_group_")
    ns = "swap_pool_group"
    cat = root if backend == "fs" else TableCatalog(spark, ns)
    try:
        dfs = world_to_dfs(spark, small_world(WORLD_CFG))
        eng = FrontierEngine(
            spark, CFG, cat, dfs["pages"], dfs["robots"], dfs["seeds"],
        )
        eng.bootstrap()
        for _ in range(2):
            epoch = int(eng.meta()["epoch"])
            ungrouped = set(tracker.getJobIdsForGroup(None))
            seen.clear()
            eng.run_epoch()
            outside = set(tracker.getJobIdsForGroup(None)) - ungrouped
            assert len(outside) <= (1 if backend == "table" else 0)
            # fetch_log, metrics and the frontier and host_state tables,
            # each written under the group `n_jobs` counts
            assert len(seen) >= 4
            group = f"epoch-{id(eng):x}-{epoch}"
            assert set(seen) == {(group, "crawl epoch")}
        eng.close()
    finally:
        if backend == "table":
            _drop_namespace(spark, ns)
        shutil.rmtree(root, ignore_errors=True)
