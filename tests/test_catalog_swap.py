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
        tt = cat.read(spark, "delta", snapshot_id=s0)
        assert tt is not None and tt.count() == 5
        # post-publish GC physically drops only unreferenced tables: the
        # dropped delta is still referenced by snapshot s0's manifest
        assert cat.gc_unreferenced() == []
        assert cat.read(spark, "delta", snapshot_id=s0).count() == 5
        assert cat.read(spark, "other", snapshot_id=s1).count() == 3
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
