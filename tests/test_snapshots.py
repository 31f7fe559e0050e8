"""Snapshot catalog: atomic manifests, carry-forward, append deltas."""

from __future__ import annotations

import os
import shutil
import tempfile

from bitextor_spark.sources.snapshots import SnapshotCatalog


def test_commit_read_carry_append(spark):
    root = tempfile.mkdtemp(prefix="snapcat_")
    try:
        cat = SnapshotCatalog(root)
        assert cat.load_manifest() is None
        df1 = spark.range(5).withColumnRenamed("id", "x")
        sid0 = cat.commit(replace={"t": df1}, append={"log": df1}, meta={"e": 0})
        assert sid0 == 0
        sid1 = cat.commit(append={"log": df1}, meta={"e": 1})
        assert sid1 == 1
        # replace table carried forward
        assert cat.read(spark, "t").count() == 5
        # append table unions both deltas
        assert cat.read(spark, "log").count() == 10
        # time travel to snapshot 0
        assert cat.read(spark, "log", cat.load_manifest(0)).count() == 5
        assert [h["meta"]["e"] for h in cat.history()] == [0, 1]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_orphan_files_invisible(spark):
    root = tempfile.mkdtemp(prefix="snapcat_")
    try:
        cat = SnapshotCatalog(root)
        df = spark.range(3).withColumnRenamed("id", "x")
        cat.commit(replace={"t": df}, meta={})
        orphan = os.path.join(root, "data", "t", "snap-000042")
        os.makedirs(orphan)
        with open(os.path.join(orphan, "junk.parquet"), "wb") as fh:
            fh.write(b"junk")
        assert cat.read(spark, "t").count() == 3
    finally:
        shutil.rmtree(root, ignore_errors=True)
