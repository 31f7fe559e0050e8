"""Catalog-table flavors of the SnapshotCatalog seam (C14 resume model).

``SnapshotCatalog`` (sources/snapshots.py) implements Iceberg's
manifest/commit protocol on a plain filesystem. The classes here implement
the SAME interface (latest_snapshot_id / load_manifest / stage_path /
commit / read / history) on top of Spark *catalog tables*, so swapping the
engine's storage layer is a constructor argument, not an engine change —
the promise the snapshots module makes in its module docstring.

Two flavors:

- ``TableCatalog`` — Spark session-catalog managed tables (parquet
  ``saveAsTable``). Needs no extra jars, so the swap is exercised by the
  regular test suite (tests/test_catalog_swap.py): the SAME crawl on the
  SAME world through a completely different storage backend must produce
  an identical fetch log and frontier.
- ``IcebergCatalog`` — real Apache Iceberg via the DataFrameWriterV2 API
  (``df.writeTo(...).using("iceberg")``) against a configured Iceberg
  catalog. Requires the iceberg-spark-runtime jar on the session
  classpath; the test skips when it is absent. With Iceberg the commit
  point (the append to the ``__commits__`` table) is atomic, giving the
  same crash-consistency as the filesystem manifests.

Layout mirrors the filesystem catalog exactly:

- each ``replace`` commit writes table ``{ns}.{name}__s{snap:06d}``;
- each ``append`` commit writes delta table ``{ns}.{name}__d{snap:06d}``;
- the manifest rows live in ``{ns}.__commits__`` (snapshot_id, parent,
  committed_at, meta JSON, tables JSON) — appended LAST, so a crash
  beforehand leaves only orphan tables no manifest references, and the
  retrying epoch's ``createOrReplace`` overwrites them idempotently
  (the same property the FS catalog gets from ``mode("overwrite")`` on
  stage paths).
"""

from __future__ import annotations

import json
import os
import re
import tempfile
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class TableCatalog:
    """SnapshotCatalog interface over Spark session-catalog parquet tables."""

    format: str = "parquet"

    def __init__(self, spark: SparkSession, namespace: str):
        self.spark = spark
        self.ns = namespace
        self._staging_root = tempfile.mkdtemp(prefix=f"stage_{namespace}_")
        self._create_namespace()

    # -- flavor hooks --------------------------------------------------------

    def _create_namespace(self) -> None:
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.ns}")

    def _write_table(self, df: DataFrame, ident: str) -> None:
        # v1 writer: the session catalog's parquet provider does not
        # support DataFrameWriterV2 createOrReplace
        df.write.mode("overwrite").format(self.format).saveAsTable(ident)

    def _append_commit_row(self, row: DataFrame) -> None:
        row.write.mode("append").format(self.format).saveAsTable(
            f"{self.ns}.__commits__"
        )

    # -- manifest resolution -------------------------------------------------

    def _commits(self) -> DataFrame | None:
        if not self.spark.catalog.tableExists(f"{self.ns}.__commits__"):
            return None
        return self.spark.table(f"{self.ns}.__commits__")

    def latest_snapshot_id(self) -> int | None:
        c = self._commits()
        if c is None:
            return None
        row = c.agg(F.max("snapshot_id").alias("m")).collect()[0]
        return None if row.m is None else int(row.m)

    def load_manifest(self, snapshot_id: int | None = None) -> dict[str, Any] | None:
        c = self._commits()
        if c is None:
            return None
        if snapshot_id is None:
            snapshot_id = self.latest_snapshot_id()
            if snapshot_id is None:
                return None
        rows = c.filter(F.col("snapshot_id") == snapshot_id).collect()
        if not rows:
            return None
        r = rows[0]
        return {
            "snapshot_id": int(r.snapshot_id),
            "committed_at": r.committed_at,
            "tables": json.loads(r.tables),
            "meta": json.loads(r.meta),
            "parent": None if r.parent is None or r.parent < 0 else int(r.parent),
        }

    # -- commit --------------------------------------------------------------

    def _ident(self, name: str, kind: str, snap_id: int) -> str:
        label = "s" if kind == "replace" else "d"
        return f"{self.ns}.{name}__{label}{snap_id:06d}"

    def stage_path(self, name: str, kind: str = "append") -> str:
        """Filesystem staging dir for write-fused epoch intermediates.

        Catalog flavors cannot hand out an in-table write path before the
        commit, so staged data lands as plain parquet here and ``commit``
        imports it into a delta table (Iceberg's ``add_files`` pattern,
        at the cost of one extra read+write of the staged delta)."""
        prev = self.load_manifest()
        snap_id = (prev["snapshot_id"] + 1) if prev else 0
        return os.path.join(self._staging_root, f"{name}-{snap_id:06d}")

    def commit(
        self,
        replace: dict[str, DataFrame] | None = None,
        append: dict[str, DataFrame] | None = None,
        meta: dict[str, Any] | None = None,
        pre_written: dict[str, str] | None = None,
        drop: list[str] | None = None,
    ) -> int:
        prev = self.load_manifest()
        snap_id = (prev["snapshot_id"] + 1) if prev else 0
        tables: dict[str, dict[str, Any]] = (
            {k: dict(v) for k, v in prev["tables"].items()} if prev else {}
        )

        jobs: list[tuple[str, str, DataFrame]] = []
        for name, df in (replace or {}).items():
            jobs.append(("replace", name, df))
        for name, df in (append or {}).items():
            jobs.append(("append", name, df))
        for name, kind in (pre_written or {}).items():
            staged = os.path.join(self._staging_root, f"{name}-{snap_id:06d}")
            jobs.append((kind, name, self.spark.read.parquet(staged)))

        for kind, name, df in jobs:
            ident = self._ident(name, kind, snap_id)
            self._write_table(df, ident)
            if kind == "replace":
                tables[name] = {"kind": "replace", "paths": [ident]}
            else:
                entry = tables.get(name, {"kind": "append", "paths": []})
                entry["paths"] = list(entry["paths"]) + [ident]
                tables[name] = entry

        # drop = manifest-entry removal ONLY (FS-catalog parity): the
        # backing tables survive as unreferenced orphans, so (a) a crash
        # before the __commits__ append below leaves the previous snapshot
        # fully readable, and (b) read(snapshot_id=older) time travel keeps
        # working. Storage reclamation is gc_unreferenced(), post-publish.
        for name in drop or []:
            tables.pop(name, None)

        schema = T.StructType([
            T.StructField("snapshot_id", T.LongType()),
            T.StructField("parent", T.LongType()),
            T.StructField("committed_at", T.DoubleType()),
            T.StructField("meta", T.StringType()),
            T.StructField("tables", T.StringType()),
        ])
        row = self.spark.createDataFrame(
            [(snap_id, prev["snapshot_id"] if prev else -1, time.time(),
              json.dumps(meta or {}), json.dumps(tables))],
            schema,
        ).coalesce(1)
        self._append_commit_row(row)  # the commit point
        return snap_id

    def gc_unreferenced(self) -> list[str]:
        """Post-publish GC: physically drop catalog tables no manifest in
        history references. Safe at any time — runs strictly after commit
        publication, so a crash mid-GC only leaves fewer orphans."""
        c = self._commits()
        if c is None:
            return []
        referenced: set[str] = set()
        for r in c.select("tables").collect():
            for entry in json.loads(r.tables).values():
                referenced.update(entry["paths"])
        dropped = []
        # only tables THIS catalog created are GC candidates: the _ident()
        # pattern is <name>__[sd]<6-digit snapshot id>; a user table that
        # merely contains '__' in the same namespace must never be dropped
        own = re.compile(r"^.+__[sd]\d{6}$")
        for t in self.spark.catalog.listTables(self.ns):
            ident = f"{self.ns}.{t.name}"
            if t.name == "__commits__" or ident in referenced:
                continue
            if own.match(t.name):
                self.spark.sql(f"DROP TABLE IF EXISTS {ident}")
                dropped.append(ident)
        return dropped

    # -- read ----------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        name: str,
        snapshot_id: int | None = None,
        schema: str | None = None,
    ) -> DataFrame | None:
        manifest = self.load_manifest(snapshot_id)
        if manifest is None or name not in manifest["tables"]:
            return None
        parts = [spark.table(i) for i in manifest["tables"][name]["paths"]]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        return self._cast_schema(df, schema)

    @staticmethod
    def _cast_schema(df: DataFrame, schema: str | None) -> DataFrame:
        if not schema:
            return df
        # parity with the FS catalog's explicit-schema parquet read:
        # exactly the requested fields AND types — existing columns are
        # cast (so a drifted backend type, e.g. int vs bigint, cannot
        # silently diverge from FS-read semantics), missing ones are
        # typed NULLs
        want = T._parse_datatype_string(schema)
        have = set(df.columns)
        return df.select(*[
            F.col(f.name).cast(f.dataType).alias(f.name) if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in want.fields
        ])

    def history(self) -> list[dict[str, Any]]:
        c = self._commits()
        if c is None:
            return []
        out = []
        for r in c.orderBy("snapshot_id").collect():
            out.append({
                "snapshot_id": int(r.snapshot_id),
                "meta": json.loads(r.meta),
                "parent": None if r.parent < 0 else int(r.parent),
            })
        return out


class IcebergCatalog(TableCatalog):
    """Real Iceberg tables behind the same interface.

    ``catalog`` must name a configured Iceberg catalog on the session
    (``spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog``
    plus warehouse conf) with the runtime jar on the classpath. The
    ``__commits__`` append is an atomic Iceberg commit, so the manifest
    publish has the same crash-atomicity as ``os.replace`` in the FS
    catalog."""

    format = "iceberg"

    def __init__(self, spark: SparkSession, namespace: str, catalog: str):
        self.catalog_name = catalog
        super().__init__(spark, f"{catalog}.{namespace}")

    def _create_namespace(self) -> None:
        self.spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.ns}")

    def _write_table(self, df: DataFrame, ident: str) -> None:
        df.writeTo(ident).using("iceberg").createOrReplace()

    def _append_commit_row(self, row: DataFrame) -> None:
        ident = f"{self.ns}.__commits__"
        if not self.spark.catalog.tableExists(ident):
            row.writeTo(ident).using("iceberg").create()
        else:
            row.writeTo(ident).append()
