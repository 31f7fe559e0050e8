"""Catalog-table backends of the manifest protocol (C14 resume model).

``ManifestCatalog`` (sources/snapshots.py) is the one implementation of
the protocol: numbering, carry-forward, replace / append / drop
bookkeeping, manifest assembly, ``read`` and ``history``. The
backends here supply its physical operations on top of Spark *catalog
tables*, so swapping the engine's storage layer is a constructor argument,
not an engine change.

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

Physical operations:

- write: each ``replace`` commit writes table ``{ns}.{name}__s{snap:06d}``,
  each ``append`` commit writes delta table ``{ns}.{name}__d{snap:06d}``;
  the refs in the manifest are these identifiers; the commit writes all
  of an epoch's tables, the fetch log included, on one thread pool;
- publish: the manifest is one row of ``{ns}.__commits__`` (snapshot_id,
  parent, committed_at, meta JSON, tables JSON) — appended LAST, so a
  crash beforehand leaves only orphan tables no manifest references, and
  the retrying epoch's overwrite replaces them idempotently (the same
  property the FS catalog gets from ``mode("overwrite")`` on its data
  paths);
- load: one Spark job over ``__commits__``;
- read: the union of a table's ref identifiers.
"""

from __future__ import annotations

import json
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bitextor_spark.sources.snapshots import ManifestCatalog

_COMMIT_SCHEMA = T.StructType([
    T.StructField("snapshot_id", T.LongType()),
    T.StructField("parent", T.LongType()),
    T.StructField("committed_at", T.DoubleType()),
    T.StructField("meta", T.StringType()),
    T.StructField("tables", T.StringType()),
])


class TableCatalog(ManifestCatalog):
    """The manifest protocol over Spark session-catalog parquet tables."""

    format: str = "parquet"

    def __init__(self, spark: SparkSession, namespace: str):
        self.spark = spark
        self.ns = namespace
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

    # -- backend operations --------------------------------------------------

    def _commits(self) -> DataFrame | None:
        if not self.spark.catalog.tableExists(f"{self.ns}.__commits__"):
            return None
        return self.spark.table(f"{self.ns}.__commits__")

    def load_manifest(
        self, snapshot_id: int | None = None
    ) -> dict[str, Any] | None:
        c = self._commits()
        if c is None:
            return None
        # one job either way: the latest row is a top-1 (one takeOrdered
        # pass), a given snapshot is a filtered scan
        if snapshot_id is None:
            c = c.orderBy(F.col("snapshot_id").desc()).limit(1)
        else:
            c = c.filter(F.col("snapshot_id") == snapshot_id)
        rows = c.collect()
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

    def _write(self, df: DataFrame, name: str, kind: str, snap_id: int) -> str:
        label = "s" if kind == "replace" else "d"
        ident = f"{self.ns}.{name}__{label}{snap_id:06d}"
        self._write_table(df, ident)
        return ident

    def _publish(self, manifest: dict[str, Any]) -> None:
        parent = manifest["parent"]
        self._append_commit_row(self.spark.createDataFrame(
            [(manifest["snapshot_id"], -1 if parent is None else parent,
              manifest["committed_at"], json.dumps(manifest["meta"]),
              json.dumps(manifest["tables"]))],
            _COMMIT_SCHEMA,
        ).coalesce(1))

    def _read_refs(
        self, spark: SparkSession, refs: list[str], schema: str | None
    ) -> DataFrame:
        df = spark.table(refs[0])
        for ref in refs[1:]:
            df = df.unionByName(spark.table(ref), allowMissingColumns=True)
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
        # only tables THIS catalog created are GC candidates: the _write()
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
