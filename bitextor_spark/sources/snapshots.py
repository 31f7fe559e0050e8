"""Snapshot-table catalog: atomic, resumable state for the crawl engine.

Iceberg-style semantics: every epoch commits a *manifest* that pins, for
each state table, the exact set of data refs composing it. Readers resolve
a committed manifest — a crashed/killed run leaves at most orphan data
that no manifest references, so resume simply re-runs the uncommitted
epoch deterministically (virtual clock ⇒ identical schedule, no politeness
violation, no double-fetch of *committed* work). This mirrors the
reference's resume models: Heritrix CheckpointService
(crawler-beans.cxml:541-547) and Snakemake's file-existence resume
(Snakefile:602-632).

``ManifestCatalog`` is the one implementation of the protocol: snapshot
numbering, carry-forward of unmentioned tables, the replace / append /
drop bookkeeping, manifest assembly, ``read`` and ``history``. Two table
flavors:

- ``replace`` tables (frontier, host_state, seed_domains): each commit
  rewrites the full table; the manifest points at the newest snapshot
  only.
- ``append`` tables (frontier_delta, host_state_delta, fetch_log,
  metrics): each commit adds one delta; the manifest lists all deltas,
  read as a union.

The engine keeps no side tables: host_state carries the TTL robots cache
beside the politeness cursor, and fetch_log carries the payload
verification columns.

A commit writes every table it lists on one thread pool, under the
caller's job group, then publishes the manifest, so a crash before the
publish leaves only orphan data. A backend supplies only its physical
operations: write one table, publish a manifest, load a manifest and read
a list of refs. ``SnapshotCatalog`` here is the filesystem backend
(parquet directories, JSON manifests published with tmp file + fsync +
``os.replace``); sources/catalogs.py holds the catalog-table backends, so
swapping the engine's storage is a constructor argument.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from bitextor_spark.session import JOB_GROUP_PROPS


class ManifestCatalog:
    """The manifest protocol over a backend's physical operations.

    A manifest is ``{snapshot_id, committed_at, tables, meta, parent}``;
    ``tables`` maps each name to ``{"kind": "replace"|"append", "paths":
    [ref, ...]}`` in the backend's ref format."""

    # -- backend hooks -------------------------------------------------------

    def load_manifest(
        self, snapshot_id: int | None = None
    ) -> dict[str, Any] | None:
        """The manifest of ``snapshot_id`` (None: the latest), or None."""
        raise NotImplementedError

    def _write(self, df: DataFrame, name: str, kind: str, snap_id: int) -> str:
        """Write one table of snapshot ``snap_id``; return its ref."""
        raise NotImplementedError

    def _publish(self, manifest: dict[str, Any]) -> None:
        """Make ``manifest`` the latest, atomically: the commit point."""
        raise NotImplementedError

    def _read_refs(
        self, spark: SparkSession, refs: list[str], schema: str | None
    ) -> DataFrame:
        """One DataFrame over the union of ``refs``."""
        raise NotImplementedError

    # -- protocol ------------------------------------------------------------

    @staticmethod
    def _next_id(prev: dict[str, Any] | None) -> int:
        return prev["snapshot_id"] + 1 if prev else 0

    def commit(
        self,
        replace: dict[str, DataFrame] | None = None,
        append: dict[str, DataFrame] | None = None,
        meta: dict[str, Any] | None = None,
        pre_written: dict[str, str] | None = None,
        drop: list[str] | None = None,
    ) -> int:
        """Write data, then atomically publish the manifest.

        Tables not mentioned carry forward from the previous manifest.
        ``replace`` and ``append`` tables are written concurrently.
        ``drop`` removes tables from the manifest (their data becomes
        unreferenced — e.g. delta logs folded into a compacted base — and
        older manifests still read it). ``meta`` is the run metadata the
        manifest carries (the engine's epoch counters). ``pre_written``
        must be empty: it is kept because perfbench/crawl.py's
        ``TimedCatalog`` still forwards it on every commit.
        """
        if pre_written:
            raise ValueError(
                "pre_written must be empty: pass the table in `append` "
                "or `replace`"
            )
        prev = self.load_manifest()
        snap_id = self._next_id(prev)
        tables: dict[str, dict[str, Any]] = (
            {k: dict(v) for k, v in prev["tables"].items()} if prev else {}
        )
        for name in drop or []:
            tables.pop(name, None)

        jobs: list[tuple[str, str, DataFrame]] = [
            *(("replace", n, df) for n, df in (replace or {}).items()),
            *(("append", n, df) for n, df in (append or {}).items()),
        ]

        # a pool thread starts with no job group: each write takes the
        # caller's, so the caller's job accounting and cancellation cover
        # the commit's jobs too
        caller: list[tuple[str, str | None]] = []
        if jobs:
            sc = jobs[0][2].sparkSession.sparkContext
            caller = [(k, sc.getLocalProperty(k)) for k in JOB_GROUP_PROPS]

        def land(job) -> str:
            kind, name, df = job
            sc = df.sparkSession.sparkContext
            for k, v in caller:
                sc.setLocalProperty(k, v)
            return self._write(df, name, kind, snap_id)

        # Submit all table writes as CONCURRENT Spark jobs (driver threads):
        # the scheduler interleaves their tasks, so commit wall time is the
        # max of the writes, not the sum — per-epoch fixed cost is the
        # scaling-efficiency killer at high core counts.
        with ThreadPoolExecutor(max_workers=max(len(jobs), 1)) as pool:
            refs = list(pool.map(land, jobs))

        for (kind, name, _df), ref in zip(jobs, refs):
            if kind == "replace":
                tables[name] = {"kind": "replace", "paths": [ref]}
            else:
                entry = tables.get(name, {"kind": "append", "paths": []})
                tables[name] = {"kind": "append",
                                "paths": list(entry["paths"]) + [ref]}

        self._publish({
            "snapshot_id": snap_id,
            "committed_at": time.time(),
            "tables": tables,
            "meta": meta or {},
            "parent": prev["snapshot_id"] if prev else None,
        })
        return snap_id

    def read(
        self,
        spark: SparkSession,
        name: str,
        manifest: dict[str, Any] | None = None,
        schema: str | None = None,
    ) -> DataFrame | None:
        """Read a table as ``manifest`` pins it (None: the latest
        manifest); None when it does not list the table. Pass `schema` (DDL
        string) when the caller knows it: the read returns exactly those
        fields and types, and the filesystem backend otherwise pays one
        footer-inference Spark job per read — a fixed per-epoch cost that
        never parallelizes (the engine reads 5+ state tables every
        epoch)."""
        if manifest is None:
            manifest = self.load_manifest()
        if manifest is None or name not in manifest["tables"]:
            return None
        return self._read_refs(spark, manifest["tables"][name]["paths"], schema)

    def history(self) -> list[dict[str, Any]]:
        """Every snapshot, oldest first: the latest manifest's parent
        chain."""
        out = []
        m = self.load_manifest()
        while m is not None:
            out.append({"snapshot_id": m["snapshot_id"], "meta": m["meta"],
                        "parent": m["parent"]})
            m = None if m["parent"] is None else self.load_manifest(m["parent"])
        return out[::-1]


class SnapshotCatalog(ManifestCatalog):
    """Filesystem backend: tables are parquet directories under
    ``data_dir`` (refs are paths relative to it), manifests are
    ``_manifests/manifest-<id>.json``."""

    def __init__(self, root: str):
        self.root = root
        self.manifest_dir = os.path.join(root, "_manifests")
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.manifest_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    def load_manifest(
        self, snapshot_id: int | None = None
    ) -> dict[str, Any] | None:
        if snapshot_id is None:
            ids = [
                int(f[len("manifest-"):-len(".json")])
                for f in os.listdir(self.manifest_dir)
                if f.startswith("manifest-") and f.endswith(".json")
            ]
            if not ids:
                return None
            snapshot_id = max(ids)
        path = os.path.join(self.manifest_dir, f"manifest-{snapshot_id}.json")
        try:
            with open(path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    @staticmethod
    def _rel(name: str, kind: str, snap_id: int) -> str:
        label = "snap" if kind == "replace" else "delta"
        return f"{name}/{label}-{snap_id:06d}"

    def _write(self, df: DataFrame, name: str, kind: str, snap_id: int) -> str:
        rel = self._rel(name, kind, snap_id)
        df.write.mode("overwrite").parquet(os.path.join(self.data_dir, rel))
        return rel

    def _publish(self, manifest: dict[str, Any]) -> None:
        snap_id = manifest["snapshot_id"]
        tmp = os.path.join(self.manifest_dir, f".manifest-{snap_id}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(self.manifest_dir, f"manifest-{snap_id}.json"))

    def _read_refs(
        self, spark: SparkSession, refs: list[str], schema: str | None
    ) -> DataFrame:
        reader = spark.read.schema(schema) if schema else spark.read
        return reader.parquet(*[os.path.join(self.data_dir, r) for r in refs])
