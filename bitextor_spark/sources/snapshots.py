"""Snapshot-table catalog: atomic, resumable state for the crawl engine.

Iceberg-style semantics on a plain filesystem: every epoch commits a
*manifest* (JSON, written atomically via ``os.replace``) that pins, for each
state table, the exact set of parquet paths composing it. Readers resolve
the latest committed manifest — a crashed/killed run leaves at most orphan
data files that no manifest references, so resume simply re-runs the
uncommitted epoch deterministically (virtual clock ⇒ identical schedule, no
politeness violation, no double-fetch of *committed* work). This mirrors
the reference's resume models: Heritrix CheckpointService
(crawler-beans.cxml:541-547) and Snakemake's file-existence resume
(Snakefile:602-632).

Two table flavors:
- ``replace`` tables (frontier, host_state): each commit rewrites the full
  table; the manifest points at the newest snapshot directory only.
- ``append`` tables (fetch_log, metrics): each commit adds one delta
  directory; the manifest lists all deltas, read as a union.

On a cluster with the Iceberg runtime jar this class is swapped for real
Iceberg tables (``df.writeTo(...).append()`` / ``.createOrReplace()``); the
manifest/commit semantics here are deliberately the same shape so the swap
is a connector change, not an engine change.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        self.manifest_dir = os.path.join(root, "_manifests")
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.manifest_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- manifest resolution -------------------------------------------------

    def _manifest_ids(self) -> list[int]:
        ids = []
        for f in os.listdir(self.manifest_dir):
            if f.startswith("manifest-") and f.endswith(".json"):
                ids.append(int(f[len("manifest-"):-len(".json")]))
        return sorted(ids)

    def latest_snapshot_id(self) -> int | None:
        ids = self._manifest_ids()
        return ids[-1] if ids else None

    def load_manifest(self, snapshot_id: int | None = None) -> dict[str, Any] | None:
        if snapshot_id is None:
            snapshot_id = self.latest_snapshot_id()
        if snapshot_id is None:
            return None
        path = os.path.join(self.manifest_dir, f"manifest-{snapshot_id}.json")
        with open(path) as fh:
            return json.load(fh)

    # -- commit --------------------------------------------------------------

    def stage_path(self, name: str, kind: str = "append") -> str:
        """Absolute path where the NEXT commit's data for `name` belongs.

        Iceberg staging model: a caller may write data files here *before*
        committing (e.g. to fuse the write with the computation that
        materializes an epoch intermediate) and then pass the name via
        ``commit(pre_written=...)``. A crash before the manifest publish
        leaves only orphan files that no manifest references.
        """
        prev = self.load_manifest()
        snap_id = (prev["snapshot_id"] + 1) if prev else 0
        label = "snap" if kind == "replace" else "delta"
        return os.path.join(self.data_dir, f"{name}/{label}-{snap_id:06d}")

    def commit(
        self,
        replace: dict[str, DataFrame] | None = None,
        append: dict[str, DataFrame] | None = None,
        meta: dict[str, Any] | Callable[[], dict[str, Any]] | None = None,
        pre_written: dict[str, str] | None = None,
        drop: list[str] | None = None,
    ) -> int:
        """Write data files, then atomically publish the manifest.

        Tables not mentioned carry forward from the previous manifest.
        ``pre_written`` maps table name -> kind ("replace"/"append") for
        tables whose data files were already staged at ``stage_path`` —
        the commit only records them in the manifest (no write job). A
        value may also be a ``(kind, staged_path)`` tuple where
        ``staged_path`` is an earlier ``stage_path`` result: that
        registers data staged for a PREVIOUS snapshot id (the engine's
        write-behind metrics sink trails its epoch's commit by one).
        ``drop`` removes tables from the manifest (their data files become
        unreferenced — e.g. delta logs folded into a compacted base).
        ``meta`` may be a zero-arg callable, evaluated after the data
        writes finish but before the manifest publish — for metadata that
        depends on write-side observations (Dataset.observe counters riding
        on a table write in the pool).
        """
        prev = self.load_manifest()
        snap_id = (prev["snapshot_id"] + 1) if prev else 0
        tables: dict[str, dict[str, Any]] = (
            {k: dict(v) for k, v in prev["tables"].items()} if prev else {}
        )

        # Submit all table writes as CONCURRENT Spark jobs (driver threads):
        # the scheduler interleaves their tasks, so commit wall time is the
        # max of the writes, not the sum — per-epoch fixed cost is the
        # scaling-efficiency killer at high core counts.
        jobs: list[tuple[str, str, str, DataFrame]] = []
        for name, df in (replace or {}).items():
            jobs.append(("replace", name, f"{name}/snap-{snap_id:06d}", df))
        for name, df in (append or {}).items():
            jobs.append(("append", name, f"{name}/delta-{snap_id:06d}", df))

        def write(job):
            _, _, rel, df = job
            df.write.mode("overwrite").parquet(os.path.join(self.data_dir, rel))

        if len(jobs) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
                list(pool.map(write, jobs))
        else:
            for job in jobs:
                write(job)

        for name in drop or []:
            tables.pop(name, None)

        label = {"replace": "snap", "append": "delta"}
        for name, kindref in (pre_written or {}).items():
            if isinstance(kindref, tuple):
                kind, staged = kindref
                rel = os.path.relpath(staged, self.data_dir)
            else:
                kind = kindref
                rel = f"{name}/{label[kind]}-{snap_id:06d}"
            jobs.append((kind, name, rel, None))

        for kind, name, rel, _df in jobs:
            if kind == "replace":
                tables[name] = {"kind": "replace", "paths": [rel]}
            else:
                entry = tables.get(name, {"kind": "append", "paths": []})
                entry["paths"] = list(entry["paths"]) + [rel]
                tables[name] = entry

        manifest = {
            "snapshot_id": snap_id,
            "committed_at": time.time(),
            "tables": tables,
            "meta": (meta() if callable(meta) else meta) or {},
            "parent": prev["snapshot_id"] if prev else None,
        }
        tmp = os.path.join(self.manifest_dir, f".manifest-{snap_id}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(self.manifest_dir, f"manifest-{snap_id}.json"))
        return snap_id

    # -- read ----------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        name: str,
        snapshot_id: int | None = None,
        schema: str | None = None,
    ) -> DataFrame | None:
        """Read a table at a snapshot. Pass `schema` (DDL string) when the
        caller knows it: schema inference otherwise costs one footer-read
        Spark job per read — a fixed per-epoch cost that never parallelizes
        (the engine reads 5+ state tables every epoch)."""
        manifest = self.load_manifest(snapshot_id)
        if manifest is None or name not in manifest["tables"]:
            return None
        paths = [
            os.path.join(self.data_dir, rel)
            for rel in manifest["tables"][name]["paths"]
        ]
        reader = spark.read.schema(schema) if schema else spark.read
        return reader.parquet(*paths)

    def history(self) -> list[dict[str, Any]]:
        out = []
        for sid in self._manifest_ids():
            m = self.load_manifest(sid)
            out.append(
                {"snapshot_id": sid, "meta": m["meta"], "parent": m["parent"]}
            )
        return out
