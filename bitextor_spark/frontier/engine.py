"""The distributed frontier engine — wave-based crawl as DataFrame plans.

One epoch = one Spark job pipeline:

  queued frontier ──(per-host top-k prefix)──► schedulable candidates
     ⋈ pages (status/duration)  ⋈ robots (broadcast)  ⋈ host_state
     ──repartition(host)+sort, mapInArrow(politeness walk)──► fetch events
     (pinned once; the commit writes them as the fetch_log delta, with
     the payload-verification columns joined in when verification is on)
     ──window(order by start,host,url)──► fetch_log seq (exact order)
     events ⋈ pages.outlinks ──mapInArrow flat resolver──► raw links
     (RE2-classified in-batch: resolve+canonicalize+explode+page dedup)
     ──scope rules (JVM exprs) + ONE groupBy(url)──► first-discoverer
     winner, in-scope discovery count, reject count (fused pass)
     ──exact URL-seen check: merge LEFT join on url_canon against the
     persisted base layout + the gated delta-key LEFT join──►
     the discovery pin (pinned once, with its `admit` flag: admission
     filters it, the metrics count over it)
     ──► frontier ∪ admitted ; snapshot commit (atomic manifest) that
     writes the fetch log, the deltas and the epoch's per-host metrics
     (one agg over the events ∪ the discovery pin) concurrently, so a
     committed epoch carries its own fetch log and metrics

Parallelism-independence: every nondeterministic boundary is closed by an
explicit total order — per-host queue order (hop, url_canon), global fetch
order (fetch_start_ms, host, url_canon), discoverer rank for lineage
(fetch_start_ms, disc host, disc url). The same crawl therefore produces
byte-identical fetch logs at local[1] and local[32] — evidenced against
the single-threaded simulator in tests/test_frontier_parity.py.

Skew: the per-host top-k prefix bounds any mega-host's contribution to an
epoch at the politeness ceiling (window_ms / min_delay + retries), so the
walk's host segment for the hottest host is O(hundreds) of rows no matter
how many billions of its URLs are queued. The prefix is a volume cap, not
a correctness step, so it has two outcomes: while the manifest's queued
count (an upper bound on the over-cap excess) stays under
RANK_QUEUED_ROWS the whole queued set flows to the walk in one
consumption; past it every host is ranked by the skew-proof
per_key_topk_passthrough.

Frontier state lives in snapshot tables (sources/snapshots.py): a
single-version base plus a per-epoch delta log, for the frontier and for
host_state, the one per-host record (the politeness cursor and, in TTL
mode, the robots cache, as in Heritrix's per-host queue state). The
frontier log is read through one latest-wins groupBy (_latest_wins, the
same fold compaction runs) at any length, and every merged view is
_merge_latest's base-minus-changed-keys plus latest versions.
An epoch loads the catalog's manifest once and resolves every state read,
cache key and regime decision against it; the commit publishes the next
one. Every epoch is resumable (kill → rerun uncommitted epoch, identical
by the virtual clock).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from bitextor_spark.config import CrawlConfig
from bitextor_spark.frontier.politeness import schedule_host_arrays
from bitextor_spark.plans.scope import apply_scope, is_embed_col
from bitextor_spark.plans.topk import per_key_topk_passthrough
from bitextor_spark.functions.urls import (
    canonicalize_full_udf,
    make_flat_resolver,
)
from bitextor_spark.session import JOB_GROUP_PROPS, drop_zip_finders, unpin
from bitextor_spark.sources.snapshots import SnapshotCatalog

Manifest = dict[str, Any]

FRONTIER_SCHEMA = (
    "url_hash long, url_canon string, host string, hop int, seed_id int, "
    "state string, retry_count int, not_before_ms long, discovered_epoch int, "
    "trans_hops int, priority double, updated_epoch int"
)
EVENT_SCHEMA = (
    "url_hash long, url_canon string, host string, hop int, seed_id int, "
    "retry_count int, fetch_start_ms long, fetch_ms int, status int, "
    "outcome string, new_next_allowed long, trans_hops int, priority double, "
    "not_before_ms long, discovered_epoch int"
)
# per-host state: the politeness cursor and the TTL-mode robots cache
# (crawl_delay_s, fetched_ms), null until the host's first refresh
HOST_STATE_SCHEMA = (
    "host string, next_allowed_ms long, crawl_delay_s int, fetched_ms long"
)
_CONSTRAINT_PROPAGATION = "spark.sql.constraintPropagation.enabled"
# MOR reads and the URL-seen check broadcast the delta key set while the
# tracked count of the delta rows they merge stays under this gate (8 B
# hashes → ~32 MB); past it the merge becomes a shuffle join (SURVEY §4)
DELTA_BROADCAST_ROWS = 4_000_000
# the pre-walk k_cap rank runs once the manifest's queued count passes
# this gate: the queued count bounds Σ max(rows − k_cap, 0) over hosts,
# and under it walking the over-cap rows costs less than the rank's two
# window exchanges (SURVEY §4 "rank gate bound")
RANK_QUEUED_ROWS = 2_000_000


def _codegen_compiles(spark: SparkSession) -> int | None:
    """Generated classes compiled in this JVM so far (Spark's codegen
    metrics count compiles, not cache hits); None off a classic session."""
    try:
        return (
            spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount()
        )
    except (AttributeError, Py4JError):
        return None


@dataclass
class EpochStats:
    epoch: int
    fetched: int
    attempts: int
    new_urls: int
    queued_remaining: int
    # the `done` flag this epoch's commit wrote
    done: bool


class FrontierEngine:
    """Drives the crawl loop over snapshot-table state."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: CrawlConfig,
        catalog_root: "str | Any",
        pages: DataFrame,
        robots: DataFrame,
        seeds: DataFrame,
        images: DataFrame | None = None,
        robots_versions: DataFrame | None = None,
    ):
        # TTL mode reads both: a TTL without the versions timeline would
        # crawl with static robots while the simulator applies the TTL
        if (cfg.robots_ttl_ms is None) != (robots_versions is None):
            raise ValueError(
                "robots_ttl_ms and robots_versions go together: TTL mode "
                "needs both, static robots neither"
            )
        self.spark = spark
        self.cfg = cfg
        # storage seam: a path gets the filesystem manifest catalog; any
        # object implementing the same interface (TableCatalog /
        # IcebergCatalog in sources/catalogs.py) swaps the backend without
        # touching the engine
        self.catalog = (
            SnapshotCatalog(catalog_root)
            if isinstance(catalog_root, str)
            else catalog_root
        )
        # the caches taken here, freed by close(); a table the caller had
        # already cached stays the caller's to free
        self._own_caches: list[DataFrame] = []

        def cached(df: DataFrame | None) -> DataFrame | None:
            if df is None or df.is_cached:
                return df
            self._own_caches.append(df.cache())
            return df

        self.robots = cached(robots)
        # versioned robots timeline (host, valid_from_ms, crawl_delay_s)
        # for TTL-mode crawls; per-epoch reads are semi-joined down to the
        # epoch's active hosts, never scanned whole into the driver
        self.robots_versions = cached(robots_versions)
        self.seeds = seeds
        # image+caption payload table (input_hint shape): when given, every
        # fetch wave is verified in Arrow batches (M4 invariant)
        self.images = cached(images)
        # one partition count for every layout the engine builds (pages,
        # the base layout, the walk's host partitions), read once: the
        # exchange-free fetch join and URL-seen merge join need the layouts
        # and the discovery aggregate to agree on it
        self._n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # pages is the fetch target: co-partition AND co-sort once by
        # url_canon so the per-epoch fetch/discovery sort-merge joins reuse
        # this cached layout — no exchange and no re-sort of the (static,
        # world-sized) pages side per epoch; only the O(candidates) probe
        # side shuffles.
        self.pages = cached(
            pages.repartition(self._n_shuffle, "url_canon")
            .sortWithinPartitions("url_canon")
        )
        self._is_local = spark.sparkContext.master.startswith("local")
        # Catalyst constraint propagation is superlinear in plan width and
        # the epoch DAG is ~200 operators of driver-side analysis per
        # epoch; disabling it is semantics-neutral (it only ADDS inferred
        # filters) and measured ~7% off the 3-epoch bench-world crawl wall
        # (interleaved 16-core A/B, r5). Session-wide runtime conf;
        # close() puts back the value (or absence) found here.
        self._prev_constraint_propagation = spark.conf.getAll.get(
            _CONSTRAINT_PROPAGATION
        )
        try:
            spark.conf.set(_CONSTRAINT_PROPAGATION, "false")
        except Exception:
            pass
        self._epoch_pins: list[DataFrame] = []
        # (frontier base paths, persisted df); see _base_layout
        self._layout: tuple[tuple, DataFrame] | None = None

    def _pin(self, df: DataFrame, columnar: bool = False) -> DataFrame:
        """Eagerly materialize an epoch intermediate, tracked for cleanup.

        local mode: localCheckpoint — eager, cheap, single-JVM-safe —
        unless ``columnar`` asks for a prunable cache (wide tables whose
        consumers read few columns: the InMemoryRelation serves pruned
        batches, an RDD checkpoint always deserializes full rows).
        Cluster mode: persist + count — keeps lineage, so executor loss or
        dynamic-allocation decommission recomputes instead of failing (a
        localCheckpoint block is unreplicated and non-recomputable)."""
        if self._is_local and not columnar:
            out = df.localCheckpoint()
        else:
            out = df.persist()
            out.count()
        self._epoch_pins.append(out)
        return out

    def _release_pins(self) -> None:
        """Free the epoch's materialized blocks immediately after commit
        rather than waiting for GC + ContextCleaner (a 50-epoch crawl would
        otherwise accumulate checkpoint blocks nondeterministically)."""
        unpin(self._epoch_pins)
        self._epoch_pins = []

    # ------------------------------------------------------------------ #
    # bootstrap / resume                                                  #
    # ------------------------------------------------------------------ #

    def bootstrap(self) -> None:
        """Seed the frontier (epoch 0) unless a snapshot already exists."""
        # materialize the fetch-target cache here, outside the crawl loop:
        # synthesizing/caching the world is setup, not crawl work
        self.pages.count()
        if self.catalog.load_manifest() is not None:
            return
        cfg = self.cfg
        # materialize the (tiny) seed pipeline once: every downstream action
        # would otherwise re-run the canonicalize/reg-domain UDF fan-out.
        # One fused Arrow UDF = one python round-trip per task.
        s = self._pin(
            self.seeds.withColumn("_c", canonicalize_full_udf("seed_url"))
            .select("seed_id", "seed_url", "_c.url_canon", "_c.host", "_c.reg_domain")
            .filter(F.col("url_canon").isNotNull())
        )
        # C2 https fallback (utils/common.py:155-181): a dead http seed
        # whose https twin resolves bootstraps as https. Two probes against
        # the co-partitioned pages cache; bootstrap-only cost.
        page_urls = self.pages.select("url_canon")
        https_twin = F.concat(
            F.lit("https://"), F.substring("url_canon", len("http://") + 1, 1 << 30)
        )
        s = self._pin(
            s.join(
                page_urls.withColumn("_live", F.lit(True)), "url_canon", "left"
            )
            .withColumn(
                "_twin",
                F.when(
                    F.col("url_canon").startswith("http://")
                    & ~F.coalesce("_live", F.lit(False)),
                    https_twin,
                ),
            )
            .join(
                page_urls.select(F.col("url_canon").alias("_twin"))
                .withColumn("_twin_live", F.lit(True)),
                "_twin",
                "left",
            )
            .select(
                "seed_id",
                "seed_url",
                F.when(
                    F.coalesce("_twin_live", F.lit(False)), F.col("_twin")
                ).otherwise(F.col("url_canon")).alias("url_canon"),
                "host",
                "reg_domain",
            )
        )
        seed_domains = self._pin(s.select("reg_domain").distinct())
        scoped = apply_scope(
            s.withColumn("hop", F.lit(0)), seed_domains, self.robots, cfg
        ).filter(F.col("in_scope"))
        w = Window.partitionBy("url_canon").orderBy("seed_id")
        frontier = self._pin(  # reused by host_state, commit, count
            scoped.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                F.xxhash64("url_canon").alias("url_hash"),
                "url_canon",
                "host",
                F.lit(0).alias("hop"),
                F.col("seed_id").cast("int"),
                F.lit("QUEUED").alias("state"),
                F.lit(0).alias("retry_count"),
                F.lit(0).cast("long").alias("not_before_ms"),
                F.lit(0).alias("discovered_epoch"),
                F.lit(0).alias("trans_hops"),
                F.lit(1.0).alias("priority"),
                F.lit(0).alias("updated_epoch"),
            )
        )
        host_state = frontier.select("host").distinct().withColumn(
            "next_allowed_ms", F.lit(0).cast("long")
        )
        self.catalog.commit(
            replace={"frontier": frontier, "host_state": host_state,
                     "seed_domains": seed_domains},
            meta={"epoch": 0, "total_fetched": 0,
                  "queued": (n_seeds := frontier.count()),
                  "frontier_rows": n_seeds, "done": False},
        )
        self._release_pins()

    def _verify_payloads(self, events: DataFrame) -> DataFrame:
        """Per-row payload invariant (M4): decode image bytes in Arrow
        batches and compare with the regenerated reference — exact pixels
        for png, PSNR ≥ threshold for lossy — plus caption equality.
        (functions/images.py; reference-decode semantics per input_hint)."""
        from bitextor_spark.functions.images import verify_image_batch

        cfg = self.cfg
        salt = cfg.seed
        thr = cfg.psnr_threshold_db
        fetched = events.filter(
            (F.col("outcome") == "FETCHED")
            & (F.col("status") >= 200) & (F.col("status") < 300)
        ).select("url_hash", "url_canon")
        payloads = (
            fetched.join(
                self.pages.select("url_canon", "image_id"), "url_canon"
            )
            .filter(F.col("image_id").isNotNull())
            .join(self.images, "image_id")
            .select("url_hash", "image_id", "bytes", "fmt", "caption")
        )

        def verify(batches):
            drop_zip_finders()
            for pdf in batches:
                bo, co = verify_image_batch(
                    pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["caption"],
                    salt=salt, psnr_threshold=thr,
                )
                yield pd.DataFrame(
                    {"url_hash": pdf["url_hash"], "bytes_ok": bo,
                     "caption_ok": co}
                )

        return payloads.mapInPandas(
            verify, "url_hash long, bytes_ok boolean, caption_ok boolean"
        )

    # explicit read schemas: every schema-less spark.read.parquet costs a
    # footer-inference job — a per-epoch fixed cost (the epoch reads 5+
    # state tables) that never parallelizes with cores
    _TABLE_SCHEMAS = {
        "frontier": FRONTIER_SCHEMA,
        "frontier_delta": FRONTIER_SCHEMA,
        "host_state": HOST_STATE_SCHEMA,
        "host_state_delta": HOST_STATE_SCHEMA,
        "seed_domains": "reg_domain string",
        # bytes_ok/caption_ok: payload verification, null unless the crawl
        # verifies payloads (the read fills columns a file lacks with null)
        "fetch_log": (
            EVENT_SCHEMA + ", epoch int, bytes_ok boolean, caption_ok boolean"
        ),
        "metrics": (
            "epoch int, host string, fetched bigint, errors bigint, "
            "failed bigint, skipped_seen bigint, skipped_scope bigint, "
            "queued bigint"
        ),
    }

    def _read(self, m: Manifest, name: str) -> DataFrame | None:
        """State table ``name`` as manifest ``m`` pins it; None when the
        manifest does not list it (a delta log after compaction)."""
        return self.catalog.read(
            self.spark, name, m, schema=self._TABLE_SCHEMAS[name]
        )

    def meta(self) -> dict[str, Any]:
        m = self.catalog.load_manifest()
        return m["meta"] if m else {}

    # ------------------------------------------------------------------ #
    # merge-on-read frontier views (Iceberg MOR model)                    #
    #                                                                     #
    # The frontier is stored as a compacted BASE (replace table) plus     #
    # per-epoch DELTAS (append table) holding only changed+new rows       #
    # stamped with updated_epoch. Nothing ever rewrites O(frontier) per   #
    # epoch; reads resolve latest-wins. Every view reads the one          #
    # manifest its epoch loaded. State transitions are monotone           #
    # (QUEUED -> terminal, never back), which the views exploit:          #
    #  - presence (the URL-seen check) needs NO merge: any version       #
    #    proves membership;                                               #
    #  - the base is single-version by construction (compaction output),  #
    #    so latest-wins only ever runs over the DELTA LOG — the big side  #
    #    contributes one anti-join against the deltas' key set, which is  #
    #    broadcast while the merged delta row count stays under           #
    #    DELTA_BROADCAST_ROWS (no AQE dependence), shuffled beyond: one   #
    #    decision per merge, from a tracked row count (_delta_keys);      #
    #  - per-host cursors and robots fetch times only grow, so the host   #
    #    view is a max() and a max_by — a CRDT-style merge, no versions.  #
    # Compaction rewrites the base and drops the deltas (adaptive, capped #
    # at cfg.frontier_compact_epochs), bounding read amplification.       #
    # ------------------------------------------------------------------ #

    @staticmethod
    def _latest_wins(df: DataFrame) -> DataFrame:
        """One row per url_hash: the version with the highest updated_epoch
        (unique per url_hash by construction — a URL changes at most once
        per epoch). groupBy, not a window: partial map-side aggregation."""
        cols = [c for c in df.columns if c != "url_hash"]
        return (
            df.groupBy("url_hash")
            .agg(F.max_by(F.struct(*cols), "updated_epoch").alias("_w"))
            .select("url_hash", "_w.*")
        )

    @staticmethod
    def _delta_keys(n_rows: int, latest: DataFrame) -> DataFrame:
        """The changed-key set of ``latest``, with a broadcast hint while
        ``n_rows`` (the commits' tracked count of the delta rows merged, an
        upper bound on the keys, known with no count() job) stays under
        DELTA_BROADCAST_ROWS — explicit, so it holds with AQE off; dropped
        past the gate so a 10^10-scale delta backlog becomes a shuffle
        join, never a multi-GB driver broadcast."""
        keys = latest.select("url_hash")
        if n_rows <= DELTA_BROADCAST_ROWS:
            return F.broadcast(keys)
        return keys

    def _delta_latest(self, m: Manifest) -> DataFrame | None:
        """Latest version per changed url_hash, or None when no delta log
        exists: one _latest_wins groupBy over the whole log at any length,
        the same fold compaction runs. run_epoch pins this once (it is
        O(changes since last compaction)) and threads it through every
        view below — it feeds two branches of the candidate DAG plus the
        URL-seen check, so recomputing it per consumer multiplies the
        latest-wins cost."""
        deltas = self._read(m, "frontier_delta")
        return None if deltas is None else self._latest_wins(deltas)

    def _merge_latest(
        self, n_rows: int, base: DataFrame, latest: DataFrame | None,
        side: Callable[[DataFrame], DataFrame] = lambda d: d,
    ) -> DataFrame:
        """The one merge-on-read rule:
        ``side(base ⋉̸ keys) ∪ side(latest)``, or ``side(base)`` when no
        delta log stands. The base is single-version, so a base row whose
        key has no delta version is its own latest; the wide groupBy
        already ran on the (small) delta side, and the base pays one
        anti-join against the changed-key set of ``latest``, gated on
        ``n_rows``, the delta rows merged (_delta_keys). ``side`` is a
        per-row projection (filters, a lookup join) applied to each side
        before the union, which equals applying it after the merge."""
        if latest is None:
            return side(base)
        unchanged = base.join(
            self._delta_keys(n_rows, latest), "url_hash", "left_anti"
        )
        return side(unchanged).unionByName(side(latest))

    def _base_layout(self, m: Manifest) -> DataFrame:
        """The frontier BASE of ``m``, hash-partitioned + sorted on
        URL_CANON and persisted ACROSS epochs: the base is immutable
        between compactions, so its layout must not pay an O(frontier)
        exchange every epoch. Its two readers keep it:

        - the queued view filters it (a filter keeps the layout), so the
          fetch join against the pages cache, laid out on the same key, is
          exchange-free and sort-free on both sides;
        - the URL-seen check merge-joins the discovery aggregate (the
          groupBy's own url_canon partitioning and sort, at the same
          partition count) against its url_canon column with no Exchange
          and no Sort on either side.

        The delta-key joins on url_hash ride the broadcast hint
        (DELTA_BROADCAST_ROWS gate), which keeps the layout; past the gate
        (a compaction-overdue backlog) they shuffle, the regime compaction
        resets. Rebuilt when the manifest's base paths change (compaction
        or resume); recomputable lineage (persist, not checkpoint), so
        executor loss re-reads parquet instead of failing the epoch."""
        key = tuple(m["tables"]["frontier"]["paths"])
        if self._layout is not None:
            if self._layout[0] == key:
                return self._layout[1]
            unpin([self._layout[1]])
        df = (
            self._read(m, "frontier")
            .repartition(self._n_shuffle, "url_canon")
            .sortWithinPartitions("url_canon")
            .persist()
        )
        self._layout = (key, df)
        return df

    def _host_state_view(
        self, m: Manifest, new: DataFrame | None = None
    ) -> DataFrame:
        """Per-host state (HOST_STATE_SCHEMA) merged over base ∪ deltas ∪
        ``new`` (this epoch's rows, when compaction folds them in). Cursors
        and robots fetch times only grow, so both merge by max(); the
        cached delay is the one of the latest fetch (max_by, which like
        max skips the rows that carry only a cursor). A host's fetch
        times are distinct: one refresh per epoch at most."""
        parts = [
            p for p in (self._read(m, "host_state"),
                        self._read(m, "host_state_delta"), new)
            if p is not None
        ]
        if len(parts) == 1:
            return parts[0]
        return (
            reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
            )
            .groupBy("host")
            .agg(
                F.max("next_allowed_ms").alias("next_allowed_ms"),
                F.max_by("crawl_delay_s", "fetched_ms").alias("crawl_delay_s"),
                F.max("fetched_ms").alias("fetched_ms"),
            )
        )

    def _effective_robots(
        self, host_state: DataFrame, active_hosts: DataFrame,
        epoch_start: int,
    ) -> DataFrame:
        """TTL-mode effective Crawl-delay per active host, plus the
        refresh decision (robotsValidityDurationSeconds, crawler-beans
        .cxml:239-243, epoch-quantized — the simulator applies the same
        rule). O(hosts with schedulable work), never O(all hosts): the
        versions table is semi-joined down to the epoch's active hosts
        before its latest-version groupBy, and all joins shuffle on host —
        the same key the politeness groupBy clusters on. ``host_state`` is
        the epoch's per-host view, which carries the cache."""
        cfg = self.cfg
        cur = (
            self.robots_versions.join(active_hosts, "host", "left_semi")
            .filter(F.col("valid_from_ms") <= epoch_start)
            .groupBy("host")
            .agg(
                F.max_by("crawl_delay_s", "valid_from_ms").alias("_cur_delay")
            )
        )
        j = active_hosts.join(cur, "host", "left").join(
            host_state.select("host", "crawl_delay_s", "fetched_ms"),
            "host", "left",
        )
        expired = F.col("fetched_ms").isNull() | (
            F.lit(epoch_start) - F.col("fetched_ms")
            >= F.lit(cfg.robots_ttl_ms)
        )
        return j.select(
            "host",
            F.when(expired, F.coalesce("_cur_delay", F.lit(0)))
            .otherwise(F.col("crawl_delay_s"))
            .cast("int")
            .alias("crawl_delay_s"),
            F.when(expired, F.lit(epoch_start))
            .otherwise(F.col("fetched_ms"))
            .cast("long")
            .alias("fetched_ms"),
            expired.alias("_refreshed"),
        )

    # ------------------------------------------------------------------ #
    # one epoch                                                           #
    # ------------------------------------------------------------------ #

    def run_epoch(self) -> EpochStats:
        """Run the next epoch and commit it. The caller's job group,
        description and interrupt flag (the epoch labels its jobs with its
        own) are put back whether the epoch returns or raises: PySpark has
        no clearJobGroup."""
        sc = self.spark.sparkContext
        saved = [(k, sc.getLocalProperty(k)) for k in JOB_GROUP_PROPS]
        try:
            return self._run_epoch()
        finally:
            for k, v in saved:
                sc.setLocalProperty(k, v)

    def _run_epoch(self) -> EpochStats:
        _t = {"_start": time.time()}

        def mark(name: str) -> None:
            now = time.time()
            _t[name] = round(now - _t["_start"], 2)
            _t["_start"] = now

        cfg = self.cfg
        # the epoch's one manifest load: every state read, base-cache key
        # and broadcast decision below resolves against it
        m = self.catalog.load_manifest()
        meta = m["meta"]
        epoch = int(meta["epoch"])
        # label the epoch's jobs: the per-epoch Spark-job count (fixed cost,
        # the scaling-efficiency driver) is then measurable by bench
        job_group = f"epoch-{id(self):x}-{epoch}"
        self.spark.sparkContext.setJobGroup(job_group, "crawl epoch")
        compiles0 = _codegen_compiles(self.spark)
        total_fetched = int(meta["total_fetched"])
        delta_rows = int(meta.get("delta_rows", 0))
        epoch_start = epoch * cfg.epoch_window_ms
        epoch_end = epoch_start + cfg.epoch_window_ms

        host_state = self._host_state_view(m)
        seed_domains = self._read(m, "seed_domains")

        # one materialization of the delta-latest table per epoch (pinned,
        # O(changes since compaction)); every MOR view this epoch reads it.
        # persist (columnar cache), NOT localCheckpoint: most consumers of
        # this wide table read one column (the url_hash key set for the
        # key joins and their broadcast build) and an RDD-backed
        # checkpoint cannot column-prune, while the InMemoryRelation
        # serves pruned batches.
        latest = self._delta_latest(m)
        if latest is not None:
            latest = self._pin(latest, columnar=True)
        mark('pin_delta')

        # state/not_before/priority filters run AFTER the latest-wins merge
        # (a retry bump raises not_before; pre-merge filtering could drop
        # the latest version while an older, earlier-scheduled one
        # survives) — here per SIDE of the merge (_merge_latest's `side`),
        # which is equivalent: base-side rows that survive the anti-join
        # ARE their own latest version, and the delta side filters its
        # latest-wins output. The fetch resolve (pages join) also runs per
        # side, BEFORE the union: the base side shares the pages cache's
        # url_canon layout, so the frontier-sized join side pays NO
        # exchange and NO sort — only the O(delta) side shuffles into the
        # pages layout.
        priority_mode = cfg.queue_order == "priority"

        def prep(side: DataFrame) -> DataFrame:
            side = side.filter(F.col("state") == "QUEUED")
            side = side.filter(F.col("not_before_ms") < epoch_end)
            if priority_mode:
                # precedence floor (C10): below-floor cash never schedules
                side = side.filter(F.col("priority") >= cfg.priority_floor)
            # updated_epoch served only the latest-wins merge, and state is
            # the constant "QUEUED" on both sides of it — dropping them
            # narrows every downstream exchange AND the Arrow transfer into
            # the politeness walk (the walk reads 14 of the frontier's
            # columns; state was the one dead passenger)
            side = side.drop("updated_epoch", "state")
            return side.join(
                self.pages.select(
                    "url_canon",
                    F.col("status").alias("page_status"),
                    F.col("fetch_ms").alias("page_fetch_ms"),
                ),
                "url_canon",
                "left",
            )

        queued = (
            self._merge_latest(delta_rows, self._base_layout(m), latest, prep)
            .withColumn("status", F.coalesce("page_status", F.lit(404)))
            .withColumn(
                "fetch_ms",
                F.coalesce("page_fetch_ms", F.lit(cfg.default_fetch_ms)),
            )
            .drop("page_status", "page_fetch_ms")
        )

        # --- robots freshness (TTL mode): refresh expired per-host caches
        # for this epoch's active hosts (hosts with schedulable work — the
        # exact set the simulator's by_host loop visits). One pinned
        # O(active-hosts) table feeds both the delay join below and the
        # host_state delta in the commit pool. Static mode: zero cost.
        ttl_mode = cfg.robots_ttl_ms is not None
        robots_eff = None
        if ttl_mode:
            robots_eff = self._pin(
                self._effective_robots(
                    host_state, queued.select("host").distinct(), epoch_start
                )
            )

        # --- per-host schedulable prefix (bounds mega-host skew) ---
        k_cap = min(cfg.replenish_per_epoch,
                    cfg.epoch_window_ms // max(cfg.min_delay_ms, 1) + 2)
        order_cols = (
            [F.col("priority").desc(), F.col("hop"), F.col("url_canon")]
            if priority_mode
            else [F.col("hop"), F.col("url_canon")]
        )
        # The k_cap prefix truncates ONLY hosts holding more eligible rows
        # than the cap — at web scale that is the mega-domain tail, not the
        # typical host — and the walk's prefix masks enforce budget +
        # window exactly on a host's whole queue, so the rank is a volume
        # cap, never a correctness step. The manifest's queued count
        # bounds the over-cap volume from above, so the gate runs no job
        # and can only force a redundant rank, never skip a needed one.
        mark('topk_gate')
        if int(meta["queued"]) <= RANK_QUEUED_ROWS:
            # the over-cap volume is cheaper to walk than to rank: the
            # whole queued set flows to the walk in ONE consumption, no
            # window exchanges; the extra walk volume is the excess itself
            cand = queued
        else:
            # mega-host regime: the skew-proof rank over every host
            cand = per_key_topk_passthrough(
                queued, "host", order_cols, k_cap,
                F.col("not_before_ms") > epoch_start,
            )

        # --- per-host state (fetch resolve already happened per side) ---
        cand = (
            cand
            # per-host state joins carry NO broadcast hint: at bench scale
            # AQE broadcasts them (exact runtime stats, 64 MB gate); at the
            # 10^8-host north-star they become shuffle joins on host — the
            # same key the politeness groupBy below clusters on, so the
            # exchange is reused, never a multi-GB driver broadcast.
            .join(
                robots_eff.select("host", "crawl_delay_s")
                if ttl_mode
                else self.robots.select("host", "crawl_delay_s"),
                "host",
                "left",
            )
            .withColumn("crawl_delay_s", F.coalesce("crawl_delay_s", F.lit(0)))
            .join(host_state.select("host", "next_allowed_ms"), "host", "left")
            .withColumn("next_allowed_ms",
                        F.coalesce("next_allowed_ms", F.lit(0)))
        )

        # --- politeness walk per host (shard-level Arrow stream, numpy scan)
        # Precondition satisfied by the `queued` filter above: every entry
        # has not_before_ms < epoch_end, so the vectorized prefix-mask walk
        # is exactly the reference loop (property-tested equivalence in
        # tests/test_politeness_vec.py).
        _OUTCOMES = np.array(["FETCHED", "RETRY", "FAILED"])

        # mapInArrow over host-partitioned, host-sorted shards — NOT
        # groupBy().applyInArrow: the walk runs once per HOST and an epoch
        # carries thousands of small host groups, so per-group Arrow
        # framing (one Python round trip, one Table build, one C++ sort
        # per group) multiplies into the epoch's fixed cost. The shard
        # form pays the SAME exchange (hash on host) but moves the total
        # order (host, [priority desc,] hop, url) into the JVM partition
        # sort, streams ~10k-row batches through ONE Python pass per
        # shard, and walks each host as a numpy slice view of the batch.
        # A host group split across batch boundaries is carried forward
        # until complete (hosts are contiguous in the sorted stream), so
        # every host is still walked exactly once, whole — the carry is
        # bounded by one host group plus one batch, the same peak as an
        # applyInArrow group. Same schedule_host_arrays core,
        # property-tested against the reference loop.
        walk_sort = [F.col("host"), *order_cols]

        def _walk_hosts(t: "pa.Table") -> "pa.Table | None":
            """Walk every host segment of a sorted table (each segment
            complete by construction); None when nothing is picked."""
            t = t.combine_chunks()
            n = t.num_rows
            host_arr = t.column("host")
            # segment boundaries: dictionary codes are assigned in order
            # of first appearance, so over a host-sorted column they are
            # non-decreasing and change exactly at host boundaries
            codes = pc.dictionary_encode(host_arr).combine_chunks()
            codes_np = codes.indices.to_numpy(zero_copy_only=False)
            bounds = np.flatnonzero(np.diff(codes_np)) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [n]))
            nb = t.column("not_before_ms").to_numpy(zero_copy_only=False)
            st = t.column("status").to_numpy(zero_copy_only=False)
            fm = t.column("fetch_ms").to_numpy(zero_copy_only=False)
            rc = t.column("retry_count").to_numpy(zero_copy_only=False)
            na = t.column("next_allowed_ms").to_numpy(zero_copy_only=False)
            cd = t.column("crawl_delay_s").to_numpy(zero_copy_only=False)
            idx_parts, start_parts, out_parts, cur_parts = [], [], [], []
            for s, e in zip(starts, ends):
                # rows arrive in the host's queue order (walk_sort)
                picked, fstart, outc, cursor = schedule_host_arrays(
                    nb[s:e], st[s:e], fm[s:e], rc[s:e],
                    int(na[s]), int(cd[s]), epoch_start, epoch_end, cfg,
                    politeness=cfg.politeness_for(host_arr[s].as_py()),
                )
                if picked.size:
                    idx_parts.append(picked + s)
                    start_parts.append(fstart)
                    out_parts.append(outc)
                    cur_parts.append(
                        np.full(picked.size, cursor, dtype=np.int64)
                    )
            if not idx_parts:
                return None
            sub = t.take(pa.array(np.concatenate(idx_parts)))
            return pa.table({
                "url_hash": sub.column("url_hash"),
                "url_canon": sub.column("url_canon"),
                "host": sub.column("host"),
                "hop": sub.column("hop"),
                "seed_id": sub.column("seed_id"),
                "retry_count": sub.column("retry_count"),
                "fetch_start_ms": pa.array(
                    np.concatenate(start_parts), type=pa.int64()
                ),
                "fetch_ms": sub.column("fetch_ms"),
                "status": sub.column("status"),
                "outcome": pa.array(_OUTCOMES[np.concatenate(out_parts)]),
                "new_next_allowed": pa.array(np.concatenate(cur_parts)),
                "trans_hops": sub.column("trans_hops"),
                "priority": sub.column("priority"),
                # passthrough: the frontier-delta row for this attempt is
                # reconstructed from the event alone (MOR commit)
                "not_before_ms": sub.column("not_before_ms"),
                "discovered_epoch": sub.column("discovered_epoch"),
            })

        def walk_stream(batches):
            drop_zip_finders()
            pending: "pa.Table | None" = None
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                t = pa.Table.from_batches([batch])
                if pending is not None:
                    t = pa.concat_tables([pending, t])
                hosts = t.column("host")
                # first row of the (possibly incomplete) last host group
                cut = pc.index(hosts, hosts[-1]).as_py()
                if cut > 0:
                    out = _walk_hosts(t.slice(0, cut))
                    if out is not None:
                        yield from out.to_batches()
                pending = t.slice(cut)
            if pending is not None and pending.num_rows > 0:
                out = _walk_hosts(pending)
                if out is not None:
                    yield from out.to_batches()

        # eager materialization: every downstream consumer (the fetch_log
        # write in the commit, host_state, frontier transitions, discovery,
        # metrics) reads the walk output once from the pin. Columnar: most
        # consumers read a few of its columns. The epoch's outcome counters
        # ride the pin as an observation, so the commit's meta never waits
        # on a commit-pool write.
        raw_events = (
            cand.repartition(self._n_shuffle, "host")
            .sortWithinPartitions(*walk_sort)
            .mapInArrow(walk_stream, EVENT_SCHEMA)
        )
        obs_ev = Observation()
        events = self._pin(raw_events.observe(
            obs_ev,
            F.sum(
                F.when(F.col("outcome") == "FETCHED", 1).otherwise(0)
            ).alias("f"),
            F.sum(
                F.when(F.col("outcome") == "FAILED", 1).otherwise(0)
            ).alias("fl"),
            F.sum(
                F.when(F.col("outcome") != "FETCHED", 1).otherwise(0)
            ).alias("e"),
        ), columnar=True)

        mark('plan_candidates')
        ev = obs_ev.get
        n_fetched = int(ev["f"] or 0)
        n_failed = int(ev["fl"] or 0)
        n_attempts = n_fetched + int(ev["e"] or 0)
        # adaptive compaction, decided as soon as the attempt count is
        # known: rewrite the base once the pending delta log reaches
        # compact_delta_ratio of the frontier (cheap at small scale where
        # that is every epoch; rare at web scale), with
        # frontier_compact_epochs as a hard interval cap. The admission
        # count is left out of the trigger — compaction timing is a pure
        # cost knob (any cadence is exact, per the cadence-invariance
        # parity test), and the recorded delta_rows below uses it.
        prev_frontier_rows = int(meta["frontier_rows"])
        compact = (
            delta_rows + n_attempts
            >= cfg.compact_delta_ratio * max(prev_frontier_rows, 1)
            or (epoch + 1) % max(cfg.frontier_compact_epochs, 1) == 0
        )
        # --- host_state delta: this epoch's politeness cursors ---
        # cursors only ever grow, so the delta is just the active hosts'
        # new values; the view merges by max() (hosts without a row default
        # to 0 through the left-join coalesce above). Never O(hosts)/epoch.
        # TTL mode adds the refreshed robots caches as rows of their own
        # (null cursor), which the view's max_by picks up.
        host_state_delta = events.groupBy("host").agg(
            F.max("new_next_allowed").alias("next_allowed_ms")
        )
        if ttl_mode:
            host_state_delta = host_state_delta.unionByName(
                robots_eff.filter("_refreshed").drop("_refreshed"),
                allowMissingColumns=True,
            )

        # --- frontier delta: attempted rows, reconstructed from events ---
        # MOR: no join against the frontier at all — the event carries the
        # full row (not_before/discovered_epoch passthrough), so the delta
        # is O(attempts) and the big table never shuffles for the update.
        frontier_changed = events.select(
            "url_hash", "url_canon", "host", "hop", "seed_id",
            F.when(F.col("outcome") == "FETCHED", "FETCHED")
            .when(F.col("outcome") == "FAILED", "FAILED")
            .otherwise(F.lit("QUEUED"))
            .alias("state"),
            (
                F.col("retry_count")
                + F.when(F.col("outcome") == "RETRY", 1).otherwise(0)
            ).cast("int").alias("retry_count"),
            F.when(
                F.col("outcome") == "RETRY",
                F.col("fetch_start_ms") + cfg.retry_delay_ms,
            ).otherwise(F.col("not_before_ms")).cast("long")
            .alias("not_before_ms"),
            "discovered_epoch",
            "trans_hops",
            "priority",
            F.lit(epoch + 1).alias("updated_epoch"),
        )

        mark('state_updates')
        # --- discovery: explode outlinks of successful 2xx fetches ---
        fetched_pages = (
            events.filter(
                (F.col("outcome") == "FETCHED")
                & (F.col("status") >= 200) & (F.col("status") < 300)
            )
            .select("url_canon", "hop", "seed_id", "fetch_start_ms",
                    F.col("host").alias("disc_host"),
                    F.col("trans_hops").alias("parent_trans"),
                    F.col("priority").alias("parent_priority"))
            .join(self.pages.select("url_canon", "outlinks"), "url_canon")
        )
        # resolve + canonicalize + within-page dedup happen inside ONE
        # Arrow-NATIVE pass (mapInArrow, functions/urls.make_flat_resolver):
        # a page's links live in one row, so the simulator's page_seen
        # dedup needs no epoch-wide exchange (per-page dedup == the former
        # dropDuplicates([disc_url, cand_canon])), and the explode happens
        # inside the batch, so no JVM Generate node and no per-link Python
        # for the clean majority — the ListArray's flat string buffer is
        # classified by C++ RE2 kernels, clean-relative links are resolved
        # by vectorized concat, and Python touches only the messy-link
        # minority plus one PSL walk per DISTINCT host.
        #
        # MEASURED (SURVEY §4 "outlink resolver"; exactness against the
        # per-link loop resolve_outlinks_arr_udf is pinned in
        # tests/test_discovery_ab_parity.py):
        #  - JVM array-HOF re-expressions are exact but 35-75% SLOWER than
        #    the per-link Arrow loop (HOF lambdas evaluate interpreted,
        #    outside codegen);
        #  - this flat Arrow-native pass is exact and ~2.8x FASTER than
        #    that loop (8M links at 16 cores: 3.0-3.8 s -> 1.2-1.4 s,
        #    ~6M links/s) because the clean majority never materializes
        #    Python objects at all.
        # All variants are narrow per-partition ops (zero shuffle, linear
        # in executors), so the fastest constant wins at 100x too.
        # cash = OPIC split (C10): parent cash / resolved unique outlinks.
        disc_in = fetched_pages.select(
            F.col("url_canon").alias("disc_url"),
            "hop", "seed_id", "fetch_start_ms", "disc_host", "parent_trans",
            "parent_priority",
            F.slice("outlinks", 1, cfg.max_outlinks).alias("outlinks"),
        )
        _passthrough = ["disc_url", "hop", "seed_id", "fetch_start_ms",
                        "disc_host", "parent_trans"]
        raw_links = disc_in.mapInArrow(
            make_flat_resolver(
                "disc_url", "outlinks", "parent_priority", _passthrough,
            ),
            StructType(
                [disc_in.schema[name] for name in _passthrough]
                + [
                    StructField("cash", DoubleType()),
                    StructField("cand_canon", StringType()),
                    StructField("cand_host", StringType()),
                    StructField("cand_reg_domain", StringType()),
                ]
            ),
        )
        candidates = raw_links.select(
            F.col("cand_canon").alias("url_canon"),
            (F.col("hop") + 1).cast("int").alias("hop"),
            "seed_id", "fetch_start_ms", "disc_host", "disc_url",
            F.col("cand_host").alias("host"),
            F.col("cand_reg_domain").alias("reg_domain"),
            # transclusion chain: embed hop extends the trailing-E count,
            # a navigational hop resets it (crawler-beans.cxml:131-186)
            F.when(
                is_embed_col(F.col("cand_canon"), cfg),
                F.col("parent_trans") + 1,
            ).otherwise(F.lit(0)).cast("int").alias("trans_hops"),
            F.col("cash").alias("priority"),
        )
        # --- wave dedup, scope counters and the URL-seen check: ONE
        # aggregation consumes the resolver output and ONE pin holds the
        # result, which both admission and the metrics read. min(struct)
        # over the in-scope rows picks the first discoverer in global fetch
        # order (identical winner to a window: the (fetch_start_ms,
        # disc_host, disc_url) key is unique per candidate URL); the same
        # pass counts in-scope discoveries (n_disc) and out-of-scope
        # rejects (n_reject, the C17 metric). host is a pure function of
        # url_canon, so max(host) is the winner's host and the rejects'
        # host alike. Partial map-side aggregation shrinks the shuffle to
        # one row per distinct URL, so the O(discovered-links) resolver
        # output is never materialized.
        scoped = apply_scope(candidates, seed_domains, self.robots, cfg)
        # Presence = in base OR in delta, as seen flags from LEFT joins
        # rather than anti-joins, so the pinned rows keep every discovery
        # for the metrics while `admit` decides the frontier append. The
        # base side merges against the base layout's url_canon column on
        # the aggregate's own partitioning and sort: no Exchange and no
        # Sort on either side (see _base_layout), and no added rows (the
        # base is unique on url_canon). The merge hint matters: without it
        # the planner broadcasts the string-keyed base set, which measured
        # higher peak RSS (SURVEY §4 "one base layout"). The delta side is
        # the gated broadcast of the pinned delta keys (unique on
        # url_hash).
        disc = (
            scoped.groupBy("url_canon")
            .agg(
                F.min(
                    F.when(
                        F.col("in_scope"),
                        F.struct("fetch_start_ms", "disc_host", "disc_url",
                                 "hop", "seed_id", "host", "trans_hops",
                                 "priority"),
                    )
                ).alias("w"),
                F.sum(
                    F.when(F.col("in_scope"), 1).otherwise(0)
                ).alias("n_disc"),
                F.sum(
                    F.when(~F.col("in_scope"), 1).otherwise(0)
                ).alias("n_reject"),
                F.max("host").alias("host"),
            )
            .join(
                self._base_layout(m)
                .select("url_canon", F.lit(True).alias("_in_base"))
                .hint("merge"),
                "url_canon", "left",
            )
            .withColumn("url_hash", F.xxhash64("url_canon"))
        )
        admit = F.col("w").isNotNull() & F.col("_in_base").isNull()
        if latest is not None:
            disc = disc.join(
                self._delta_keys(delta_rows, latest)
                .withColumn("_in_delta", F.lit(True)),
                "url_hash", "left",
            )
            admit = admit & F.col("_in_delta").isNull()
        # the admission count rides the pin's materialization, so the
        # commit's meta is known before the commit starts. A columnar
        # persist here (column pruning for the two readers) tied the RDD
        # localCheckpoint within noise (interleaved 16-core A/B): the
        # simpler default stays.
        obs_ad = Observation()
        disc = self._pin(
            disc.select("url_hash", "url_canon", "host", "w", "n_disc",
                        "n_reject", admit.alias("admit"))
            .observe(obs_ad, F.sum(F.col("admit").cast("long")).alias("q"))
        )
        mark('discovery_dag')

        new_rows = disc.filter("admit").select(
            "url_hash", "url_canon", "host",
            F.col("w.hop").alias("hop"),
            F.col("w.seed_id").alias("seed_id"),
            F.lit("QUEUED").alias("state"),
            F.lit(0).alias("retry_count"),
            F.lit(0).cast("long").alias("not_before_ms"),
            F.lit(epoch + 1).alias("discovered_epoch"),
            F.col("w.trans_hops").alias("trans_hops"),
            F.col("w.priority").alias("priority"),
            F.lit(epoch + 1).alias("updated_epoch"),
        )

        frontier_delta_next = frontier_changed.unionByName(new_rows)

        # --- metrics (C17): per-host counters for this epoch ---
        # ONE aggregation over a tagged union of the two pinned sources,
        # the events and the discovery pin: partial map-side aggregation
        # collapses each branch to per-host rows before ONE exchange (a
        # depth-2 plan, where a join per counter would chain sequential
        # stages), and a host present in either source survives, its
        # absent counters summing the union's zero fillers. skipped_seen
        # (in-scope discoveries not admitted: repeats within the wave plus
        # URLs already in the frontier) is arithmetic over the pin, so the
        # frontier never shuffles for metrics.
        _z = F.lit(0).cast("long")
        counters = ("fetched", "errors", "failed", "skipped_scope", "disc",
                    "queued")

        def _mrow(**vals):
            return [F.col("host")] + [
                vals[c].cast("long").alias(c) if c in vals else _z.alias(c)
                for c in counters
            ]

        m_events = events.select(*_mrow(
            fetched=F.when(F.col("outcome") == "FETCHED", 1).otherwise(0),
            errors=F.when(F.col("outcome") != "FETCHED", 1).otherwise(0),
            failed=F.when(F.col("outcome") == "FAILED", 1).otherwise(0),
        ))
        m_disc = disc.select(*_mrow(
            disc=F.col("n_disc"), skipped_scope=F.col("n_reject"),
            queued=F.col("admit"),
        ))
        metrics = (
            m_events.unionByName(m_disc)
            .groupBy("host")
            .agg(*[F.sum(c).alias(c) for c in counters])
            .select(
                F.lit(epoch).alias("epoch"),
                "host",
                "fetched",
                "errors",
                "failed",
                (F.col("disc") - F.col("queued")).alias("skipped_seen"),
                "skipped_scope",
                "queued",
            )
        )
        mark('metrics_dag')

        # --- commit: fetch log, MOR deltas, adaptive compaction (`compact`
        # was decided right after the events pin, where the attempt count
        # first became known) ---
        # fetch_log stores events only (incl. the politeness cursor as
        # lineage); the exact global sequence is DERIVED at read time from
        # the total order (epoch, fetch_start_ms, host, url_canon) —
        # materializing it per epoch costs jobs, stores nothing the sort
        # key doesn't already encode. Payload verification (url_hash is
        # unique within an epoch's events) rides the same append.
        fetch_log = events.withColumn("epoch", F.lit(epoch))
        if self.images is not None:
            fetch_log = fetch_log.join(
                self._verify_payloads(events), "url_hash", "left"
            )
        # the observations were materialized by the events and discovery
        # pins, so the whole meta is known before the commit starts
        n_new = int(obs_ad.get["q"] or 0)
        # queued' = queued − terminal attempts + newly admitted
        queued_remaining = int(meta["queued"]) - n_fetched - n_failed + n_new
        # the delta log's rows with this epoch's appended: what a
        # compaction merges
        pending = delta_rows + n_attempts + n_new
        replace: dict[str, DataFrame] = {}
        append: dict[str, DataFrame] = {"fetch_log": fetch_log}
        drop: list[str] = []
        if compact:
            # rewrite the base as the merged view (including this epoch's
            # delta) and drop the delta logs — read amplification resets.
            # `latest` (pinned above) already collapses the old delta log;
            # this epoch's rows all carry a strictly higher updated_epoch,
            # so one more latest-wins over the small union is exact.
            all_d = frontier_delta_next
            if latest is not None:
                all_d = all_d.unionByName(latest)
            replace["frontier"] = self._merge_latest(
                pending, self._read(m, "frontier"), self._latest_wins(all_d)
            )
            replace["host_state"] = self._host_state_view(
                m, host_state_delta
            )
            drop = ["frontier_delta", "host_state_delta"]
        else:
            append["frontier_delta"] = frontier_delta_next
            append["host_state_delta"] = host_state_delta
        # per-host metrics are a write-only distributed sink (at 10^8 hosts
        # a driver collect is an OOM): the commit pool writes them beside
        # the deltas, so the epoch's manifest lists its own metrics
        append["metrics"] = metrics

        done = (queued_remaining == 0
                or total_fetched + n_fetched >= cfg.max_fetches)
        self.catalog.commit(
            replace=replace or None,
            append=append,
            drop=drop or None,
            meta={
                "epoch": epoch + 1,
                "total_fetched": total_fetched + n_fetched,
                "queued": queued_remaining,
                "frontier_rows": prev_frontier_rows + n_new,
                # true delta-log row count (attempts + admissions) —
                # powers the _delta_keys broadcast gate with no count() job
                "delta_rows": 0 if compact else pending,
                "done": done,
            },
        )
        mark('commit')
        self._release_pins()
        self.last_timings = {k: v for k, v in _t.items() if k != '_start'}
        tracker = self.spark.sparkContext.statusTracker()
        try:
            self.last_timings['n_jobs'] = len(
                tracker.getJobIdsForGroup(job_group)
            )
        except Exception:
            pass
        if compiles0 is not None:
            self.last_timings['n_compiles'] = (
                _codegen_compiles(self.spark) - compiles0
            )
        return EpochStats(epoch, n_fetched, n_attempts, n_new,
                          queued_remaining, done)

    # ------------------------------------------------------------------ #
    # full crawl                                                          #
    # ------------------------------------------------------------------ #

    def run(self, max_epochs: int | None = None) -> list[EpochStats]:
        self.bootstrap()
        stats: list[EpochStats] = []
        limit = max_epochs if max_epochs is not None else self.cfg.max_epochs
        # one manifest read: each epoch returns what its commit wrote
        meta = self.meta()
        epoch, done = int(meta["epoch"]), bool(meta.get("done"))
        while not done and epoch < limit:
            stats.append(self.run_epoch())
            epoch, done = stats[-1].epoch + 1, stats[-1].done
        return stats

    # convenience readers -------------------------------------------------

    def fetch_log(self) -> DataFrame:
        """Fetch log with the exact global sequence derived from the total
        order (epoch, fetch_start_ms, host, url_canon). Inspection-scale
        reads use one window; bulk exports should rank with
        ``plans.ordering.global_row_number`` instead. ``bytes_ok`` and
        ``caption_ok`` are null unless the crawl verifies payloads."""
        m = self.catalog.load_manifest()
        df = self._read(m, "fetch_log").drop("new_next_allowed")
        w = Window.orderBy("epoch", "fetch_start_ms", "host", "url_canon")
        return df.withColumn("seq", F.row_number().over(w) - 1).orderBy("seq")

    def frontier(self) -> DataFrame:
        """Current frontier (merged MOR view: base latest-wins deltas)."""
        m = self.catalog.load_manifest()
        return self._merge_latest(
            int(m["meta"].get("delta_rows", 0)), self._read(m, "frontier"),
            self._delta_latest(m),
        )

    def metrics(self) -> DataFrame:
        return self._read(self.catalog.load_manifest(), "metrics")

    def flush_pending_metrics(self) -> None:
        """No-op: each epoch's metrics commit with the epoch. Kept because
        perfbench/crawl.py and perfbench/make_digests.py still call it."""

    def close(self) -> None:
        """Hand the session back as the engine found it: free the pins of
        an epoch that raised before its commit, the base layout, the
        caches ``__init__`` took (the pages layout, and the robots,
        robots_versions and images tables the caller had not cached), and
        restore constraint propagation. The catalog readers still work
        afterwards."""
        self._release_pins()
        if self._layout is not None:
            self._layout[1].unpersist()
            self._layout = None
        for df in self._own_caches:
            df.unpersist()
        self._own_caches.clear()
        if self._prev_constraint_propagation is None:
            self.spark.conf.unset(_CONSTRAINT_PROPAGATION)
        else:
            self.spark.conf.set(
                _CONSTRAINT_PROPAGATION, self._prev_constraint_propagation
            )
