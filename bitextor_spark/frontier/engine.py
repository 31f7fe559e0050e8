"""The distributed frontier engine — wave-based crawl as DataFrame plans.

One epoch = one Spark job pipeline:

  queued frontier ──(per-host top-k prefix)──► schedulable candidates
     ⋈ pages (status/duration)  ⋈ robots (broadcast)  ⋈ host_state
     ──repartition(host)+sort, mapInArrow(politeness walk)──► fetch events
     (pinned once; the commit writes them as the fetch_log delta)
     ──window(order by start,host,url)──► fetch_log seq (exact order)
     events ⋈ pages.outlinks ──mapInArrow flat resolver──► raw links
     (RE2-classified in-batch: resolve+canonicalize+explode+page dedup)
     ──scope rules (JVM exprs) + ONE groupBy(url)──► first-discoverer
     winner, in-scope dupe count, per-host reject count (fused pass)
     ──exact URL-seen anti-join against the persisted base url_hash
     layout + the gated delta-key anti-join──►
     admitted (pinned once; the commit writes branch off it)
     ──► frontier ∪ admitted ; snapshot commit (atomic manifest) that
     writes the fetch log, the deltas and the epoch's per-host metrics
     (one tagged-union agg) concurrently, so a committed epoch carries its
     own fetch log and metrics

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
a correctness step, so it has two outcomes: while the gate's over-cap
excess stays under cfg.rank_excess_rows the whole queued set flows to the
walk in one consumption; past it every host is ranked by the skew-proof
per_key_topk_passthrough.

Frontier state lives in snapshot tables (sources/snapshots.py): a
single-version base plus a per-epoch delta log. The log's latest version
per URL is the read itself while it holds one append, and one latest-wins
groupBy (_latest_wins, the same fold compaction runs) once it holds more.
An epoch loads the catalog's manifest once and resolves every state read,
cache key and regime decision against it; the commit publishes the next
one. Every epoch is resumable (kill → rerun uncommitted epoch, identical
by the virtual clock).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable

import numpy as np
import pandas as pd
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from bitextor_spark.config import CrawlConfig
from bitextor_spark.frontier.politeness import schedule_host_arrays
from bitextor_spark.plans.scope import apply_scope
from bitextor_spark.plans.topk import per_key_topk_passthrough
from bitextor_spark.functions.urls import (
    canonicalize_full_udf,
    make_flat_resolver,
)
from bitextor_spark.session import unpin
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
HOST_STATE_SCHEMA = "host string, next_allowed_ms long"
_CONSTRAINT_PROPAGATION = "spark.sql.constraintPropagation.enabled"
ROBOTS_STATE_SCHEMA = "host string, crawl_delay_s int, fetched_ms long"
# MOR reads broadcast the delta key set into the base anti-join while the
# manifest's tracked delta row count stays under this gate (8 B hashes →
# ~32 MB); past it the merge becomes a shuffle join (SURVEY §4)
DELTA_BROADCAST_ROWS = 4_000_000


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
        verify_payloads: bool = False,
        robots_versions: DataFrame | None = None,
    ):
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
        self.robots = robots.cache()
        # versioned robots timeline (host, valid_from_ms, crawl_delay_s)
        # for TTL-mode crawls; per-epoch reads are semi-joined down to the
        # epoch's active hosts, never scanned whole into the driver
        self.robots_versions = (
            robots_versions.cache() if robots_versions is not None else None
        )
        self.seeds = seeds
        # image+caption payload table (input_hint shape); verified per fetch
        # wave in Arrow batches when verify_payloads is on (M4 invariant)
        self.images = images.cache() if images is not None else None
        self.verify_payloads = verify_payloads and images is not None
        # one partition count for every layout the engine builds (pages,
        # queued base, base urls, the walk's host partitions), read once:
        # the exchange-free fetch join needs pages and the queued base to
        # agree on it
        self._n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # pages is the fetch target: co-partition AND co-sort once by
        # url_canon so the per-epoch fetch/discovery sort-merge joins reuse
        # this cached layout — no exchange and no re-sort of the (static,
        # world-sized) pages side per epoch; only the O(candidates) probe
        # side shuffles.
        self.pages = (
            pages.repartition(self._n_shuffle, "url_canon")
            .sortWithinPartitions("url_canon")
            .cache()
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
        # name -> (frontier base paths, persisted df); see _base_cached
        self._base_caches: dict[str, tuple] = {}

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
        "robots_state": ROBOTS_STATE_SCHEMA,
        "robots_state_delta": ROBOTS_STATE_SCHEMA,
        "seed_domains": "reg_domain string",
        "fetch_log": EVENT_SCHEMA + ", epoch int",
        "fetch_verify": (
            "url_hash long, bytes_ok boolean, caption_ok boolean, epoch int"
        ),
        "metrics": (
            "epoch int, host string, fetched bigint, errors bigint, "
            "failed bigint, skipped_seen bigint, skipped_scope bigint, "
            "queued bigint"
        ),
    }

    def _read(self, m: Manifest, name: str) -> DataFrame | None:
        """State table ``name`` as manifest ``m`` pins it; None when the
        manifest does not list it (a delta log after compaction, the
        robots cache before the first TTL-mode epoch)."""
        df = self.catalog.read(
            self.spark, name, m, schema=self._TABLE_SCHEMAS[name]
        )
        if df is not None and name == "frontier":
            # forward migration: snapshots committed before the trans_hops/
            # priority columns existed read them as NULL under the explicit
            # schema — resume with the schema defaults
            df = (
                df.withColumn(
                    "trans_hops",
                    F.coalesce("trans_hops", F.lit(0)).cast("int"),
                )
                .withColumn("priority", F.coalesce("priority", F.lit(1.0)))
                .withColumn(
                    "updated_epoch",
                    F.coalesce("updated_epoch", F.lit(0)).cast("int"),
                )
            )
        return df

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
    #  - presence (the URL-seen anti-join) needs NO merge: any version    #
    #    proves membership;                                               #
    #  - the base is single-version by construction (compaction output),  #
    #    so latest-wins only ever runs over the DELTA LOG — the big side  #
    #    contributes one anti-join against the deltas' key set, which is  #
    #    broadcast while the manifest's delta_rows stays under            #
    #    DELTA_BROADCAST_ROWS (no AQE dependence), shuffled beyond: one   #
    #    decision per epoch, from its manifest (_delta_keys);             #
    #  - host politeness cursors only grow, so the host view is a plain   #
    #    max() — a CRDT-style merge, no versioning needed.                #
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
    def _delta_keys(m: Manifest, latest: DataFrame) -> DataFrame:
        """The changed-key set of ``latest``, with a broadcast hint while
        the row count the commits track in ``m``'s meta (reset at
        compaction) stays under DELTA_BROADCAST_ROWS — explicit, so it
        holds with AQE off; dropped past the gate so a 10^10-scale delta
        backlog becomes a shuffle join, never a multi-GB driver
        broadcast."""
        keys = latest.select("url_hash")
        if int(m["meta"].get("delta_rows", 0)) <= DELTA_BROADCAST_ROWS:
            return F.broadcast(keys)
        return keys

    def _delta_latest(self, m: Manifest) -> DataFrame | None:
        """Latest version per changed url_hash, or None when no delta log
        exists. run_epoch pins this once (it is O(changes since last
        compaction)) and threads it through every view below — it feeds
        two branches of the candidate DAG plus the discovery anti-join, so
        recomputing it per consumer multiplies the latest-wins cost. Two
        paths, both exact:

        - one append: each per-epoch append is single-version per url_hash
          (a URL changes at most once per epoch, and an epoch's attempted
          and admitted sets are disjoint), so latest-wins is the identity
          and the read is returned as is;
        - two or more: one _latest_wins groupBy over the whole log, the
          same fold compaction runs."""
        deltas = self._read(m, "frontier_delta")
        if deltas is None or len(m["tables"]["frontier_delta"]["paths"]) <= 1:
            return deltas
        return self._latest_wins(deltas)

    def _merge_latest(
        self, m: Manifest, base: DataFrame, latest: DataFrame | None
    ) -> DataFrame:
        """base (single-version) merged with the latest delta versions.
        The wide groupBy already ran on the (small) delta side; the base
        pays one anti-join against the broadcast-gated changed-key set."""
        if latest is None:
            return base
        unchanged = base.join(
            self._delta_keys(m, latest), "url_hash", "left_anti"
        )
        return unchanged.unionByName(latest)

    def _base_cached(
        self, m: Manifest, name: str, build: Callable[[], DataFrame]
    ) -> DataFrame:
        """``build()`` persisted ACROSS epochs, keyed by ``m``'s frontier
        base paths: the base is immutable between compactions, so a layout
        derived from it must not pay an O(frontier) exchange every epoch.
        Rebuilt when the manifest's base paths change (compaction or
        resume); recomputable lineage (persist, not checkpoint), so
        executor loss re-reads parquet instead of failing the epoch."""
        key = tuple(m["tables"]["frontier"]["paths"])
        cached = self._base_caches.get(name)
        if cached is not None and cached[0] == key:
            return cached[1]
        if cached is not None:
            unpin([cached[1]])
        df = build().persist()
        self._base_caches[name] = (key, df)
        return df

    def _queued_base(self, m: Manifest) -> DataFrame:
        """Base-frontier QUEUED rows, hash-partitioned + sorted on
        URL_CANON — the SAME key the (static, cached) pages table is laid
        out on — so the per-epoch fetch join is exchange-free and
        sort-free on BOTH sides; the delta anti-join on url_hash rides the
        broadcast hint (DELTA_BROADCAST_ROWS gate), which preserves this
        layout. Past the gate (compaction-overdue delta backlog) it
        degrades to one shuffle — the regime compaction resets."""
        return self._base_cached(m, "queued", lambda: (
            self._read(m, "frontier")
            .filter(F.col("state") == "QUEUED")
            .repartition(self._n_shuffle, "url_canon")
            .sortWithinPartitions("url_canon")
        ))

    def _base_host_counts(self, m: Manifest) -> DataFrame:
        """Per-host row count of the QUEUED base — the hot-host bound's
        base-side term, aggregated ONCE per compaction (O(distinct hosts)
        rows) so the per-epoch gate scans only the O(delta) side instead
        of re-aggregating the whole queued base every epoch. The counts
        ignore not_before and changed keys — both only ever INFLATE a
        host's count, preserving the gate's hot ⊇ true-hot upper-bound
        invariant (a false-positive hot host pays one redundant rank; a
        miss stays impossible)."""
        return self._base_cached(m, "host_counts", lambda: (
            self._queued_base(m)
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("_n"))
        ))

    def _base_urls(self, m: Manifest) -> DataFrame:
        """url_hash set of the frontier BASE, hash-partitioned + sorted
        within partitions: the URL-seen sort-merge anti-join reuses this
        layout, so only the small candidate side shuffles."""
        return self._base_cached(m, "urls", lambda: (
            self._read(m, "frontier")
            .select("url_hash")
            .repartition(self._n_shuffle, "url_hash")
            .sortWithinPartitions("url_hash")
        ))

    def _state_parts(
        self, m: Manifest, name: str, new: DataFrame | None
    ) -> list[DataFrame]:
        """A per-host state table's base, its delta log and ``new`` (this
        epoch's rows, when compaction folds them in), whichever exist."""
        parts = (self._read(m, name), self._read(m, f"{name}_delta"), new)
        return [p for p in parts if p is not None]

    def _host_state_view(
        self, m: Manifest, new: DataFrame | None = None
    ) -> DataFrame:
        """Per-host politeness cursor. Cursors only grow, so the merge of
        base ∪ deltas ∪ ``new`` is a plain max()."""
        parts = self._state_parts(m, "host_state", new)
        if len(parts) == 1:
            return parts[0]
        return (
            reduce(DataFrame.unionByName, parts)
            .groupBy("host")
            .agg(F.max("next_allowed_ms").alias("next_allowed_ms"))
        )

    def _robots_state_view(
        self, m: Manifest, new: DataFrame | None = None
    ) -> DataFrame | None:
        """Per-host robots cache (crawl_delay_s, fetched_ms) — MOR like
        host_state: fetch timestamps only grow, so latest-wins is a
        max_by over base ∪ deltas ∪ ``new``. None until the first
        TTL-mode epoch."""
        parts = self._state_parts(m, "robots_state", new)
        if not parts:
            return None
        return (
            reduce(DataFrame.unionByName, parts)
            .groupBy("host")
            .agg(
                F.max_by(
                    F.struct("crawl_delay_s", "fetched_ms"), "fetched_ms"
                ).alias("_w")
            )
            .select("host", "_w.*")
        )

    def _effective_robots(
        self, m: Manifest, active_hosts: DataFrame, epoch_start: int
    ) -> DataFrame:
        """TTL-mode effective Crawl-delay per active host, plus the
        refresh decision (robotsValidityDurationSeconds, crawler-beans
        .cxml:239-243, epoch-quantized — the simulator applies the same
        rule). O(hosts with schedulable work), never O(all hosts): the
        versions table is semi-joined down to the epoch's active hosts
        before its latest-version groupBy, and all joins shuffle on host —
        the same key the politeness groupBy clusters on."""
        cfg = self.cfg
        cur = (
            self.robots_versions.join(active_hosts, "host", "left_semi")
            .filter(F.col("valid_from_ms") <= epoch_start)
            .groupBy("host")
            .agg(
                F.max_by("crawl_delay_s", "valid_from_ms").alias("_cur_delay")
            )
        )
        state = self._robots_state_view(m)
        j = active_hosts.join(cur, "host", "left")
        if state is not None:
            j = j.join(state, "host", "left")
        else:
            j = j.withColumn(
                "crawl_delay_s", F.lit(None).cast("int")
            ).withColumn("fetched_ms", F.lit(None).cast("long"))
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
        import time as _time

        _t = {"_start": _time.time()}

        def mark(name: str) -> None:
            now = _time.time()
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
        epoch_start = epoch * cfg.epoch_window_ms
        epoch_end = epoch_start + cfg.epoch_window_ms

        host_state = self._host_state_view(m)
        seed_domains = self._read(m, "seed_domains")

        # one materialization of the delta-latest table per epoch (pinned,
        # O(changes since compaction)); every MOR view this epoch reads it.
        # persist (columnar cache), NOT localCheckpoint: most consumers of
        # this wide table read 1-2 columns (the url_hash key set for the
        # anti-joins/broadcast build, host+not_before for the hot-host
        # bound) and an RDD-backed checkpoint cannot column-prune, while
        # the InMemoryRelation serves pruned batches.
        latest = self._delta_latest(m)
        delta_keys = None
        if latest is not None:
            latest = self._pin(latest, columnar=True)
            delta_keys = self._delta_keys(m, latest)
        mark('pin_delta')

        # not_before/priority filters run AFTER the latest-wins merge (a
        # retry bump raises not_before; pre-merge filtering could drop the
        # latest version while an older, earlier-scheduled one survives) —
        # here per SIDE of the merge, which is equivalent: base-side rows
        # that survive the anti-join ARE their own latest version, and the
        # delta side filters its latest-wins output. The fetch resolve
        # (pages join) also runs per side, BEFORE the union: the base side
        # shares the pages cache's url_canon layout, so the frontier-sized
        # join side pays NO exchange and NO sort — only the O(delta) side
        # shuffles into the pages layout.
        priority_mode = cfg.queue_order == "priority"

        def prep(side: DataFrame) -> DataFrame:
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

        qb = self._queued_base(m)
        if latest is not None:
            qb = qb.join(delta_keys, "url_hash", "left_anti")
        queued = prep(qb)
        if latest is not None:
            queued = queued.unionByName(
                prep(latest.filter(F.col("state") == "QUEUED"))
            )
        queued = (
            queued.withColumn("status", F.coalesce("page_status", F.lit(404)))
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
        # robots_state delta in the commit pool. Static mode: zero cost.
        ttl_mode = (
            cfg.robots_ttl_ms is not None and self.robots_versions is not None
        )
        robots_eff = None
        if ttl_mode:
            robots_eff = self._pin(
                self._effective_robots(
                    m, queued.select("host").distinct(), epoch_start
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
        # cap, never a correctness step. It is gated on an UPPER-BOUND
        # over-cap volume: the bound's base-side term is the
        # per-compaction cached host-count table (O(hosts), see
        # _base_host_counts) and its per-epoch work is one groupBy over
        # the pinned delta projection — O(changes), never an O(queued)
        # scan per epoch. Every relaxation (not_before ignored, changed
        # base rows counted on both sides) inflates counts, so a stale
        # count can only force a redundant rank, never an undersized one.
        bound = self._base_host_counts(m)
        if latest is not None:
            bound = bound.unionByName(
                latest.filter(F.col("state") == "QUEUED")
                .groupBy("host").agg(F.count(F.lit(1)).alias("_n"))
            )
        # one aggregate job (NOT limit().collect(): CollectLimit executes
        # as incremental scale-up jobs — 5+ jobs for an empty result)
        excess = int(
            bound.groupBy("host").agg(F.sum("_n").alias("_n"))
            .filter(F.col("_n") > k_cap)
            .agg(F.sum(F.col("_n") - k_cap)).collect()[0][0] or 0
        )
        mark('topk_gate')
        if excess <= cfg.rank_excess_rows:
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
            .join(host_state, "host", "left")
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
        import pyarrow as pa
        import pyarrow.compute as pc

        walk_sort = (
            [F.col("host"), F.col("priority").desc(), F.col("hop"),
             F.col("url_canon")]
            if priority_mode
            else [F.col("host"), F.col("hop"), F.col("url_canon")]
        )

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
                picked, fstart, outc, cursor = schedule_host_arrays(
                    np.arange(e - s),  # rows arrive pre-sorted per host
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
        prev_frontier_rows = int(
            meta.get("frontier_rows", meta.get("queued", 0))
        )
        compact = (
            int(meta.get("delta_rows", 0)) + n_attempts
            >= cfg.compact_delta_ratio * max(prev_frontier_rows, 1)
            or (epoch + 1) % max(cfg.frontier_compact_epochs, 1) == 0
        )
        # fetch_log stores events only (incl. the politeness cursor as
        # lineage); the exact global sequence is DERIVED at read time from
        # the total order (epoch, fetch_start_ms, host, url_canon) —
        # materializing it per epoch costs jobs, stores nothing the sort
        # key doesn't already encode.
        fetch_log_extra = None
        if self.verify_payloads:
            # verification results append as a side table keyed by url_hash
            # + epoch; fetch_log() joins them at read time
            fetch_log_extra = self._verify_payloads(events).withColumn(
                "epoch", F.lit(epoch)
            )
        # --- host_state delta: this epoch's politeness cursors ---
        # cursors only ever grow, so the delta is just the active hosts'
        # new values; the view merges by max() (hosts without a row default
        # to 0 through the left-join coalesce above). Never O(hosts)/epoch.
        host_state_delta = events.groupBy("host").agg(
            F.max("new_next_allowed").alias("next_allowed_ms")
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
        from pyspark.sql.types import (
            DoubleType, StringType, StructField, StructType,
        )

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
        from bitextor_spark.plans.scope import is_embed_col

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
        # --- wave dedup + scope metrics: ONE aggregation consumes the
        # resolver output. min(struct) over the in-scope rows picks the
        # first discoverer in global fetch order (identical winner to a
        # window: the (fetch_start_ms, disc_host, disc_url) key is unique
        # per candidate URL) while the same pass counts in-scope
        # discoveries (n_disc, the dupe counter) and out-of-scope rejects
        # (n_reject, the C17 metric) — host is a pure function of
        # url_canon, so the reject counter regroups exactly. Partial
        # map-side aggregation shrinks the shuffle to one row per distinct
        # URL, and the O(discovered-links) resolver output is never
        # checkpointed (it used to be the epoch's largest block-store
        # write, re-scanned again by the metrics write at commit).
        scoped = apply_scope(candidates, seed_domains, self.robots, cfg)
        # pin mode note (r5, interleaved 16-core A/B): a columnar persist
        # of this aggregate (column pruning for its three consumers) ties
        # the RDD localCheckpoint within noise — keep the simpler default.
        grouped_all = self._pin(
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
                F.max("host").alias("_any_host"),
            )
        )
        mark('discovery_dag')
        grouped = (
            grouped_all.filter(F.col("w").isNotNull())
            .select(
                "url_canon",
                F.col("w.host").alias("host"),
                F.col("w.hop").alias("hop"),
                F.col("w.seed_id").alias("seed_id"),
                F.col("w.trans_hops").alias("trans_hops"),
                F.col("w.priority").alias("priority"),
                "n_disc",
            )
            .withColumn("url_hash", F.xxhash64("url_canon"))
        )
        # --- seen check: exact anti-join, presence = in base OR in delta ---
        # The base side reuses the cross-epoch persisted url_hash layout
        # (_base_urls), so only the candidate side shuffles; the delta side
        # is the gated broadcast of the pinned delta keys — never a fresh
        # O(frontier) exchange per epoch. The ADMITTED set pins because two
        # commit-pool writes (frontier_delta, metrics' queued counter)
        # branch off it — unpinned they would each re-run both anti-joins.
        # The per-host dupe/unique counters read the pinned aggregate.
        admitted = grouped.drop("n_disc").join(
            self._base_urls(m), "url_hash", "left_anti"
        )
        if latest is not None:
            admitted = admitted.join(delta_keys, "url_hash", "left_anti")
        # the admission counter rides the pin's materialization (the other
        # half of the former metrics-write observation)
        obs_ad = Observation()
        admitted = self._pin(
            admitted.observe(obs_ad, F.count(F.lit(1)).alias("q"))
        )

        new_rows = admitted.select(
            "url_hash", "url_canon", "host", "hop", "seed_id",
            F.lit("QUEUED").alias("state"),
            F.lit(0).alias("retry_count"),
            F.lit(0).cast("long").alias("not_before_ms"),
            F.lit(epoch + 1).alias("discovered_epoch"),
            "trans_hops",
            "priority",
            F.lit(epoch + 1).alias("updated_epoch"),
        )

        frontier_delta_next = frontier_changed.unionByName(new_rows)

        # --- metrics (C17): per-host counters for this epoch ---
        # ONE aggregation over a tagged union of the four (narrow, already
        # pinned) sources instead of the former five per-host groupBys
        # stitched by four FULL OUTER joins: the join chain executed as
        # four SEQUENTIAL sort-merge stages over tiny per-host tables, and
        # its ~4 stage latencies made the metrics write the commit pool's
        # critical path (measured 3.3 s of the 3.4 s commit at 16 cores —
        # pure fixed cost at any data volume). The union form is depth-2:
        # partial map-side aggregation collapses every branch to per-host
        # rows before ONE exchange, and hosts present in any source
        # survive exactly as with the full joins (absent metrics sum as
        # the union's zero fillers; every counter is already long).
        # seen_dupe (candidates already in the frontier) = unique − admitted
        # per host: arithmetic, not a frontier semi-join — the frontier
        # never shuffles for metrics.
        _z = F.lit(0).cast("long")

        def _mrow(host_col, **vals):
            cols = [F.col(host_col).alias("host") if host_col != "host"
                    else F.col("host")]
            for c in ("fetched", "errors", "failed", "skipped_scope",
                      "dupe_seen", "n_unique", "queued"):
                cols.append(
                    vals[c].cast("long").alias(c) if c in vals
                    else _z.alias(c)
                )
            return cols

        m_events = events.select(*_mrow(
            "host",
            fetched=F.when(F.col("outcome") == "FETCHED", 1).otherwise(0),
            errors=F.when(F.col("outcome") != "FETCHED", 1).otherwise(0),
            failed=F.when(F.col("outcome") == "FAILED", 1).otherwise(0),
        ))
        # one narrow read of the pinned aggregate covers dupes AND uniques
        m_grouped = grouped.select(*_mrow(
            "host", dupe_seen=F.col("n_disc") - 1, n_unique=F.lit(1),
        ))
        m_rejects = grouped_all.filter(F.col("n_reject") > 0).select(*_mrow(
            "_any_host", skipped_scope=F.col("n_reject"),
        ))
        m_queued = new_rows.select(*_mrow("host", queued=F.lit(1)))
        metrics = (
            m_events.unionByName(m_grouped)
            .unionByName(m_rejects)
            .unionByName(m_queued)
            .groupBy("host")
            .agg(*[
                F.sum(c).alias(c)
                for c in ("fetched", "errors", "failed", "skipped_scope",
                          "dupe_seen", "n_unique", "queued")
            ])
            .select(
                F.lit(epoch).alias("epoch"),
                "host",
                "fetched",
                "errors",
                "failed",
                (
                    F.col("dupe_seen") + F.col("n_unique") - F.col("queued")
                ).alias("skipped_seen"),
                "skipped_scope",
                "queued",
            )
        )
        mark('metrics_dag')

        # --- commit: fetch log, MOR deltas, adaptive compaction (`compact`
        # was decided right after the events pin, where the attempt count
        # first became known) ---
        replace: dict[str, DataFrame] = {}
        append: dict[str, DataFrame] = {
            "fetch_log": events.withColumn("epoch", F.lit(epoch))
        }
        drop: list[str] = []
        if ttl_mode:
            robots_refreshed = robots_eff.filter("_refreshed").select(
                "host", "crawl_delay_s", "fetched_ms"
            )
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
                m, self._read(m, "frontier"), self._latest_wins(all_d)
            )
            replace["host_state"] = self._host_state_view(
                m, host_state_delta
            )
            drop = ["frontier_delta", "host_state_delta"]
            if ttl_mode:
                replace["robots_state"] = self._robots_state_view(
                    m, robots_refreshed
                )
                drop.append("robots_state_delta")
        else:
            append["frontier_delta"] = frontier_delta_next
            append["host_state_delta"] = host_state_delta
            if ttl_mode:
                append["robots_state_delta"] = robots_refreshed
        if fetch_log_extra is not None:
            append["fetch_verify"] = fetch_log_extra
        # per-host metrics are a write-only distributed sink (at 10^8 hosts
        # a driver collect is an OOM): the commit pool writes them beside
        # the deltas, so the epoch's manifest lists its own metrics
        append["metrics"] = metrics

        # the observations were materialized by the events and admitted
        # pins, so the whole meta is known before the commit starts
        n_new = int(obs_ad.get["q"] or 0)
        # queued' = queued − terminal attempts + newly admitted
        queued_remaining = int(meta["queued"]) - n_fetched - n_failed + n_new
        pending = int(meta.get("delta_rows", 0)) + n_attempts + n_new
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
                "done": queued_remaining == 0
                or total_fetched + n_fetched >= cfg.max_fetches,
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
        return EpochStats(epoch, n_fetched, n_attempts, n_new, queued_remaining)

    # ------------------------------------------------------------------ #
    # full crawl                                                          #
    # ------------------------------------------------------------------ #

    def run(self, max_epochs: int | None = None) -> list[EpochStats]:
        self.bootstrap()
        stats: list[EpochStats] = []
        limit = max_epochs if max_epochs is not None else self.cfg.max_epochs
        while True:
            meta = self.meta()
            if meta.get("done") or int(meta["epoch"]) >= limit:
                break
            st = self.run_epoch()
            stats.append(st)
            if st.attempts == 0 and st.queued_remaining == 0:
                break
        return stats

    # convenience readers -------------------------------------------------

    def fetch_log(self) -> DataFrame:
        """Fetch log with the exact global sequence derived from the total
        order (epoch, fetch_start_ms, host, url_canon). Inspection-scale
        reads use one window; bulk exports should rank with
        ``plans.ordering.global_row_number`` instead. Payload
        verification results (when enabled) live in the fetch_verify side
        table and join back here by (url_hash, epoch)."""
        m = self.catalog.load_manifest()
        df = self._read(m, "fetch_log").drop("new_next_allowed")
        verify = self._read(m, "fetch_verify")
        if verify is not None:
            df = df.join(verify, ["url_hash", "epoch"], "left")
        w = Window.orderBy("epoch", "fetch_start_ms", "host", "url_canon")
        return df.withColumn("seq", F.row_number().over(w) - 1).orderBy("seq")

    def frontier(self) -> DataFrame:
        """Current frontier (merged MOR view: base latest-wins deltas)."""
        m = self.catalog.load_manifest()
        return self._merge_latest(
            m, self._read(m, "frontier"), self._delta_latest(m)
        )

    def metrics(self) -> DataFrame:
        return self._read(self.catalog.load_manifest(), "metrics")

    def flush_pending_metrics(self) -> None:
        """No-op: each epoch's metrics commit with the epoch. Kept because
        perfbench/crawl.py and perfbench/make_digests.py still call it."""

    def close(self) -> None:
        """Hand the session back as the engine found it: free the pins of
        an epoch that raised before its commit, the per-base caches, and
        restore constraint propagation. The catalog readers still work
        afterwards."""
        self._release_pins()
        for _, df in self._base_caches.values():
            df.unpersist()
        self._base_caches.clear()
        if self._prev_constraint_propagation is None:
            self.spark.conf.unset(_CONSTRAINT_PROPAGATION)
        else:
            self.spark.conf.set(
                _CONSTRAINT_PROPAGATION, self._prev_constraint_propagation
            )
