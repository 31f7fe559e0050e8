"""Crawl configuration — the politeness / scope / budget knobs.

Defaults mirror the semantics studied in the reference (cited per field;
see SURVEY.md §2.2):

- politeness snooze clamp: ``delayFactor=5.0``, ``minDelayMs=3000``,
  ``maxDelayMs=30000`` (crawler-beans.cxml:362-368)
- robots Crawl-delay honored up to 300 s (crawler-beans.cxml:365);
  effective wait = max(config wait, Crawl-delay)
  (bitextor/bitextor_wget.py:148-155)
- scope: maxHops=20, maxPathDepth=20, maxRepetitions=2
  (crawler-beans.cxml:131-186); maxOutlinks=6000 (:413)
- budgets: balanceReplenishAmount=3000, errorPenaltyAmount=100
  (crawler-beans.cxml:399-428)
- retry: maxRetries=30, retryDelaySeconds=900 (crawler-beans.cxml:410-411)
- host blacklist substrings (bitextor/Snakefile:99-100)

Everything is data, not wall-clock: the engine runs on a *virtual clock*
so crawl order is exactly reproducible at any parallelism level.
"""

from __future__ import annotations

from dataclasses import dataclass, field

DEFAULT_BLACKLIST = (
    "wordpress",
    "blogspot",
    "facebook",
    "google",
    "wikipedia",
    "youtube",
    "perehodi",
    "twitter",
    "instagram",
)

ALLOWED_SCHEMES = ("http", "https")

# Query params stripped by canonicalization (Heritrix StripSessionIDs /
# StripSessionCFIDs semantics, crawler-beans.cxml:555-570).
SESSION_PARAMS = (
    "jsessionid",
    "phpsessid",
    "sid",
    "sessionid",
    "session_id",
    "cfid",
    "cftoken",
    "aspsessionid",
)


@dataclass(frozen=True)
class CrawlConfig:
    # politeness (virtual milliseconds)
    min_delay_ms: int = 3000
    delay_factor: float = 5.0
    max_delay_ms: int = 30000
    respect_crawl_delay_up_to_s: int = 300
    # per-host politeness overlay sheets (Heritrix sheet overlays applied
    # to SURT prefixes — the shipped 'veryPolite' sheet,
    # crawler-beans.cxml:469-480: delayFactor=10, minDelayMs=10000,
    # maxDelayMs=1000000, respectCrawlDelayUpToSeconds=3600). Each rule is
    # (host_suffix, delay_factor, min_delay_ms, max_delay_ms,
    # respect_crawl_delay_up_to_s); a host matches a rule when it equals
    # the suffix or ends with "."+suffix; the LONGEST matching suffix wins
    # (SURT-prefix specificity). Empty = base knobs everywhere.
    politeness_overlays: tuple[tuple[str, float, int, int, int], ...] = ()

    # scope
    max_hops: int = 20
    max_path_depth: int = 20
    max_repetitions: int = 2
    max_outlinks: int = 6000
    blacklist_hosts: tuple[str, ...] = DEFAULT_BLACKLIST
    # transclusion chain (ACCEPT TransclusionDecideRule, maxTransHops=2,
    # crawler-beans.cxml:131-186): embed-type links (kind derived from the
    # resource extension) are fetchable OUTSIDE the seed-domain scope for up
    # to max_trans_hops consecutive embed hops
    max_trans_hops: int = 2
    embed_extensions: tuple[str, ...] = (
        ".jpg", ".jpeg", ".png", ".gif", ".webp", ".svg", ".ico", ".css", ".js",
    )
    # custom REJECT regex list (MatchesListRegexDecideRule slot in the
    # chain, crawler-beans.cxml:160-166); applied to the canonical URL
    reject_url_regexes: tuple[str, ...] = (
        r"\.(?:exe|zip|rar|iso|dmg|tgz|tar)$",
    )
    # prerequisite paths (ACCEPT PrerequisiteAcceptDecideRule — robots.txt
    # style prerequisites are always fetchable, crawler-beans.cxml:183-186)
    prerequisite_paths: tuple[str, ...] = ("/robots.txt",)

    # queue precedence (C10, crawler-beans.cxml:399-428,445-494):
    # "bfs"      — wget-mirror recursion order (hop, url), the C3 default;
    # "priority" — OPIC-style cash order (priority desc, hop, url): seeds
    #              start with cash 1.0, each fetched page splits its cash
    #              equally over its resolved unique outlinks, the winning
    #              discoverer's share becomes the child's priority.
    # priority_floor re-expresses Heritrix's precedenceFloor: entries whose
    # priority falls below the floor are never scheduled (Heritrix counts
    # precedence inverted — lower=better, floor=255 — the clamp is the same
    # rule in our higher=better cash scale).
    queue_order: str = "bfs"
    priority_floor: float = 0.0

    # budgets / retry
    replenish_per_epoch: int = 3000  # per-host fetches allowed per epoch
    error_penalty: int = 100  # budget units deducted per failed fetch
    max_retries: int = 30
    retry_delay_ms: int = 900_000

    # crawl limits (C12): loop termination
    max_fetches: int = 1_000_000
    max_epochs: int = 1000

    # robots freshness (robotsValidityDurationSeconds, crawler-beans.cxml:
    # 239-243; Heritrix default 86400 s). None = robots are immutable for
    # the whole crawl (the static default — zero per-epoch cost). When set,
    # the crawler keeps a per-host robots cache stamped with its fetch
    # time and re-reads the server's current rules at the start of the
    # first epoch in which the host has schedulable work and the cache is
    # older than the TTL (first contact = missing cache = immediate
    # fetch). Refresh is epoch-quantized — both the engine and the
    # reference simulator apply the rule at epoch_start, so a mid-crawl
    # robots change alters the schedule identically on both sides.
    robots_ttl_ms: int | None = None

    # virtual-clock epoch window
    epoch_window_ms: int = 600_000

    # default duration charged for URLs that resolve to nothing (404)
    default_fetch_ms: int = 100

    # frontier storage: merge-on-read deltas (Iceberg MOR model). Each
    # epoch appends only the changed+new rows (O(attempts+discoveries),
    # never an O(frontier) rewrite — at the 10^10-URL north-star a full
    # rewrite per epoch is the dominant cost). Compaction is ADAPTIVE:
    # the base is rewritten once the pending delta log reaches
    # compact_delta_ratio × frontier rows — at small scale (delta ≈
    # frontier, e.g. local tests/benches) that is every epoch, so reads
    # stay merge-free and the per-epoch fixed cost (delta pin + broadcast
    # builds) is never paid; at web scale (delta ≪ frontier) compaction
    # is rare and epochs stay O(changes). frontier_compact_epochs caps
    # the interval regardless, bounding delta-file fan-out in the
    # manifest.
    compact_delta_ratio: float = 0.2
    frontier_compact_epochs: int = 64

    # Bloom shard layout. The crawl does not read either field (its
    # URL-seen check is the exact base + delta anti-join); they stay so
    # existing configs, including perfbench/workloads.py, keep working.
    num_host_shards: int = 32
    bloom_bits_per_shard: int = 1 << 20  # 128 KiB per shard

    # payload verification
    psnr_threshold_db: float = 40.0

    seed: int = 42

    def politeness_for(self, host: str) -> tuple[float, int, int, int]:
        """Effective (delay_factor, min_delay_ms, max_delay_ms,
        respect_crawl_delay_up_to_s) for a host: the longest-suffix overlay
        sheet, else the base knobs. Pure function of (cfg, host) — shared
        by the reference simulator and the engine's per-host walk, so an
        overlay can never be an order-divergence source."""
        best: tuple[str, float, int, int, int] | None = None
        for rule in self.politeness_overlays:
            suffix = rule[0]
            if host == suffix or host.endswith("." + suffix):
                if best is None or len(suffix) > len(best[0]):
                    best = rule
        if best is None:
            return (self.delay_factor, self.min_delay_ms, self.max_delay_ms,
                    self.respect_crawl_delay_up_to_s)
        return best[1:]

    def effective_delay_ms(
        self,
        fetch_ms: int,
        crawl_delay_s: int,
        politeness: tuple[float, int, int, int] | None = None,
    ) -> int:
        """Politeness wait after a fetch on a host.

        clamp(delay_factor × duration, min, max), then raised to the robots
        Crawl-delay (itself capped at respect_crawl_delay_up_to_s). The
        max() rule is bitextor_wget.py:148-155; the clamp is
        crawler-beans.cxml:362-368; `politeness` carries a host's overlay
        knobs (politeness_for)."""
        factor, mn, mx, cd_cap = politeness or (
            self.delay_factor, self.min_delay_ms, self.max_delay_ms,
            self.respect_crawl_delay_up_to_s,
        )
        snooze = int(factor * fetch_ms)
        snooze = max(mn, min(mx, snooze))
        capped_cd_ms = min(crawl_delay_s, cd_cap) * 1000
        return max(snooze, capped_cd_ms)


# Heritrix's shipped 'veryPolite' overlay sheet values
# (crawler-beans.cxml:471-480) — pair with a host suffix:
#   CrawlConfig(politeness_overlays=(("slow.example.com",) + VERY_POLITE,))
VERY_POLITE: tuple[float, int, int, int] = (10.0, 10_000, 1_000_000, 3600)


@dataclass(frozen=True)
class WorldConfig:
    """Deterministic synthetic-world generator parameters (FIXTURES.md)."""

    n_hosts: int = 20
    n_pages: int = 5000
    mega_host_frac: float = 0.5  # share of pages on host 0 (skew case)
    mean_outlinks: int = 8
    image_frac: float = 0.6
    fail_frac: float = 0.04  # pages returning 5xx
    seed: int = 42
    img_min_side: int = 16
    img_max_side: int = 64
    jpeg_frac: float = 0.5
