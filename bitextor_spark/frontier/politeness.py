"""Per-host politeness walk — the sequential core of the scheduler.

THE crawl-semantics contract: the reference simulator runs
``schedule_host``, the Spark engine its vectorized twin on each host's
slice of the host-sorted shards it walks with ``mapInArrow``
(property-tested equal). The distributed engine is then tested for
everything distribution can break (ordering, dedup races, scope,
seen-set maintenance, resume), while the per-host timing rule has a
single definition.

Semantics (cited from the studied reference):
- queue order per host: (hop asc, url_canon asc) — BFS per host like
  ``wget --mirror`` recursion levels (bitextor_wget.py:45-82), with a
  total lexicographic tiebreak for reproducibility (the reference sorts
  its host lists for the same reason, Snakefile:335-339).
- wait after each fetch: max(clamp(delay_factor × duration, min, max),
  robots Crawl-delay capped at 300 s) — crawler-beans.cxml:362-368 +
  bitextor_wget.py:148-155.
- per-epoch budget: ``replenish_per_epoch`` units; a success costs 1, a
  failure costs ``error_penalty`` (balanceReplenishAmount /
  errorPenaltyAmount, crawler-beans.cxml:399-428).
- retry: status ≥ 500 ⇒ re-queue with not_before += retry_delay until
  max_retries (crawler-beans.cxml:410-411).

The walk is sequential *by definition* (each fetch's start time depends on
the previous fetch's duration); the engine runs it once per host over
numpy slices of Arrow batches, never as a row-at-a-time UDF.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from bitextor_spark.config import CrawlConfig

OUTCOME_FETCHED = "FETCHED"
OUTCOME_RETRY = "RETRY"
OUTCOME_FAILED = "FAILED"


class QueueEntry(NamedTuple):
    url_canon: str
    hop: int
    seed_id: int
    retry_count: int
    not_before_ms: int
    status: int  # resolved page status (404 if unknown URL)
    fetch_ms: int
    priority: float = 1.0  # OPIC cash (C10); ignored in bfs queue order


class FetchEvent(NamedTuple):
    url_canon: str
    hop: int
    seed_id: int
    retry_count: int
    fetch_start_ms: int
    fetch_ms: int
    status: int
    outcome: str


def schedule_host(
    entries: list[QueueEntry],
    next_allowed_ms: int,
    crawl_delay_s: int,
    epoch_start_ms: int,
    epoch_end_ms: int,
    cfg: CrawlConfig,
    politeness: tuple[float, int, int, int] | None = None,
) -> tuple[list[FetchEvent], int]:
    """Replay one host's fetches inside one epoch window.

    Returns (events in fetch order, new next_allowed_ms). Entries that do
    not fit the window (or are blocked by not_before) are simply not
    emitted — they stay queued.
    """
    events: list[FetchEvent] = []
    cursor = max(next_allowed_ms, epoch_start_ms)
    budget_spent = 0
    if cfg.queue_order == "priority":
        key = lambda x: (-x.priority, x.hop, x.url_canon)  # noqa: E731
    else:
        key = lambda x: (x.hop, x.url_canon)  # noqa: E731
    for e in sorted(entries, key=key):
        if budget_spent >= cfg.replenish_per_epoch:
            break
        if cursor >= epoch_end_ms:
            break
        start = max(cursor, e.not_before_ms)
        if start >= epoch_end_ms:
            continue  # blocked by not_before; later entries may still fit
        success = e.status < 500
        if success:
            outcome = OUTCOME_FETCHED
            budget_spent += 1
        else:
            outcome = (
                OUTCOME_FAILED if e.retry_count + 1 > cfg.max_retries else OUTCOME_RETRY
            )
            budget_spent += cfg.error_penalty
        events.append(
            FetchEvent(
                e.url_canon, e.hop, e.seed_id, e.retry_count,
                start, e.fetch_ms, e.status, outcome,
            )
        )
        cursor = start + e.fetch_ms + cfg.effective_delay_ms(
            e.fetch_ms, crawl_delay_s, politeness
        )
    return events, cursor


def schedule_host_arrays(
    not_before_ms: np.ndarray,
    status: np.ndarray,
    fetch_ms: np.ndarray,
    retry_count: np.ndarray,
    next_allowed_ms: int,
    crawl_delay_s: int,
    epoch_start_ms: int,
    epoch_end_ms: int,
    cfg: CrawlConfig,
    politeness: tuple[float, int, int, int] | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
    """Vectorized twin of :func:`schedule_host` (same semantics, numpy).

    The arrays hold one host's queue in queue order. The cursor
    recurrence c_{i+1} = max(c_i, nb_i) + d_i is a max-plus scan: with
    prefix sums S_i = Σ_{j<i} d_j and y_i = c_i − S_i it becomes
    y_{i+1} = max(y_i, nb_i − S_i), i.e. a ``np.maximum.accumulate``. Both
    stop rules (budget exhausted, window end) are prefix conditions over
    the queue order, so the processed set is an AND of prefix masks — no
    data-dependent loop remains. Equivalence with the reference loop is
    property-tested (tests/test_politeness_vec.py).

    Returns (picked_positions, fetch_start_ms, outcome_code, new_cursor);
    outcome codes: 0=FETCHED, 1=RETRY, 2=FAILED.
    """
    init = max(int(next_allowed_ms), epoch_start_ms)
    none = (np.empty(0, np.int64), np.empty(0, np.int64),
            np.empty(0, np.int8), init)
    if not_before_ms.size == 0:
        return none

    nb = not_before_ms.astype(np.int64, copy=False)
    fm = fetch_ms.astype(np.int64, copy=False)

    # per-entry post-fetch delay (clamp(factor×dur, min, max) ∨ crawl-delay)
    # — knobs may be overridden per host by an overlay sheet (politeness_for)
    factor, mn, mx, cd_cap = politeness or (
        cfg.delay_factor, cfg.min_delay_ms, cfg.max_delay_ms,
        cfg.respect_crawl_delay_up_to_s,
    )
    snooze = np.clip((factor * fm).astype(np.int64), mn, mx)
    capped_cd = min(crawl_delay_s, cd_cap) * 1000
    d = fm + np.maximum(snooze, capped_cd)

    # budget prefix: entry i runs only if spend BEFORE it is < replenish
    cost = np.where(status < 500, 1, cfg.error_penalty).astype(np.int64)
    spent_before = np.concatenate(([0], np.cumsum(cost)[:-1]))
    budget_ok = spent_before < cfg.replenish_per_epoch

    # cursor-before-entry via max-plus scan
    S = np.concatenate(([0], np.cumsum(d)[:-1]))  # Σ d_j for j < i
    y = np.maximum.accumulate(np.maximum(init, nb - S))
    c_before = y + S  # == cursor when entry i is reached
    window_ok = c_before < epoch_end_ms

    picked = budget_ok & window_ok
    # both are prefix masks in exact arithmetic; AND keeps the prefix
    idx = np.flatnonzero(picked)
    if idx.size == 0:
        return none

    start = np.maximum(c_before[idx], nb[idx])
    success = status[idx] < 500
    outcome = np.where(
        success, np.int8(0), np.where(retry_count[idx] + 1 > cfg.max_retries, np.int8(2), np.int8(1))
    ).astype(np.int8)
    last = idx[-1]
    new_cursor = int(max(c_before[last], nb[last]) + d[last])
    return idx, start, outcome, new_cursor
