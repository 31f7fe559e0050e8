"""Property test: the vectorized politeness walk (max-plus scan,
politeness.schedule_host_arrays) is element-for-element identical to the
reference loop (politeness.schedule_host) that the single-threaded
simulator runs — the same shared-definition guarantee the loop version
used to give the engine, now proven instead of shared."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from bitextor_spark.config import CrawlConfig
from bitextor_spark.frontier.politeness import (
    QueueEntry,
    schedule_host,
    schedule_host_arrays,
)

EPOCH_START = 1_000_000
EPOCH_END = 1_600_000

entry_st = st.tuples(
    st.integers(0, 30),  # url suffix (dups allowed -> tie-break via hop)
    st.integers(0, 5),  # hop
    st.integers(0, EPOCH_END - 1),  # not_before_ms < epoch_end (engine invariant)
    st.sampled_from([200, 200, 200, 404, 500, 503]),
    st.integers(1, 5000),  # fetch_ms
    st.integers(0, 31),  # retry_count
)


@settings(max_examples=300, deadline=None)
@given(
    entries=st.lists(entry_st, min_size=0, max_size=40),
    next_allowed=st.integers(0, EPOCH_END + 100_000),
    crawl_delay=st.sampled_from([0, 1, 2, 5, 400]),
    replenish=st.integers(1, 50),
    error_penalty=st.sampled_from([1, 10, 100]),
    max_retries=st.integers(0, 31),
)
def test_vectorized_walk_matches_loop(
    entries, next_allowed, crawl_delay, replenish, error_penalty, max_retries
):
    cfg = CrawlConfig(
        replenish_per_epoch=replenish,
        error_penalty=error_penalty,
        max_retries=max_retries,
    )
    qentries = [
        QueueEntry(f"http://h/u{u:03d}", hop, 7, rc, nb, status, fm)
        for (u, hop, nb, status, fm, rc) in entries
    ]
    want_events, want_cursor = schedule_host(
        qentries, next_allowed, crawl_delay, EPOCH_START, EPOCH_END, cfg
    )

    url = np.array([e.url_canon for e in qentries], dtype=object)
    hop = np.array([e.hop for e in qentries], dtype=np.int64)
    # the walk takes one host's queue already in (hop, url_canon) order
    order = np.lexsort((url, hop)) if qentries else np.empty(0, np.int64)
    url, hop = url[order], hop[order]
    picked, start, outcome, cursor = schedule_host_arrays(
        np.array([e.not_before_ms for e in qentries], dtype=np.int64)[order],
        np.array([e.status for e in qentries], dtype=np.int64)[order],
        np.array([e.fetch_ms for e in qentries], dtype=np.int64)[order],
        np.array([e.retry_count for e in qentries], dtype=np.int64)[order],
        next_allowed, crawl_delay, EPOCH_START, EPOCH_END, cfg,
    )
    codes = {0: "FETCHED", 1: "RETRY", 2: "FAILED"}
    got = [
        (url[i], int(hop[i]), int(s), codes[int(o)])
        for i, s, o in zip(picked, start, outcome)
    ]
    want = [
        (e.url_canon, e.hop, e.fetch_start_ms, e.outcome) for e in want_events
    ]
    assert got == want
    assert int(cursor) == int(want_cursor)
