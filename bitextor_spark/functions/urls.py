"""URL canonicalization and host/domain helpers.

Semantics re-specified from Heritrix's canonicalization rule chain
(reference: bitextor/data/crawler-beans.cxml:555-570 — LowercaseRule,
StripUserinfoRule, StripWWWNRule, StripSessionIDs, StripSessionCFIDs,
FixupQueryString) plus RFC 3986 normalization, as required by
BASELINE.json north_star. Domain grouping semantics from
bitextor/rules/common.smk:17-36 (registered domain, except blogspot/
wordpress-style mega-hosts kept per-host).

One pure-Python implementation, shared verbatim by BOTH the Spark engine
(wrapped in a vectorized pandas UDF over Arrow batches) and the
single-threaded reference simulator — so canonicalization can never be the
source of an order/seen divergence; parity tests focus on scheduling.
"""

from __future__ import annotations

import posixpath
import re
from urllib.parse import parse_qsl, unquote, urlencode, urljoin, urlsplit

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from bitextor_spark.config import ALLOWED_SCHEMES, SESSION_PARAMS

_WWW_RE = re.compile(r"^www\d*\.")
_JSESSIONID_PATH_RE = re.compile(r";jsessionid=[^;?#]*", re.IGNORECASE)
_DEFAULT_PORTS = {"http": "80", "https": "443"}

# Public-suffix rules (vendored PSL subset + full matcher; psl_data.py).
# tldextract semantics as the reference uses them (common.smk:17-36).
from bitextor_spark.functions.psl_data import build_rules

_PSL_EXACT, _PSL_WILDCARD, _PSL_EXCEPTION = build_rules()
# Hosts on these platforms are NOT merged to the registered domain — each
# subdomain is an independent site (common.smk:23-29 keeps them per-host).
_PER_HOST_PLATFORMS = ("blogspot", "wordpress")


def public_suffix(host: str) -> str:
    """PSL algorithm (publicsuffix.org spec): exception rules win, else the
    longest matching rule (wildcard ``*.parent`` matches one extra label),
    else the default ``*`` rule (the bare TLD)."""
    labels = host.split(".")
    n = len(labels)
    best = 1  # default rule: the TLD itself
    for i in range(n):
        cand = ".".join(labels[i:])
        if cand in _PSL_EXCEPTION:
            # public suffix = exception rule minus its leftmost label
            return ".".join(labels[i + 1:])
        if cand in _PSL_EXACT:
            best = max(best, n - i)
        if i + 1 < n and ".".join(labels[i + 1:]) in _PSL_WILDCARD:
            best = max(best, n - i)
        elif i + 1 == n and cand in _PSL_WILDCARD:
            # "*.tld" also implies tld itself is not registrable at level 1
            best = max(best, 1)
    return ".".join(labels[n - best:])


def canonicalize_url(url: str | None) -> str | None:
    """RFC-3986-normalize + Heritrix-style cleanup. None = out of scope.

    Steps: lowercase scheme/host, strip userinfo, strip www\\d* prefix,
    strip default port, strip fragment, remove ;jsessionid path params,
    percent-decode then minimally re-encode path, normalize dot-segments,
    collapse duplicate slashes, drop session-id query params, drop empty
    query. Unsupported schemes (mailto:, javascript:, ftp:, ...) → None.
    """
    if not url:
        return None
    url = url.strip()
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ALLOWED_SCHEMES:
        return None
    host = (parts.hostname or "").lower().rstrip(".")
    if not host:
        return None
    host = _WWW_RE.sub("", host)
    if not host:
        return None
    try:
        port = parts.port
    except ValueError:
        # urlsplit defers port validation to the accessor: a malformed
        # port (http://h:=/x) raises HERE, not at urlsplit — uncaught it
        # would kill the resolver batch on one bad discovered link
        return None
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"

    path = _JSESSIONID_PATH_RE.sub("", parts.path or "/")
    path = unquote(path)
    # normalize dot segments + collapse duplicate slashes
    collapsed = re.sub(r"/{2,}", "/", path)
    if not collapsed.startswith("/"):
        collapsed = "/" + collapsed
    path = posixpath.normpath(collapsed)
    if collapsed.endswith("/") and path != "/":
        path += "/"
    if path == ".":
        path = "/"
    # minimal re-encode: spaces and control chars only (keep unicode raw —
    # consistent on both sides because it is the same function)
    path = path.replace(" ", "%20")

    query = ""
    if parts.query:
        kept = [
            (k, v)
            for k, v in parse_qsl(parts.query, keep_blank_values=True)
            if not _is_session_param(k)
        ]
        if kept:
            query = urlencode(kept)

    out = f"{scheme}://{netloc}{path}"
    if query:
        out += "?" + query
    return out


def _is_session_param(name: str) -> bool:
    low = name.lower()
    return any(low == p or low.startswith(p) for p in SESSION_PARAMS)


def host_of(url_canon: str) -> str:
    try:
        return urlsplit(url_canon).hostname or ""
    except ValueError:
        return ""


def registered_domain(host: str) -> str:
    """eTLD+1 grouping key via the PSL matcher; platform hosts stay per-host.

    Mirrors create_domain_key_2_host_map (common.smk:17-36): group hosts by
    registered domain so whole domains co-locate in one shard, EXCEPT
    blogspot/wordpress-style platforms where each subdomain is a distinct
    site (merging them would recreate the mega-domain skew the sharding is
    meant to kill). tldextract-equivalent: suffix from the PSL rules
    (exception > longest > wildcard > default *), registered = suffix + 1.
    """
    if any(p in host for p in _PER_HOST_PLATFORMS):
        return host
    ps = public_suffix(host)
    n_ps = ps.count(".") + 1 if ps else 0
    labels = host.split(".")
    if len(labels) <= n_ps:
        return host  # the host IS a public suffix (or shorter)
    return ".".join(labels[len(labels) - n_ps - 1:])


def resolve_outlink(base_url: str, link: str) -> str | None:
    """Relative→absolute resolution then canonicalization.

    urljoin semantics as used by the reference's link features
    (bitextor/docalign/features/bitextor_mutually_linked.py:41-44).
    """
    link = (link or "").strip()
    if not link:
        return None
    try:
        absolute = urljoin(base_url, link)
    except ValueError:
        return None
    return canonicalize_url(absolute)


def path_depth(url_canon: str) -> int:
    try:
        path = urlsplit(url_canon).path
    except ValueError:
        return 0
    return sum(1 for seg in path.split("/") if seg)


def max_segment_repetitions(url_canon: str) -> int:
    """Max count of any repeated adjacent path segment (pathological-repeat
    scope rule, crawler-beans.cxml:168-171)."""
    try:
        segs = [s for s in urlsplit(url_canon).path.split("/") if s]
    except ValueError:
        return 0
    best = run = 1 if segs else 0
    for a, b in zip(segs, segs[1:]):
        run = run + 1 if a == b else 1
        best = max(best, run)
    return best


# ---------------------------------------------------------------------------
# Vectorized Spark wrappers (Arrow-batched; no per-row Python in the plan —
# the pandas UDF applies the pure function over whole Arrow batches).
# ---------------------------------------------------------------------------

@pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return urls.map(canonicalize_url)


@pandas_udf(StringType())
def registered_domain_udf(hosts: pd.Series) -> pd.Series:
    return hosts.map(lambda h: registered_domain(h) if h else None)


# Links already in canonical shape skip the full parser: absolute http(s),
# lowercase host without userinfo/port/www, plain path with no dot-segments,
# duplicate slashes, query, fragment, or escapes. For such links
# resolve_outlink(base, link) == link, so the fast path is exact. Group 1
# captures the host so the fast path also skips urlsplit.
_CLEAN_ABS_RE = re.compile(
    r"^(?:http|https)://"
    r"((?!www\d*\.)[a-z0-9-]+(?:\.[a-z0-9-]+)+)"
    r"/(?:(?!\.)[A-Za-z0-9._~-]+/)*(?!\.)[A-Za-z0-9._~-]*$"
)

# The same patterns as JVM-side regex strings (Java and Python regex agree
# on this syntax subset: alternation, character classes, lookahead). Used
# by tools/bench_discovery_ab.py, which races JVM array-HOF variants of the
# discovery resolver against the Arrow loop below — measured outcome: the
# HOF variants are exact but 35-75% slower (HOF lambdas evaluate
# interpreted, outside whole-stage codegen), so the engine ships the Arrow
# loop (see engine.py discovery comment).
CLEAN_ABS_PATTERN = _CLEAN_ABS_RE.pattern

# Plain-filename relative link: no scheme/slash/query/fragment/escape/
# space/leading dot. For these urljoin+canonicalize == base_dir + link
# EXACTLY when the base is already canonical (the engine always resolves
# against url_canon): no dot segments to normalize, nothing to strip or
# re-encode, and the base's dir prefix is canonical by construction.
CLEAN_REL_PATTERN = r"^(?!\.)[A-Za-z0-9._~-]+$"

# registered_domain is a pure function of the host and hosts repeat heavily
# across a crawl's outlinks (thousands of hosts vs millions of links per
# epoch), so the PSL walk is memoized per executor process. Bounded cache:
# at a 10^8-host frontier an unbounded dict would grow without limit.
from functools import lru_cache as _lru_cache

@_lru_cache(maxsize=1 << 17)
def _reg_domain_cached(host: str) -> str:
    return registered_domain(host)


_RESOLVE_FULL_TYPE = StructType(
    [
        StructField("url_canon", StringType()),
        StructField("host", StringType()),
        StructField("reg_domain", StringType()),
    ]
)


@pandas_udf(_RESOLVE_FULL_TYPE)
def canonicalize_full_udf(urls: pd.Series) -> pd.DataFrame:
    """Fused canonicalize → host → registered-domain (seed bootstrap)."""
    canon = urls.map(canonicalize_url)
    host = canon.map(lambda u: host_of(u) if u else None)
    reg = host.map(lambda h: _reg_domain_cached(h) if h else None)
    return pd.DataFrame({"url_canon": canon, "host": host, "reg_domain": reg})


@pandas_udf(ArrayType(StringType()))
def reg_domains_arr_udf(hosts: pd.Series) -> pd.Series:
    """registered_domain over a page's DISTINCT outlink hosts — the only
    Python the JVM fast path still needs (the PSL walk has no codegen
    form). Python cost is O(distinct hosts per page), not O(links): the
    caller maps hosts→reg_domains back onto every link JVM-side via
    map_from_arrays + element_at."""
    reg = _reg_domain_cached
    return pd.Series(
        [
            [] if hs is None else [reg(h) if h else None for h in hs]
            for hs in hosts
        ],
        dtype=object,
    )


_RESOLVE_ARR_TYPE = ArrayType(_RESOLVE_FULL_TYPE)


@pandas_udf(_RESOLVE_ARR_TYPE)
def resolve_outlinks_arr_udf(base: pd.Series, links: pd.Series) -> pd.Series:
    """Resolve a page's whole outlink ARRAY in one Arrow pass: relative→
    absolute, canonicalize, host + registered-domain, and within-page dedup
    by canonical URL (the simulator's page_seen set) — all before any
    explode. Compared to the scalar UDF + post-explode dropDuplicates,
    this removes an entire epoch-wide shuffle of every discovered link:
    within-page dedup is per-row array semantics, so it needs no exchange
    at all (a page's outlinks are always in one row). Fast path: links
    already in canonical shape (the overwhelming majority in real link
    graphs) skip the full parser via _CLEAN_ABS_RE."""
    out = []
    match = _CLEAN_ABS_RE.match
    reg = _reg_domain_cached
    for b, ls in zip(base, links):
        if not b or ls is None or len(ls) == 0:
            out.append([])
            continue
        seen = set()
        row = []
        for link in ls:
            link = (link or "").strip()
            if not link:
                continue
            m = match(link)
            if m:
                canon, h = link, m.group(1)  # no urlsplit on the fast path
            else:
                canon = resolve_outlink(b, link)
                if canon is None:
                    continue
                h = host_of(canon)
            if canon in seen:
                continue
            seen.add(canon)
            row.append((canon, h, reg(h)))
        out.append(row)
    return pd.Series(out, dtype=object)


# ---------------------------------------------------------------------------
# Arrow-NATIVE flat resolver (mapInArrow): resolve + canonicalize + host +
# registered-domain + within-page dedup + OPIC cash split, emitting FLAT
# link rows — the explode happens inside the Arrow batch, so the engine
# skips both the per-link Python loop (for the clean majority) and the JVM
# Generate node. The ListArray arrives zero-copy (offsets + one flat string
# buffer); classification and the canonical form of every clean link are
# computed by C++ kernels (RE2 extract_regex / string concat), leaving
# Python only the messy-link minority and one PSL walk per DISTINCT host.
#
# RE2 has no lookahead, so _CLEAN_ABS_RE is re-expressed as a broad match
# plus three vetoes (www-prefix host, '//' dup slash, '/.' dot segment) —
# pinned equivalent to the lookahead form in tests/test_discovery_ab_parity
# and property-tested in tests/test_urls.py.
# ---------------------------------------------------------------------------
_ABS_BROAD_RE2 = (
    r"^(?:http|https)://(?P<h>[a-z0-9-]+(?:\.[a-z0-9-]+)+)"
    r"(?P<p>/[A-Za-z0-9._~/-]*)$"
)
_REL_RE2 = r"^[A-Za-z0-9_~-][A-Za-z0-9._~-]*$"


def make_flat_resolver(
    base_col: str,
    links_col: str,
    priority_col: str,
    passthrough: list[str],
):
    """Build a mapInArrow function: one RecordBatch of pages in, flat
    resolved-link RecordBatches out with columns
    ``passthrough + [cash, cand_canon, cand_host, cand_reg_domain]``.

    Exactness contract: the emitted (page, canon, host, reg_domain)
    multiset equals resolve_outlinks_arr_udf + explode (the shipped r4
    path), and cash equals parent_priority / n_resolved-after-dedup —
    asserted by tests/test_discovery_ab_parity.py and the engine's crawl
    hash oracles.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def _one(rb: "pa.RecordBatch"):
        n_pages = rb.num_rows
        if n_pages == 0:
            return None
        base = rb.column(base_col)
        links = rb.column(links_col)
        lens = (
            pc.list_value_length(links)
            .fill_null(0)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        if int(lens.sum()) == 0:
            return None
        pidx = np.repeat(np.arange(n_pages, dtype=np.int64), lens)
        flat = pc.list_flatten(links)
        n_flat = len(flat)
        trimmed = pc.utf8_trim_whitespace(flat)
        base_ok = (
            pc.and_kleene(pc.is_valid(base), pc.not_equal(base, ""))
            .fill_null(False)
            .to_numpy(zero_copy_only=False)
        )
        consider = (
            pc.and_kleene(pc.is_valid(trimmed), pc.not_equal(trimmed, ""))
            .fill_null(False)
            .to_numpy(zero_copy_only=False)
        ) & base_ok[pidx]

        # clean-absolute fast path: broad RE2 match + lookahead vetoes
        ex = pc.extract_regex(trimmed, _ABS_BROAD_RE2)
        h_f = pc.struct_field(ex, "h")
        p_f = pc.struct_field(ex, "p")
        veto = pc.or_kleene(
            pc.match_substring_regex(h_f, r"^www[0-9]*\."),
            pc.or_kleene(
                pc.match_substring(p_f, "//"), pc.match_substring(p_f, "/.")
            ),
        )
        abs_mask = (
            pc.and_kleene(pc.is_valid(ex), pc.invert(veto))
            .fill_null(False)
            .to_numpy(zero_copy_only=False)
        ) & consider

        # clean-relative fast path: plain filename against a canonical,
        # percent-free base -> base_dir + link (see CLEAN_REL_PATTERN note)
        base_pct = (
            pc.match_substring(base, "%")
            .fill_null(False)
            .to_numpy(zero_copy_only=False)
        )
        rel_mask = (
            pc.match_substring_regex(trimmed, _REL_RE2)
            .fill_null(False)
            .to_numpy(zero_copy_only=False)
            & consider
            & ~abs_mask
            & ~base_pct[pidx]
        )
        slow_mask = consider & ~abs_mask & ~rel_mask

        nulls = pa.nulls(n_flat, pa.string())
        canon = pc.if_else(pa.array(abs_mask), trimmed, nulls)
        host = pc.if_else(pa.array(abs_mask), h_f, nulls)

        rel_idx = np.flatnonzero(rel_mask)
        if rel_idx.size:
            ridx = pa.array(pidx[rel_idx])
            base_dir = pc.replace_substring_regex(base, r"[^/]*$", "")
            rel_vals = pc.binary_join_element_wise(
                pc.take(base_dir, ridx),
                pc.take(trimmed, pa.array(rel_idx)),
                "",
            )
            # host comes from the BASE itself (canonical form:
            # scheme://host[:port]/...), NOT from a caller-supplied host
            # column — host_of(base_dir + link) == base's host by
            # construction, and deriving it here keeps the resolver
            # correct for callers whose disc_host differs from the base
            base_host = pc.struct_field(
                pc.extract_regex(
                    base, r"^(?:http|https)://(?P<bh>[^/:]+)"
                ),
                "bh",
            )
            rmask = pa.array(rel_mask)
            canon = pc.replace_with_mask(canon, rmask, rel_vals)
            host = pc.replace_with_mask(
                host, rmask, pc.take(base_host, ridx)
            )

        slow_idx = np.flatnonzero(slow_mask)
        if slow_idx.size:
            lks = pc.take(trimmed, pa.array(slow_idx)).to_pylist()
            bss = pc.take(base, pa.array(pidx[slow_idx])).to_pylist()
            res = [resolve_outlink(b, l) for b, l in zip(bss, lks)]
            smask = pa.array(slow_mask)
            canon = pc.replace_with_mask(canon, smask, pa.array(res, pa.string()))
            host = pc.replace_with_mask(
                host,
                smask,
                pa.array(
                    [host_of(c) if c is not None else None for c in res],
                    pa.string(),
                ),
            )

        kept_idx = np.flatnonzero(
            pc.is_valid(canon).to_numpy(zero_copy_only=False)
        )
        if kept_idx.size == 0:
            return None
        # within-page dedup, first occurrence wins (identical value either
        # way: host/reg are functions of canon)
        ktbl = pa.table(
            {
                "p": pa.array(pidx[kept_idx]),
                "c": pc.take(canon, pa.array(kept_idx)),
                "i": pa.array(kept_idx),
            }
        )
        fi = np.sort(
            ktbl.group_by(["p", "c"])
            .aggregate([("i", "min")])
            .column("i_min")
            .to_numpy(zero_copy_only=False)
        )
        fi_arr = pa.array(fi)
        fp = pidx[fi]

        # OPIC cash: parent_priority / resolved-unique outlinks of the page
        counts = np.bincount(fp, minlength=n_pages)
        prio = rb.column(priority_col).to_numpy(zero_copy_only=False)
        cash = prio[fp] / counts[fp]

        host_final = pc.take(host, fi_arr)
        uniq = pc.unique(pc.drop_null(host_final))
        uniq_py = uniq.to_pylist()
        reg_vals = pa.array(
            [_reg_domain_cached(h) for h in uniq_py], pa.string()
        )
        reg_final = pc.take(reg_vals, pc.index_in(host_final, value_set=uniq))

        fp_arr = pa.array(fp)
        cols = [pc.take(rb.column(name), fp_arr) for name in passthrough]
        cols += [
            pa.array(cash, pa.float64()),
            pc.take(canon, fi_arr),
            host_final,
            reg_final,
        ]
        names = list(passthrough) + [
            "cash", "cand_canon", "cand_host", "cand_reg_domain",
        ]
        return pa.RecordBatch.from_arrays(cols, names=names)

    def fn(batches):
        for rb in batches:
            out = _one(rb)
            if out is not None:
                yield out

    return fn
