"""Exactness of the shipped discovery resolver against its reference.

The engine resolves outlinks with the Arrow-native flat pass
(``make_flat_resolver``, mapInArrow: RE2 classification of the raw
ListArray, explode inside the batch). Its reference is the per-link Arrow
loop ``resolve_outlinks_arr_udf`` + explode, which it replaced (SURVEY §4
"outlink resolver"). Every test here asserts the two emit the same
multiset of (discovering page, cash, canonical URL, host, registered
domain) rows, on a synthetic world, and on hand-picked edge rows plus a
seeded hostile link corpus."""

from __future__ import annotations

import random
from collections import Counter

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from bitextor_spark.functions.urls import (
    canonicalize_url,
    make_flat_resolver,
    resolve_outlinks_arr_udf,
)

_FLAT_SCHEMA = StructType([
    StructField("disc_url", StringType()),
    StructField("cash", DoubleType()),
    StructField("cand_canon", StringType()),
    StructField("cand_host", StringType()),
    StructField("cand_reg_domain", StringType()),
])


def _assert_flat_matches_loop(pages) -> list:
    """Resolve ``pages`` (url_canon, outlinks, parent_priority) both ways
    and assert multiset equality of (disc, round(cash, 9), url_canon, host,
    reg_domain). Returns the flat path's rows."""
    links = F.slice("outlinks", 1, 100)
    old = (
        pages.select(
            "url_canon", "parent_priority",
            resolve_outlinks_arr_udf("url_canon", links).alias("_r"),
        )
        .withColumn(
            "cash",
            F.when(
                F.size("_r") > 0, F.col("parent_priority") / F.size("_r")
            ).otherwise(F.lit(0.0)),
        )
        .select(F.col("url_canon").alias("disc"), "cash",
                F.explode("_r").alias("r"))
        .select("disc", "cash", "r.url_canon", "r.host", "r.reg_domain")
        .collect()
    )
    new = (
        pages.select(
            F.col("url_canon").alias("disc_url"),
            links.alias("outlinks"),
            "parent_priority",
        )
        .mapInArrow(
            make_flat_resolver(
                "disc_url", "outlinks", "parent_priority", ["disc_url"]
            ),
            _FLAT_SCHEMA,
        )
        .collect()
    )

    def key(r):
        return (r[0], round(r[1], 9), r[2], r[3], r[4])

    assert len(new) == len(old)
    assert Counter(map(key, new)) == Counter(map(key, old))
    return new


def test_flat_resolver_matches_arrow_loop_on_world(spark):
    from bitextor_spark.frontier.world import spark_world

    dfs = spark_world(spark, n_pages=4000, n_hosts=40, mean_outlinks=10,
                      seed=11, n_seeds=50)
    pages = dfs["pages"].select(
        "url_canon", "outlinks", F.lit(1.0).alias("parent_priority")
    )
    # the world actually exercises the resolver
    assert len(_assert_flat_matches_loop(pages)) > 10_000


# A hostile link is a prefix (absolute with every scheme/host/port
# spelling, scheme-relative, or none) plus fragments that each steer the
# resolver to a different branch: escapes (good and bad), dot segments,
# characters outside the clean classes, control whitespace, non-ASCII,
# ports, empty authority, query and fragment markers.
_HOSTILE_PREFIXES = [
    "", "", "", "http://ex.com/", "https://h.ex.com/", "http://www.ex.com/",
    "http://www3.ex.com/", "HTTP://EX.COM:80/", "http://ex.com:8080/",
    "HtTpS://x.org/", "//ex.com/", "http://ex.com", "ftp://ex.com/",
    "mailto:", "http:///",
]
_CLEAN_PARTS = ["a", "B", "p.html", "x-y_z~", "d/", "e.f/"]
_HOSTILE_PARTS = [
    "/", "//", "..", ".", "../", "./", "%", "%2F", "%2f", "%zz", "%20", "|",
    " ", "\t", "\x1c", "é", "中", ":", ":80", "#", "?", "=", "&", "@",
    "www.",
]


def _hostile_pages(seed=5, n_pages=60, links_per_page=60):
    rng = random.Random(seed)
    raw_bases = [
        "http://ex.com/a/base.html", "http://h.ex.com/", "https://x.org/d/",
        "http://pc.ex.com/%20enc/base.html", "http://ex.com/a%2Fb/c.html",
        "HTTP://WWW.Ex.com:80/Up/./x.html", "http://ex.com/é/x",
        "https://x.org:8443/a b/",
    ]
    # the engine resolves against url_canon: feed canonical bases only
    bases = [b for b in map(canonicalize_url, raw_bases) if b]
    assert any("%" in b for b in bases) and any("%" not in b for b in bases)
    pages = []
    for i in range(n_pages):
        links = []
        for _ in range(links_per_page):
            if links and rng.random() < 0.1:
                links.append(rng.choice(links))  # within-page duplicate
            else:
                # clean parts dominate so the fast paths see traffic too
                links.append(rng.choice(_HOSTILE_PREFIXES) + "".join(
                    rng.choice(
                        _HOSTILE_PARTS if rng.random() < 0.25
                        else _CLEAN_PARTS
                    )
                    for _ in range(rng.randint(1, 5))
                ))
        pages.append((bases[i % len(bases)], float(i % 7 + 1), links))
    return pages


def test_flat_resolver_adversarial_edges(spark):
    """Edge rows the synthetic worlds never generate, pinned flat-vs-loop:
    control-char whitespace (Python strips \\x1c, RE2's White_Space does
    not — must fall to the slow path, not diverge), null links inside the
    array, empty arrays, NULL/empty base, base containing '%' (clean-rel
    veto), links that need every canonicalization rule, and duplicate
    spellings that collapse within the page. Then a seeded corpus of 3,600
    links built from hostile fragments, over canonical bases with and
    without '%', so every branch of the flat pass sees traffic."""
    rows = [
        ("http://ex.com/a/base.html", 2.0,
         ["p1.html", " p1.html ", "\x1chttp://ex.com/c1.html",
          "HTTP://EX.COM:80/up.html?PHPSESSID=deadbeef#f",
          "http://www3.ex.com/w.html", None, "", "   ",
          "../up/esc.html", "mailto:x@y", "p1.html",
          "http://ex.com/ok/fine.html", "http://ex.com/ok//dup.html"]),
        ("http://pc.ex.com/%20enc/base.html", 1.0,
         ["rel.html", "http://ex.com/abs.html"]),   # % base: rel via slow path
        (None, 1.0, ["p1.html"]),                   # null base -> no rows
        ("http://empty.ex.com/x.html", 1.0, []),
        ("http://nullarr.ex.com/x.html", 1.0, None),
    ]
    pages = spark.createDataFrame(
        rows + _hostile_pages(),
        "url_canon string, parent_priority double, outlinks array<string>",
    )
    new = _assert_flat_matches_loop(pages)
    # the null/empty/None-array pages must emit nothing
    discs = {r[0] for r in new}
    assert not discs & {None, "http://empty.ex.com/x.html",
                        "http://nullarr.ex.com/x.html"}
    # the hostile corpus reaches the resolver's output, not just its rejects
    assert len(new) > 500
