"""Query registry, batch 3 — source formats, link-set features, encodings.

Covered (SURVEY.md §2 citations):
  S5  prevertical reader: ``<doc lang=...>`` attribute extraction + ISO-639
      normalization (bitextor_prevertical_lang_iso639_1.py:18-60)
  F18 TMX date formatting %Y%m%dT%H%M%S (bitextor_build_TMX.py:197)
  T2  Jaccard of href link sets per doc pair
      (bitextor_url_set_overlap.py:26-81)
  J6  mutually-linked probe: is a's URL in b's extracted link set
      (bitextor_mutually_linked.py:84-95)
  F10 encoding detect/convert cascade utf-8 → iso-8859-1 → cp1252
      (bitextor_warc2preprocess.py:157-169) — pandas UDF over binary
      payloads (rows-only; byte decoding is not DuckDB-expressible)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from bitextor_spark.queries import T, _sql_tokens, q, ts_us

# =========================================================================
# S5 — prevertical format parsing (regex extraction over a text source)
# =========================================================================

_PREVERT_SQL = (
    "'<doc id=\"d' || doc_id || '\" lang=\"' || "
    "CASE WHEN doc_id % 3 = 0 THEN upper(lang) ELSE lang END"
    " || '\" url=\"http://' || source || '.example.com/doc/' || doc_id"
    " || '\">' || text || '</doc>'"
)

# F15 ISO-639 normalization map (bitextor_prevertical_lang_iso639_1.py:25-53
# runs parse + lookup as ONE operator, so the query mirrors that)
_LANG_MAP = [
    ("en", "eng", "English"), ("de", "deu", "German"), ("fr", "fra", "French"),
    ("es", "spa", "Spanish"), ("zh", "zho", "Chinese"), ("pt", "por", "Portuguese"),
]
_LANG_SQL = "(VALUES " + ", ".join(
    f"('{a}', '{b}', '{c}')" for a, b, c in _LANG_MAP
) + ") lm(lang, iso3, lang_name)"


@q(
    "s5_prevertical_parse",
    f"""
    WITH p AS (SELECT doc_id, {_PREVERT_SQL} AS line FROM documents),
    x AS (
      SELECT doc_id,
             regexp_extract(line, 'id="([^"]+)"', 1) AS prevert_id,
             lower(regexp_extract(line, 'lang="([^"]+)"', 1)) AS lang_norm,
             regexp_extract(line, 'url="([^"]+)"', 1) AS url,
             len(regexp_extract(line, '>([^<]*)</doc>', 1)) AS body_len
      FROM p)
    SELECT x.doc_id, x.prevert_id, x.lang_norm, x.url, x.body_len,
           coalesce(lm.iso3, 'und') AS iso3,
           coalesce(lm.lang_name, 'Undetermined') AS lang_name
    FROM x LEFT JOIN {_LANG_SQL} ON x.lang_norm = lm.lang
    """,
)
def s5_prevertical_parse(spark, sf_dir):
    """S5 prevertical parse + F15 ISO-639 lang normalization (one operator
    in the reference): regex attribute extraction, lowercase lang_norm,
    then the broadcast lookup to ISO-639-3 + display name."""
    docs = T(spark, sf_dir, "documents")
    line = F.concat(
        F.lit('<doc id="d'), F.col("doc_id").cast("string"),
        F.lit('" lang="'),
        F.when(F.col("doc_id") % 3 == 0, F.upper("lang")).otherwise(F.col("lang")),
        F.lit('" url="http://'), F.col("source"),
        F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
        F.lit('">'), F.col("text"), F.lit("</doc>"),
    )
    p = docs.select("doc_id", line.alias("line"))
    x = p.select(
        "doc_id",
        F.regexp_extract("line", r'id="([^"]+)"', 1).alias("prevert_id"),
        F.lower(F.regexp_extract("line", r'lang="([^"]+)"', 1)).alias("lang_norm"),
        F.regexp_extract("line", r'url="([^"]+)"', 1).alias("url"),
        F.length(F.regexp_extract("line", r">([^<]*)</doc>", 1)).cast("bigint")
        .alias("body_len"),
    )
    lm = spark.createDataFrame(
        _LANG_MAP, "lang_norm string, iso3 string, lang_name string"
    )
    return x.join(F.broadcast(lm), "lang_norm", "left").select(
        "doc_id", "prevert_id", "lang_norm", "url", "body_len",
        F.coalesce("iso3", F.lit("und")).alias("iso3"),
        F.coalesce("lang_name", F.lit("Undetermined")).alias("lang_name"),
    )


# =========================================================================
# F18 — TMX timestamp formatting
# =========================================================================

@q(
    "f18_tmx_dates",
    """
    SELECT strftime(ts, '%Y%m%dT%H%M%S') AS tmx_date, count(*) AS n,
           epoch_us(min(ts)) AS first_us
    FROM events
    WHERE event_type = 'click'
    GROUP BY 1
    """,
)
def f18_tmx_dates(spark, sf_dir):
    ev = T(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    return ev.groupBy(
        F.date_format(F.col("ts").cast("timestamp"), "yyyyMMdd'T'HHmmss").alias(
            "tmx_date"
        )
    ).agg(
        F.count(F.lit(1)).alias("n"),
        ts_us(F.min("ts")).alias("first_us"),
    )


# =========================================================================
# T2/J6 — link-set features over extracted hrefs
# =========================================================================

# Per-doc link set from the same synthesized-HTML universe as
# c13_link_extract. source = doc_id % 20 in the test data, so pairs are
# (a, a+20) within a source; the conditional first element varies overlap
# and mutual-link outcomes across pairs.
_LINKSET_SQL = """
    links AS (
      SELECT doc_id, source,
             [CASE WHEN doc_id % 3 = 0
                   THEN 'http://' || source || '.example.com/doc/' || (doc_id + 40)
                   ELSE 'http://' || source || '.example.com/doc/' || (doc_id + 20)
              END,
              'http://' || source || '.example.com/doc/' || (doc_id + 2),
              'http://' || source || '.example.com/doc/' || (doc_id - 20),
              'http://shared.example.com/hub'] AS hrefs
      FROM documents)
"""


@q(
    "t2_href_jaccard",
    f"""
    WITH {_LINKSET_SQL}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.hrefs, b.hrefs)) AS DOUBLE)
                 / len(list_distinct(a.hrefs || b.hrefs)), 4) AS href_jaccard
    FROM links a JOIN links b
      ON a.source = b.source AND b.doc_id = a.doc_id + 20
    """,
)
def t2_href_jaccard(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")

    def hrefs(did):
        base = F.concat(F.lit("http://"), F.col(f"{did}.source"), F.lit(".example.com/doc/"))
        d = F.col(f"{did}.doc_id")
        return F.array(
            F.when(d % 3 == 0, F.concat(base, (d + 40).cast("string")))
            .otherwise(F.concat(base, (d + 20).cast("string"))),
            F.concat(base, (d + 2).cast("string")),
            F.concat(base, (d - 20).cast("string")),
            F.lit("http://shared.example.com/hub"),
        )

    a, b = docs.alias("a"), docs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("b.doc_id") == F.col("a.doc_id") + 20),
    )
    ha, hb = hrefs("a"), hrefs("b")
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(
            F.size(F.array_intersect(ha, hb)).cast("double")
            / F.size(F.array_union(ha, hb)),
            4,
        ).alias("href_jaccard"),
    )


@q(
    "j6_mutually_linked",
    f"""
    WITH {_LINKSET_SQL},
    u AS (SELECT doc_id, source, hrefs,
                 'http://' || source || '.example.com/doc/' || doc_id AS url
          FROM links)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           list_contains(a.hrefs, b.url) AS a_links_b,
           list_contains(b.hrefs, a.url) AS b_links_a,
           (list_contains(a.hrefs, b.url) AND list_contains(b.hrefs, a.url))
             AS mutually_linked
    FROM u a JOIN u b ON a.source = b.source AND b.doc_id = a.doc_id + 20
    """,
)
def j6_mutually_linked(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")

    def withlinks(df):
        base = F.concat(F.lit("http://"), F.col("source"), F.lit(".example.com/doc/"))
        d = F.col("doc_id")
        return df.select(
            "doc_id", "source",
            F.concat(base, d.cast("string")).alias("url"),
            F.array(
                F.when(d % 3 == 0, F.concat(base, (d + 40).cast("string")))
                .otherwise(F.concat(base, (d + 20).cast("string"))),
                F.concat(base, (d + 2).cast("string")),
                F.concat(base, (d - 20).cast("string")),
                F.lit("http://shared.example.com/hub"),
            ).alias("hrefs"),
        )

    a = withlinks(docs).alias("a")
    b = withlinks(docs).alias("b")
    a_links_b = F.array_contains(F.col("a.hrefs"), F.col("b.url"))
    b_links_a = F.array_contains(F.col("b.hrefs"), F.col("a.url"))
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("b.doc_id") == F.col("a.doc_id") + 20),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            a_links_b.alias("a_links_b"),
            b_links_a.alias("b_links_a"),
            (a_links_b & b_links_a).alias("mutually_linked"),
        )
    )


# =========================================================================
# F10 — encoding detect/convert cascade (pandas UDF over binary payloads)
# =========================================================================

@q(
    "f10_encoding_normalize",
    """
    WITH marked AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 1 THEN 'iso-8859-1' ELSE 'utf-8' END
               AS codec,
             (text = regexp_replace(text, '[^ -~]', '', 'g')) AS ok
      FROM documents)
    SELECT codec, count(*) AS n,
           CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
    FROM marked GROUP BY codec
    """,
)
def f10_encoding_normalize(spark, sf_dir):
    """Encoding cascade: try utf-8, fall back to iso-8859-1, then cp1252
    (bitextor_warc2preprocess.py:157-169). Payload bytes are synthesized
    per-row in a deterministic mix of encodings over the ASCII-sanitized
    text (so every payload is cleanly encodable); the mapInPandas cascade
    does REAL byte decoding and reports which codec won plus whether the
    recovered text startswith the original. The oracle predicts both
    independently in SQL: the latin-1 payload's 0xE9-then-space byte pair
    always breaks strict utf-8 (→ 'iso-8859-1'), the others decode as
    utf-8; recovery holds exactly when the text was already printable
    ASCII."""
    docs = T(spark, sf_dir, "documents")
    # deterministically pick an encoding per row and build the byte payload
    enc = (F.col("doc_id") % 3)
    ascii_text = F.regexp_replace(F.col("text"), "[^ -~]", "")
    payload = (
        F.when(enc == 0, F.encode(F.concat(ascii_text, F.lit(" é utf8")), "UTF-8"))
        .when(enc == 1, F.encode(F.concat(ascii_text, F.lit(" é latin")), "ISO-8859-1"))
        .otherwise(F.encode(ascii_text, "US-ASCII"))
    )
    src = docs.select("doc_id", "text", payload.alias("payload"))

    def cascade(batches):
        for pdf in batches:
            codecs_used, texts, ok = [], [], []
            for t, raw in zip(pdf["text"], pdf["payload"]):
                b = bytes(raw)
                for codec in ("utf-8", "iso-8859-1", "cp1252"):
                    try:
                        s = b.decode(codec)
                        codecs_used.append(codec)
                        texts.append(s)
                        break
                    except UnicodeDecodeError:
                        continue
                else:
                    codecs_used.append("failed")
                    texts.append("")
                ok.append(texts[-1].startswith(t))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "codec": codecs_used,
                 "recovered_ok": ok}
            )

    out = src.mapInPandas(cascade, "doc_id long, codec string, recovered_ok boolean")
    return out.groupBy("codec").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("recovered_ok"), 1).otherwise(0)).alias("n_ok"),
    )


# =========================================================================
# S1/S2 — real WARC round trip: write per-partition .warc.gz shards from
# the documents table, read them back through the binaryFile + mapInPandas
# WARC source, and aggregate. The WARC content derives deterministically
# from `documents`, so the DuckDB oracle computes the same aggregate from
# the source table directly — a full-strength correctness gate for both
# the writer and the parser (bitextor_wget.py:84-104 record semantics,
# bitextor_warc2preprocess.py ArchiveIterator loop).
# =========================================================================

@q(
    "warc_roundtrip_stats",
    """
    SELECT
      CASE WHEN doc_id % 10 = 0 THEN 'application/pdf'
           ELSE 'text/html' END AS content_type,
      count(*) AS n_records,
      CAST(sum(octet_length(encode('<html><body>' || text || '</body></html>')))
           AS BIGINT) AS total_bytes,
      CAST(count(DISTINCT doc_id % 37) AS BIGINT) AS n_hosts
    FROM documents
    WHERE doc_id % 17 <> 0
    GROUP BY content_type
    """,
)
def warc_roundtrip_stats(spark, sf_dir):
    import hashlib
    import shutil
    import tempfile
    import os

    from bitextor_spark.sources.warc import read_warc, write_warc_shards

    docs = T(spark, sf_dir, "documents")
    records = docs.select(
        F.col("doc_id").cast("string").alias("record_id"),
        F.concat(
            F.lit("http://h"), (F.col("doc_id") % 37).cast("string"),
            F.lit(".warc.test/d"), F.col("doc_id").cast("string"),
        ).alias("target_uri"),
        F.when(F.col("doc_id") % 17 == 0, 404).otherwise(200).alias("status"),
        F.when(F.col("doc_id") % 10 == 0, "application/pdf")
        .otherwise("text/html").alias("content_type"),
        F.encode(
            F.concat(F.lit("<html><body>"), F.col("text"),
                     F.lit("</body></html>")),
            "utf-8",
        ).alias("body"),
    ).repartition(8, "doc_id")
    # deterministic shard dir per sf_dir; rebuilt per run (cheap at test SF)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    out_dir = os.path.join(tempfile.gettempdir(), f"warc_fixture_{tag}")
    shutil.rmtree(out_dir, ignore_errors=True)
    write_warc_shards(records, out_dir)

    parsed = read_warc(spark, out_dir)
    return (
        parsed.filter(
            (F.col("warc_type") == "response") & (F.col("http_status") == 200)
        )
        .groupBy("content_type")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("payload_len").alias("total_bytes"),
            F.countDistinct(
                # try_: Spark 4 parse_url throws on invalid URLs; equal on
                # every parseable input, NULL instead of a job kill otherwise
                F.try_parse_url("target_uri", F.lit("HOST"))
            ).alias("n_hosts"),
        )
    )


# =========================================================================
# F6 — HTML structure-string distance (docalign feature). The reference
# reduces each HTML document to a string of tag initials and scores doc
# pairs by edit-distance ratio (bitextor_structure_distance.py:29-99).
# The synthetic corpus has no HTML, so the tag sequence derives
# deterministically from the token stream (token length picks the wrapping
# tag) on BOTH engines; the distance/ratio math is the reference's.
# =========================================================================


@q(
    "f6_structure_distance",
    f"""
    WITH s AS (
      SELECT doc_id,
             'hb' || array_to_string(
               list_transform({_sql_tokens('text')},
                              t -> ['p','d','s'][strlen(t) % 3 + 1]), '')
                  || 'bh' AS struct_str
      FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.struct_str, b.struct_str) AS INT) AS dist,
           round(1.0 - levenshtein(a.struct_str, b.struct_str)
                 / greatest(strlen(a.struct_str), strlen(b.struct_str)), 4)
             AS structure_sim
    FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
    """,
)
def f6_structure_distance(spark, sf_dir):
    from bitextor_spark.functions.text import tokens

    docs = T(spark, sf_dir, "documents")
    tag = F.transform(
        tokens(F.col("text")),
        lambda t: F.element_at(
            F.array(F.lit("p"), F.lit("d"), F.lit("s")),
            (F.length(t) % 3 + 1).cast("int"),
        ),
    )
    s = docs.select(
        "doc_id",
        F.concat(F.lit("hb"), F.concat_ws("", tag), F.lit("bh")).alias("struct_str"),
    )
    a, b = s.alias("a"), s.alias("b")
    dist = F.levenshtein(F.col("a.struct_str"), F.col("b.struct_str"))
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("int").alias("dist"),
            F.round(
                1.0
                - dist
                / F.greatest(
                    F.length("a.struct_str"), F.length("b.struct_str")
                ),
                4,
            ).alias("structure_sim"),
        )
    )


# =========================================================================
# P7 — profile-based language ID (cld2-style re-expression). The reference
# runs cld2/cld3 inside warc2preprocess (bitextor_warc2preprocess.py); the
# mechanism is char-n-gram profile scoring. Here: per-language top-trigram
# profiles (public linguistic frequency knowledge), score = how many of a
# document's char trigrams appear in each profile, argmax wins (tie →
# lexicographic). Pure JVM on the Spark side, identical VALUES-join in the
# DuckDB oracle.
# =========================================================================

_LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "ing", "ion", "tio", "ent", "ati", "for", "her",
           "ter", "hat", "tha", "ere", "ate", "his", "con", "res", "ver",
           "all", "ons", "nce", "men", "ith", "ted", "ers", "pro", "thi",
           "wit", "are", "ess", "not", "ive", "was", "ect", "rea", "com"),
    "es": ("que", "ent", "con", "ado", "cio", "ion", "aci", "los", "del",
           "las", "por", "una", "nte", "par", "est", "ara", "ndo", "era",
           "res", "sta", "ien", "tra", "cia", "com", "des", "nci",
           "aba", "oso", "ura", "ero"),
    "fr": ("les", "ent", "des", "ion", "que", "ait", "tio", "ons", "eur",
           "our", "ant", "sur", "par", "est", "men", "ais", "une", "our",
           "ell", "dan", "pou", "con", "tre", "ous", "ans", "lle", "eme",
           "com", "ire", "res", "ont", "tes"),
    "de": ("der", "die", "und", "den", "ich", "ein", "sch", "che", "ver",
           "gen", "ung", "das", "ber", "ten", "ter", "hen", "nde", "auf",
           "ers", "ist", "ine", "nen", "mit", "des", "wer", "ach", "eit",
           "ede", "ier", "end", "aus"),
}


def _langid_profile_sql() -> str:
    """VALUES-join oracle over the SAME profile rows the query loads —
    the committed corpus-derived 17-language artifact by default."""
    from bitextor_spark.models import load_langid_profile

    def lit(s: str) -> str:  # profile rows can come from an env-pointed
        return "'" + s.replace("'", "''") + "'"  # TSV — escape quotes

    values = ", ".join(
        f"({lit(lang)}, {lit(t)})"
        for lang, t in load_langid_profile(default=_LANG_TRIGRAMS)
    )
    return f"""
    WITH prof(lang, tri) AS (VALUES {values}),
    norm AS (
      SELECT doc_id,
             regexp_replace(lower(text), '[^a-z ]', '', 'g') AS s
      FROM documents),
    tri AS (
      SELECT doc_id, unnest([s[i:i+2] for i in
                             generate_series(1, greatest(strlen(s)-2, 0))]) AS tri
      FROM norm),
    hits AS (
      SELECT t.doc_id, p.lang, count(*) AS hits
      FROM tri t JOIN prof p ON t.tri = p.tri
      GROUP BY 1, 2),
    best AS (
      SELECT doc_id, lang, hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, lang) AS rnk
      FROM hits)
    SELECT doc_id, lang AS pred_lang, CAST(hits AS BIGINT) AS hits
    FROM best WHERE rnk = 1
    """


@q("p7_langid_trigram", _langid_profile_sql())
def p7_langid_trigram(spark, sf_dir):
    # profile is a pluggable artifact (models.load_langid_profile — a
    # cld2/cld3-style exported table); the committed default is the
    # 17-language corpus-derived profile (tools/build_langid_profile.py),
    # which the oracle SQL replays row-for-row. Profiles up to 4096 rows
    # (the 816-row default included) take the shuffle-free codegen path
    # below; a larger env-pointed profile takes the broadcast-join path.
    from bitextor_spark.models import load_langid_profile

    rows = load_langid_profile(default=_LANG_TRIGRAMS)
    docs = T(spark, sf_dir, "documents")
    s = F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", "")
    # substring with a dynamic start needs expr form
    docs2 = docs.select("doc_id", s.alias("s"))
    if len(rows) <= 4096:
        # small/mid profile (incl. the committed 17-language, 816-row
        # default since r5): one narrow JVM pass — hits per lang = count of
        # sliding-window trigram positions matching the profile, computed
        # as regexp_count over a zero-width lookahead alternation
        # ("(?=(?:the|and|...))" matches every OVERLAPPING position,
        # exactly the explode's sliding window), CHUNKED at
        # _ALT_CHUNK trigrams per pattern so alternation length stays
        # codegen-friendly (summing chunk counts is exact: a position's
        # single trigram matches at most one distinct alternative, so at
        # most one chunk). Winner via array_min(struct(-hits, lang)).
        # Identical semantics to the explode→join→groupBy→rank plan (a
        # trigram may sit in several profiles; each lang scans
        # independently), but the doc table never explodes to one row per
        # character, nothing shuffles, and the whole expression stays
        # inside whole-stage codegen — no interpreted higher-order lambdas
        # recomputing the normalization. Measured at sf0.1: this tier runs
        # the 816-row default in ~1.5 s vs ~4.6 s through the broadcast
        # join (r4 verdict directive #6).
        from collections import Counter

        _ALT_CHUNK = 96

        # one parquet file scans as one task; spread the regex scoring
        # (explicit numPartitions — AQE does not coalesce it away)
        docs2 = docs2.repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions"))
        )

        by_lang: dict[str, Counter] = {}
        for lang, t in rows:
            by_lang.setdefault(lang, Counter())[t] += 1

        def lang_hits(cnt: Counter) -> Column:
            # profile rows may repeat a (lang, trigram) pair; the join plan
            # (and the oracle's VALUES join) counts each repeat, so weight
            # position counts by multiplicity
            by_mult: dict[int, list[str]] = {}
            for t, m in cnt.items():
                by_mult.setdefault(m, []).append(t)
            total = F.lit(0)
            for m, ts in sorted(by_mult.items()):
                ts = sorted(ts)
                for i in range(0, len(ts), _ALT_CHUNK):
                    alt = "|".join(
                        "\\Q" + t + "\\E" for t in ts[i:i + _ALT_CHUNK]
                    )
                    n = F.regexp_count(F.col("s"), F.lit(f"(?=(?:{alt}))"))
                    total = total + (F.lit(m) * n)
            return total.cast("long")

        scored = docs2.select(
            "doc_id",
            F.array(
                *[
                    F.struct(
                        (-lang_hits(cnt)).alias("neg_hits"),
                        F.lit(lang).alias("lang"),
                    )
                    for lang, cnt in sorted(by_lang.items())
                ]
            ).alias("cand"),
        )
        # zero-hit docs drop via a conditional explode, NOT a filter: a
        # Filter would push below the repartition to the single-task scan
        # and re-evaluate the whole regex battery serially; Generate stays
        # put, so the scoring runs exactly once, post-shuffle.
        w = F.array_min("cand")
        best = scored.select(
            "doc_id",
            F.explode(
                F.when(w["neg_hits"] < 0, F.array(w)).otherwise(
                    F.array().cast(
                        "array<struct<neg_hits:bigint,lang:string>>"
                    )
                )
            ).alias("w"),
        )
        return best.select(
            "doc_id",
            F.col("w.lang").alias("pred_lang"),
            (-F.col("w.neg_hits")).alias("hits"),
        )
    # large (real-model) profile: per-trigram membership scans stop paying
    # off, fall back to the broadcast equi-join plan
    from pyspark.sql import Window

    tri_df = docs2.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(s)-2, 0)),"
                " i -> substring(s, i, 3))"
            )
        ).alias("tri"),
    )
    prof = docs.sparkSession.createDataFrame(rows, "lang string, tri string")
    hits = (
        tri_df.join(F.broadcast(prof), "tri")
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), "lang")
    return (
        hits.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"), "hits")
    )


# =========================================================================
# S7/F17 — TMX <tu> serialization with XML escaping. The reference builds
# one TMX from aligned pairs (bitextor_build_TMX.py:197-344) with
# xml.sax.saxutils escaping; here the <tu> string is pure JVM expression
# work (functions/text.xml_escape + concat) and the DuckDB oracle applies
# the identical replacement chain. A constant suffix carrying every
# escapable character makes the escape do real work on both engines.
# =========================================================================

_ESC_PROBE = " A&B <tag> \"q\" 's'"


def _sql_xml_escape(expr: str) -> str:
    out = expr
    for raw, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                     ('"', "&quot;"), ("'", "&apos;")):
        raw_sql = raw.replace("'", "''")
        ent_sql = ent.replace("'", "''")
        out = f"replace({out}, '{raw_sql}', '{ent_sql}')"
    return out


# SQL-side twin of the probed source text (built outside the f-string:
# f-string expressions cannot carry backslash escapes)
_SRC_PROBED = "src_text || ' A&B <tag> " + '"q"' + " ''s'''"
_SRC_ESC = _sql_xml_escape(_SRC_PROBED)
_TRG_ESC = _sql_xml_escape("trg_text")


@q(
    "s7_tmx_format",
    f"""
    WITH p AS (
      SELECT a.doc_id AS tuid, a.text AS src_text,
             b.lang AS trg_lang, b.text AS trg_text
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1)
    SELECT tuid,
           '  <tu tuid="' || tuid || '"><tuv xml:lang="en"><seg>'
           || {_SRC_ESC}
           || '</seg></tuv><tuv xml:lang="' || trg_lang || '"><seg>'
           || {_TRG_ESC}
           || '</seg></tuv></tu>' AS tu
    FROM p
    """,
)
def s7_tmx_format(spark, sf_dir):
    from bitextor_spark.sources.tmx import tu_xml

    docs = T(spark, sf_dir, "documents")
    a, b = docs.alias("a"), docs.alias("b")
    pairs = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1).select(
        F.col("a.doc_id").alias("tuid"),
        F.concat(F.col("a.text"), F.lit(_ESC_PROBE)).alias("src_text"),
        F.col("b.lang").alias("trg_lang"),
        F.col("b.text").alias("trg_text"),
    )
    return pairs.select(
        "tuid",
        tu_xml(
            F.col("tuid"), "en", F.col("src_text"), F.col("trg_lang"),
            F.col("trg_text"),
        ).alias("tu"),
    )


# =========================================================================
# ANN — IVF-flat variant (the charter's "IVF or LSH-bucketed" scale path;
# we ship both). Deterministic coarse centroids (lowest-id corpus
# vectors), nearest-list assignment, n_probe lists per query, exact
# rescore. operators/similarity.py::ivf_cosine_topk.
# =========================================================================

_IVF_COS = (
    "(list_dot_product({a}.embedding::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}.embedding::DOUBLE[], {a}.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))))"
)


@q(
    "ann_ivf_topk",
    f"""
    WITH cent AS (
      SELECT vec_id AS cent_id, embedding AS cent_vec
      FROM embeddings WHERE vec_id >= 10 ORDER BY vec_id LIMIT 16),
    assign AS (
      SELECT cid, list_id FROM (
        SELECT c.vec_id AS cid, ct.cent_id AS list_id,
               row_number() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY {_IVF_COS.format(a='c', b='ct.cent_vec')} DESC,
                          ct.cent_id) AS r
        FROM embeddings c CROSS JOIN cent ct WHERE c.vec_id >= 10)
      WHERE r = 1),
    probe AS (
      SELECT qid, probe_id FROM (
        SELECT q.vec_id AS qid, ct.cent_id AS probe_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_IVF_COS.format(a='q', b='ct.cent_vec')} DESC,
                          ct.cent_id) AS r
        FROM embeddings q CROSS JOIN cent ct WHERE q.vec_id < 10)
      WHERE r <= 2),
    cand AS (
      SELECT DISTINCT p.qid, a.cid FROM probe p
      JOIN assign a ON a.list_id = p.probe_id),
    scored AS (
      SELECT cand.qid, cand.cid,
             round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 4)
               AS cos
      FROM cand JOIN embeddings q ON q.vec_id = cand.qid
                JOIN embeddings c ON c.vec_id = cand.cid)
    SELECT qid, cid, cos, rank FROM (
      SELECT qid, cid, cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, cid) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def ann_ivf_topk(spark, sf_dir):
    from bitextor_spark.operators.similarity import ivf_cosine_topk

    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    return ivf_cosine_topk(queries, corpus, k=5, n_centroids=16, n_probe=2)
