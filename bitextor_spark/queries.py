"""Query registry: every SURVEY.md §2 operator as (Spark plan, DuckDB oracle).

Each entry pairs an idiomatic-Spark implementation with an ANSI-SQL twin
that DuckDB runs on the same parquet tables (pre-registered views). The
driver hashes both result sets order-insensitively — so every computed
column is aliased identically on both sides, floats are rounded at the
same precision on both sides, hashes are the md5-derived 60-bit integers
both engines compute identically (functions/hashes.py), and timestamps are
exported as epoch microseconds.

Non-SQL-expressible operators (greedy matching, converge matching, the
crawl wave itself) register with ``oracle=None`` → rows-only check; their
exactness oracles live in pytest (tests/test_frontier_parity.py,
tests/test_matching.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bitextor_spark.functions.hashes import MINHASH_SALTS, h64, h64_sql
from bitextor_spark.functions.text import (
    EN_STOPWORDS,
    normalized_text,
    shingles,
    stopword_count,
    token_count,
    tokens,
)
from bitextor_spark.operators import dedup as D
from bitextor_spark.operators import matching as M
from bitextor_spark.operators import similarity as S
from bitextor_spark.operators import tfidf as TF

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Machine-readable scale annotations: registry entries that are INTENTIONAL
# small-input exactness baselines — correct, oracle-checked, and NOT the
# plan to copy at 100 TB. Each names its scale-safe counterpart. Consumed
# by tools/plan_audit.py (cross-join allowlist) and here for anyone
# programmatically picking operators.
SCALE_BASELINE_ONLY: dict[str, str] = {
    "ann_cosine_topk": (
        "brute-force cosine cartesian — exactness baseline; use "
        "ann_lsh_bucketed or ann_ivf_topk at scale"
    ),
    "knn_label_vote": (
        "inherits the brute-force cartesian — baseline; bucket the "
        "candidate join (ann_lsh_bucketed pattern) at scale"
    ),
    "f5_levenshtein": (
        "bounded 25x5 cross join by construction — never grows with input"
    ),
    "w3_greedy_match": (
        "driver-local sequential greedy sweep (single sorted partition) — "
        "the small-input exactness oracle; w4_converge_match is the "
        "distributed operator of record, as in the reference"
    ),
}



def ts_us(col) -> "F.Column":
    """Epoch microseconds from a (possibly NTZ) timestamp column — session
    TZ is UTC so the cast is wall-clock-identity, matching DuckDB epoch_us."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))

def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# =========================================================================
# Relational core (A6 aggregations, J joins, W1 windows, O1 sorts)
# =========================================================================

@q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                  AS sum_qty,
           round(sum(l_extendedprice), 2)                             AS sum_base,
           round(sum(l_extendedprice * (1 - l_discount)), 2)          AS sum_disc_price,
           round(sum(l_extendedprice * (1-l_discount) * (1+l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                  AS avg_qty,
           round(avg(l_discount), 4)                                  AS avg_disc,
           count(*)                                                   AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# (Previous rounds also registered TPC-H q3/q5 demos; consolidated away so
# every SURVEY §2 operator query fits inside the driver's 50-entry
# correctness window — q1 keeps the multi-agg relational coverage, joins
# are exercised by j4/t1/tfidf and the window/sort ops below.)


@q(
    "w1_topk_per_group",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice, rnk FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber) AS rnk
      FROM lineitem)
    WHERE rnk <= 3
    """,
)
def w1_topk_per_group(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), "l_linenumber"
    )
    return (
        li.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "rnk")
    )


@q(
    "o1_multikey_sort",
    """
    SELECT row_number() OVER (ORDER BY l_returnflag, l_linestatus,
                              l_shipdate DESC, l_orderkey, l_linenumber) AS seq,
           l_orderkey, l_linenumber
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def o1_multikey_sort(spark, sf_dir):
    """Global multi-key rank. A cheap count (pushed-down parquet scan)
    gates the plan: below the threshold the plain window wins (one trivial
    task); above it the range-partitioned rank keeps every task bounded —
    the 10^10-row path."""
    from bitextor_spark.plans.ordering import global_row_number

    li = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    keys = [
        F.col("l_returnflag"), F.col("l_linestatus"),
        F.col("l_shipdate").desc(), F.col("l_orderkey"),
        F.col("l_linenumber"),
    ]
    return global_row_number(
        li, keys, seq_col="seq", small_threshold=500_000, n_rows=li.count()
    ).select("seq", "l_orderkey", "l_linenumber")


# =========================================================================
# Dedup family (A5/C15 + training-data pipeline)
# =========================================================================

@q(
    "dedup_exact_first",
    """
    SELECT user_id, event_type, first_event_id, first_ts_us, n_dupes FROM (
      SELECT user_id, event_type,
             event_id  AS first_event_id,
             epoch_us(ts) AS first_ts_us,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn,
             count(*)   OVER (PARTITION BY user_id, event_type) AS n_dupes
      FROM events)
    WHERE rn = 1
    """,
)
def dedup_exact_first(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    out = D.first_per_group(ev, ["user_id", "event_type"], [F.col("ts"), F.col("event_id")])
    return out.select(
        "user_id", "event_type",
        F.col("event_id").alias("first_event_id"),
        ts_us("ts").alias("first_ts_us"),
        "n_dupes",
    )


def _sql_tokens(col: str) -> str:
    return f"list_filter(string_split_regex(trim({col}), '\\s+'), x -> x <> '')"


def _sql_token_hashes(col: str) -> str:
    return (
        f"list_transform(list_distinct({_sql_tokens(col)}), "
        f"x -> {h64_sql('x')})"
    )


def _minhash_sql_exprs(n_hashes: int) -> list[str]:
    return [
        f"list_min(list_transform(th, h -> xor(h, CAST({s} AS BIGINT))))"
        for s in MINHASH_SALTS[:n_hashes]
    ]


def _minhash_lsh_sql(n_hashes: int = 16, n_bands: int = 4) -> str:
    r = n_hashes // n_bands
    mh = _minhash_sql_exprs(n_hashes)
    sig_cols = ", ".join(f"{e} AS mh{i}" for i, e in enumerate(mh))
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(':', {cols})) AS bh FROM sig".format(
            b=b,
            cols=", ".join(f"CAST(mh{b * r + i} AS VARCHAR)" for i in range(r)),
        )
        for b in range(n_bands)
    )
    return f"""
    WITH th AS (SELECT doc_id, {_sql_token_hashes('text')} AS th FROM documents),
    sig AS (SELECT doc_id, {sig_cols} FROM th),
    bands AS ({band_selects})
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
    """


@q("dedup_minhash_lsh", _minhash_lsh_sql())
def dedup_minhash_lsh(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, "doc_id", "text", n_hashes=16, n_bands=4)


def _simhash_pairs_sql(bits: int = 32, max_dist: int = 10) -> str:
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(th, h -> CASE WHEN (h >> {b}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
    WITH th AS (SELECT doc_id, {_sql_token_hashes('text')} AS th FROM documents),
    s AS (SELECT doc_id AS doc, CAST({terms} AS BIGINT) AS sh FROM th)
    SELECT a.doc AS doc_a, b.doc AS doc_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM s a JOIN s b ON a.doc < b.doc
    WHERE bit_count(xor(a.sh, b.sh)) <= {max_dist}
    """


@q("dedup_simhash_pairs", _simhash_pairs_sql(bits=60, max_dist=4))
def dedup_simhash_pairs(spark, sf_dir):
    """Scale-safe configuration is the CHECKED one: 60-bit simhash / d=4 →
    five exactly-12-bit pigeonhole blocks (≥ the Manku WWW'07 production
    bar; 4096 values per block key, so bucket sizes stay n/4096 at web
    scale). 60 bits because the token hashes are 60-bit (functions/
    hashes.h64): simhash bits 60-63 would carry no signal. The signature
    itself (former dedup_simhash entry) is oracle-checked transitively —
    every pair's hamming distance depends on both full signatures."""
    docs = T(spark, sf_dir, "documents")
    return D.simhash_pairs(docs, "doc_id", "text", bits=60, max_dist=4)


def _shingle_list_sql(n: int) -> str:
    """List of distinct word n-gram shingles from a token-list column t."""
    parts = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return (
        f"list_distinct([{parts} for i in "
        f"generate_series(1, greatest(len(t)-{n - 1}, 0))])"
    )


@q(
    "dedup_ngram_jaccard",
    f"""
    WITH toks AS (SELECT doc_id, {_sql_tokens('text')} AS t FROM documents),
    sh AS (SELECT doc_id, unnest({_shingle_list_sql(3)}) AS s FROM toks),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS i
      FROM sh l JOIN sh r ON l.s = r.s AND l.doc_id < r.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(i / (sa.sz + sb.sz - i), 4) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a
               JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.05
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        docs, "doc_id", shingles(F.col("text"), 3), threshold=0.05
    )


def _lsh_neardup_sql(
    threshold: float, n_tables: int = 4, n_bits: int = 12
) -> str:
    """Oracle for the LSH-bucketed near-dup: the DuckDB side computes the
    SAME per-table coordinate-sign buckets (table t reads dim slice
    [t·n_bits, (t+1)·n_bits)) and applies the same candidate predicate —
    buckets within hamming ≤ 1 in any table — before the exact cosine
    threshold. All-pairs is fine for the oracle (runs at sf0.01); the
    Spark plan is the probe/bucket equi-join."""

    def bucket_sql(side: str, t: int) -> str:
        bits = " + ".join(
            "(CASE WHEN {s}.embedding[{d}]::DOUBLE > 0 "
            "THEN {v} ELSE 0 END)".format(
                s=side, d=t * n_bits + b + 1, v=1 << b,
            )
            for b in range(n_bits)
        )
        return f"CAST({bits} AS INT)"

    cand = " OR ".join(
        f"bit_count(xor({bucket_sql('a', t)}, {bucket_sql('b', t)})) <= 1"
        for t in range(n_tables)
    )
    cos = (
        "round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /"
        " (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *"
        " sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4)"
    )
    return f"""
    SELECT a.vec_id AS ida, b.vec_id AS idb, {cos} AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ({cand}) AND {cos} >= {threshold}
    """


@q("dedup_embedding_cosine", _lsh_neardup_sql(threshold=0.35))
def dedup_embedding_cosine(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    return S.embedding_neardup_pairs(emb, "vec_id", "embedding", threshold=0.35)


# =========================================================================
# Similarity search (ANN)
# =========================================================================

_COS_SQL = (
    "round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 4)"
)


@q(
    "ann_cosine_topk",
    f"""
    WITH scored AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid, {_COS_SQL} AS cos
      FROM embeddings q JOIN embeddings c ON c.vec_id >= 10
      WHERE q.vec_id < 10)
    SELECT qid, cid, cos, rank FROM (
      SELECT qid, cid, cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, cid) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def ann_cosine_topk(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    return S.cosine_topk(F.broadcast(queries), corpus, k=5)


def _bucket_sql(alias: str, n_dims: int = 8) -> str:
    return " + ".join(
        f"(CASE WHEN {alias}.embedding[{d + 1}]::DOUBLE > 0 THEN {1 << d} ELSE 0 END)"
        for d in range(n_dims)
    )


@q(
    "ann_lsh_bucketed",
    f"""
    WITH b AS (SELECT vec_id AS vid, embedding,
                      CAST({_bucket_sql('embeddings')} AS INT) AS bucket
               FROM embeddings),
    scored AS (
      SELECT l.vid AS qid, l.bucket AS bucket, r.vid AS cid,
             round(list_dot_product(l.embedding::DOUBLE[], r.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(r.embedding::DOUBLE[], r.embedding::DOUBLE[]))), 4)
               AS cos
      FROM b l JOIN b r ON l.bucket = r.bucket AND l.vid <> r.vid)
    SELECT qid, bucket, cid, cos, rank FROM (
      SELECT qid, bucket, cid, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
)
def ann_lsh_bucketed(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    return S.bucketed_ann_topk(emb, "vec_id", "embedding", k=3, n_dims=8)


# =========================================================================
# Text analysis (training-data pipeline)
# =========================================================================

_STOPS_SQL = "[" + ", ".join(f"'{s}'" for s in EN_STOPWORDS) + "]"


@q(
    "text_analysis",
    f"""
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT)
             AS n_bpe,
           round(CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / len(t), 4)
             AS mean_token_len,
           round(CAST(len(list_filter(t, x -> list_contains({_STOPS_SQL}, lower(x))))
                 AS DOUBLE) / len(t), 4) AS stop_ratio,
           CASE WHEN len(list_filter(t, x -> list_contains({_STOPS_SQL}, lower(x))))
                     >= 0.05 * len(t)
                THEN 'en' ELSE 'unk' END AS pred_lang,
           round(0.4 * (CAST(len(regexp_extract_all(text, '[a-z]')) AS DOUBLE) / len(text))
               + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
               + 0.3 * least(1.0, len(t) / 100.0), 4) AS quality,
           fp,
           count(*) OVER (PARTITION BY fp) AS n_same
    FROM (SELECT doc_id, text, {_sql_tokens('text')} AS t,
                 md5(trim(regexp_replace(regexp_replace(lower(text),
                     '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
          FROM documents)
    """,
)
def text_analysis(spark, sf_dir):
    """Text-analysis battery in one narrow pass over `documents`: token
    counting (whitespace + BPE-ish regex), stopword-density language ID,
    quality score (alpha/uniq/length mix), and the normalized-text document
    fingerprint with its duplicate-group size. One query = one driver
    correctness row for the four charter text operators (formerly
    text_tokens / text_langid / text_quality / text_fingerprint); all
    expressions are JVM-side, the only wide op is the fingerprint-group
    window (hash shuffle on the 128-bit fp — scales)."""
    docs = T(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tok = token_count(F.col("text"))
    n_stop = stopword_count(F.col("text"))
    alpha_ratio = (
        F.regexp_count(F.col("text"), F.lit("[a-z]")).cast("double")
        / F.length("text")
    )
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    len_score = F.least(F.lit(1.0), F.size(toks) / F.lit(100.0))
    out = docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"))
        .cast("bigint")
        .alias("n_bpe"),
        F.round(
            F.aggregate(
                toks, F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double")
            )
            / F.size(toks),
            4,
        ).alias("mean_token_len"),
        F.round(n_stop.cast("double") / n_tok, 4).alias("stop_ratio"),
        F.when(n_stop >= 0.05 * n_tok, "en").otherwise("unk").alias("pred_lang"),
        F.round(0.4 * alpha_ratio + 0.3 * uniq_ratio + 0.3 * len_score, 4).alias(
            "quality"
        ),
        F.md5(normalized_text(F.col("text"))).alias("fp"),
    )
    return out.withColumn(
        "n_same", F.count(F.lit(1)).over(Window.partitionBy("fp")).cast("bigint")
    )


@q(
    "word_freq",
    f"""
    SELECT w AS word, count(*) AS cnt
    FROM (SELECT unnest({_sql_tokens('lower(text)')}) AS w FROM documents)
    GROUP BY w HAVING count(*) > 1
    """,
)
def word_freq(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


@q(
    "inverted_index",
    f"""
    SELECT w AS word,
           array_to_string(list_sort(list(DISTINCT doc_id)), ':') AS doc_list,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM (SELECT doc_id, unnest({_sql_tokens('text')}) AS w FROM documents)
    GROUP BY w HAVING count(DISTINCT doc_id) BETWEEN 2 AND 390
    """,
)
def inverted_index(spark, sf_dir):
    # DF prune bounds per the reference's idx build (min 2 / max cap,
    # bitextor_idx2ridx.py:148-149); max tuned to the fixture vocabulary so
    # both bounds are exercised with a non-empty posting list at sf0.01.
    docs = T(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(
            F.concat_ws(
                ":",
                F.transform(
                    F.sort_array(F.collect_set("doc_id")),
                    lambda d: d.cast("string"),
                ),
            ).alias("doc_list"),
            F.size(F.collect_set("doc_id")).cast("bigint").alias("df"),
        )
        .filter(F.col("df").between(2, 390))
    )


@q(
    "a2_doc_freq",
    f"""
    WITH toks AS (SELECT doc_id, {_sql_tokens('text')} AS t FROM documents)
    SELECT s AS ngram, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM (SELECT doc_id, unnest({_shingle_list_sql(2)}) AS s FROM toks)
    GROUP BY s
    HAVING count(DISTINCT doc_id) >= 2 AND count(DISTINCT doc_id) <= 1000
    """,
)
def a2_doc_freq(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(shingles(F.col("text"), 2))).alias("ngram"),
        )
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 1000))
    )


# =========================================================================
# TF-IDF similarity join (flagship, J5/A2/A3 + W1)
# =========================================================================

_TFIDF_SQL = """
WITH docs AS (
  SELECT doc_id AS doc, text,
         CAST(substr(source, 4) AS INT) AS srcnum
  FROM documents),
tf AS (
  SELECT doc, w AS token, count(*) AS tf
  FROM (SELECT doc, unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                       x -> x <> '')) AS w
        FROM docs)
  GROUP BY doc, w),
dfs AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
  HAVING count(*) >= 2 AND count(*) <= 1000),
n AS (SELECT count(*) AS n_docs FROM docs),
weighted AS (
  SELECT tf.doc, tf.token,
         ln(tf.tf + 1.0) * ln((SELECT n_docs FROM n) / (dfs.df + 1.0)) AS w
  FROM tf JOIN dfs ON tf.token = dfs.token),
normed AS (
  SELECT doc, token,
         w / sqrt(sum(w * w) OVER (PARTITION BY doc)) AS weight
  FROM weighted),
lv AS (SELECT n.doc AS src, n.token, n.weight AS lw
       FROM normed n JOIN docs d ON n.doc = d.doc WHERE d.srcnum < 10),
rv AS (SELECT n.doc AS trg, n.token, n.weight AS rw
       FROM normed n JOIN docs d ON n.doc = d.doc WHERE d.srcnum >= 10),
scores AS (
  SELECT src, trg, round(sum(lw * rw), 4) AS score
  FROM lv JOIN rv ON lv.token = rv.token
  GROUP BY src, trg HAVING round(sum(lw * rw), 4) >= 0.1)
SELECT src, trg, score, rank FROM (
  SELECT src, trg, score,
         row_number() OVER (PARTITION BY src ORDER BY score DESC, trg) AS rank
  FROM scores)
WHERE rank <= 10
"""


@q("tfidf_similarity", _TFIDF_SQL)
def tfidf_similarity(spark, sf_dir):
    docs = T(spark, sf_dir, "documents").withColumn(
        "srcnum", F.substring("source", 4, 10).cast("int")
    )
    left = docs.filter(F.col("srcnum") < 10).select(
        F.col("doc_id").alias("doc"), "text"
    )
    right = docs.filter(F.col("srcnum") >= 10).select(
        F.col("doc_id").alias("doc"), "text"
    )
    return TF.tfidf_similarity_join(left, right, threshold=0.1, top_k=10)


# =========================================================================
# Set operations (T1/T2) and pair filters (P4, F5, F16)
# =========================================================================

@q(
    "t1_jaccard_overlap",
    f"""
    WITH t AS (SELECT doc_id, source,
                      list_distinct({_sql_tokens('text')}) AS toks
               FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                 len(list_distinct(a.toks || b.toks)), 4) AS jaccard
    FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
    """,
)
def t1_jaccard_overlap(spark, sf_dir):
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = T(spark, sf_dir, "documents").repartition(n).select(
        "doc_id", "source", F.array_distinct(tokens(F.col("text"))).alias("toks")
    )
    a, b = docs.alias("a"), docs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(
                F.size(F.array_intersect("a.toks", "b.toks")).cast("double")
                / F.size(F.array_union("a.toks", "b.toks")),
                4,
            ).alias("jaccard"),
        )
    )


@q(
    "p4_length_ratio_filter",
    f"""
    WITH d AS (SELECT doc_id, source, n_chars,
                      CAST(len({_sql_tokens('text')}) AS BIGINT) AS n_tok
               FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(a.n_chars AS DOUBLE) / b.n_chars, 4) AS len_ratio
    FROM d a JOIN d b ON a.source = b.source AND b.doc_id = a.doc_id + 20
    WHERE a.n_tok < 200 AND b.n_tok < 200
      AND CAST(a.n_chars AS DOUBLE) / b.n_chars > 0.1666
      AND CAST(a.n_chars AS DOUBLE) / b.n_chars < 6.0
    """,
)
def p4_length_ratio_filter(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", token_count(F.col("text")).alias("n_tok")
    )
    a, b = d.alias("a"), d.alias("b")
    ratio = F.col("a.n_chars").cast("double") / F.col("b.n_chars")
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("b.doc_id") == F.col("a.doc_id") + 20),
        )
        .filter(
            (F.col("a.n_tok") < 200)
            & (F.col("b.n_tok") < 200)
            & (ratio > 0.1666)
            & (ratio < 6.0)
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(ratio, 4).alias("len_ratio"),
        )
    )


@q(
    "f5_levenshtein",
    """
    SELECT n_name, r_name, CAST(levenshtein(n_name, r_name) AS INT) AS dist
    FROM nation CROSS JOIN region
    """,
)
def f5_levenshtein(spark, sf_dir):
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return n.crossJoin(F.broadcast(r)).select(
        "n_name", "r_name", F.levenshtein("n_name", "r_name").cast("int").alias("dist")
    )


# =========================================================================
# Events: windowed aggregation, sessionization, JSON extraction (§2.10)
# =========================================================================

@q(
    "events_windowed_agg",
    """
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def events_windowed_agg(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return ev.groupBy(
        ts_us(F.date_trunc("hour", F.col("ts").cast("timestamp"))).alias("window_start_us"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@q(
    "events_sessionize",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, event_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS BIGINT)
               AS session_id
      FROM g)
    SELECT user_id, session_id, count(*) AS n_events,
           epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
    FROM s GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.withColumn(
        "new_sess",
        F.when(
            F.lag(ts_us("ts")).over(w).isNull()
            | (ts_us("ts") - F.lag(ts_us("ts")).over(w) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    s = g.withColumn("session_id", F.sum("new_sess").over(w))
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        ts_us(F.min("ts")).alias("start_us"),
        ts_us(F.max("ts")).alias("end_us"),
    )


@q(
    "events_json_extract",
    """
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def events_json_extract(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(
            F.avg(F.get_json_object("props", "$.k").cast("double")), 4
        ).alias("avg_k"),
        F.count(F.lit(1)).alias("n"),
    )


# =========================================================================
# Crawl-flavored SQL-expressible slice (C6/C8/C16 over synthesized URLs)
# =========================================================================

@q(
    "c6_url_canonicalize",
    """
    WITH u AS (
      SELECT doc_id,
             'HTTP://WWW.' || upper(source) || '.EXAMPLE.COM/doc/' || doc_id
               || '?PHPSESSID=deadbeef&q=' || doc_id AS url
      FROM documents)
    SELECT doc_id,
           rtrim(regexp_replace(regexp_replace(lower(url), 'www\\.', '', 'g'),
                                'phpsessid=[^&]*&?', '', 'g'), '?&') AS url_canon,
           regexp_extract(lower(url), '//(?:www\\.)?([^/]+)/', 1) AS host,
           regexp_extract(lower(url), '([a-z0-9]+\\.[a-z]+)/', 1) AS reg_domain
    FROM u
    """,
)
def c6_url_canonicalize(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    u = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://WWW."), F.upper("source"),
            F.lit(".EXAMPLE.COM/doc/"), F.col("doc_id").cast("string"),
            F.lit("?PHPSESSID=deadbeef&q="), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    low = F.lower(F.col("url"))
    return u.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(low, r"www\.", ""),
                r"phpsessid=[^&]*&?", "",
            ),
            r"[?&]+$", "",
        ).alias("url_canon"),
        F.regexp_extract(low, r"//(?:www\.)?([^/]+)/", 1).alias("host"),
        F.regexp_extract(low, r"([a-z0-9]+\.[a-z]+)/", 1).alias("reg_domain"),
    )


# =========================================================================
# Engine-output queries: the DuckDB oracle replays the reference
# simulator's expected output as literal VALUES (generated by
# tools/build_fixtures.py), so the driver hash-compares the engine's
# actual ordered fetch log against the golden single-threaded simulation —
# the analog of the reference's golden-output md5 gate (tests/common.sh).
# Since round 5 W3/W4 are oracle-paired the same way (pure-Python matcher
# replay over the DuckDB-recomputed pair set), so all 50 rows have oracles.
# =========================================================================

from bitextor_spark.expected_fixtures import EXPECTED_SQL  # noqa: E402


@q("w3_greedy_match", EXPECTED_SQL["w3_greedy_match"])
def w3_greedy_match(spark, sf_dir):
    """Greedy 1:1 sweep (docalign.cpp:424-462). Oracle: pure-Python replay
    of the sweep over the SAME pair set recomputed Spark-independently
    (DuckDB runs the hash-green tfidf oracle SQL), baked as literals for
    the driver's sf0.01 input by tools/build_fixtures.py and drift-guarded
    in tests/test_fixtures_drift.py."""
    pairs = tfidf_similarity(spark, sf_dir).select(
        F.col("src").cast("bigint"), F.col("trg").cast("bigint"),
        F.col("score").cast("double"),
    )
    return M.greedy_one_to_one(pairs)


@q("w4_converge_match", EXPECTED_SQL["w4_converge_match"])
def w4_converge_match(spark, sf_dir):
    """Mutually-best converge matching — the operator of record
    (bitextor_align_documents.py:36-365, `-i converge`). Since round 4 the
    fixpoint is explicit and exhausting an EXPLICIT round budget raises
    instead of silently truncating (the default budget now scales with the
    input, so it cannot trip on legal inputs). Oracle: pure-Python fixpoint
    replay over the DuckDB-recomputed pair set (see w3_greedy_match)."""
    pairs = tfidf_similarity(spark, sf_dir).select("src", "trg", "score")
    return M.mutually_best_converge(pairs)


def _crawl_wave_impl(spark, cfg_kwargs):
    """Two fetch epochs of the frontier engine over a deterministic
    synthetic world (the engine's own oracle is the simulator in pytest;
    here the driver checks stable schema + rows)."""
    import shutil
    import tempfile

    from bitextor_spark.config import CrawlConfig, WorldConfig
    from bitextor_spark.frontier.engine import FrontierEngine
    from bitextor_spark.frontier.world import small_world, world_to_dfs

    world = small_world(WorldConfig(n_hosts=4, n_pages=60))
    cfg = CrawlConfig(max_epochs=2, max_retries=1, **cfg_kwargs)
    dfs = world_to_dfs(spark, world)
    root = tempfile.mkdtemp(prefix="crawl_wave_")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        eng = FrontierEngine(
            spark, cfg, root, dfs["pages"], dfs["robots"], dfs["seeds"],
        )
        eng.run(max_epochs=2)
        rows = eng.fetch_log().select(
            "seq", "epoch", "url_canon", "host", "hop", "fetch_start_ms",
            "status", "outcome",
        ).collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "seq long, epoch int, url_canon string, host string, hop int, "
        "fetch_start_ms long, status int, outcome string",
    )


@q("crawl_wave", EXPECTED_SQL["crawl_wave"])
def crawl_wave(spark, sf_dir):
    """Engine waves under the default wget-BFS queue order (C3). The
    oracle is the reference simulator's fetch log for the same world +
    config, baked as literals at fixture-build time — the driver's DuckDB
    gate hash-checks the engine's exact crawl order."""
    return _crawl_wave_impl(spark, {})


@q("crawl_wave_priority", EXPECTED_SQL["crawl_wave_priority"])
def crawl_wave_priority(spark, sf_dir):
    """Engine waves under the OPIC-style priority queue + precedence floor
    (C10); oracle = simulator fetch-log literals (see crawl_wave); broader
    parity worlds live in tests/test_frontier_parity.py."""
    return _crawl_wave_impl(
        spark, {"queue_order": "priority", "priority_floor": 1e-6}
    )


# batch-2 registrations (same QUERIES/ORACLES dicts) — import at the end so
# the decorators in queries_batch2 see a fully-initialized registry.
from bitextor_spark import queries_batch2  # noqa: E402,F401
from bitextor_spark import queries_batch3  # noqa: E402,F401
