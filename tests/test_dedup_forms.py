"""The two simhash forms must be bit-identical: the per-row HOF column
(`simhash_col`, the readable reference form) and the explode→codegen
hash-agg (`simhash_signatures`, the measured-faster form the pair miner
uses — one whole-stage-codegen pass instead of `bits` interpreted
``F.aggregate`` walks per row). Edge rows (empty text, whitespace-only,
NULL, single token) are exactly where the explode re-expression can
silently diverge (explode drops empty arrays; explode_outer + the
null-guard is the fix under test here)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bitextor_spark.functions.text import shingles
from bitextor_spark.operators.dedup import (
    ngram_jaccard_pairs,
    simhash_col,
    simhash_signatures,
)

DOCS = [
    (1, "alpha beta gamma delta"),
    (2, "alpha beta gamma delta epsilon"),
    (3, ""),                     # empty text -> no tokens -> sh must be 0
    (4, "   \t  "),              # whitespace-only -> no tokens -> sh 0
    (5, None),                   # NULL text -> sh 0
    (6, "solo"),                 # single token
    (7, "alpha beta gamma delta"),  # exact dup of doc 1 -> identical sh
]


def test_simhash_forms_identical(spark):
    df = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    for bits in (32, 60):
        per_row = {
            r["doc"]: r["sh"]
            for r in df.select(
                F.col("doc_id").alias("doc"),
                simhash_col(F.col("text"), bits).alias("sh"),
            ).collect()
        }
        agg = {
            r["doc"]: r["sh"]
            for r in simhash_signatures(df, "doc_id", "text", bits).collect()
        }
        assert agg == per_row, f"bits={bits}: {agg} != {per_row}"
    # the edge rows land at 0, dup docs collide
    assert agg[3] == agg[4] == agg[5] == 0
    assert agg[1] == agg[7] != 0


NGRAM_DOCS = [
    # two near-dup clusters + edge rows; 3-gram shingles need >= 3 tokens
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    (4, "completely different words in this entire document body"),
    (5, "completely different words in this entire document frame"),
    (6, ""),              # empty -> no shingles -> never in a pair
    (7, None),            # NULL text
    (8, "two tokens"),    # < n tokens -> empty shingle array
    (9, "the quick brown"),  # exactly n tokens -> one shingle
    (10, "the quick brown"),  # dup of 9 -> jaccard 1.0 pair
]


def test_ngram_jaccard_edge_rows(spark):
    """The sizes-branch form's pairs on the edge rows explode drops: exact
    dups score 1.0, near dups score below it, and docs with no shingles
    (empty, NULL, fewer than n tokens) never pair."""
    df = spark.createDataFrame(NGRAM_DOCS, "doc_id bigint, text string")
    kw = dict(id_col="doc_id", shingle_col=shingles(F.col("text"), 3),
              threshold=0.05)
    rows = sorted(map(tuple, ngram_jaccard_pairs(df, **kw).collect()))
    pairs = {(a, b): j for a, b, j in rows}
    assert pairs[(1, 3)] == 1.0 and pairs[(9, 10)] == 1.0
    assert (4, 5) in pairs and pairs[(4, 5)] < 1.0
    flat = [d for a, b, _ in rows for d in (a, b)]
    assert not {6, 7, 8} & set(flat)
