"""Deduplication family: exact, minhash-LSH, simhash, n-gram Jaccard,
embedding-cosine — the operators a 100 TB training-data pipeline runs over
crawl output.

Reference semantics: sort-based first-per-group dedup with URL collection
(bitextor_build_TMX.py:222-344, keys per Snakefile:1824-1831, presort
Snakefile:1543-1608 → A5), content-hash dedup across crawls
(bitextor_warc2preprocess.py mmh3 block → C15).

Scale notes (100 TB):
- exact dedup is a hash shuffle on the dedup key — AQE skew-split handles
  hot keys; the key is a fixed-width hash, never the payload.
- minhash-LSH: signatures are computed per-row (narrow), candidate pairs
  come from an equi-join on (band, band_hash) buckets — the classic
  shingle→minhash→band→bucket-join; no all-pairs product ever forms.
- simhash pairs: bit-block pigeonhole (Manku et al., WWW'07 §3) — split the
  hash into max_dist+1 blocks; any pair within hamming ≤ max_dist must agree
  on ≥1 whole block, so candidates come from an equi-join on
  (block_idx, block_value) and the plan never forms a cartesian product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bitextor_spark.functions.hashes import MINHASH_SALTS, h64
from bitextor_spark.functions.text import tokens
from bitextor_spark.session import spread


def first_per_group(
    df: DataFrame, key_cols: list[str], order_cols: list[Column]
) -> DataFrame:
    """A5: collapse groups to their best row + group size."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    cw = Window.partitionBy(*key_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_dupes", F.count(F.lit(1)).over(cw).cast("bigint"))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def token_hashes(text_col: Column) -> Column:
    """Distinct-token 60-bit hashes (set semantics)."""
    return F.transform(F.array_distinct(tokens(text_col)), h64)


def minhash_signature(text_col: Column, n_hashes: int | None = None) -> Column:
    """Array of minhashes: min over tokens of (h64(token) XOR salt_i)."""
    ths = token_hashes(text_col)
    salts = MINHASH_SALTS if n_hashes is None else MINHASH_SALTS[:n_hashes]

    def xor_with(salt: int):
        # closure factory: a 2-arg lambda would receive (element, index)
        return lambda h: h.bitwiseXOR(F.lit(salt))

    return F.array(
        *[F.array_min(F.transform(ths, xor_with(s))) for s in salts]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """Candidate duplicate pairs: docs sharing ≥1 LSH band.

    bands of r = n_hashes/n_bands minhashes each; band key = md5 of the
    ':'-joined band. Returns distinct (doc_a < doc_b).

    The signature stays in the per-row array form DELIBERATELY: an
    explode→groupBy codegen re-expression (the trick that pays for the
    60-pass simhash below) was raced interleaved at sf0.1 and LOST ~5x
    (median 1.7 s vs ~8 s) — 16 interpreted array walks are cheaper than
    the extra full exchange + 16-column hash-agg the explode form adds.
    """
    r = n_hashes // n_bands
    sig = spread(df).select(
        F.col(id_col).alias("doc"),
        minhash_signature(F.col(text_col), n_hashes).alias("sig"),
    )
    bands = sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ":",
                                *[F.col("sig")[b * r + i].cast("string")
                                  for i in range(r)],
                            )
                        ).alias("bh"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "bk.band", "bk.bh")
    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b"))
        .distinct()
    )


def simhash_col(text_col: Column, bits: int = 32) -> Column:
    """Simhash over distinct tokens: bit b set iff Σ±1 over token-hash bit b
    is positive. JVM-only (aggregate over the token-hash array)."""
    ths = token_hashes(text_col)

    def bit_counter(bb: int):
        # closure factory: F.aggregate requires an exactly-2-arg lambda
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(1 << bb)) != 0, 1
        ).otherwise(-1)

    terms = []
    for b in range(bits):
        cnt = F.aggregate(ths, F.lit(0), bit_counter(b))
        terms.append(F.when(cnt > 0, F.lit(1 << b)).otherwise(F.lit(0)))
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total.cast("bigint")


def _pigeonhole_blocks(bits: int, max_dist: int) -> list[tuple[int, int]]:
    """(offset, width) for max_dist+1 near-equal bit blocks covering `bits`.

    Pigeonhole: a pair with hamming ≤ max_dist has max_dist differing bits
    spread over max_dist+1 blocks → at least one block is bit-identical."""
    nblocks = max_dist + 1
    base, rem = divmod(bits, nblocks)
    assert base >= 1, f"bits={bits} too small for max_dist={max_dist}"
    blocks, off = [], 0
    for i in range(nblocks):
        w = base + (1 if i < rem else 0)
        blocks.append((off, w))
        off += w
    return blocks


def hamming_pairs(
    hashed: DataFrame,  # (doc, sh) — any 64-bit-or-less integer fingerprint
    bits: int,
    max_dist: int,
) -> DataFrame:
    """Pairs within hamming ≤ max_dist by the bit-block pigeonhole
    equi-join (exact — no recall loss): explode each fingerprint into
    max_dist+1 (block_idx, block_value) keys, self-join on the key,
    Hamming-filter, dedupe pairs found via several agreeing blocks.
    Shuffle keys are 8-byte (blk,val) ints; no cross join forms at any
    scale. Block entropy (bits/(d+1)) sets the pruning power — production
    near-dup uses 64-bit hashes with d ≤ 4 (≥ 12-bit blocks; Manku et al.,
    WWW'07). Works for any integer fingerprint column: simhash over text,
    perceptual phash over images (input_hint phash:int64), etc."""
    blocks = _pigeonhole_blocks(bits, max_dist)
    bands = hashed.select(
        "doc",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned("sh", off)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("val"),
                    )
                    for i, (off, w) in enumerate(blocks)
                ]
            )
        ).alias("bk"),
    ).select("doc", "sh", "bk.blk", "bk.val")
    l, r = bands.alias("l"), bands.alias("r")
    dist = F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh")))
    return (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("doc_a"),
            F.col("r.doc").alias("doc_b"),
            dist.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_dist)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int
) -> DataFrame:
    """(doc, sh) simhash fingerprints via explode → codegen hash-agg.

    Same signature as :func:`simhash_col` (bit b set iff Σ±1 over distinct
    token hashes' bit b is positive; empty/null token set → sh=0), but in
    ONE codegen pass instead of `bits` interpreted ``F.aggregate`` walks of
    the token array per row (3.81 s vs 4.59 s median; SURVEY §4 "simhash
    vs minhash kernels"). One sum per bit stays: packing three bit
    counters into each 64-bit sum did not separate from it (SURVEY §4
    "simhash agg width"). The groupBy is a map-side partial aggregate; the
    shuffle carries one `bits`-column row per doc per input partition."""
    ex = spread(df).select(
        F.col(id_col).alias("doc"),
        # explode_outer keeps empty/null-token docs (one null-hash row);
        # the null-guard below makes that row contribute 0 to every bit
        # count, so such docs land at sh=0 exactly like the per-row path
        F.explode_outer(token_hashes(F.col(text_col))).alias("h"),
    )
    aggs = [
        F.sum(
            F.when(F.col("h").isNull(), F.lit(0))
            .when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, F.lit(1))
            .otherwise(F.lit(-1))
        ).alias(f"c{b}")
        for b in range(bits)
    ]
    cnt = ex.groupBy("doc").agg(*aggs)
    total = F.lit(0)
    for b in range(bits):
        total = total + F.when(F.col(f"c{b}") > 0, F.lit(1 << b)).otherwise(
            F.lit(0)
        )
    return cnt.select("doc", total.cast("bigint").alias("sh"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32, max_dist: int = 4
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance ≤ max_dist (text front
    end over :func:`hamming_pairs`)."""
    sh = simhash_signatures(df, id_col, text_col, bits)
    return hamming_pairs(sh, bits, max_dist)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    shingle_col: Column,
    threshold: float,
) -> DataFrame:
    """Exact n-gram-set Jaccard via the shingle equi-join (never all-pairs):
    explode distinct shingles → self-join on shingle → |∩| per pair →
    J = |∩| / (|A|+|B|−|∩|) ≥ threshold. The join key is the 60-bit
    shingle hash, not the shingle string — 8-byte shuffle/compare keys
    (collision odds over a shingle vocabulary are ~2^-60·|V|², nil).
    The separate sizes branch beat carrying each doc's size through the
    explode ~4x (SURVEY §4 "ngram-Jaccard sizes")."""
    ex = spread(df).select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(shingle_col)).alias("sh_str"),
    ).select("doc", h64(F.col("sh_str")).alias("sh"))
    # |A| counts distinct shingle STRINGS (pre hash-dedup) — identical to the
    # string-side oracle; the join side dedupes (doc, sh) so a within-doc
    # 60-bit collision can't double-count an intersection row.
    sizes = ex.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    exd = ex.dropDuplicates(["doc", "sh"])
    inter = (
        exd.alias("l")
        .join(exd.alias("r"), (F.col("l.sh") == F.col("r.sh")) & (F.col("l.doc") < F.col("r.doc")))
        .groupBy(F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sz", "sza"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sz", "szb"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
