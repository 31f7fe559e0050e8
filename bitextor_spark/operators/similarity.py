"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, and a sign-grid
(random-hyperplane-style) bucketed variant as the scale path: at 100 TB the
bucket key turns the all-pairs product into an equi-join per bucket, the
same shape the TF-IDF inverted-index join uses (docalign.cpp:264-411).

All arithmetic is JVM-side: dot products via ``aggregate(zip_with(...))``
in double precision with sequential fold order — chosen so a DuckDB oracle
using list_dot_product reproduces values bit-for-bit before rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bitextor_spark.session import spread


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_topk(
    queries: DataFrame,  # (qid, qvec)
    corpus: DataFrame,  # (cid, cvec)
    k: int,
) -> DataFrame:
    """Exact top-k by cosine; deterministic tiebreak on neighbor id.

    Norms are precomputed per row below the join exchange (once per vector,
    not once per pair) — same float expression, so oracle parity holds."""
    q = queries.withColumn("qn", F.sqrt(dot(F.col("qvec"), F.col("qvec"))))
    c = spread(corpus).select(
        "cid", "cvec", F.sqrt(dot(F.col("cvec"), F.col("cvec"))).alias("cn")
    )
    scored = q.crossJoin(c).select(
        "qid",
        "cid",
        F.round(
            dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn")), 4
        ).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "cos", "rank")
    )


def sign_bucket(vec: Column, n_dims: int = 12) -> Column:
    """Sign-grid LSH bucket: bit d set iff vec[d] > 0 (first n_dims dims).

    The scale path for ANN: equal buckets are candidate sets; a multi-probe
    or multi-table variant is the production extension."""
    total = F.lit(0)
    for d in range(n_dims):
        total = total + F.when(
            F.element_at(vec, d + 1).cast("double") > 0, F.lit(1 << d)
        ).otherwise(F.lit(0))
    return total.cast("int")


def bucketed_ann_topk(df: DataFrame, id_col: str, vec_col: str, k: int,
                      n_dims: int = 8) -> DataFrame:
    """Within-bucket exact top-k — candidates only from the same sign
    bucket (equi-join on bucket, no cross product across buckets)."""
    b = spread(df).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        sign_bucket(F.col(vec_col), n_dims).alias("bucket"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("vn"),
    )
    l, r = b.alias("l"), b.alias("r")
    scored = (
        l.join(r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.vid") != F.col("r.vid")))
        .select(
            F.col("l.vid").alias("qid"),
            F.col("l.bucket").alias("bucket"),
            F.col("r.vid").alias("cid"),
            F.round(
                dot(F.col("l.v"), F.col("r.v")) / (F.col("l.vn") * F.col("r.vn")),
                4,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "bucket", "cid", "cos", "rank")
    )


def lsh_table_bucket(vec: Column, table: int, n_bits: int) -> Column:
    """Bucket int for LSH table `table`: bit b set iff
    vec[table·n_bits + b] > 0 — coordinate sign hyperplanes.

    Each table reads a DISJOINT dim slice, so tables are independent.
    For isotropic embeddings a coordinate hyperplane behaves like a random
    one (P[sign differs] = θ/π per bit); unlike projection expressions it
    is a single element_at per bit — cheap inside whole-stage codegen, and
    trivially mirrored by the SQL oracle (embedding[d] > 0). For strongly
    axis-correlated embeddings, pre-rotate the vectors once at ingest (a
    fixed random rotation) rather than paying a per-row projection."""
    total = F.lit(0)
    for b in range(n_bits):
        d = table * n_bits + b
        total = total + F.when(
            F.element_at(vec, d + 1).cast("double") > 0, F.lit(1 << b)
        ).otherwise(F.lit(0))
    return total.cast("int")


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_tables: int = 4,
    n_bits: int = 12,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold over LSH candidates.

    Scale path (no all-pairs product): each vector gets `n_tables`
    independent sign-LSH buckets; candidates are pairs whose buckets agree
    within hamming ≤ 1 in ANY table, generated by exploding each row into
    (table, bucket ± one flipped bit) probe keys and equi-joining probes
    against exact buckets. Candidates are exactly rescored with the true
    cosine and thresholded.

    Recall is governed by n_tables/n_bits (θ/π per hyperplane): ≈0.99 at
    cosine 0.9 with the defaults, degrading for far pairs — the documented
    LSH trade. The oracle mirrors the same candidate predicate, so the
    result set is deterministic and engine-comparable."""
    base = spread(df).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("vn"),
        *[
            lsh_table_bucket(F.col(vec_col), t, n_bits).alias(f"b{t}")
            for t in range(n_tables)
        ],
    )
    # probe side: bucket itself + every single-bit flip, per table. Probe
    # rows carry ONLY (vid, t, key) — the 8-byte key stream shuffles, the
    # vector payload does not (rejoined by id for the rescore).
    probes = base.select(
        "vid",
        F.explode(
            F.flatten(
                F.array(
                    *[
                        F.array(
                            F.struct(
                                F.lit(t).alias("t"),
                                F.col(f"b{t}").alias("key"),
                            ),
                            *[
                                F.struct(
                                    F.lit(t).alias("t"),
                                    F.col(f"b{t}")
                                    .bitwiseXOR(F.lit(1 << j))
                                    .alias("key"),
                                )
                                for j in range(n_bits)
                            ],
                        )
                        for t in range(n_tables)
                    ]
                )
            )
        ).alias("pk"),
    ).select("vid", "pk.t", "pk.key")
    buckets = base.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("key"))
                    for t in range(n_tables)
                ]
            )
        ).alias("bk"),
    ).select("vid", "bk.t", "bk.key")
    l, r = probes.alias("l"), buckets.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.t") == F.col("r.t"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.vid") < F.col("r.vid")),
        )
        .select(F.col("l.vid").alias("ida"), F.col("r.vid").alias("idb"))
        .dropDuplicates(["ida", "idb"])
    )
    vecs = base.select("vid", "v", "vn")
    return (
        cand.join(
            vecs.select(
                F.col("vid").alias("ida"),
                F.col("v").alias("va"),
                F.col("vn").alias("na"),
            ),
            "ida",
        )
        .join(
            vecs.select(
                F.col("vid").alias("idb"),
                F.col("v").alias("vb"),
                F.col("vn").alias("nb"),
            ),
            "idb",
        )
        .select(
            "ida",
            "idb",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def ivf_cosine_topk(
    queries: DataFrame,  # (qid, qvec)
    corpus: DataFrame,  # (cid, cvec)
    k: int,
    n_centroids: int = 16,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-flat ANN: coarse-quantize the corpus into centroid lists, probe
    the n_probe nearest lists per query, exact-rescore candidates.

    Centroids are the n_centroids lowest-id corpus vectors — deterministic
    (k-means would converge further but needs iterative driver control;
    the INDEX SHAPE, which is what matters at scale, is identical). Every
    join is broadcast (centroid table, n_centroids rows) or equi on
    centroid id; the full corpus is scanned exactly once for assignment
    and once per probe hit — never an all-pairs product. At 100 TB the
    assignment is a narrow map over a broadcast table and candidates
    shuffle by centroid id, the classic IVF layout."""
    cent = (
        corpus.orderBy("cid")
        .limit(n_centroids)
        .select(F.col("cid").alias("cent_id"), F.col("cvec").alias("cent_vec"))
    )
    cn = cent.withColumn(
        "cent_norm", F.sqrt(dot(F.col("cent_vec"), F.col("cent_vec")))
    )

    def nearest(side: DataFrame, id_col: str, vec_col: str, top: int,
                out: str) -> DataFrame:
        raw_sim = dot(F.col(vec_col), F.col("cent_vec")) / (
            F.sqrt(dot(F.col(vec_col), F.col(vec_col))) * F.col("cent_norm")
        )
        # zero-norm guard: 0/0 is NaN/NULL and Spark vs DuckDB rank those
        # differently — pin such rows to -1.0 so both engines agree
        scored = side.join(F.broadcast(cn)).select(
            id_col,
            vec_col,
            "cent_id",
            F.coalesce(F.nanvl(raw_sim, F.lit(-1.0)), F.lit(-1.0)).alias("_sim"),
        )
        w = Window.partitionBy(id_col).orderBy(
            F.col("_sim").desc(), F.col("cent_id")
        )
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= top)
            .select(id_col, vec_col, F.col("cent_id").alias(out))
        )

    assigned = nearest(spread(corpus), "cid", "cvec", 1, "list_id")
    probes = nearest(queries, "qid", "qvec", n_probe, "probe_id")
    cand = probes.join(
        assigned, probes.probe_id == assigned.list_id
    ).select("qid", "qvec", "cid", "cvec")
    raw_cos = dot(F.col("qvec"), F.col("cvec")) / (
        F.sqrt(dot(F.col("qvec"), F.col("qvec")))
        * F.sqrt(dot(F.col("cvec"), F.col("cvec")))
    )
    scored = cand.select(
        "qid",
        "cid",
        F.round(
            F.coalesce(F.nanvl(raw_cos, F.lit(-1.0)), F.lit(-1.0)), 4
        ).alias("cos"),
    ).dropDuplicates(["qid", "cid"])
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "cos", "rank")
    )
