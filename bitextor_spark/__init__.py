"""bitextor_spark — a PySpark-native URL-frontier + analytics engine.

A from-scratch reimplementation of the crawl front-end semantics of
bitextor/bitextor (reference at /root/reference, studied for behavior only)
as idiomatic PySpark: DataFrame/SQL plans optimized by Catalyst, vectorized
Arrow/pandas UDFs for row-level compute, snapshot-table state for
resumability, and explicit partitioning/skew handling for web scale.

Subpackages
-----------
functions   scalar/vectorized column functions (URL canonicalization,
            hashing, text analysis, image codecs)
operators   relational operators re-expressed Spark-first (dedup families,
            TF-IDF similarity join, greedy matching, set overlap, top-k)
frontier    the crawl engine: synthetic world, politeness scheduler,
            exact URL-seen anti-join, epoch loop, reference simulator;
            standalone bloom dedup operator
sources     snapshot-table catalog (Iceberg-style commit/read on parquet;
            swaps to real Iceberg when the runtime jar is on the cluster)
plans       reusable logical-plan fragments (scope rules, sharding)
streaming   Structured Streaming variants of the batch operators
"""

__version__ = "0.1.0"
