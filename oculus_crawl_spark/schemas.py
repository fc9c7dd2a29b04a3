"""Fixed StructType schemas for every engine table (SURVEY.md §1.2).

Schema-on-read inference is banned in the engine: inference samples and
is therefore nondeterministic, and determinism is a hard requirement
(BASELINE.json:15 byte-identical extraction, rank-identical top-k).
Every engine read passes its table's schema to
``sources.tables.read_engine_table``: a declared-schema parquet read
starts no inference job, and an empty partitioned table (a directory
without data files) reads as 0 rows.
"""

from __future__ import annotations

from pyspark.sql import types as T

# T0 — input `pages` (Common-Crawl-style; BASELINE.json input_hint).
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Dense docID assignment (SURVEY §7.4 — hash64(url) collides at 10^12).
DOCMAP = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
    ]
)

DOCLEN = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
)

CORPUS_STATS = T.StructType(
    [
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("avgdl", T.DoubleType(), False),
        T.StructField("epoch", T.LongType(), False),
        T.StructField("analysis_version", T.StringType(), False),
        # Index geometry, persisted so merges and query sessions can
        # never silently apply a different bucketing than the one the
        # segments were written with (a term_bucket mismatch makes a
        # merge overwrite wrong partitions; a range_bits mismatch makes
        # tombstone lookups miss).
        T.StructField("n_term_buckets", T.IntegerType(), False),
        T.StructField("range_bits", T.IntegerType(), False),
    ]
)

# Transient (term, docID, tf) triples + dl carried for block-max stats.
POSTINGS = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
)

DICTIONARY = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("cf", T.LongType(), False),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("term_bucket", T.IntegerType(), False),
    ]
)

# Compressed posting blocks. Blocks never cross a doc range_bucket
# boundary (config.range_bits), so query-time WAND can be partitioned by
# (query, range_bucket) with per-partition exactness. dl is stored inline
# (dl_bytes) so scoring needs no join against doclen at query time.
SEGMENTS = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("term_bucket", T.IntegerType(), False),
        T.StructField("range_bucket", T.LongType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("sum_tf", T.LongType(), False),
        T.StructField("block_max_tf_norm", T.FloatType(), False),
        T.StructField("doc_bytes", T.BinaryType(), False),
        T.StructField("tf_bytes", T.BinaryType(), False),
        T.StructField("dl_bytes", T.BinaryType(), False),
        T.StructField("epoch", T.LongType(), False),
    ]
)

LINEAGE_METRICS = T.StructType(
    [
        T.StructField("epoch", T.LongType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("input_rows", T.LongType(), True),
        T.StructField("output_rows", T.LongType(), True),
        T.StructField("bytes_out", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)

# Resumable-merge marker: the input set an out_root's manifest belongs to.
MERGE_INPUTS = T.StructType([T.StructField("inputs_sig", T.StringType(), False)])

# IVF index (operators/similarity.py). ``assignments`` is partitioned by
# cell; ``nrm`` (the stored vector norm) is absent from indexes written
# before it was stored and then reads as NULL.
IVF_ASSIGNMENTS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("nrm", T.DoubleType(), True),
        T.StructField("cell", T.IntegerType(), False),
    ]
)

IVF_CENTROIDS = T.StructType(
    [
        T.StructField("cell", T.IntegerType(), False),
        T.StructField("centroid", T.ArrayType(T.DoubleType()), True),
    ]
)

RESULTS = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)
