"""Rank-identity must be invariant to every physical-layout knob:
block size, salt count, doc-range width, term-bucket count, and the
tokenizer execution path. Same corpus + same queries -> byte-identical
(query_id, rank, doc_id, round(score,9)) rows regardless of config."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from oculus_crawl_spark.config import IndexConfig
from oculus_crawl_spark.operators.build import build_index_from_documents
from oculus_crawl_spark.operators.query import SearchSession

from .conftest import SF0001

QUERIES = ["dup", "the", "dup scan", "scan column window", "dup spark customer"]

CONFIGS = {
    "tiny_blocks": IndexConfig(block_size=16),
    "one_salt": IndexConfig(n_salts=1),
    "many_salts": IndexConfig(n_salts=13),
    "narrow_ranges": IndexConfig(range_bits=6),
    "ranges_per_partition": IndexConfig(range_bits=4),
    "few_buckets": IndexConfig(n_term_buckets=3),
    "arrow_tokenizer": IndexConfig(use_jvm_tokenizer=False),
}


def _results(spark, root, k=10):
    out = SearchSession(spark, root, cache_segments=False).search(QUERIES, k=k)
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in out.collect()
    )


@pytest.fixture(scope="module")
def baseline_results(spark, index_sf0001):
    return _results(spark, index_sf0001)


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_results_invariant_under_config(spark, baseline_results, name):
    root = tempfile.mkdtemp(prefix=f"ocs_cfg_{name}_")
    try:
        build_index_from_documents(spark, SF0001, root, cfg=CONFIGS[name])
        assert _results(spark, root) == baseline_results, name
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_kernel_keeps_k_rows_per_partition_and_query(spark, index_sf0001_ranges):
    """With several doc ranges in a partition, the WAND kernel emits at
    most k rows per (partition, query) — not k per (range, query) — so
    the coordinator merge stays partitions*queries*k rows at any scale."""
    k = 3
    sess = SearchSession(spark, index_sf0001_ranges)
    try:
        groups = (
            sess._kernel_frame(QUERIES, k)
            .groupBy(F.spark_partition_id().alias("part"), "query_id")
            .count()
            .collect()
        )
    finally:
        sess.invalidate()
    assert len({g["part"] for g in groups}) > 1  # the cut spans partitions
    assert max(g["count"] for g in groups) <= k
