"""Physical-plan assertions: the scale-critical plan properties are
enforced in CI, not just eyeballed — filter pushdown to parquet,
partition pruning on term_bucket, no join of the query's blocks on
either session kind, map-side partial aggregation, and no
row-at-a-time Python anywhere."""

from __future__ import annotations

import contextlib
import io
import shutil

import pytest
from pyspark.sql import functions as F

from oculus_crawl_spark.operators.build import term_frequencies, tokenize_corpus
from oculus_crawl_spark.operators.query import SearchSession

from .conftest import SF0001


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark):
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    plan = _plan(docs.filter(F.col("lang") == "en").select("doc_id", "n_chars"))
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:200]
    # column pruning: text (the wide column) must not be read
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "text" not in read_schema


def test_segments_scan_is_partition_pruned(spark, index_sf0001):
    # SearchSession persists the segments relation and Spark's cache
    # manager substitutes it into any identical read — clear it so this
    # test inspects the actual parquet scan.
    spark.catalog.clearCache()
    seg = spark.read.parquet(f"{index_sf0001}/segments").filter(
        F.col("term_bucket").isin([1, 5])
    )
    plan = _plan(seg)
    pf = plan.split("PartitionFilters")[1][:250]
    assert "term_bucket" in pf  # pruning, not a post-scan filter


def test_query_uncached_plan_is_pruned_scan_one_exchange(spark, index_sf0001, tmp_path):
    """An uncached session runs the resident session's kernel over the
    parquet scan: the term filters push below the range repartition into
    the scan (partition pruning on term_bucket, pushed filter on term),
    and the blocks cross exactly one Exchange before MapInPandas — no
    join, no grouped-map Python."""
    # A copy at a fresh root: a resident session on the fixture root
    # shares this plan, and Spark would substitute its cached relation.
    root = str(tmp_path / "idx")
    shutil.copytree(index_sf0001, root)
    sess = SearchSession(spark, root, cache_segments=False)
    df = sess._kernel_frame(["dup scan"], k=10)
    formatted = _plan(df)
    assert "term_bucket" in formatted.split("PartitionFilters")[1][:250]
    assert "term" in formatted.split("PushedFilters")[1][:250]
    plan = _plan(df, mode="simple")
    assert "InMemoryTableScan" not in plan
    assert "Join" not in plan and "FlatMapGroupsInPandas" not in plan
    # simple mode prints root-down: below the kernel sits exactly one
    # Exchange, the session's range repartition.
    below = plan.split("MapInPandas", 1)[1]
    assert below.count("Exchange") == 1
    assert "REPARTITION_BY_NUM" in below


def test_query_fast_path_is_single_narrow_stage(spark, index_sf0001):
    """A resident session must not shuffle or join the blocks: a query
    batch is cached scan -> filter -> MapInPandas, one narrow stage."""
    sess = SearchSession(spark, index_sf0001)
    plan = _plan(sess._kernel_frame(["dup scan"], k=10), mode="simple")
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "Join" not in plan  # no join of any kind touches the blocks
    # The query itself has no Exchange. The repartition Exchange inside
    # InMemoryRelation's cache-build plan is the one-time session-load
    # shuffle, not a per-query cost.
    query_part = plan.split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in plan
    assert query_part.count("Exchange") == 0


def test_tf_aggregation_is_partial(spark):
    docs = spark.read.parquet(f"{SF0001}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _plan(term_frequencies(tokenize_corpus(docs)), mode="simple")
    # partial+final hash aggregation around the exchange (map-side combine)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_no_row_python_udfs_anywhere(spark, index_sf0001):
    """Every Python crossing must be Arrow-vectorized: ArrowEvalPython /
    FlatMapGroupsInPandas / MapInPandas — never BatchEvalPython."""
    docs = spark.read.parquet(f"{SF0001}/documents.parquet").select(
        "doc_id", "text"
    )
    sess = SearchSession(spark, index_sf0001)
    plans = [
        _plan(term_frequencies(tokenize_corpus(docs))),
        _plan(sess._kernel_frame(["dup"], k=10)),
    ]
    for p in plans:
        assert "BatchEvalPython" not in p


def test_topk_uses_take_ordered(spark):
    o = spark.read.parquet(f"{SF0001}/orders.parquet")
    plan = _plan(o.orderBy(F.col("o_totalprice").desc()).limit(5), mode="simple")
    assert "TakeOrderedAndProject" in plan  # never a full sort for top-k
