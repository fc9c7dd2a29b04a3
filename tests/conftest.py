"""Shared fixtures: one SparkSession per test session, testdata paths."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

from oculus_crawl_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"

HERE = os.path.dirname(__file__)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="oculus_crawl_spark_tests", master="local[8]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def query_set() -> dict:
    with open(os.path.join(HERE, "queries.json")) as f:
        return json.load(f)


@pytest.fixture(scope="session")
def index_sf0001(spark):
    """A built index over the sf0.001 documents corpus (built once)."""
    from oculus_crawl_spark.operators.build import build_index_from_documents

    root = tempfile.mkdtemp(prefix="ocs_idx_sf0001_")
    build_index_from_documents(spark, SF0001, root)
    yield root
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="session")
def index_sf0001_ranges(spark):
    """The sf0.001 corpus at range_bits=4: 32 doc ranges of 16 docs, so
    a session on local[8] holds several ranges in each partition."""
    from oculus_crawl_spark.config import IndexConfig
    from oculus_crawl_spark.operators.build import build_index_from_documents

    root = tempfile.mkdtemp(prefix="ocs_idx_sf0001_ranges_")
    build_index_from_documents(spark, SF0001, root, cfg=IndexConfig(range_bits=4))
    yield root
    shutil.rmtree(root, ignore_errors=True)
