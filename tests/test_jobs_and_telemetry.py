"""spark-submit job entrypoints parse their CLIs, and the approximate
distinct-count telemetry op stays within its error bound vs exact."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from oculus_crawl_spark.operators.relational import q_approx_distinct

from .conftest import SF0001

# The checkout these tests belong to: job subprocesses run its jobs/.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "script",
    [
        "jobs/build_index.py",
        "jobs/search.py",
        "jobs/merge_indexes.py",
        "jobs/prepare_corpus.py",
    ],
)
def test_job_cli_parses(script):
    out = subprocess.run(
        [sys.executable, script, "--help"],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert "usage" in out.stdout.lower()


def test_job_cli_rejects_missing_args():
    out = subprocess.run(
        [sys.executable, "jobs/build_index.py"],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        timeout=60,
    )
    assert out.returncode != 0


def test_build_index_cli_rejects_pages_with_prior_index():
    """--prior-index is a --documents-only hint (the pages path derives
    it from --prior-docmap); the combination used to be silently
    accepted and silently dropped."""
    out = subprocess.run(
        [
            sys.executable,
            "jobs/build_index.py",
            "--pages", "/nonexistent/pages",
            "--index-root", "/nonexistent/root",
            "--prior-index", "/nonexistent/prior",
        ],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        timeout=60,
    )
    assert out.returncode != 0
    assert "--documents builds only" in out.stderr


def test_build_index_cli_rejects_documents_with_prior_docmap():
    """Symmetric guard: a documents table carries its own doc_id, so a
    docmap has nothing to map — the combination used to be silently
    accepted and silently dropped."""
    out = subprocess.run(
        [
            sys.executable,
            "jobs/build_index.py",
            "--documents", "/nonexistent/docs",
            "--index-root", "/nonexistent/root",
            "--prior-docmap", "/nonexistent/docmap",
        ],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        timeout=60,
    )
    assert out.returncode != 0
    assert "--pages builds only" in out.stderr


def test_approx_distinct_within_bound(spark):
    row = q_approx_distinct(spark, SF0001).collect()[0]
    li = spark.read.parquet(f"{SF0001}/lineitem.parquet")
    exact = li.select(
        F.countDistinct("l_partkey").alias("p"),
        F.countDistinct("l_orderkey").alias("o"),
        F.countDistinct("l_suppkey").alias("s"),
    ).collect()[0]
    for apx, ex in [
        (row["apx_parts"], exact["p"]),
        (row["apx_orders"], exact["o"]),
        (row["apx_supps"], exact["s"]),
    ]:
        assert abs(apx - ex) / ex < 0.05, (apx, ex)


def test_prepare_corpus_job_end_to_end(spark, tmp_path):
    """The prep job writes exactly the canonical survivors with their
    original columns plus the pipeline signals."""
    out = subprocess.run(
        [
            sys.executable, "jobs/prepare_corpus.py",
            "--documents", f"{SF0001}/documents.parquet",
            "--out", str(tmp_path / "clean"),
        ],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    import json as _json

    stats = _json.loads(out.stdout.strip().splitlines()[-1])
    assert 0 < stats["surviving_docs"] <= stats["input_docs"]
    written = spark.read.parquet(str(tmp_path / "clean"))
    assert written.count() == stats["surviving_docs"]
    cols = set(written.columns)
    assert {"doc_id", "text", "pred_lang", "quality", "n_copies"} <= cols


def test_processor_pin_survives_caller_extra_java_options():
    """The APC pin must merge INTO a caller-supplied
    spark.driver.extraJavaOptions, not be clobbered by it (the old
    apply-order set the merged value first and then re-applied the
    caller's raw string — last config for a key wins)."""
    from oculus_crawl_spark.session import merge_processor_pin

    merged = merge_processor_pin(
        "local[8]", {"spark.driver.extraJavaOptions": "-Xss4m"}
    )
    assert merged["spark.driver.extraJavaOptions"] == (
        "-Xss4m -XX:ActiveProcessorCount=8"
    )
    # caller's own pin wins
    own = merge_processor_pin(
        "local[8]",
        {"spark.driver.extraJavaOptions": "-XX:ActiveProcessorCount=2"},
    )
    assert own["spark.driver.extraJavaOptions"] == "-XX:ActiveProcessorCount=2"
    # non-local masters add nothing
    assert "spark.driver.extraJavaOptions" not in merge_processor_pin(
        "local-cluster[2,1,4096]", {}
    )
    assert merge_processor_pin("local[4]", None)[
        "spark.driver.extraJavaOptions"
    ] == "-XX:ActiveProcessorCount=4"
    # local[N,maxFailures] (task retries) still pins N cores
    for master in ("local[4,3]", "local[4, 3]"):
        assert merge_processor_pin(master, None)[
            "spark.driver.extraJavaOptions"
        ] == "-XX:ActiveProcessorCount=4", master
    assert "spark.driver.extraJavaOptions" not in merge_processor_pin(
        "local[*,3]", {}
    )
    # the input dict is not mutated
    src = {"a": "b"}
    merge_processor_pin("local[2]", src)
    assert src == {"a": "b"}


def test_build_jobs_stay_in_callers_job_group(spark, tmp_path):
    """build_index submits its finalize writes from pool threads. Job
    groups are thread-local, so those writes must inherit the caller's
    group, or per-layer attribution by job group loses them: no new
    group-less job may appear during a grouped build."""
    from oculus_crawl_spark.operators.build import build_index

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    listener_bus = sc._jsc.sc().listenerBus()
    corpus = spark.createDataFrame(
        [(1, "a b c"), (2, "a c d")], "doc_id long, text string"
    )
    listener_bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("grouped-build", "build under a job group")
    try:
        build_index(corpus, str(tmp_path / "idx"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    listener_bus.waitUntilEmpty()
    assert tracker.getJobIdsForGroup("grouped-build")
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
