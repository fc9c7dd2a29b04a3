"""End-to-end pages pipeline (the north-rule input shape, BASELINE.json
input_hint): pages(url, warc_ts, html, lang) -> filter -> latest-per-url
dedup -> byte-identical Arrow extraction -> dense docIDs -> index ->
search, compared against the direct documents-corpus build via the
docmap url mapping."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oculus_crawl_spark import schemas
from oculus_crawl_spark.functions.analysis import extract_text, wrap_html
from oculus_crawl_spark.operators.build import (
    assign_dense_ids,
    build_index_from_pages,
    prepare_pages,
)
from oculus_crawl_spark.operators.query import SearchSession

from .conftest import SF0001

_T0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)


def _pages_df(spark, with_dups=True):
    """Deterministic Common-Crawl-shaped pages from the documents corpus
    (FIXTURES.md B1: extract(wrap(text)) == text byte-identically).
    When with_dups, every 10th url also has an OLDER, different-content
    snapshot that dedup must drop."""
    docs = spark.read.parquet(f"{SF0001}/documents.parquet").select(
        "doc_id", "text", "lang"
    ).collect()
    rows = []
    for r in docs:
        url = f"https://example.org/doc/{r['doc_id']}"
        ts = _T0 + dt.timedelta(minutes=int(r["doc_id"]))
        rows.append((url, ts, wrap_html(r["text"], r["doc_id"]), None, r["lang"]))
        if with_dups and r["doc_id"] % 10 == 0:
            rows.append(
                (
                    url,
                    ts - dt.timedelta(days=1),
                    wrap_html("stale old content", r["doc_id"]),
                    None,
                    r["lang"],
                )
            )
    return spark.createDataFrame(rows, schemas.PAGES)


def test_prepare_pages_dedups_and_extracts_byte_identically(spark):
    pages = _pages_df(spark)
    prepared = prepare_pages(pages).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF0001}/documents.parquet").collect()
    }
    assert len(prepared) == len(docs)  # stale snapshots dropped
    for r in prepared:
        doc_id = int(r["url"].rsplit("/", 1)[1])
        assert r["text"] == docs[doc_id]  # byte-identical per url


def test_prepare_pages_lang_filter(spark):
    pages = _pages_df(spark, with_dups=False)
    en = prepare_pages(pages, langs=["en"])
    n_en = (
        spark.read.parquet(f"{SF0001}/documents.parquet")
        .filter(F.col("lang") == "en")
        .count()
    )
    assert en.count() == n_en


def test_assign_doc_ids_dense_and_deterministic(spark):
    pages = _pages_df(spark, with_dups=False)
    prepared = prepare_pages(pages)
    a = assign_dense_ids(prepared, "url", "doc_id")[0].select("url", "doc_id").collect()
    b = assign_dense_ids(prepared, "url", "doc_id")[0].select("url", "doc_id").collect()
    ids_a = sorted(r["doc_id"] for r in a)
    assert ids_a == list(range(len(a)))  # dense 0..n-1
    assert {(r["url"], r["doc_id"]) for r in a} == {
        (r["url"], r["doc_id"]) for r in b
    }  # deterministic


def test_assign_dense_ids_any_partition_count(spark):
    """Every bucket count yields a dense, collision-free 0..n-1
    numbering (the numberings themselves may differ — the count is
    pinned per index generation); the derived power-of-two path must
    match the explicit path for the same effective count."""
    keys = spark.createDataFrame(
        [(f"url-{i:05d}",) for i in range(997)], "url string"
    )
    base = None
    for n in (1, 7, 32, 64):
        out, resolved = assign_dense_ids(keys, "url", "doc_id", n_partitions=n)
        assert resolved == n
        got = out.collect()
        ids = sorted(r["doc_id"] for r in got)
        assert ids == list(range(997)), n
        assert len({r["url"] for r in got}) == 997
        if n == 32:
            base = sorted((r["url"], r["doc_id"]) for r in got)
    derived, resolved = assign_dense_ids(keys, "url", "doc_id")
    assert resolved == 32  # the derived count for 997 keys
    derived = derived.collect()
    assert sorted((r["url"], r["doc_id"]) for r in derived) == base


def test_pages_build_matches_documents_build(spark, index_sf0001, query_set):
    """Search over the pages-built index returns the SAME urls and scores
    as the documents-built index (ids differ — dense reassignment — so
    compare via docmap)."""
    root = tempfile.mkdtemp(prefix="ocs_pages_idx_")
    try:
        build_index_from_pages(_pages_df(spark), root)
        docmap = {
            r["doc_id"]: int(r["url"].rsplit("/", 1)[1])
            for r in spark.read.parquet(f"{root}/docmap").collect()
        }
        queries = query_set["queries"][:8]
        got = SearchSession(spark, root).search(queries, k=10).collect()
        want = SearchSession(spark, index_sf0001).search(queries, k=10).collect()
        # Dense reassignment permutes doc_ids, so exact-score TIES at the
        # k boundary may resolve to different (equally correct) docs.
        # Invariants: identical score multiset per query, and identical
        # doc mapping wherever the score is unique within its query.
        got_scores = sorted((r["query_id"], round(r["score"], 9)) for r in got)
        want_scores = sorted((r["query_id"], round(r["score"], 9)) for r in want)
        assert got_scores == want_scores
        from collections import Counter

        freq = Counter(got_scores)
        # Docs AT the k-th (minimum) score can be tie-cut differently, so
        # only scores strictly above it are doc-comparable.
        kth = {}
        for qid, sc in got_scores:
            kth[qid] = min(kth.get(qid, sc), sc)

        def uni(rows, mapper):
            return {
                (r["query_id"], round(r["score"], 9)): mapper(r)
                for r in rows
                if freq[(r["query_id"], round(r["score"], 9))] == 1
                and round(r["score"], 9) > kth[r["query_id"]]
            }

        got_uni = uni(got, lambda r: docmap[r["doc_id"]])
        want_uni = uni(want, lambda r: r["doc_id"])
        assert got_uni and got_uni == want_uni
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_incremental_offset_survives_single_doc_prior(spark):
    """Falsy-zero regression: a prior generation whose max doc_id is 0
    (single-url epoch 0) must offset fresh ids past it — `max or -1`
    read the legitimate 0 as 'no prior rows' and the first NEW url
    collided with the carried doc_id 0 (two urls, one id: the merge's
    latest-epoch-wins would conflate their postings)."""
    tmp = tempfile.mkdtemp(prefix="ocs_prior0_")
    try:
        one = spark.createDataFrame(
            [("https://example.org/a", _T0, wrap_html("alpha beta", 0), None, "en")],
            schemas.PAGES,
        )
        build_index_from_pages(one, f"{tmp}/ep0", epoch=0)
        two = spark.createDataFrame(
            [
                ("https://example.org/a", _T0 + dt.timedelta(hours=1),
                 wrap_html("alpha beta again", 0), None, "en"),
                ("https://example.org/b", _T0 + dt.timedelta(hours=1),
                 wrap_html("gamma delta", 1), None, "en"),
            ],
            schemas.PAGES,
        )
        build_index_from_pages(
            two, f"{tmp}/ep1", epoch=1, prior_docmap=f"{tmp}/ep0/docmap"
        )
        dm = {
            r["url"]: r["doc_id"]
            for r in spark.read.parquet(f"{tmp}/ep1/docmap").collect()
        }
        assert dm["https://example.org/a"] == 0
        assert dm["https://example.org/b"] == 1  # dense, past the prior max
        assert len(set(dm.values())) == len(dm)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_prepare_pages_lang_column_optional(spark):
    """The docstring's `[lang]` is optional: a pages frame without the
    column must build (NULL lang carried), while a langs FILTER without
    the column is a loud error, not a silent no-op."""
    no_lang = spark.createDataFrame(
        [("https://example.org/x", _T0, wrap_html("hello world", 7))],
        "url string, warc_ts timestamp, html binary",
    )
    out = prepare_pages(no_lang).collect()
    assert len(out) == 1 and out[0]["lang"] is None
    assert out[0]["text"] == "hello world"
    with pytest.raises(ValueError, match="lang"):
        prepare_pages(no_lang, langs=["en"])
