"""Degenerate-input behavior: empty corpus, all-empty texts, single
doc, empty query batch — the engine must produce well-formed (empty)
results, never crash."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from oculus_crawl_spark.operators.build import build_index
from oculus_crawl_spark.operators.query import SearchSession


@pytest.fixture()
def tmp_root():
    d = tempfile.mkdtemp(prefix="ocs_edge_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_empty_corpus_builds_searchable_empty_index(spark, tmp_root):
    r = build_index(
        spark.createDataFrame([], "doc_id long, text string"), tmp_root
    )
    assert r.n_docs == 0 and r.avgdl == 0.0
    sess = SearchSession(spark, tmp_root)
    assert sess.search(["anything"], k=5).collect() == []


def test_all_empty_texts_builds_searchable_empty_index(spark, tmp_root):
    """Token-less docs EXIST (doclen rows with dl=0 — the merge's
    tombstone derivation requires every crawled doc to appear in
    doclen), they just can never match: zero vocabulary, empty
    segments/dictionary, searches return []."""
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "!!!")], "doc_id long, text string"
    )
    r = build_index(docs, tmp_root)
    assert r.n_docs == 3 and r.avgdl == 0.0
    dl = {
        row["doc_id"]: row["dl"]
        for row in spark.read.parquet(f"{tmp_root}/doclen").collect()
    }
    assert dl == {1: 0, 2: 0, 3: 0}
    assert spark.read.parquet(f"{tmp_root}/dictionary").count() == 0
    assert SearchSession(spark, tmp_root).search(["hello"], k=5).collect() == []


def test_single_doc_corpus(spark, tmp_root):
    r = build_index(
        spark.createDataFrame(
            [(7, "hello world hello")], "doc_id long, text string"
        ),
        tmp_root,
    )
    assert r.n_docs == 1
    hits = SearchSession(spark, tmp_root).search(["hello"], k=5).collect()
    assert [h["doc_id"] for h in hits] == [7]
    assert hits[0]["score"] > 0


def test_empty_query_batch(spark, tmp_root):
    build_index(
        spark.createDataFrame([(1, "a b c")], "doc_id long, text string"),
        tmp_root,
    )
    sess = SearchSession(spark, tmp_root)
    assert sess.search([], k=5).collect() == []
    assert sess.search([""], k=5).collect() == []
    assert sess.search(["!!!"], k=5).collect() == []


def test_uncached_session_answers(spark, tmp_root):
    """An uncached session co-partitions the matching blocks by range
    per batch, so it answers with full per-doc scores."""
    build_index(
        spark.createDataFrame(
            [(1, "a b c"), (2, "a c d")], "doc_id long, text string"
        ),
        tmp_root,
    )
    sess = SearchSession(spark, tmp_root, cache_segments=False)
    assert len(sess.search(["a"], k=5).collect()) == 2


def test_zero_token_docs_match_oracle(spark):
    """Zero-token documents (empty / punctuation-only text) through the
    text-analysis operators: must yield defined 0.0 ratios — not a
    DIVIDE_BY_ZERO under Spark 4's default ANSI mode — and must agree
    with the DuckDB oracle SQL on the same rows (the oracle's bare
    ``x / len(toks)`` used to NULL where Spark crashed: a doc the
    engine scores that the oracle drops, or vice versa)."""
    import duckdb
    import pandas as pd

    from oculus_crawl_spark.operators import pipeline, textquality

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["", "!!! ???", "the quick brown fox jumps over the dog"],
            "lang": ["en", "en", "en"],
        }
    )
    docs = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("documents", pdf)

    def normalize(rows, cols):
        out = []
        for row in rows:
            vals = []
            for c in sorted(cols):
                v = row[c] if isinstance(row, dict) else row[cols.index(c)]
                if isinstance(v, float):
                    v = round(v, 6)
                vals.append(str(v))
            out.append(tuple(vals))
        return sorted(out)

    cases = [
        (textquality.token_stats(docs), textquality.SQL_TOKEN_STATS),
        (textquality.quality_scores(docs), textquality.SQL_QUALITY),
        (textquality.lang_id(docs), textquality.SQL_LANG_ID),
    ]
    for sdf, sql in cases:
        got = normalize([r.asDict() for r in sdf.collect()], sdf.columns)
        res = con.execute(sql)
        duck_cols = [d[0] for d in res.description]
        exp = normalize(res.fetchall(), duck_cols)
        assert sorted(sdf.columns) == sorted(duck_cols)
        assert got == exp, (sql[:60], got, exp)

    # The fused pipeline survives zero-token rows and agrees with its
    # oracle (which unions a shifted copy — clean_corpus mirrors that).
    two = docs.select("doc_id", "text").unionByName(
        docs.select(
            (docs.doc_id + 1_000_000).alias("doc_id"), "text"
        )
    )
    sdf = pipeline.clean_corpus(two).orderBy("doc_id")
    got = normalize([r.asDict() for r in sdf.collect()], sdf.columns)
    res = con.execute(pipeline._sql())
    exp = normalize(res.fetchall(), [d[0] for d in res.description])
    assert got == exp
