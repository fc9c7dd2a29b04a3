"""Self-tests of the benchmark's own parts (no Spark session).

    python3 -m pytest -q crawlbench/test_crawlbench.py
"""

from __future__ import annotations

import hashlib
import io
import math
import os

import numpy as np
import pytest

import eventlog
import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
SMALL = gen.Shape(docs=60, vocab=50)


def _digest(inputs: gen.Inputs) -> str:
    h = hashlib.sha256()
    buf = io.BytesIO()
    inputs.crawl.pages.to_parquet(buf, index=False)
    h.update(buf.getvalue())
    h.update("\n".join(inputs.queries).encode())
    return h.hexdigest()


def test_same_seed_same_bytes():
    assert _digest(gen.generate(7, SMALL, 30)) == _digest(gen.generate(7, SMALL, 30))
    assert _digest(gen.generate(7, SMALL, 30)) != _digest(gen.generate(8, SMALL, 30))


def test_generated_html_extracts_to_the_generated_tokens():
    # The frozen extraction + tokenization spec must give back exactly
    # the tokens the generator made the text from.
    ext = pytest.importorskip("oculus_crawl_spark.functions.analysis")
    inputs = gen.generate(3, SMALL, 0)
    for html, toks in zip(inputs.crawl.pages["html"], inputs.crawl.tokens):
        assert ext.tokenize(ext.extract_text(html)) == toks


def test_latest_capture_wins():
    inputs = gen.generate(5, gen.Shape(docs=200, vocab=50), 0)
    pages = inputs.crawl.pages
    assert len(inputs.crawl.latest) == 200
    assert len(pages) == 200 + round(SMALL.dup_share * 200)
    for url, row in inputs.crawl.latest.items():
        assert pages["warc_ts"].iat[row] == pages.loc[pages["url"] == url, "warc_ts"].max()


# Three documents, hand-worked: N = 3, avgdl = (2 + 3 + 4) / 3 = 3.
#   d0 = a b        d1 = a a c        d2 = b c c c
# df(a) = df(b) = df(c) = 2, so every idf = ln(1 + 1.5 / 2.5) = ln 1.6.
# K(dl) = 1.2 * (0.25 + 0.75 * dl / 3): K(2) = 0.9, K(3) = 1.2, K(4) = 1.5.
THREE = [["a", "b"], ["a", "a", "c"], ["b", "c", "c", "c"]]
LN16 = 0.47000362924573563


def test_bm25_three_docs():
    c = oracle.Corpus([0, 1, 2], THREE)
    assert c.df() == {"a": 2, "b": 2, "c": 2}
    assert math.isclose(LN16, math.log(1.6), rel_tol=1e-15)
    # "a": d1 = ln1.6 * 2 / (2 + 1.2), d0 = ln1.6 * 1 / (1 + 0.9)
    docs, scores = c.topk("a", 10)
    assert docs.tolist() == [1, 0]
    np.testing.assert_allclose(scores, [0.29375226827858475, 0.24737033118196614], rtol=1e-14)
    # "b c": d2 = ln1.6 * (1/2.5 + 3/4.5), d0 = ln1.6 / 1.9, d1 = ln1.6 / 2.2
    docs, scores = c.topk("B, c!", 2)
    assert docs.tolist() == [2, 0]
    np.testing.assert_allclose(scores, [0.5013372045287847, 0.24737033118196614], rtol=1e-14)
    assert c.topk("zzz", 10)[0].tolist() == []


def test_bm25_ties_break_on_doc_id():
    # d5 and d2 hold the same text, so they tie; the lower doc id ranks first.
    c = oracle.Corpus([5, 9, 2], [["x", "y"], ["y"], ["x", "y"]])
    docs, scores = c.topk("x", 10)
    assert docs.tolist() == [2, 5] and scores[0] == scores[1]


def test_same_ranking():
    d = np.array([3, 1])
    s = np.array([2.0, 1.0])
    assert oracle.same_ranking(d, s + 1e-12, d, s, 1e-9)
    assert not oracle.same_ranking(d[::-1], s, d, s, 1e-9)
    assert not oracle.same_ranking(d, s + 1e-6, d, s, 1e-9)
    assert not oracle.same_ranking(d[:1], s[:1], d, s, 1e-9)


def test_eventlog_totals_per_label():
    # Trimmed from a real Spark 4.1 log: job 25 ran from one of the
    # engine's helper threads (no job group), job 59 was a labelled query.
    path = os.path.join(HERE, "testdata", "tiny_eventlog.jsonl")
    t = eventlog.read(path, [("build", 1792414562000, 1792414563000)])
    assert (t.n_jobs, t.n_tasks, t.jobs_by_time) == (2, 5, 1)
    b, q = t.get("build"), t.get("single.search")
    assert (b.jobs, b.tasks) == (1, 4)
    assert math.isclose(b.executor_run_s, (37 + 62 + 65 + 46) / 1e3)
    assert (q.jobs, q.tasks) == (1, 1)
    assert math.isclose(q.python_worker_s, 0.255)
    assert (q.python_bytes_in, q.python_bytes_out) == (3248, 728)
    assert q.shuffle_read_bytes == 2420
    assert t.get(eventlog.UNLABELLED).jobs == 0
    # Without the interval the helper-thread job is unattributed.
    assert eventlog.read(path).get(eventlog.UNLABELLED).tasks == 4
