"""Rank-identity: the optimized engine (block-max WAND over compressed
segments) must match two INDEPENDENT exhaustive BM25 oracles — pure
NumPy and DuckDB SQL — on the frozen query set (SURVEY.md §0.4, §5.2).
Identical (doc_id, rank), scores to 1e-9, tie-break (score DESC, doc_id
ASC) pinned."""

from __future__ import annotations

from collections import Counter

import duckdb
import numpy as np
import pandas as pd
import pytest

from oculus_crawl_spark.functions import bm25
from oculus_crawl_spark.functions.analysis import tokenize
from oculus_crawl_spark.operators.query import search, search_bruteforce

from .conftest import SF0001


def numpy_oracle(docs: pd.DataFrame, query: str, k: int) -> list[tuple[int, float]]:
    """Exhaustive BM25 — an implementation deliberately independent of the
    engine's posting/codec machinery (Counter-based)."""
    toks = docs["text"].map(tokenize)
    dl = toks.map(len).to_numpy(dtype=np.float64)
    n = len(docs)
    avgdl = dl.mean()
    tfs = [Counter(t) for t in toks]
    dfc: Counter = Counter()
    for c in tfs:
        dfc.update(c.keys())
    scores = np.zeros(n)
    for t in sorted(set(tokenize(query))):
        if t not in dfc:
            continue
        idf = float(bm25.idf(n, np.array([dfc[t]]))[0])
        tf = np.array([c.get(t, 0) for c in tfs], dtype=np.float64)
        scores += np.where(tf > 0, idf * bm25.tf_norm(tf, dl, avgdl), 0.0)
    mask = scores > 0
    ids = docs["doc_id"].to_numpy()[mask]
    sc = scores[mask]
    order = np.lexsort((ids, -sc))[:k]
    return [(int(ids[i]), float(sc[i])) for i in order]


@pytest.fixture(scope="module")
def docs_pdf():
    return pd.read_parquet(f"{SF0001}/documents.parquet")


def test_wand_rank_identical_to_numpy_oracle(spark, index_sf0001, query_set, docs_pdf):
    k = query_set["k"]
    queries = query_set["queries"]
    got = (
        search(spark, index_sf0001, queries, k=k)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    for qid, q in enumerate(queries):
        expected = numpy_oracle(docs_pdf, q, k)
        actual = got[got.query_id == qid][["doc_id", "score"]].values.tolist()
        assert len(actual) == len(expected), q
        for (ed, es), (ad, ascore) in zip(expected, actual):
            assert ed == ad, (q, expected, actual)
            assert abs(es - ascore) < 1e-9, (q, ed, es, ascore)


def test_wand_rank_identical_to_duckdb_oracle(spark, index_sf0001, query_set):
    k = query_set["k"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF0001}/documents.parquet')"
    )
    queries = query_set["queries"][:8]  # singletons + first mixes (speed)
    got = (
        search(spark, index_sf0001, queries, k=k)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    for qid, q in enumerate(queries):
        terms = sorted(set(tokenize(q)))
        if not terms:
            continue
        oracle = con.execute(bm25.bm25_oracle_sql(terms, k=k, round_dp=6)).fetchall()
        actual = got[got.query_id == qid][["doc_id", "score"]].values.tolist()
        assert len(actual) == len(oracle), q
        for (ed, es), (ad, ascore) in zip(oracle, actual):
            assert int(ed) == int(ad), (q, oracle, actual)
            assert abs(float(es) - ascore) < 1e-6, (q, ed, es, ascore)


def test_bruteforce_spark_path_agrees(spark, index_sf0001, query_set):
    """The pure-DataFrame exhaustive path (no index, no Python UDF) must
    produce the same ranking as the WAND path."""
    queries = query_set["queries"][:10]
    k = query_set["k"]
    wand = (
        search(spark, index_sf0001, queries, k=k).orderBy("query_id", "rank").toPandas()
    )
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    bf = (
        search_bruteforce(spark, docs, queries, k=k)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert wand[["query_id", "rank", "doc_id"]].values.tolist() == (
        bf[["query_id", "rank", "doc_id"]].values.tolist()
    )
    assert float(np.abs(wand.score.values - bf.score.values).max()) < 1e-9


def test_out_of_vocabulary_query_is_empty(spark, index_sf0001):
    out = search(spark, index_sf0001, ["zzz"], k=10).collect()
    assert out == []


def test_k_zero_returns_empty_not_crash(spark, index_sf0001):
    """k=0 ('no results requested') used to reach the WAND kernel and
    die in a zero-size argpartition/min; it must return an empty frame
    with the standard schema — including the metrics columns when
    with_metrics is set."""
    out = search(spark, index_sf0001, ["dup"], k=0)
    assert out.collect() == []
    assert out.columns == ["query_id", "rank", "doc_id", "score"]
    from oculus_crawl_spark.operators.query import SearchSession

    sess = SearchSession(spark, index_sf0001)
    try:
        m = sess.search(["dup"], k=0, with_metrics=True)
        assert m.collect() == []
        assert m.columns == [
            "query_id", "rank", "doc_id", "score",
            "blocks_total", "blocks_decoded",
        ]
        assert sess.search(["dup"], k=-3).collect() == []
    finally:
        sess.invalidate()


def test_fast_and_shuffle_paths_identical(spark, index_sf0001, query_set):
    """A resident session (persisted range-partitioned segments) and an
    uncached one (the same repartition per batch, over the parquet scan)
    run one kernel on two physical inputs — rows must be identical
    across both."""
    from oculus_crawl_spark.operators.query import SearchSession

    cached = SearchSession(spark, index_sf0001)
    uncached = SearchSession(spark, index_sf0001, cache_segments=False)
    queries = query_set["queries"][:12]
    try:
        ref = sorted(map(tuple, cached.search(queries, k=10).collect()))
        assert ref
        assert sorted(map(tuple, uncached.search(queries, k=10).collect())) == ref
    finally:
        cached.invalidate()


def test_metrics_decoded_never_exceeds_total(spark, index_sf0001, index_sf0001_ranges):
    """Per-query decode telemetry is a snapshot delta over the shared
    per-(range,term) block cache: a repeated query in the same batch must
    report blocks_decoded <= blocks_total (0 decodes on a warm cache),
    never a cross-query accumulation. The counters are per-query totals
    over every range, on every row of the query — on a many-range index
    too, where they are summed across ranges and partitions."""
    from oculus_crawl_spark.operators.query import SearchSession

    queries = ["the scan column", "the scan column", "the"]
    for root in (index_sf0001, index_sf0001_ranges):
        out = SearchSession(spark, root).search(
            queries, k=10, with_metrics=True
        ).collect()
        assert out
        per_q = {}
        for r in out:
            assert 0 <= r["blocks_decoded"] <= r["blocks_total"], dict(r.asDict())
            counts = (r["blocks_total"], r["blocks_decoded"])
            assert per_q.setdefault(r["query_id"], counts) == counts
        # Identical queries see the same totals; the repeat rides the warm
        # cache, so its decode delta cannot exceed the first run's.
        assert per_q[0][0] == per_q[1][0]
        assert per_q[1][1] <= per_q[0][1]
        # blocks_total is every block of the query's terms, over all ranges.
        seg = spark.read.parquet(f"{root}/segments")
        for qid, q in enumerate(queries):
            terms = sorted(set(tokenize(q)))
            assert per_q[qid][0] == seg.filter(seg.term.isin(terms)).count(), q


def test_session_cache_lru_eviction(spark, index_sf0001, tmp_path):
    """At cap 1, searching a second index root must evict (and unpersist)
    the first root's resident session. The first root is the fresh one:
    sessions on one root share its persisted segments, and eviction
    releases only the evicted session's hold — a live session another
    test left on the shared fixture root keeps them cached."""
    from oculus_crawl_spark.operators import query as qmod
    from oculus_crawl_spark.operators.build import build_index

    docs = spark.read.parquet(f"{SF0001}/documents.parquet").select("doc_id", "text")
    other = str(tmp_path / "idx2")
    build_index(docs.filter("doc_id < 40"), other)

    old_cap, old_cache = qmod.SESSION_CACHE_CAP, dict(qmod._SESSION_CACHE)
    qmod._SESSION_CACHE.clear()
    try:
        qmod.SESSION_CACHE_CAP = 1
        before = search(spark, other, ["dup"], k=5).collect()
        assert before
        assert list(qmod._SESSION_CACHE) == [other]
        first = qmod._SESSION_CACHE[other][1]
        assert first._segments.is_cached
        search(spark, index_sf0001, ["dup"], k=5).collect()
        assert list(qmod._SESSION_CACHE) == [index_sf0001]
        assert not first._segments.is_cached  # evicted AND unpersisted
        # The evicted root still works (fresh session on next use).
        assert search(spark, other, ["dup"], k=5).collect() == before
    finally:
        qmod.SESSION_CACHE_CAP = old_cap
        for s in qmod._SESSION_CACHE.values():
            s[1].invalidate()
        qmod._SESSION_CACHE.clear()
        qmod._SESSION_CACHE.update(old_cache)


NONLATIN_TEXTS = [
    # Greek/Cyrillic/CJK words carry no [a-z0-9] runs and must vanish;
    # casefold-expanding chars (ẞ->ss, İ->i+dot) DO yield ASCII tokens,
    # which is exactly where lower() and the frozen spec diverge.
    "αλφα βητα data7 Straße GROSS",
    "Привет мир spark ВЕКТОР scan42",
    "日本語テキスト mixed token stream ＡＢＣ",
    "ẞ İstanbul naïve café cliché",
    "ΣΟΦΟΣ σοφος dup dup dup",
    "plain ascii filler words here",
    "numbers 123 and ΚΕΙΜΕΝΟ 456",
    "straße STRASSE Strasse",  # three spellings, one casefolded token
] * 4  # 32 docs


def _nonlatin_docs(spark):
    rows = [(i, t) for i, t in enumerate(NONLATIN_TEXTS)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_nonlatin_corpus_arrow_path_matches_numpy_oracle(spark, tmp_path):
    """The Arrow tokenizer path (use_jvm_tokenizer=False — full NFC +
    casefold spec) must build a non-Latin corpus whose search results are
    rank-identical to the exhaustive NumPy oracle over the frozen
    ``tokenize`` spec, including casefold-only matches ('straße' query
    must hit 'STRASSE' docs via the shared 'strasse' token)."""
    from oculus_crawl_spark.config import IndexConfig
    from oculus_crawl_spark.operators.build import build_index
    from oculus_crawl_spark.operators.query import SearchSession

    cfg = IndexConfig(use_jvm_tokenizer=False)
    root = str(tmp_path / "nonlatin_idx")
    build_index(_nonlatin_docs(spark), root, cfg=cfg)
    sess = SearchSession(spark, root, cfg=cfg)

    docs_pdf = pd.DataFrame({"doc_id": range(len(NONLATIN_TEXTS)), "text": NONLATIN_TEXTS})
    queries = ["straße", "dup", "data7 scan42", "i̇stanbul token", "ss"]
    got = sess.search(queries, k=10).orderBy("query_id", "rank").toPandas()
    hit_any = False
    for qid, q in enumerate(queries):
        expected = numpy_oracle(docs_pdf, q, 10)
        actual = got[got.query_id == qid][["doc_id", "score"]].values.tolist()
        assert len(actual) == len(expected), q
        hit_any = hit_any or bool(expected)
        for (ed, es), (ad, ascore) in zip(expected, actual):
            assert ed == ad and abs(es - ascore) < 1e-9, (q, expected, actual)
    assert hit_any  # the gate must exercise real matches, not empty sets
    # casefold bridge: the 'straße' query matches ALL spellings.
    exp_strasse = {d for d, _ in numpy_oracle(docs_pdf, "straße", 10)}
    assert exp_strasse  # sanity: the corpus contains them


def test_divergent_corpus_jvm_path_is_refused(spark, tmp_path):
    """Building a corpus with spec-divergent characters (ß casefold
    expansion here) on the codegen tokenizer must FAIL FAST
    (assert_true guard), never silently produce an index that diverges
    from the frozen spec."""
    from oculus_crawl_spark.operators.build import build_index

    with pytest.raises(Exception, match="diverge|ASSERT|assert"):
        build_index(_nonlatin_docs(spark), str(tmp_path / "jvm_idx"))


def test_safe_nonascii_corpus_builds_on_jvm_path(spark, tmp_path):
    """Non-ASCII text WITHOUT divergent characters (accented Latin,
    CJK, U+FFFD replacement chars from errors='replace' decoding) must
    build on the default codegen path — the guard rejects only the
    exact divergence class, not all non-ASCII — and produce tables
    identical to the Arrow-spec path."""
    from oculus_crawl_spark.config import IndexConfig
    from oculus_crawl_spark.operators.build import build_index

    texts = [
        "café menu café latte 42",       # composed é (safe)
        "broken � bytes recovered here",       # U+FFFD (safe)
        "中文 mixed ascii tokens 中文 data",          # CJK (safe)
        "plain ascii control row",
    ] * 3
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    roots = {}
    for name, cfg in (
        ("jvm", IndexConfig()),
        ("arrow", IndexConfig(use_jvm_tokenizer=False)),
    ):
        roots[name] = str(tmp_path / name)
        build_index(docs, roots[name], cfg=cfg)  # must NOT raise
    for table in ("doclen", "dictionary"):
        a = sorted(map(tuple, spark.read.parquet(f"{roots['jvm']}/{table}").collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{roots['arrow']}/{table}").collect()))
        assert a == b, table


def test_divergence_gate_matches_unicodedata():
    """The embedded range table must equal a fresh recomputation from
    this interpreter's unicodedata — a Unicode version bump fails here
    instead of silently mis-gating — and the Python/Java mirrors must
    agree on directed probes."""
    from oculus_crawl_spark.functions import unicode_gate as g

    assert g.decode_ranges() == g.compute_divergent_ranges()
    assert g.jvm_tokenizer_exact("café � 中文 plain 123")
    for bad in ("straße", "ẞ", "é", "Ω", "İ"):
        # ß, ẞ, combining acute, OHM sign, İ (casefold ≠ lower: i + dot)
        if bad == "İ":
            # İ: python casefold == lower ('i'+dot) — safe by the class;
            # both paths yield the token 'i'.
            assert g.jvm_tokenizer_exact(bad)
        else:
            assert not g.jvm_tokenizer_exact(bad), repr(bad)


def test_ascii_corpus_identical_across_tokenizer_paths(spark, tmp_path):
    """On the ASCII documents corpus the two tokenizer paths must build
    value-identical doclen/dictionary tables (the equivalence that makes
    the JVM path a safe default)."""
    from oculus_crawl_spark.config import IndexConfig
    from oculus_crawl_spark.operators.build import build_index

    docs = (
        spark.read.parquet(f"{SF0001}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 120")
    )
    roots = {}
    for name, cfg in (
        ("jvm", IndexConfig()),
        ("arrow", IndexConfig(use_jvm_tokenizer=False)),
    ):
        roots[name] = str(tmp_path / name)
        build_index(docs, roots[name], cfg=cfg)
    for table in ("doclen", "dictionary"):
        a = sorted(map(tuple, spark.read.parquet(f"{roots['jvm']}/{table}").collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{roots['arrow']}/{table}").collect()))
        assert a == b, table
