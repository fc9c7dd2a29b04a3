"""Serving-tier session cache under concurrency-shaped pressure.

The per-process ``_SESSION_CACHE`` (operators/query.py) is a capped LRU
of heavyweight resident sessions. A long-lived serving process touches
many index roots and merges indexes in place, so the cache must:

  * never exceed its cap, evicting the LEAST recently used root;
  * keep a re-touched root resident across unrelated evictions;
  * detect an in-place rebuild/merge via the corpus_stats signature and
    reload — INCLUDING when the rebuild happens while the root is cache
    -resident under eviction pressure;
  * return correct results for an evicted root on re-open (a fresh
    session, not a stale handle).
"""

from __future__ import annotations

import contextlib
import gc
import io
import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from oculus_crawl_spark.operators import query as Q
from oculus_crawl_spark.operators.build import build_index

from .conftest import SF0001


def _mini_corpus(spark, marker: str, n: int = 30):
    """Tiny deterministic corpus whose every doc contains ``marker``."""
    return (
        spark.read.parquet(f"{SF0001}/documents.parquet")
        .filter(F.col("doc_id") < n)
        .select(
            "doc_id",
            F.concat(F.col("text"), F.lit(f" {marker}")).alias("text"),
        )
    )


def _top_doc(spark, root: str, term: str) -> int:
    rows = Q.search(spark, root, [term], k=1).collect()
    return int(rows[0]["doc_id"]) if rows else -1


def _reads_cache(sess, term: str = "shared") -> bool:
    """Whether a query batch of ``sess`` reads persisted segments."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sess._kernel_frame([term], k=5).explain()
    return "InMemoryTableScan" in buf.getvalue()


def _drain_session_cache():
    """Pop-and-invalidate instead of clear(): a bare clear() drops real
    resident sessions without releasing their persisted segments, which
    then sit in executor storage for the rest of the suite — the exact
    leak class _cached_root's invalidation exists to prevent."""
    while Q._SESSION_CACHE:
        _, (_sig, sess) = Q._SESSION_CACHE.popitem()
        sess.invalidate()


@pytest.fixture()
def small_cap(monkeypatch):
    monkeypatch.setattr(Q, "SESSION_CACHE_CAP", 2)
    _drain_session_cache()
    yield
    _drain_session_cache()


def test_session_cache_lru_and_reopen(spark, small_cap):
    tmp = tempfile.mkdtemp(prefix="ocs_lru_")
    roots = {}
    try:
        for name in ("a", "b", "c"):
            roots[name] = f"{tmp}/{name}"
            build_index(_mini_corpus(spark, f"marker{name}"), roots[name])

        assert _top_doc(spark, roots["a"], "markera") >= 0
        assert _top_doc(spark, roots["b"], "markerb") >= 0
        assert set(Q._SESSION_CACHE) == {roots["a"], roots["b"]}

        # Re-touch A, then open C: B (now least recent) must be evicted.
        assert _top_doc(spark, roots["a"], "markera") >= 0
        sess_a = Q._SESSION_CACHE[roots["a"]][1]
        assert _top_doc(spark, roots["c"], "markerc") >= 0
        assert set(Q._SESSION_CACHE) == {roots["a"], roots["c"]}
        assert len(Q._SESSION_CACHE) <= Q.SESSION_CACHE_CAP
        # A survived because the hit re-inserted it as most recent —
        # and it is the SAME resident session, not a rebuild.
        assert Q._SESSION_CACHE[roots["a"]][1] is sess_a

        # Evicted B re-opens fresh and still answers correctly; A is
        # now the least recent (its hit predates C's open) and goes.
        assert _top_doc(spark, roots["b"], "markerb") >= 0
        assert set(Q._SESSION_CACHE) == {roots["c"], roots["b"]}
    finally:
        _drain_session_cache()
        shutil.rmtree(tmp, ignore_errors=True)


def test_cached_root_invalidation_releases_resident_sessions(monkeypatch):
    """fulltext_queries._cached_root rmtrees a stale index root when the
    fixture table content changes; any SearchSession still resident for
    that root (or for sibling roots nested under the same owned dir —
    the merged-pages layout) must be released with it, or its persisted
    segments linger in executor storage until unrelated LRU pressure."""
    from oculus_crawl_spark.operators import fulltext_queries as fq

    class FakeSession:
        def __init__(self):
            self.invalidated = False

        def invalidate(self):
            self.invalidated = True

    owned = tempfile.mkdtemp(prefix="ocs_owned_")
    try:
        stale_root = f"{owned}/merged"
        nested_root = f"{owned}/epoch0"
        live_root = "/somewhere/else/index"
        s_stale, s_nested, s_live = FakeSession(), FakeSession(), FakeSession()
        Q._SESSION_CACHE[stale_root] = (("s",), s_stale)
        Q._SESSION_CACHE[nested_root] = (("s",), s_nested)
        Q._SESSION_CACHE[live_root] = (("s",), s_live)
        monkeypatch.setattr(fq, "table_signature", lambda sf, t: ("new",))

        cache = {"sfX": (("old",), stale_root, owned)}
        new_root = tempfile.mkdtemp(prefix="ocs_new_")
        got = fq._cached_root(cache, "sfX", lambda: (new_root, new_root))
        assert got == new_root
        assert s_stale.invalidated and stale_root not in Q._SESSION_CACHE
        assert s_nested.invalidated and nested_root not in Q._SESSION_CACHE
        assert not s_live.invalidated and live_root in Q._SESSION_CACHE
        shutil.rmtree(new_root, ignore_errors=True)
    finally:
        _drain_session_cache()
        shutil.rmtree(owned, ignore_errors=True)


def test_invalidate_keeps_other_sessions_cache_on_same_root(spark):
    """Spark keys cached data by plan, so resident sessions on one root
    share one persisted relation. Invalidating one session must not drop
    another live session's cache (its next query would silently re-run
    the repartition shuffle); the last holder's release unpersists it,
    and a repeated invalidate() of one session releases nothing more."""
    cached_plan = _reads_cache
    tmp = tempfile.mkdtemp(prefix="ocs_shared_")
    try:
        root = f"{tmp}/idx"
        build_index(_mini_corpus(spark, "shared"), root)
        a = Q.SearchSession(spark, root)
        b = Q.SearchSession(spark, root)
        assert cached_plan(a) and cached_plan(b)
        a.invalidate()
        a.invalidate()  # no-op: must not release b's hold
        assert cached_plan(b)
        assert len(b.search(["shared"], k=5).collect()) == 5
        b.invalidate()
        assert not cached_plan(b)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_inplace_rebuild_detected_under_eviction_pressure(spark, small_cap):
    tmp = tempfile.mkdtemp(prefix="ocs_stale_")
    try:
        root_a = f"{tmp}/a"
        root_b = f"{tmp}/b"
        build_index(_mini_corpus(spark, "alpha"), root_a)
        build_index(_mini_corpus(spark, "markerb"), root_b)
        assert len(Q.search(spark, root_a, ["alpha"], k=50).collect()) == 30
        assert _top_doc(spark, root_b, "markerb") >= 0  # cache at cap

        # In-place regeneration of A while its session is resident:
        # new corpus, same root. mtime granularity can be coarse, so
        # nudge the clock the signature reads.
        time.sleep(0.05)
        shutil.rmtree(root_a)
        build_index(_mini_corpus(spark, "omega", n=20), root_a)
        for entry in os.scandir(os.path.join(root_a, "corpus_stats")):
            os.utime(entry.path)

        # The stale resident session must NOT serve: 'alpha' is gone
        # from the new corpus, 'omega' matches all 20 docs.
        assert len(Q.search(spark, root_a, ["alpha"], k=50).collect()) == 0
        assert len(Q.search(spark, root_a, ["omega"], k=50).collect()) == 20
        assert len(Q._SESSION_CACHE) <= Q.SESSION_CACHE_CAP
    finally:
        _drain_session_cache()
        shutil.rmtree(tmp, ignore_errors=True)


def test_inplace_rebuild_under_held_session_serves_new_blocks(spark):
    """A session held across an in-place rebuild keeps its hold, and
    Spark substitutes a persisted relation into any read with the same
    plan; a parquet scan's plan names the root path, not its files. So
    the sessions opened on the rebuilt root (resident through search(),
    and uncached) must drop the old version's cache and read the new
    blocks, not the held session's. The new index is built elsewhere
    and moved in, as another process's rebuild would be: a write through
    this Spark context to the root would itself refresh the cache."""
    tmp = tempfile.mkdtemp(prefix="ocs_held_")
    held = None
    try:
        root = f"{tmp}/idx"
        build_index(_mini_corpus(spark, "alpha"), root)
        _drain_session_cache()
        held = Q.SearchSession(spark, root)
        assert len(held.search(["alpha"], k=50).collect()) == 30
        assert len(Q.search(spark, root, ["alpha"], k=50).collect()) == 30

        build_index(_mini_corpus(spark, "omega", n=20), f"{tmp}/new")
        time.sleep(0.05)
        shutil.rmtree(root)
        os.rename(f"{tmp}/new", root)
        for entry in os.scandir(os.path.join(root, "corpus_stats")):
            os.utime(entry.path)

        assert len(Q.search(spark, root, ["omega"], k=50).collect()) == 20
        assert len(Q.search(spark, root, ["alpha"], k=50).collect()) == 0
        uncached = Q.SearchSession(spark, root, cache_segments=False)
        assert len(uncached.search(["omega"], k=50).collect()) == 20
    finally:
        if held is not None:
            held.invalidate()
        _drain_session_cache()
        shutil.rmtree(tmp, ignore_errors=True)


def test_dropped_session_cache_released_at_next_open(spark):
    """A resident session dropped without invalidate() stops holding its
    segments; the next session opened on that root unpersists them, so
    an uncached session there runs its own scan."""
    tmp = tempfile.mkdtemp(prefix="ocs_dropped_")
    try:
        root = f"{tmp}/idx"
        build_index(_mini_corpus(spark, "dropped"), root)
        sess = Q.SearchSession(spark, root)
        assert _reads_cache(sess, "dropped")
        del sess
        gc.collect()
        uncached = Q.SearchSession(spark, root, cache_segments=False)
        assert not _reads_cache(uncached, "dropped")
        assert len(uncached.search(["dropped"], k=50).collect()) == 30
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_concurrent_search_same_root_single_session(spark):
    """Concurrent driver threads on one root: the cache's read-check-
    mutate sequence is locked, so exactly ONE session is created (no
    duplicate persist of the same segments) and no thread dies on the
    hit path's del (the old unlocked dance double-del'd a shared key).
    Spark drivers routinely run query threads — build_index itself uses
    a ThreadPoolExecutor."""
    from concurrent.futures import ThreadPoolExecutor

    tmp = tempfile.mkdtemp(prefix="ocs_conc_")
    try:
        root = f"{tmp}/idx"
        build_index(_mini_corpus(spark, "conc"), root)
        _drain_session_cache()

        def hammer(i: int):
            return tuple(
                (r["rank"], r["doc_id"])
                for r in Q.search(spark, root, ["conc"], k=5).collect()
            )

        with ThreadPoolExecutor(max_workers=8) as pool:
            results = list(pool.map(hammer, range(24)))
        assert len(set(results)) == 1 and len(results[0]) == 5
        assert list(Q._SESSION_CACHE) == [root]
    finally:
        _drain_session_cache()
        shutil.rmtree(tmp, ignore_errors=True)


def test_concurrent_search_two_roots_no_cross_blocking(spark):
    """Lock striping: concurrent misses on TWO roots must each build
    exactly one session (per-root serialization) while neither root's
    construction excludes the other (the global lock covers only map
    mutations). Assert the observable contract: one resident session
    per root, all threads rank-identical per root."""
    from concurrent.futures import ThreadPoolExecutor

    tmp = tempfile.mkdtemp(prefix="ocs_conc2_")
    try:
        roots = {}
        for name in ("x", "y"):
            roots[name] = f"{tmp}/{name}"
            build_index(_mini_corpus(spark, f"mark{name}"), roots[name])
        _drain_session_cache()

        def hammer(i: int):
            name = "x" if i % 2 else "y"
            return name, tuple(
                (r["rank"], r["doc_id"])
                for r in Q.search(spark, roots[name], [f"mark{name}"], k=5)
                .collect()
            )

        with ThreadPoolExecutor(max_workers=8) as pool:
            results = list(pool.map(hammer, range(24)))
        by_root = {}
        for name, rows in results:
            by_root.setdefault(name, set()).add(rows)
        assert set(by_root) == {"x", "y"}
        assert all(len(v) == 1 for v in by_root.values())
        assert set(Q._SESSION_CACHE) == set(roots.values())
    finally:
        _drain_session_cache()
        shutil.rmtree(tmp, ignore_errors=True)


def test_cached_root_retires_old_dir_instead_of_deleting(monkeypatch):
    """Evicting a stale fixture root must NOT rmtree it inline — a Spark
    job another driver thread launched from the old root may still be
    mid-scan (the cache lock protects the MAP, not in-flight readers).
    The dir is retired and deleted at process exit instead."""
    from oculus_crawl_spark.operators import fulltext_queries as fq
    from oculus_crawl_spark.sources import tables as T

    owned = tempfile.mkdtemp(prefix="ocs_retire_")
    marker = os.path.join(owned, "keep.txt")
    with open(marker, "w") as f:
        f.write("x")
    monkeypatch.setattr(fq, "table_signature", lambda sf, t: ("new",))
    cache = {"sfY": (("old",), f"{owned}/root", owned)}
    new_root = tempfile.mkdtemp(prefix="ocs_retire_new_")
    try:
        got = fq._cached_root(cache, "sfY", lambda: (new_root, new_root))
        assert got == new_root
        # Old root still fully readable after eviction...
        assert os.path.exists(marker)
        assert owned in T._RETIRED_ROOTS
        # ...and gone once the exit purge runs.
        T._purge_retired_roots()
        assert not os.path.exists(owned)
        assert not T._RETIRED_ROOTS
    finally:
        shutil.rmtree(new_root, ignore_errors=True)
        shutil.rmtree(owned, ignore_errors=True)
