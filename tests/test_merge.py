"""E14 resumable merge: merged epochs == single full build (rank-
identical search), latest-epoch-wins shadowing, and checkpoint-resume
after an injected mid-merge crash (SURVEY.md §5.5)."""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from oculus_crawl_spark.operators.build import build_index, build_index_from_documents
from oculus_crawl_spark.operators.merge import MergeInterrupted, merge_indexes
from oculus_crawl_spark.operators.query import SearchSession

from .conftest import SF0001

QUERIES = ["dup", "scan", "dup scan", "scan column window", "the a value key part"]


def _docs(spark):
    return spark.read.parquet(f"{SF0001}/documents.parquet").select("doc_id", "text")


def _results(spark, root, queries=QUERIES, k=10):
    sess = SearchSession(spark, root)
    out = sess.search(queries, k=k).collect()
    return sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in out)


@pytest.fixture(scope="module")
def merged_setup(spark):
    """Two disjoint half-corpus epochs + their merge + a full build."""
    tmp = tempfile.mkdtemp(prefix="ocs_merge_")
    docs = _docs(spark)
    e0 = docs.filter(F.col("doc_id") % 2 == 0)
    e1 = docs.filter(F.col("doc_id") % 2 == 1)
    build_index(e0, f"{tmp}/ep0", epoch=0)
    build_index(e1, f"{tmp}/ep1", epoch=1)
    full = build_index_from_documents(spark, SF0001, f"{tmp}/full")
    res = merge_indexes(spark, [f"{tmp}/ep0", f"{tmp}/ep1"], f"{tmp}/merged")
    yield tmp, res, full
    shutil.rmtree(tmp, ignore_errors=True)


def test_merge_rank_identical_to_full_build(spark, merged_setup):
    tmp, res, full = merged_setup
    assert res.n_docs == full.n_docs
    assert abs(res.avgdl - full.avgdl) < 1e-9
    assert _results(spark, f"{tmp}/merged") == _results(spark, f"{tmp}/full")


def test_merge_dictionary_matches_full_build(spark, merged_setup):
    tmp, _res, _full = merged_setup
    m = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(f"{tmp}/merged/dictionary").collect()
    }
    f = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(f"{tmp}/full/dictionary").collect()
    }
    assert m == f


def test_merged_segments_equal_full_build_blocks(spark, merged_setup):
    """The merge kernel and build phase 2 write blocks through the same
    re-block routine, so the merge of two half-corpus epochs stores the
    full build's blocks row for row. block_max_tf_norm may differ by one
    float32 ulp: the two avgdl values agree only to ~1e-9 (different
    summation order), and the bound is rounded up from float64."""
    tmp, _res, _full = merged_setup
    exact = [
        "block_id", "first_doc", "last_doc", "n_docs", "sum_tf",
        "doc_bytes", "tf_bytes", "dl_bytes",
    ]

    def blocks(root):
        rows = (
            spark.read.parquet(f"{root}/segments")
            .select("term", "range_bucket", *exact, "block_max_tf_norm")
            .collect()
        )
        return sorted(rows, key=lambda r: (r["term"], r["range_bucket"], r["block_id"]))

    merged, full = blocks(f"{tmp}/merged"), blocks(f"{tmp}/full")
    assert len(merged) == len(full) > 0
    for m, f in zip(merged, full):
        key = (m["term"], m["range_bucket"])
        assert key == (f["term"], f["range_bucket"])
        assert [m[c] for c in exact] == [f[c] for c in exact], key
        a = np.float32(m["block_max_tf_norm"])
        b = np.float32(f["block_max_tf_norm"])
        assert abs(int(a.view(np.int32)) - int(b.view(np.int32))) <= 1, key


def test_merge_latest_epoch_wins(spark):
    """Overlapping doc_ids: the higher epoch's postings shadow the old."""
    tmp = tempfile.mkdtemp(prefix="ocs_shadow_")
    try:
        docs = _docs(spark).filter(F.col("doc_id") < 50)
        # Epoch 0: original text. Epoch 1: doc 7 re-crawled, new content.
        e1 = docs.filter(F.col("doc_id") == 7).withColumn(
            "text", F.lit("zebra zebra zebra unique recrawl content")
        )
        build_index(docs, f"{tmp}/ep0", epoch=0)
        build_index(e1, f"{tmp}/ep1", epoch=1)
        res = merge_indexes(spark, [f"{tmp}/ep0", f"{tmp}/ep1"], f"{tmp}/merged")
        assert res.n_docs == 50  # doc 7 not double-counted
        sess = SearchSession(spark, f"{tmp}/merged")
        hits = sess.search(["zebra"], k=5).collect()
        assert [r["doc_id"] for r in hits] == [7]
        dictionary = {
            r["term"]: r["df"]
            for r in spark.read.parquet(f"{tmp}/merged/dictionary").collect()
        }
        assert dictionary["zebra"] == 1
        # Removed-term shadowing: every term of doc 7's OLD text was
        # dropped by the re-crawl (new text shares none), so doc 7 must
        # not match ANY of them — the tombstone path, not per-term
        # latest-wins, is what enforces this.
        from oculus_crawl_spark.functions.analysis import tokenize

        old_text = docs.filter(F.col("doc_id") == 7).collect()[0]["text"]
        old_terms = sorted(set(tokenize(old_text)))
        assert old_terms  # corpus docs are non-empty
        for term in old_terms:
            hit_ids = {
                r["doc_id"] for r in sess.search([term], k=50).collect()
            }
            assert 7 not in hit_ids, term
        # And the dictionary's df for old terms counts doc 7 out: it must
        # equal the number of OTHER docs containing the term.
        others = docs.filter(F.col("doc_id") != 7).collect()
        for term in old_terms:
            expected_df = sum(1 for r in others if term in set(tokenize(r["text"])))
            assert dictionary.get(term, 0) == expected_df, term
        # Scale contract: the tombstone table is PARTITIONED BY
        # range_bucket on disk, so a merge worker reads only its ranges'
        # delete files (merge.py module docstring).
        import os

        part_dirs = [
            d
            for d in os.listdir(f"{tmp}/merged/tombstones")
            if d.startswith("range_bucket=")
        ]
        assert part_dirs, "tombstones must be written partitionBy(range_bucket)"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_merge_rejects_same_epoch_inputs(spark):
    """Latest-epoch-wins is undefined on an epoch tie: merging two inputs
    that share an epoch number must fail fast, not silently tombstone a
    doc out of both inputs' postings."""
    tmp = tempfile.mkdtemp(prefix="ocs_sameep_")
    try:
        docs = _docs(spark).filter(F.col("doc_id") < 20)
        build_index(docs.filter(F.col("doc_id") < 10), f"{tmp}/a", epoch=3)
        build_index(docs.filter(F.col("doc_id") >= 10), f"{tmp}/b", epoch=3)
        with pytest.raises(ValueError, match="distinct epochs"):
            merge_indexes(spark, [f"{tmp}/a", f"{tmp}/b"], f"{tmp}/merged")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_incremental_pages_docmap_reuse(spark):
    """The crawl -> re-crawl -> merge flow from PAGES: epoch 1 built with
    prior_docmap keeps re-crawled urls' doc_ids (so its postings shadow
    epoch 0's), new urls extend the dense id space, and searching the
    merge is value-identical (per url) to a full rebuild of the final
    corpus state."""
    from oculus_crawl_spark.operators.build import build_index_from_pages
    from oculus_crawl_spark.sources.pages import synthesize_pages

    tmp = tempfile.mkdtemp(prefix="ocs_increm_")
    try:
        base = synthesize_pages(spark, SF0001).filter(
            F.col("_expected_doc_id") < 100
        )
        pages0 = base.drop("_expected_doc_id", "text")
        build_index_from_pages(pages0, f"{tmp}/ep0", epoch=0)

        recrawl = (
            base.filter(F.col("_expected_doc_id") % 10 == 0)
            .withColumn("warc_ts", F.expr("warc_ts + interval 2 hours"))
            .withColumn("html", F.concat("html", F.lit(b"<p>zebra zebra</p>")))
        )
        mirror = base.filter(F.col("_expected_doc_id") % 10 == 5).withColumn(
            "url",
            F.format_string("https://example.org/mirror/%012d", "_expected_doc_id"),
        )
        pages1 = recrawl.unionByName(mirror).drop("_expected_doc_id", "text")
        build_index_from_pages(
            pages1, f"{tmp}/ep1", epoch=1, prior_docmap=f"{tmp}/ep0/docmap"
        )

        dm0 = {
            r["url"]: r["doc_id"]
            for r in spark.read.parquet(f"{tmp}/ep0/docmap").collect()
        }
        dm1 = {
            r["url"]: r["doc_id"]
            for r in spark.read.parquet(f"{tmp}/ep1/docmap").collect()
        }
        assert len(dm0) == 100 and len(dm1) == 110
        for url, did in dm0.items():  # every prior url keeps its id
            assert dm1[url] == did, url
        new_ids = sorted(v for u, v in dm1.items() if u not in dm0)
        assert new_ids == list(range(100, 110))  # dense, past prior max

        merge_indexes(spark, [f"{tmp}/ep0", f"{tmp}/ep1"], f"{tmp}/merged")

        # Full rebuild of the FINAL corpus state (latest-per-url dedup in
        # prepare_pages picks the re-crawl). Its id space differs, so
        # compare per URL with k > corpus size (tie-break is id-based).
        build_index_from_pages(pages0.unionByName(pages1), f"{tmp}/full")

        def by_url(root, docmap_root):
            url_of = {
                r["doc_id"]: r["url"]
                for r in spark.read.parquet(f"{docmap_root}/docmap").collect()
            }
            out = SearchSession(spark, root).search(
                ["zebra", "dup scan", "the"], k=200
            )
            return sorted(
                (r["query_id"], url_of[r["doc_id"]], round(r["score"], 9))
                for r in out.collect()
            )

        assert by_url(f"{tmp}/merged", f"{tmp}/ep1") == by_url(
            f"{tmp}/full", f"{tmp}/full"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_merge_resume_after_crash(spark, merged_setup):
    """Crash after wave 1 -> rerun completes, skips committed buckets,
    and the result is byte-equivalent to the uninterrupted merge."""
    tmp, _res, _full = merged_setup
    out = f"{tmp}/merged_crash"
    with pytest.raises(MergeInterrupted):
        merge_indexes(
            spark, [f"{tmp}/ep0", f"{tmp}/ep1"], out, fail_after_waves=1
        )
    res2 = merge_indexes(spark, [f"{tmp}/ep0", f"{tmp}/ep1"], out)
    assert res2.buckets_skipped > 0  # wave-1 buckets were not recomputed
    # lineage has one done row per bucket (no duplicates for skipped ones)
    lineage = spark.read.parquet(f"{out}/lineage_metrics").filter(
        (F.col("stage") == "merge") & (F.col("status") == "done")
    )
    per_bucket = lineage.groupBy("partition_id").count().collect()
    assert all(r["count"] == 1 for r in per_bucket)
    assert _results(spark, out) == _results(spark, f"{tmp}/merged")


def test_merge_skew_bounded_tasks(spark, merged_setup):
    """SURVEY §5.6: no merge group ever holds a full hot-term posting
    list — groups are (term, range_bucket)-bounded and inputs are
    pre-compressed blocks. Check via the manifest: every bucket's
    input_rows stayed finite and blocks are 128-doc bounded."""
    tmp, _res, _full = merged_setup
    seg = spark.read.parquet(f"{tmp}/merged/segments")
    assert seg.agg(F.max("n_docs")).collect()[0][0] <= 128


def test_recrawl_to_empty_text_tombstones_old_postings(spark):
    """A doc whose re-crawl tokenizes to NOTHING must still shadow its
    previous epoch: doclen records the empty doc (explode_outer sentinel
    in the triples pass), so the merge derives its tombstone and every
    old term stops matching it. Without that the stale postings of a
    page deleted from the web would silently survive the merge."""
    tmp = tempfile.mkdtemp(prefix="ocs_emptyre_")
    try:
        docs = _docs(spark).filter(F.col("doc_id") < 30)
        build_index(docs, f"{tmp}/ep0", epoch=0)
        e1 = docs.filter(F.col("doc_id") == 7).withColumn("text", F.lit(""))
        build_index(e1, f"{tmp}/ep1", epoch=1)
        # the empty doc must be present in epoch 1's doclen with dl=0
        dl1 = {
            r["doc_id"]: r["dl"]
            for r in spark.read.parquet(f"{tmp}/ep1/doclen").collect()
        }
        assert dl1 == {7: 0}
        res = merge_indexes(spark, [f"{tmp}/ep0", f"{tmp}/ep1"], f"{tmp}/merged")
        assert res.n_docs == 30  # doc 7 still counted (exists, empty)
        sess = SearchSession(spark, f"{tmp}/merged")
        from oculus_crawl_spark.functions.analysis import tokenize

        old_text = docs.filter(F.col("doc_id") == 7).collect()[0]["text"]
        old_terms = sorted(set(tokenize(old_text)))
        assert old_terms
        for term in old_terms:
            hits = {r["doc_id"] for r in sess.search([term], k=50).collect()}
            assert 7 not in hits, term
        # dictionary df must count doc 7 out of every old term
        dictionary = {
            r["term"]: r["df"]
            for r in spark.read.parquet(f"{tmp}/merged/dictionary").collect()
        }
        others = docs.filter(F.col("doc_id") != 7).collect()
        for term in old_terms:
            exp = sum(1 for r in others if term in set(tokenize(r["text"])))
            assert dictionary.get(term, 0) == exp, term
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_merge_rejects_mixed_geometry(spark):
    """Indexes built with different bucket geometry cannot be merged:
    waves slice by stored term_bucket, so a silent mismatch would
    overwrite partitions other waves committed."""
    from oculus_crawl_spark.config import IndexConfig

    tmp = tempfile.mkdtemp(prefix="ocs_geom_")
    try:
        docs = _docs(spark).filter(F.col("doc_id") < 20)
        build_index(docs.filter("doc_id < 10"), f"{tmp}/a", epoch=0,
                    cfg=IndexConfig(n_term_buckets=16))
        build_index(docs.filter("doc_id >= 10"), f"{tmp}/b", epoch=1,
                    cfg=IndexConfig(n_term_buckets=32))
        with pytest.raises(ValueError, match="mixed index geometry"):
            merge_indexes(spark, [f"{tmp}/a", f"{tmp}/b"], f"{tmp}/m")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_merge_resume_rejects_changed_inputs(spark):
    """Re-merging into an existing out_root with a DIFFERENT input set
    must fail fast: the manifest keys buckets by (stage, epoch, bucket)
    only, so a silent resume would skip all work while finalize stats
    reflect the new inputs."""
    tmp = tempfile.mkdtemp(prefix="ocs_resume_inputs_")
    try:
        docs = _docs(spark).filter(F.col("doc_id") < 30)
        build_index(docs.filter("doc_id % 3 = 0"), f"{tmp}/e0", epoch=0)
        build_index(docs.filter("doc_id % 3 = 1"), f"{tmp}/e1", epoch=1)
        build_index(docs.filter("doc_id % 3 = 2"), f"{tmp}/e2", epoch=2)
        merge_indexes(spark, [f"{tmp}/e1", f"{tmp}/e2"], f"{tmp}/m")
        with pytest.raises(ValueError, match="different input set"):
            merge_indexes(
                spark, [f"{tmp}/e0", f"{tmp}/e1", f"{tmp}/e2"], f"{tmp}/m"
            )
        # same inputs -> resume is a no-op rerun and stays consistent
        res = merge_indexes(spark, [f"{tmp}/e1", f"{tmp}/e2"], f"{tmp}/m")
        assert res.buckets_merged == 0 and res.buckets_skipped > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_merge_resume_absorbs_torn_marker(spark):
    """A killed writer can leave a TRUNCATED parquet part-file under the
    merge_inputs marker; reading it raises Py4JJavaError (not
    AnalysisException), and the crash-recovery path must treat a marker
    whose own write never committed as 'no marker' — not brick resume
    on the exact failure class it exists for. And because the marker is
    what ties the done-bucket manifest to an input set, an unvouched
    manifest must not be trusted either: resume re-merges every bucket
    rather than skipping buckets a different input set may have
    committed."""
    import pathlib

    tmp = tempfile.mkdtemp(prefix="ocs_torn_marker_")
    try:
        docs = _docs(spark).filter(F.col("doc_id") < 30)
        build_index(docs.filter("doc_id % 2 = 0"), f"{tmp}/e0", epoch=0)
        build_index(docs.filter("doc_id % 2 = 1"), f"{tmp}/e1", epoch=1)
        merge_indexes(spark, [f"{tmp}/e0", f"{tmp}/e1"], f"{tmp}/m")
        parts = list(pathlib.Path(f"{tmp}/m/merge_inputs").glob("part-*"))
        assert parts, "marker parquet expected"
        for p in parts:
            p.write_bytes(p.read_bytes()[: max(4, p.stat().st_size // 2)])
        # resume with the SAME inputs: the torn marker cannot vouch that
        # the manifest belongs to this input set, so resume must NOT
        # skip manifest buckets — it re-merges everything (idempotent
        # dynamic-partition overwrite) instead of bricking OR trusting.
        res = merge_indexes(spark, [f"{tmp}/e0", f"{tmp}/e1"], f"{tmp}/m")
        assert res.buckets_skipped == 0 and res.buckets_merged > 0
        # and the marker was rewritten healthy
        rows = spark.read.parquet(f"{tmp}/m/merge_inputs").collect()
        assert len(rows) == 1
        # The stale manifest was purged, not appended to: exactly one
        # done row per bucket, or every lineage consumer that sums
        # input_rows/output_rows would report 2x after the re-merge.
        lineage = (
            spark.read.parquet(f"{tmp}/m/lineage_metrics")
            .filter("stage = 'merge' and status = 'done'")
            .groupBy("epoch", "partition_id")
            .count()
            .collect()
        )
        assert lineage and all(r["count"] == 1 for r in lineage)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_untrusted_root_purges_ghost_state(spark):
    """A torn marker over a root merged from a DIFFERENT input set must
    not leave that set's term_buckets behind: the re-merge's dynamic
    partition overwrite only touches the new inputs' buckets, while
    finalize derives the dictionary from ALL committed segments — so
    without an explicit purge, buckets only the foreign set wrote would
    keep serving ghost postings for a corpus that is no longer merged
    here."""
    import pathlib

    def corpus(token, n=20):
        rows = [(i, f"{token} value {i}") for i in range(n)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    tmp = tempfile.mkdtemp(prefix="ocs_ghost_purge_")
    try:
        build_index(corpus("ghostterm"), f"{tmp}/a0", epoch=0)
        build_index(corpus("ghostterm", 10), f"{tmp}/a1", epoch=1)
        merge_indexes(spark, [f"{tmp}/a0", f"{tmp}/a1"], f"{tmp}/m")
        for p in pathlib.Path(f"{tmp}/m/merge_inputs").glob("part-*"):
            p.write_bytes(p.read_bytes()[: max(4, p.stat().st_size // 2)])
        # Same epochs, different corpus (no 'ghostterm'): the torn
        # marker cannot prove the root belongs to another input set, so
        # the merge proceeds from a clean slate rather than erroring.
        build_index(corpus("freshterm"), f"{tmp}/b0", epoch=0)
        build_index(corpus("freshterm", 10), f"{tmp}/b1", epoch=1)
        merge_indexes(spark, [f"{tmp}/b0", f"{tmp}/b1"], f"{tmp}/m")
        terms = {
            r["term"]
            for r in spark.read.parquet(f"{tmp}/m/dictionary").collect()
        }
        assert "freshterm" in terms and "ghostterm" not in terms
        sess = SearchSession(spark, f"{tmp}/m")
        assert sess.search(["ghostterm"], k=5).count() == 0
        assert sess.search(["freshterm"], k=5).count() == 5
        sess.invalidate()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_purge_crash_window_cannot_finalize_empty_index(spark):
    """The untrusted-root purge must clear the LINEAGE manifest before
    the segments table. A root can still hold a previous input set's
    intact marker while the purge runs (the new marker is written
    after it), so if segments went first and the process died between
    the two writes, a later resume of that previous input set would
    find its marker intact, trust the surviving all-done manifest, run
    zero waves, and finalize a silently EMPTY index. This test pins
    the worst state the lineage-first order permits — manifest purged,
    segments + old marker intact — and asserts that resuming the SAME
    input set re-merges every bucket and serves correct results."""
    from oculus_crawl_spark import schemas

    tmp = tempfile.mkdtemp(prefix="ocs_purge_order_")
    try:
        docs = _docs(spark).filter(F.col("doc_id") < 30)
        build_index(docs.filter("doc_id % 2 = 0"), f"{tmp}/e0", epoch=0)
        build_index(docs.filter("doc_id % 2 = 1"), f"{tmp}/e1", epoch=1)
        merge_indexes(spark, [f"{tmp}/e0", f"{tmp}/e1"], f"{tmp}/m")
        expected = _results(spark, f"{tmp}/m", queries=["dup", "scan"], k=5)
        # Simulate a crash right after the purge's FIRST write (the
        # lineage overwrite), exactly as merge_indexes issues it.
        spark.createDataFrame([], schemas.LINEAGE_METRICS).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/m/lineage_metrics")
        res = merge_indexes(
            spark, [f"{tmp}/e0", f"{tmp}/e1"], f"{tmp}/m", resume=True
        )
        # The intact marker matches, but the purged manifest has no done
        # buckets — everything re-merges; nothing is skipped into an
        # empty-segments finalize.
        assert res.buckets_skipped == 0 and res.buckets_merged > 0
        assert spark.read.parquet(f"{tmp}/m/dictionary").count() > 0
        assert _results(spark, f"{tmp}/m", queries=["dup", "scan"], k=5) == expected
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_untrusted_root_purges_foreign_tombstones(spark):
    """The tombstones table must be a FULL replace per merge: under the
    session-global dynamic partition-overwrite mode, a new input set
    that tombstones only range_bucket 0 would leave a previous input
    set's range_bucket-1 delete files on disk — and dense doc_ids make
    stale matches the norm, so the kernel would silently drop the new
    set's LIVE docs in that bucket."""
    import pathlib

    BUCKET1 = 1 << 20  # doc_ids >= 2^20 land in range_bucket 1

    def epochs(tmp, tag, bucket1_text):
        # epoch 0: doc 5 (bucket 0) + doc 2^20 (bucket 1), both live.
        # epoch 1: doc 5 re-crawled EMPTY -> tombstones (0, bucket0, 5).
        e0 = spark.createDataFrame(
            [(5, f"{tag} zero"), (BUCKET1, bucket1_text)],
            "doc_id long, text string",
        )
        e1 = spark.createDataFrame([(5, "")], "doc_id long, text string")
        build_index(e0, f"{tmp}/{tag}_e0", epoch=0)
        build_index(e1, f"{tmp}/{tag}_e1", epoch=1)
        return [f"{tmp}/{tag}_e0", f"{tmp}/{tag}_e1"]

    tmp = tempfile.mkdtemp(prefix="ocs_foreign_tomb_")
    try:
        # Input set A ALSO tombstones its bucket-1 doc (re-crawled empty
        # at epoch 1), so A leaves a range_bucket=1 delete file behind.
        a0 = spark.createDataFrame(
            [(5, "alpha zero"), (BUCKET1, "alpha one")],
            "doc_id long, text string",
        )
        a1 = spark.createDataFrame(
            [(5, ""), (BUCKET1, "")], "doc_id long, text string"
        )
        build_index(a0, f"{tmp}/a_e0", epoch=0)
        build_index(a1, f"{tmp}/a_e1", epoch=1)
        merge_indexes(spark, [f"{tmp}/a_e0", f"{tmp}/a_e1"], f"{tmp}/m")
        assert pathlib.Path(f"{tmp}/m/tombstones/range_bucket=1").exists()
        for p in pathlib.Path(f"{tmp}/m/merge_inputs").glob("part-*"):
            p.write_bytes(p.read_bytes()[: max(4, p.stat().st_size // 2)])
        # Input set B: same epochs/doc_ids, but its bucket-1 doc stays
        # LIVE (only doc 5 in bucket 0 is tombstoned). A's stale
        # bucket-1 delete file matches (epoch 0, doc 2^20) exactly.
        merge_indexes(spark, epochs(tmp, "beta", "beta one"), f"{tmp}/m")
        sess = SearchSession(spark, f"{tmp}/m")
        hits = sess.search(["beta"], k=5).collect()
        assert {r["doc_id"] for r in hits} == {BUCKET1}, hits
        assert sess.search(["zero"], k=5).count() == 0  # tombstoned
        sess.invalidate()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_merge_of_all_empty_inputs_is_wellformed(spark):
    """Both empty shapes the build deliberately supports must MERGE:
    zero-doc epochs (empty doclen -> avg(dl) is NULL) and all-empty-text
    epochs (docs but zero segments -> no wave ever writes out.segments).
    The merged generation is a well-formed, servable empty index."""
    docs = _docs(spark)
    tmp = tempfile.mkdtemp(prefix="ocs_empty_merge_")
    try:
        # zero-doc epochs
        none = docs.filter("doc_id < 0")
        build_index(none, f"{tmp}/z0", epoch=0)
        build_index(none, f"{tmp}/z1", epoch=1)
        res = merge_indexes(spark, [f"{tmp}/z0", f"{tmp}/z1"], f"{tmp}/zm")
        assert res.n_docs == 0 and res.avgdl == 0.0
        assert _results(spark, f"{tmp}/zm") == []
        # all-empty-text epochs: docs exist, nothing matches
        blank = docs.filter("doc_id < 10").select(
            "doc_id", F.lit("").alias("text")
        )
        build_index(blank, f"{tmp}/b0", epoch=0)
        build_index(blank.filter("doc_id < 5"), f"{tmp}/b1", epoch=1)
        res2 = merge_indexes(spark, [f"{tmp}/b0", f"{tmp}/b1"], f"{tmp}/bm")
        assert res2.n_docs == 10 and res2.avgdl == 0.0
        assert _results(spark, f"{tmp}/bm") == []
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_merge_resume_detects_inplace_input_rebuild(spark):
    """(epoch, n_docs, avgdl) alone cannot see an input rebuilt in place
    with the SAME aggregate shape (word-swap edits); the marker folds in
    each input's corpus_stats file signature, so a trusted resume after
    such a rebuild must refuse instead of skipping every bucket and
    serving the superseded postings."""
    docs = _docs(spark).filter(F.col("doc_id") < 30)
    tmp = tempfile.mkdtemp(prefix="ocs_rebuild_sig_")
    try:
        build_index(docs.filter("doc_id % 2 = 0"), f"{tmp}/e0", epoch=0)
        build_index(docs.filter("doc_id % 2 = 1"), f"{tmp}/e1", epoch=1)
        merge_indexes(spark, [f"{tmp}/e0", f"{tmp}/e1"], f"{tmp}/m")
        # In-place rebuild of e1 from the identical corpus: epoch,
        # n_docs, and avgdl all unchanged — only the file signature
        # (corpus_stats rewrite, always LAST in a build) moves.
        build_index(docs.filter("doc_id % 2 = 1"), f"{tmp}/e1", epoch=1)
        with pytest.raises(ValueError, match="different input set"):
            merge_indexes(spark, [f"{tmp}/e0", f"{tmp}/e1"], f"{tmp}/m")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_merge_resume_survives_unverifiable_input_signatures(
    spark, monkeypatch
):
    """The resume marker folds each input's staleness signature in — but
    the SERVING-side signature returns a distinct per-call sentinel for
    unverifiable roots (non-scandir-able storage, no catalog). The marker
    must use the STABLE collapse: with the raw sentinel, re-merging the
    SAME inputs into the same root would always read as 'different input
    set' and brick the crash-recovery path the marker exists for."""
    from oculus_crawl_spark.operators import query as qmod

    # Direct contract: per-call sentinel vs stable constant.
    a = qmod._index_signature("/nonexistent/ocs_unverifiable")
    b = qmod._index_signature("/nonexistent/ocs_unverifiable")
    assert a[0] == "unverifiable" and a != b
    assert qmod.index_signature_stable(
        "/nonexistent/ocs_unverifiable"
    ) == qmod.index_signature_stable("/nonexistent/ocs_unverifiable")

    # End-to-end: simulate object-store inputs (every signature read
    # unverifiable) and resume the same input set twice.
    tmp = tempfile.mkdtemp(prefix="ocs_unver_")
    try:
        docs = _docs(spark)
        build_index(docs.filter(F.col("doc_id") % 2 == 0), f"{tmp}/ep0", epoch=0)
        build_index(docs.filter(F.col("doc_id") % 2 == 1), f"{tmp}/ep1", epoch=1)

        def unverifiable(index_root, spark=None):
            return ("unverifiable", next(qmod._SIG_UNVERIFIABLE))

        monkeypatch.setattr(qmod, "_index_signature", unverifiable)
        inputs = [f"{tmp}/ep0", f"{tmp}/ep1"]
        merge_indexes(spark, inputs, f"{tmp}/merged")
        # Same inputs, resume=True: must NOT refuse (degraded guard =
        # the epoch/n_docs/avgdl triple), and must serve identically.
        before = _results(spark, f"{tmp}/merged")
        merge_indexes(spark, inputs, f"{tmp}/merged")
        assert _results(spark, f"{tmp}/merged") == before
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
