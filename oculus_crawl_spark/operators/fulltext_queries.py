"""Driver-facing fulltext queries — each entry pairs a Spark callable
with (where SQL-expressible) a DuckDB oracle over the same parquet
views (__spark_entry__ contract).

The indexed entries run the REAL pipeline (salted build -> compressed
segments -> block-max WAND) — not a shortcut — with the built index
cached per (process, sf_dir) so the driver's per-query calls don't
rebuild. Scores are rounded to _DP (= 8) dp on BOTH sides and used as
the sort key so ln()-last-ulp differences between NumPy and DuckDB
cannot flip the driver's order-insensitive value-hash."""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..functions import bm25
from ..functions.analysis import TOKENIZE_ORACLE_REGEX, tokenize
from ..sources.tables import read_engine_table, read_table, table_signature
from .build import build_index_from_documents
from .query import search, search_bruteforce

# Every built-index cache below is keyed by (process, sf_dir, CONTENT):
# the value is (documents-table signature, servable root, owned dir).
# Same staleness pattern as the IVF cache — a cache keyed on
# the sf_dir string alone would serve a stale index (and leak its
# mkdtemp root) after an in-place rewrite of the fixture table; the
# token logic is the shared sources.tables.table_signature.
_INDEX_CACHE: dict[str, tuple[tuple, str, str]] = {}


def _cached_root(cache, sf_dir: str, builder) -> str:
    """builder() -> (servable_root, owned_dir). Thin binding of the
    shared ``sources.tables.cached_derived_root`` protocol (striped
    build lock, content-signature staleness, retire-not-delete) to the
    fulltext caches: signature = the documents table, retire hook =
    release any resident SearchSession for the servable root AND for
    sibling roots nested under the owned dir (merged-pages layouts nest
    epoch indexes + the merged root)."""
    from ..sources.tables import cached_derived_root
    from .query import release_sessions_under

    return cached_derived_root(
        cache,
        sf_dir,
        lambda: table_signature(sf_dir, "documents"),
        builder,
        on_retire=release_sessions_under,
    )


def ensure_conf(spark: SparkSession) -> None:
    """Runtime-settable session confs the engine relies on — applied
    defensively because the driver owns the SparkSession."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Runtime-settable; the driver-owned session defaults to 200 which
    # wastes task overhead at sandbox scale (AQE coalesces, but the
    # pre-AQE plan still plans 200 map tasks).
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    # Per-batch pandas-construction overhead dominates Arrow crossings
    # at the 10k default (see session.py).
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "200000")


def get_index(spark: SparkSession, sf_dir: str) -> str:
    ensure_conf(spark)

    def build():
        root = tempfile.mkdtemp(prefix="ocs_index_")
        build_index_from_documents(spark, sf_dir, root)
        return root, root

    return _cached_root(_INDEX_CACHE, sf_dir, build)


_MERGED_CACHE: dict[str, tuple[tuple, str, str]] = {}


def get_merged_index(spark: SparkSession, sf_dir: str) -> str:
    """Two disjoint half-corpus epochs merged by the E14 resumable merge
    — searching it must be rank-identical to the full-corpus oracle."""
    ensure_conf(spark)

    def build():
        from .build import build_index
        from .merge import merge_indexes

        tmp = tempfile.mkdtemp(prefix="ocs_merged_")
        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        build_index(docs.filter(F.col("doc_id") % 2 == 0), f"{tmp}/ep0", epoch=0)
        build_index(docs.filter(F.col("doc_id") % 2 == 1), f"{tmp}/ep1", epoch=1)
        merge_indexes(spark, [f"{tmp}/ep0", f"{tmp}/ep1"], f"{tmp}/merged")
        return f"{tmp}/merged", tmp

    return _cached_root(_MERGED_CACHE, sf_dir, build)


def _merged(query: str, k: int = 10):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        root = get_merged_index(spark, sf_dir)
        return _rerank_rounded(
            search(spark, root, [query], k=k + _K_SLACK), k=k
        )

    return fn


_DP = 8  # rounding precision for cross-engine score comparison
# Fixed-k entries overfetch this many extra rows from search() and cut
# back to k AFTER the rounded re-rank: the engine selects its top-k on
# UNROUNDED scores while the oracle LIMITs k on the rounded value with
# doc_id tie-break, so a doc sitting just past the raw k boundary whose
# score rounds EQUAL to the k-th (raw gap < 5e-9 at _DP=8) wins the
# oracle's tie-break but never reached the old cut. The slack covers
# every rounding-step near-tie plausible at fixture scale; exact raw
# ties need no slack (both sides already break them doc_id ASC).
_K_SLACK = 32


def _rerank_rounded(
    out: DataFrame, key: str = "doc_id", k: int | None = None
) -> DataFrame:
    """Recompute rank from the ROUNDED score (tie-break ``key`` ASC) so
    both engines rank on byte-identical keys, then cut back to ``k``
    when the caller overfetched (see _K_SLACK). NOTE the select shadows
    ``score`` with the rounded column BEFORE the window, so the window
    orders on the rounded value — the whole point of the helper.

    GRADING SURFACE ONLY: the input is ``search()``'s already-merged
    result (<= queries*k rows — the serving path cuts to k per partition
    and merges at the coordinator in query.py), so the
    unpartitioned single-task window here re-ranks a driver-sized
    frame, it is not the scale path. The full-corpus-k entries
    (k = n_docs) are a grading shape by construction — a real serving
    query never asks for every matching document as one ranked list."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col("score").desc(), F.col(key).asc())
    ranked = (
        out.select(key, F.round("score", _DP).alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .select("rank", key, "score")
    )
    if k is not None:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked


def _indexed(query: str, k: int = 10):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        root = get_index(spark, sf_dir)
        return _rerank_rounded(
            search(spark, root, [query], k=k + _K_SLACK), k=k
        )

    return fn


def _bruteforce(query: str, k: int = 10):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_conf(spark)
        docs = read_table(spark, sf_dir, "documents")
        return _rerank_rounded(
            search_bruteforce(spark, docs, [query], k=k + _K_SLACK), k=k
        )

    return fn


def _oracle(query: str, k: int = 10) -> str:
    terms = sorted(set(tokenize(query)))
    inner = bm25.bm25_oracle_sql(terms, k=k, round_dp=_DP)
    return (
        "SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank, "
        f"doc_id, score FROM ({inner}) t"
    )


_PAGES_CACHE: dict[str, tuple[tuple, str, str]] = {}


def get_pages_index(spark: SparkSession, sf_dir: str) -> str:
    """Full north-rule path: synthesize Common-Crawl-style pages (WITH a
    ~2% re-crawled duplicate slice) from ``documents``, then
    filter -> latest-per-url dedup -> byte-identical Arrow extraction ->
    dense docID assignment -> salted build. The oracle below recomputes
    the expected corpus as a pure function of documents, so this entry
    driver-grades ops E1/E2/docmap end to end."""
    ensure_conf(spark)

    def build():
        from ..sources.pages import synthesize_pages
        from .build import build_index_from_pages

        pages = synthesize_pages(spark, sf_dir, with_dups=True).drop(
            "_expected_doc_id", "text"
        )
        root = tempfile.mkdtemp(prefix="ocs_pages_")
        build_index_from_pages(pages, root)
        return root, root

    return _cached_root(_PAGES_CACHE, sf_dir, build)


def _pages_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, dl) from the pages-built index: docmap joined to doclen.
    dl comes from tokens of the EXTRACTED text, so a value match proves
    the extraction chain reproduced every document (dup rows must carry
    the re-crawled ' updated' suffix -> dl+1)."""
    root = get_pages_index(spark, sf_dir)
    docmap = read_engine_table(
        spark, f"{root}/docmap", schemas.DOCMAP
    ).select("doc_id", "url")
    doclen = read_engine_table(spark, f"{root}/doclen", schemas.DOCLEN)
    return docmap.join(doclen, "doc_id").select("url", "dl").orderBy("url")


_PAGES_DOCLEN_SQL = f"""
SELECT printf('https://example.org/%s/%012d', source, doc_id) AS url,
       CAST(len(regexp_extract_all(
         lower(CASE WHEN doc_id % 50 = 0 THEN text || ' updated' ELSE text END),
         '{TOKENIZE_ORACLE_REGEX}')) AS INT) AS dl
FROM documents ORDER BY url
"""


_PAGES_EPOCH1_CACHE: dict[str, tuple[tuple, str, str]] = {}


def get_pages_epoch1_index(spark: SparkSession, sf_dir: str) -> str:
    """Incremental crawl->re-crawl generation: epoch 1 is built with
    ``prior_docmap`` pointing at the epoch-0 pages index, so re-crawled
    urls KEEP their doc_id and only new urls get fresh dense ids offset
    past the prior max. Epoch-1 crawl = every 10th document re-crawled
    with ' again' appended, a 'mirror' slice of brand-new urls, and a
    DELETION slice (doc_id % 10 == 3) re-crawled as EMPTY html — the
    page vanished from the web; its dl=0 sentinel row makes the merge
    tombstone the epoch-0 postings (term_frequencies explode_outer)."""
    # Unconditional, like every sibling get_*: a warm-cache call must
    # not depend on get_pages_index (inside build()) having run first.
    ensure_conf(spark)

    def build():
        from ..sources.pages import synthesize_pages
        from .build import build_index_from_pages

        root0 = get_pages_index(spark, sf_dir)
        base = synthesize_pages(spark, sf_dir)
        recrawl = (
            base.filter(F.col("_expected_doc_id") % 10 == 0)
            .withColumn("warc_ts", F.expr("warc_ts + interval 2 hours"))
            .withColumn("html", F.concat("html", F.lit(b"<p>again</p>")))
        )
        mirror = (
            base.filter(F.col("_expected_doc_id") % 10 == 5)
            .withColumn(
                "url",
                F.format_string(
                    "https://example.org/mirror/%012d", "_expected_doc_id"
                ),
            )
            .withColumn("warc_ts", F.expr("warc_ts + interval 3 hours"))
        )
        gone = (
            base.filter(F.col("_expected_doc_id") % 10 == 3)
            .withColumn("warc_ts", F.expr("warc_ts + interval 2 hours"))
            .withColumn("html", F.lit(b"<html><body></body></html>"))
        )
        pages1 = (
            recrawl.unionByName(mirror).unionByName(gone)
            .drop("_expected_doc_id", "text")
        )
        root1 = tempfile.mkdtemp(prefix="ocs_pages_ep1_")
        build_index_from_pages(
            pages1, root1, epoch=1, prior_docmap=f"{root0}/docmap"
        )
        return root1, root1

    return _cached_root(_PAGES_EPOCH1_CACHE, sf_dir, build)


def _pages_docmap_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docID stability across two pages generations (the merge's
    correctness premise): every epoch-0 url keeps its doc_id in the
    epoch-1 docmap (n_stable == n_prior), new urls extend the dense id
    space past the prior max (n_ids == n_map, max_id == n_map - 1)."""
    root0 = get_pages_index(spark, sf_dir)
    root1 = get_pages_epoch1_index(spark, sf_dir)
    dm0 = read_engine_table(
        spark, f"{root0}/docmap", schemas.DOCMAP
    ).select("url", "doc_id")
    dm1 = read_engine_table(
        spark, f"{root1}/docmap", schemas.DOCMAP
    ).select("url", "doc_id")
    a0 = dm0.agg(F.count("*").alias("n_prior"))
    a1 = dm1.agg(
        F.count("*").alias("n_map"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.max("doc_id").alias("max_id"),
    )
    stable = dm0.join(dm1, ["url", "doc_id"]).agg(F.count("*").alias("n_stable"))
    new_above = (
        dm1.join(dm0.select("url"), "url", "left_anti")
        .crossJoin(dm0.agg(F.max("doc_id").alias("_m0")))
        .filter(F.col("doc_id") > F.col("_m0"))
        .agg(F.count("*").alias("n_new_above"))
    )
    return a0.crossJoin(a1).crossJoin(stable).crossJoin(new_above)


_PAGES_DOCMAP_REUSE_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_prior,
       CAST(count(*) + sum(CASE WHEN doc_id % 10 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_map,
       CAST(count(*) + sum(CASE WHEN doc_id % 10 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_ids,
       CAST(count(*) + sum(CASE WHEN doc_id % 10 = 5 THEN 1 ELSE 0 END) - 1 AS BIGINT) AS max_id,
       CAST(count(*) AS BIGINT) AS n_stable,
       CAST(sum(CASE WHEN doc_id % 10 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_new_above
FROM documents
"""


def _pages_docmap_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docID assignment invariant: ids are DENSE 0..n-1 with no
    collisions (SURVEY §7.4 — hash ids collide at 10^12 urls)."""
    root = get_pages_index(spark, sf_dir)
    dm = read_engine_table(spark, f"{root}/docmap", schemas.DOCMAP)
    return dm.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


_PAGES_DOCMAP_SQL = """
SELECT count(*) AS n_docs, count(*) AS n_ids,
       CAST(0 AS BIGINT) AS min_id, count(*) - 1 AS max_id
FROM documents
"""


_PAGES_MERGED_CACHE: dict[str, tuple[tuple, str, str]] = {}


def get_pages_merged_index(spark: SparkSession, sf_dir: str) -> str:
    """The north rule's flagship flow, end to end from PAGES: epoch-0
    crawl (with a latest-wins dup slice) -> epoch-1 re-crawl (stable
    doc_ids via prior_docmap: every 10th url re-crawled with ' again'
    appended, plus a brand-new 'mirror' slice) -> E14 resumable merge
    with range-partitioned tombstones. Searching this index must be
    value-identical (per url) to BM25 over the reconstructed final
    corpus state — which the driver oracle below computes as a pure
    function of ``documents``."""
    ensure_conf(spark)  # unconditional, like every sibling get_* (the
    # driver owns the session; warm-cache calls must re-apply too)

    def build():
        from .merge import merge_indexes

        root0 = get_pages_index(spark, sf_dir)
        root1 = get_pages_epoch1_index(spark, sf_dir)
        tmp = tempfile.mkdtemp(prefix="ocs_pages_merged_")
        merge_indexes(spark, [root0, root1], f"{tmp}/merged")
        return f"{tmp}/merged", tmp

    return _cached_root(_PAGES_MERGED_CACHE, sf_dir, build)


def _pages_merged_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k over the merged ep0+ep1 PAGES indexes, reported per
    URL (the index's internal dense ids differ from the oracle's).
    k is derived from the corpus size (merged corpus < 2*n_docs), so
    the FULL posting union is returned at ANY sf — the oracle has no
    LIMIT, and a fixed k would diverge once the match set outgrew it
    (at sf0.1 the query matches 742 urls). With no k boundary,
    equal-score ties (mirror copies share their original's text) rank
    identically on both sides via the (rounded score DESC, url ASC)
    key."""
    mroot = get_pages_merged_index(spark, sf_dir)
    root1 = get_pages_epoch1_index(spark, sf_dir)
    n_docs = read_table(spark, sf_dir, "documents").count()
    url_of = read_engine_table(
        spark, f"{root1}/docmap", schemas.DOCMAP
    ).select("doc_id", "url")
    out = search(spark, mroot, ["dup again"], k=2 * n_docs).join(
        url_of, "doc_id"
    )
    return _rerank_rounded(out, key="url")


# Final corpus state after crawl -> re-crawl -> merge, as a pure function
# of documents: every 10th url carries the epoch-1 re-crawl (' again'
# appended — this SHADOWS the epoch-0 dup slice's ' updated' text, since
# doc_id%50==0 implies doc_id%10==0), mirror urls add unchanged copies,
# and doc_id%10==3 urls were re-crawled EMPTY (the page was deleted):
# their epoch-0 postings are tombstoned away, but the doc itself remains
# in the merged doclen with dl=0 (the explode_outer sentinel contract),
# so it still counts in n_docs/avgdl while matching nothing — which is
# why dl here comes from the corpus text per row, NOT from the toks CTE
# (a groupBy over toks would silently drop zero-token docs from stats).
_PAGES_MERGED_SEARCH_SQL = f"""
WITH corpus AS (
  SELECT printf('https://example.org/%s/%012d', source, doc_id) AS url,
         CASE WHEN doc_id % 10 = 3 THEN ''
              WHEN doc_id % 10 = 0 THEN text || ' again'
              ELSE text END AS text
  FROM documents
  UNION ALL
  SELECT printf('https://example.org/mirror/%012d', doc_id) AS url, text
  FROM documents WHERE doc_id % 10 = 5
),
dl AS (
  SELECT url,
         len(regexp_extract_all(lower(text), '{TOKENIZE_ORACLE_REGEX}')) AS dl
  FROM corpus
),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
toks AS (
  SELECT url, unnest(regexp_extract_all(lower(text), '{TOKENIZE_ORACLE_REGEX}')) AS term
  FROM corpus
),
tf AS (SELECT url, term, count(*) AS tf FROM toks GROUP BY url, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qterms(term) AS (VALUES ('dup'), ('again')),
scores AS (
  SELECT tf.url,
         round(sum( ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf / (tf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * dl.dl / stats.avgdl))
            ), {_DP}) AS score
  FROM tf
  JOIN qterms USING (term)
  JOIN dfreq USING (term)
  JOIN dl ON tf.url = dl.url
  CROSS JOIN stats
  GROUP BY tf.url
)
SELECT row_number() OVER (ORDER BY score DESC, url ASC) AS rank, url, score
FROM scores
"""


_NONLATIN_CACHE: dict[str, tuple[tuple, str, str]] = {}

# Deterministic multilingual suffixes over the (pure-ASCII) documents
# corpus — chosen to exercise exactly the analysis cases the JVM
# codegen tokenizer REFUSES (functions/unicode_gate): casefold
# EXPANSION (ß -> ss, the ﬁ ligature -> fi), accented Latin that
# casefolds stably (é, ø — token separators on both sides), and CJK
# pass-through. The base corpus is verified pure ASCII, so these are
# the only divergent characters the oracle mirror must expand.
_NL_S7 = " Straße Fußball"  # -> tokens strasse, fussball
_NL_S11 = " ﬁnance Café"  # -> tokens finance, caf
_NL_S13 = " 東京 øre"  # -> token re (ø and CJK are separators)


def _nonlatin_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    suffix = F.concat(
        F.when(F.col("doc_id") % 7 == 0, F.lit(_NL_S7)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(_NL_S11)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0, F.lit(_NL_S13)).otherwise(F.lit("")),
    )
    return docs.select("doc_id", F.concat("text", suffix).alias("text"))


def get_nonlatin_index(spark: SparkSession, sf_dir: str) -> str:
    """Index the multilingual corpus through the ARROW analysis path
    (``use_jvm_tokenizer=False`` — the full NFC+casefold spec; the
    codegen path refuses these texts by design, see tokenize_corpus)."""
    ensure_conf(spark)

    def build():
        from ..config import IndexConfig
        from .build import build_index

        root = tempfile.mkdtemp(prefix="ocs_nonlatin_")
        build_index(
            _nonlatin_corpus(spark, sf_dir),
            root,
            cfg=IndexConfig(use_jvm_tokenizer=False),
        )
        return root, root

    return _cached_root(_NONLATIN_CACHE, sf_dir, build)


def _nonlatin_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k over the multilingual index for casefold-EXPANDED
    query terms: 'strasse' and 'finance' occur in the corpus only as
    'Straße' / 'ﬁnance', so every hit proves the Arrow tokenizer
    applied the frozen NFC+casefold spec rather than lower().
    k = n_docs returns the full match set (no fixed-k tie boundary)."""
    root = get_nonlatin_index(spark, sf_dir)
    n_docs = read_table(spark, sf_dir, "documents").count()
    return _rerank_rounded(search(spark, root, ["strasse finance"], k=n_docs))


# The oracle mirrors the spec's casefold with EXPLICIT expansions of the
# corpus' known divergent characters (DuckDB lower() does not expand):
# lower() first, then ß->ss and ﬁ->fi. é/ø/CJK need no mirror — they
# are token separators under [a-z0-9]+ on both engines.
_NONLATIN_SQL = f"""
WITH corpus AS (
  SELECT doc_id,
         replace(replace(lower(text
           || CASE WHEN doc_id % 7 = 0 THEN '{_NL_S7}' ELSE '' END
           || CASE WHEN doc_id % 11 = 0 THEN '{_NL_S11}' ELSE '' END
           || CASE WHEN doc_id % 13 = 0 THEN '{_NL_S13}' ELSE '' END
         ), 'ß', 'ss'), 'ﬁ', 'fi') AS text
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{TOKENIZE_ORACLE_REGEX}')) AS term
  FROM corpus
),
dl AS (SELECT c.doc_id, coalesce(t.dl, 0) AS dl
       FROM corpus c
       LEFT JOIN (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id) t
       USING (doc_id)),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qterms(term) AS (VALUES ('strasse'), ('finance')),
scores AS (
  SELECT tf.doc_id,
         round(sum( ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf / (tf.tf + {bm25.K1} * (1 - {bm25.B} + {bm25.B} * dl.dl / stats.avgdl))
            ), {_DP}) AS score
  FROM tf
  JOIN qterms USING (term)
  JOIN dfreq USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank, doc_id, score
FROM scores
"""


def _lineage(spark: SparkSession, root: str, stage: str) -> DataFrame:
    """E13 lineage totals for one stage: postings in, blocks out."""
    return (
        read_engine_table(spark, f"{root}/lineage_metrics", schemas.LINEAGE_METRICS)
        .filter(F.col("stage") == stage)
        .groupBy("epoch", "stage")
        .agg(
            F.sum("input_rows").cast("long").alias("postings"),
            F.sum("output_rows").cast("long").alias("blocks"),
        )
    )


def _lineage_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lineage(spark, get_index(spark, sf_dir), "build")


def _lineage_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lineage(spark, get_merged_index(spark, sf_dir), "merge")


def _lineage_oracle(epoch: int, stage: str) -> str:
    """Independent reconstruction of the lineage totals: postings =
    distinct (doc, term) pairs; blocks = ceil(df/block_size) per term
    (sandbox doc_ids sit in one 2^20 range bucket, so blocks never split
    on range here)."""
    return f"""
WITH tf AS (
  SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '{TOKENIZE_ORACLE_REGEX}')) AS term
  FROM documents
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
SELECT CAST({epoch} AS BIGINT) AS epoch, '{stage}' AS stage,
       CAST(sum(df) AS BIGINT) AS postings,
       CAST(sum(CAST(ceil(df / 128.0) AS BIGINT)) AS BIGINT) AS blocks
FROM df
"""


def _term_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: exact per-term document frequency + collection frequency,
    read from the engine's dictionary table (derived from the committed
    compressed segments — so this also verifies the codec round-trips
    through the real index)."""
    root = get_index(spark, sf_dir)
    return (
        read_engine_table(spark, f"{root}/dictionary", schemas.DICTIONARY)
        .select("term", "df", "cf")
        .orderBy("term")
    )


_TERM_DICT_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKENIZE_ORACLE_REGEX}')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term)
-- CAST: DuckDB sum(BIGINT) is HUGEINT; the engine's cf column is BIGINT.
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
FROM tf GROUP BY term ORDER BY term
"""


def _doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: per-document token counts from the engine's doclen table."""
    root = get_index(spark, sf_dir)
    return read_engine_table(spark, f"{root}/doclen", schemas.DOCLEN).select(
        "doc_id", "dl"
    )


# LEFT JOIN from documents, not GROUP BY over unnested tokens: the
# engine's doclen INCLUDES zero-token documents as dl=0 sentinels
# (explode_outer — they count toward n_docs/avgdl and drive empty-
# re-crawl tombstoning), while a bare GROUP BY yields no row for them.
_DOCLEN_SQL = f"""
SELECT d.doc_id, CAST(coalesce(t.dl, 0) AS BIGINT) AS dl
FROM documents d
LEFT JOIN (SELECT doc_id, count(*) AS dl
           FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKENIZE_ORACLE_REGEX}')) AS term
                 FROM documents) t
           GROUP BY doc_id) t USING (doc_id)
"""


def _corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = get_index(spark, sf_dir)
    return read_engine_table(
        spark, f"{root}/corpus_stats", schemas.CORPUS_STATS
    ).select(
        "n_docs", F.round("avgdl", 6).alias("avgdl")
    )


# Same zero-token contract as _DOCLEN_SQL: n_docs counts EVERY
# document and avgdl averages over dl=0 sentinels too.
_CORPUS_STATS_SQL = f"""
SELECT count(*) AS n_docs, round(avg(dl), 6) AS avgdl
FROM (SELECT d.doc_id, coalesce(t.dl, 0) AS dl
      FROM documents d
      LEFT JOIN (SELECT doc_id, count(*) AS dl
                 FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKENIZE_ORACLE_REGEX}')) AS term
                       FROM documents) t
                 GROUP BY doc_id) t USING (doc_id)) d
"""


def queries() -> dict:
    return {
        "bm25_topk_rare": _indexed("dup"),
        "bm25_topk_hot": _indexed("the"),
        "bm25_topk_two_terms": _indexed("dup scan"),
        "bm25_topk_three_terms": _indexed("dup column spark"),
        "bm25_topk_all_hot": _indexed("scan column window"),
        "bm25_bruteforce_dataframe": _bruteforce("spark customer"),
        "bm25_topk_merged_epochs": _merged("dup scan column"),
        "bm25_topk_nonlatin": _nonlatin_search,
        "fulltext_term_dictionary": _term_dictionary,
        "fulltext_doc_lengths": _doc_lengths,
        "fulltext_corpus_stats": _corpus_stats,
        "pages_build_doclen": _pages_doclen,
        "pages_docmap_dense": _pages_docmap_dense,
        "pages_docmap_reuse": _pages_docmap_reuse,
        "pages_merged_search": _pages_merged_search,
        "fulltext_lineage_build": _lineage_build,
        "fulltext_lineage_merge": _lineage_merge,
    }


def oracle_sql() -> dict:
    return {
        "bm25_topk_rare": _oracle("dup"),
        "bm25_topk_hot": _oracle("the"),
        "bm25_topk_two_terms": _oracle("dup scan"),
        "bm25_topk_three_terms": _oracle("dup column spark"),
        "bm25_topk_all_hot": _oracle("scan column window"),
        "bm25_bruteforce_dataframe": _oracle("spark customer"),
        "bm25_topk_merged_epochs": _oracle("dup scan column"),
        "bm25_topk_nonlatin": _NONLATIN_SQL,
        "fulltext_term_dictionary": _TERM_DICT_SQL,
        "fulltext_doc_lengths": _DOCLEN_SQL,
        "fulltext_corpus_stats": _CORPUS_STATS_SQL,
        "pages_build_doclen": _PAGES_DOCLEN_SQL,
        "pages_docmap_dense": _PAGES_DOCMAP_SQL,
        "pages_docmap_reuse": _PAGES_DOCMAP_REUSE_SQL,
        "pages_merged_search": _PAGES_MERGED_SEARCH_SQL,
        "fulltext_lineage_build": _lineage_oracle(0, "build"),
        "fulltext_lineage_merge": _lineage_oracle(1, "merge"),
    }
