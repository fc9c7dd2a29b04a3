"""Index build — ops E1..E13 of SURVEY.md §2.B.

Pipeline (SURVEY §3.1):

  pages scan -> filter -> latest-per-url dedup -> Arrow text extraction
    -> tokenize -> (term, docID, tf, dl) triples   [ONE materialized pass]
    -> [dictionary stats | SALTED TWO-PHASE posting assembly -> blocks]
    -> partitioned segment/dictionary/stats writes -> lineage metrics

Scale design notes (the parts that must survive 1000 executors / 100 TB):

* The tf-triple aggregation (E5) is a reducing groupBy — Spark's partial
  (map-side) aggregation shrinks it before the shuffle, so it scales.
  ``postings`` is the single persist() point: doclen, corpus stats and
  the segment build all derive from it, so the 100 TB corpus is scanned
  (and the Arrow extract/tokenize UDFs run) exactly once.
* Posting-list assembly is a COLLECTING aggregation — partial agg gives
  zero reduction and AQE skew handling covers joins only, so a stop word
  occurring in every doc would land on one reducer. Hence the mandated
  two-phase salted assembly (BASELINE.json:6): phase 1 groups on
  (term, range_bucket, salt) and emits an already-compressed sorted run,
  so no task ever materializes a full hot-term posting list and the
  phase-2 shuffle moves ~1-2 bytes/posting; phase 2 merges <= S runs per
  (term, range_bucket) into 128-doc PFor blocks.
* Blocks never cross a doc range_bucket boundary, which is what lets the
  query path fan out per (query, range) with per-partition exactness
  (document-partitioned search — operators/query.py).
* segments is written partitioned by term_bucket => query-time partition
  pruning touches only buckets containing query terms (op Q3).
* One path for every corpus: an empty corpus, or one whose texts all
  tokenize to nothing, runs the same stages over zero rows. Engine
  tables are read with their declared schemas (schemas.py), so an empty
  partitioned segments table reads as 0 rows rather than failing
  schema inference.
* One commit point: the build and the merge both finalize through
  ``commit_index``. The dictionary is derived FROM the committed
  segments, so stats can never drift from the written index, and
  corpus_stats is written strictly last.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, replace
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from ..config import DEFAULT, IndexConfig
from ..functions import bm25
from ..functions.analysis import extract_text_udf, tokenize_udf
from ..functions.codec import (
    decode_doc_ids_many,
    encode_doc_gaps_many,
    pfor_decode_many,
    pfor_encode_many,
)
from ..sources.tables import read_engine_table, write_table


@dataclass(frozen=True)
class IndexPaths:
    root: str

    @property
    def segments(self) -> str:
        return os.path.join(self.root, "segments")

    @property
    def dictionary(self) -> str:
        return os.path.join(self.root, "dictionary")

    @property
    def doclen(self) -> str:
        return os.path.join(self.root, "doclen")

    @property
    def corpus_stats(self) -> str:
        return os.path.join(self.root, "corpus_stats")

    @property
    def docmap(self) -> str:
        return os.path.join(self.root, "docmap")

    @property
    def docmap_meta(self) -> str:
        # PROVENANCE record of this generation's id assignment (the
        # resolved dense-id bucket count + the offset fresh ids start
        # at) — audit metadata, not an enforcement mechanism: id
        # stability across generations comes from the prior-docmap
        # join alone (carried urls keep their ids; fresh ids only need
        # to be dense above the prior max, which holds at any bucket
        # count), and a re-run derives the same geometry from the same
        # counts deterministically.
        return os.path.join(self.root, "docmap_meta")

    @property
    def lineage(self) -> str:
        return os.path.join(self.root, "lineage_metrics")

    @property
    def tombstones(self) -> str:
        # Superseded (epoch, range_bucket, doc_id) rows written by the
        # merge — the Iceberg-v2 positional-delete-file analogue.
        return os.path.join(self.root, "tombstones")


# Target postings per phase-1 run. Sized so the hottest possible group
# — a stop word present in EVERY doc of a full 2^20-doc range — derives
# S = 2^20 / 2^14 = 64 salts, SURVEY §7.4's at-scale default, with a
# decoded run buffer of ~384 KB (3 x 16k x 8 B arrays) per kernel group.
SALT_TARGET_RUN_POSTINGS = 1 << 14


def _prior_hot_group_df(
    spark: SparkSession, prior_index: str, new_range_bits: int
) -> int | None:
    """Hottest OBSERVED per-(term, range_bucket) df of a prior
    generation, rescaled to the new build's range geometry — or None
    when the prior is missing, unreadable, row-less (a crashed prior
    finalize can commit parquet files without rows), empty, or predates
    self-describing geometry. The prior is an optional HINT: every
    failure mode degrades to the worst-case bound; it never fails a
    build.

    Source of truth is the committed segment METADATA (block n_docs
    summed per (term, range_bucket) — the durable form of the E13
    accounting), NOT dictionary df divided by range count: a mean hides
    range-concentrated hot terms (a language-local stop word fills its
    16 contiguous ranges and no others), and S exists to bound the
    worst GROUP, not the average one. The scan is column-pruned to 3
    narrow metadata columns with partial aggregation before the one
    shuffle — cost proportional to block count, once per build.
    Tombstoned postings of merged priors stay counted; an overestimate
    only ever raises S (the safe direction)."""
    p = IndexPaths(prior_index)
    try:
        rows = read_engine_table(
            spark, p.corpus_stats, schemas.CORPUS_STATS
        ).collect()
        if not rows:
            return None
        try:
            _, prior_bits = index_geometry(rows[0])
        except ValueError:
            return None  # pre-geometry prior: unusable as a hint
        m = (
            read_engine_table(spark, p.segments, schemas.SEGMENTS)
            .groupBy("term", "range_bucket")
            .agg(F.sum("n_docs").alias("g"))
            .agg(F.max("g").alias("m"))
            .collect()[0]["m"]
        )
    except Exception:
        # Deliberately broad: a missing prior raises AnalysisException,
        # but a TRUNCATED/corrupt committed file (killed writer,
        # partial copy) surfaces as Py4JJavaError at collect() — and
        # the contract is that NO prior state, however mangled, can
        # fail a build that would succeed without the hint.
        return None
    if m is None:
        return None
    # Coarser new ranges (range_bits grew by d) hold up to 2^d prior
    # ranges each, so the observation scales by 2^d; a finer new
    # geometry only shrinks groups, leaving the prior max a valid
    # upper bound as-is.
    return int(m) << max(0, new_range_bits - prior_bits)


def derive_n_salts(
    n_docs: int,
    cfg: IndexConfig,
    spark: SparkSession | None = None,
    prior_index: str | None = None,
) -> int:
    """Metrics-driven salt count S for the salted two-phase assembly
    (SURVEY §7.4: "S adaptive from E13 metrics of a prior epoch").

    S's one job is bounding the postings a single (term, range_bucket,
    salt) run can hold. The worst group is a term present in every doc
    of its range: min(n_docs, 2^range_bits) postings. First epoch that
    worst case IS the bound; with a prior generation's committed
    segment metadata it tightens to the hottest OBSERVED per-range df
    (``_prior_hot_group_df``), with 2x headroom for corpus drift
    between epochs.

    ``cfg.n_salts`` is the FLOOR (sandbox default 8 — small corpora
    never derive above it, keeping local runs deterministic); the 1024
    cap bounds phase-1 group-count inflation for degenerate configs.
    Cluster width deliberately does NOT enter: hot-term parallelism is
    already n_ranges x S (~10^6 ranges at 10^12 docs), so salts beyond
    the run-size bound add per-run overhead without new parallelism."""
    hot = min(int(n_docs), 1 << cfg.range_bits)
    if prior_index is not None and spark is not None:
        observed = _prior_hot_group_df(spark, prior_index, cfg.range_bits)
        if observed is not None:
            hot = min(hot, 2 * observed)
    need = -(-hot // SALT_TARGET_RUN_POSTINGS)
    return int(min(1024, max(cfg.n_salts, need)))


def derive_dictionary(seg: DataFrame) -> DataFrame:
    """E6: exact df/cf dictionary from a COMMITTED segments table — ONE
    definition shared by the build and merge finalizers. The dictionary
    is a rank-stability-critical contract (exact df, pinned column
    order); two copy-pasted aggregations would silently diverge built
    vs merged generations on the next edit."""
    return (
        seg.groupBy("term", "term_bucket")
        .agg(
            F.sum("n_docs").cast("long").alias("df"),
            F.sum("sum_tf").cast("long").alias("cf"),
            F.count("*").cast("int").alias("n_blocks"),
        )
        .select("term", "df", "cf", "n_blocks", "term_bucket")
    )


def segment_lineage(
    seg: DataFrame, epoch: int, stage: str, wall_ms: int
) -> DataFrame:
    """E13: one LINEAGE_METRICS row per term_bucket of committed
    segments — input_rows = postings, output_rows = blocks, bytes_out =
    blob bytes — with the driver-measured ``wall_ms`` of the stage. The
    build's lineage and each merge wave's manifest rows both come from
    here."""
    return (
        seg.groupBy("term_bucket")
        .agg(
            F.sum("n_docs").cast("long").alias("input_rows"),
            F.count("*").cast("long").alias("output_rows"),
            F.sum(
                F.length("doc_bytes") + F.length("tf_bytes") + F.length("dl_bytes")
            )
            .cast("long")
            .alias("bytes_out"),
        )
        .select(
            F.lit(epoch).cast("long").alias("epoch"),
            F.lit(stage).alias("stage"),
            F.col("term_bucket").cast("int").alias("partition_id"),
            "input_rows",
            "output_rows",
            "bytes_out",
            F.lit(wall_ms).cast("long").alias("wall_ms"),
            F.lit("done").alias("status"),
        )
    )


def commit_index(
    spark: SparkSession,
    paths: IndexPaths,
    doclen: DataFrame,
    stats: tuple,
    lineage: DataFrame | None = None,
) -> None:
    """Finalize an index whose segments are committed — the one commit
    routine of the build and the merge.

    Reads the committed segments with their declared schema, then writes
    the dictionary derived from them, ``doclen`` and the optional
    ``lineage`` rows (overwrite: a rebuild into a reused root must not
    accumulate duplicate lineage rows) concurrently from driver threads,
    so their fixed per-job latencies overlap. Spark job groups are
    thread-local; ``inheritable_thread_target`` carries the caller's
    group into the pool threads. ``stats`` is the corpus_stats row in
    schemas.CORPUS_STATS order.

    corpus_stats is written ALONE, strictly AFTER the others: the
    serving tier's staleness token (query._index_signature) is the
    corpus_stats file listing, on the contract that every build and
    merge rewrites corpus_stats LAST. If it raced ahead, a concurrent
    search() could cache a session built over a half-written dictionary
    under the final signature and serve it indefinitely."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    seg = read_engine_table(spark, paths.segments, schemas.SEGMENTS)
    tables = [(derive_dictionary(seg), paths.dictionary), (doclen, paths.doclen)]
    if lineage is not None:
        tables.append((lineage, paths.lineage))
    write = inheritable_thread_target(spark)(write_table)
    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        for f in [pool.submit(write, df, path) for df, path in tables]:
            f.result()
    write_table(
        spark.createDataFrame([stats], schema=schemas.CORPUS_STATS),
        paths.corpus_stats,
    )


def index_geometry(stats_row) -> tuple[int, int]:
    """(n_term_buckets, range_bits) from a corpus_stats row.

    Indexes written before geometry became self-describing are refused
    LOUDLY on every surface — merge and serving alike — rather than one
    surface falling back to the process cfg (which silently mis-sizes
    the cached layout and tombstone lookups whenever the cfg differs
    from the build's). Old-format indexes require a rebuild. Read with
    the declared schema, their missing columns arrive as NULL."""
    fields = stats_row.asDict()
    if fields.get("n_term_buckets") is None or fields.get("range_bits") is None:
        raise ValueError(
            "corpus_stats predates self-describing index geometry "
            "(missing n_term_buckets/range_bits); rebuild this index "
            "before merging or serving it"
        )
    return int(stats_row["n_term_buckets"]), int(stats_row["range_bits"])


# --- term bucketing (shared by build + dictionary + query pruning) -----------


_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3


def _term_bucket_py(term: str, n_buckets: int) -> int:
    """Deterministic term bucket, identical on driver and executors.

    Python's builtin hash() is salted per process => unusable. FNV-1a over
    UTF-8 is stable, cheap, and dependency-free. Scalar form — used for
    driver-side query routing (a handful of terms); the executor-side
    vocabulary pass uses the batch-wide ``_term_bucket_np``."""
    h = _FNV_OFFSET
    for byte in term.encode("utf-8"):
        h = ((h ^ byte) * _FNV_PRIME) & 0xFFFFFFFFFFFFFFFF
    return int(h % n_buckets)


def _term_bucket_np(terms: pd.Series, n_buckets: int) -> np.ndarray:
    """Batch-wide FNV-1a term buckets — same constants and byte order as
    ``_term_bucket_py`` (pytest-pinned on random unicode), but the hash
    state advances for ALL terms at once, one vectorized xor/multiply
    per BYTE POSITION (max term length, ~tens) instead of a Python loop
    per row per byte. At a web vocabulary (10^8-10^9 terms) the per-row
    scalar UDF was the dictionary stage's Python-loop bound."""
    enc = terms.fillna("").str.encode("utf-8")
    lens = enc.str.len().to_numpy().astype(np.int64)
    n = len(lens)
    out_h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    total = int(lens.sum())
    if total:
        flat = np.frombuffer(b"".join(enc.to_numpy()), dtype=np.uint8)
        starts = np.cumsum(lens) - lens
        prime = np.uint64(_FNV_PRIME)
        # Iterate terms sorted by length so position j touches ONLY the
        # suffix of terms longer than j — total work O(sum of lengths),
        # like the scalar loop. (A flatnonzero over the whole batch per
        # position would make one pathological 100 KB token cost
        # positions x batch-size scans.)
        order = np.argsort(lens, kind="stable")
        sorted_lens = lens[order]
        with np.errstate(over="ignore"):
            for j in range(int(sorted_lens[-1])):
                alive = order[np.searchsorted(sorted_lens, j, side="right") :]
                h = out_h[alive]
                h ^= flat[starts[alive] + j].astype(np.uint64)
                h *= prime
                out_h[alive] = h
    return (out_h % np.uint64(n_buckets)).astype(np.int64)


# --- E2: filter + dedup, E1: extraction, docID assignment --------------------


def prepare_pages(
    pages: DataFrame,
    langs: Iterable[str] | None = None,
    cfg: IndexConfig = DEFAULT,
) -> DataFrame:
    """pages(url, warc_ts, html, [lang]) -> (url, warc_ts, text, lang).

    E2b filter (pushed to the scan by Catalyst — native columns only),
    E2c latest-per-url dedup (pinned tie-break: warc_ts DESC, then the
    longer html, then xxhash64(html) — the hash makes the order TOTAL,
    so two same-instant crawls of equal length but different bytes
    can't flip winners with shuffle arrival order across reruns), then
    E1 byte-identical Arrow text extraction. ``html`` is dropped
    immediately after extraction so column pruning keeps it out of
    every shuffle."""
    df = pages.filter(F.col("url").isNotNull() & F.col("html").isNotNull())
    if "lang" not in df.columns:
        # The docstring's `[lang]` is genuinely optional: a langs filter
        # without the column is a hard error (the operator cannot apply
        # it), but an unfiltered build must not crash on the final
        # select — carry an explicit NULL lang instead.
        if langs is not None:
            raise ValueError("langs filter requires a `lang` column on pages")
        df = df.withColumn("lang", F.lit(None).cast("string"))
    if langs is not None:
        df = df.filter(F.col("lang").isin(list(langs)))
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(),
        F.length("html").desc(),
        F.xxhash64("html").asc(),
    )
    df = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return df.select(
        "url",
        "warc_ts",
        extract_text_udf("html").alias("text"),
        "lang",
    )


# One id-bucket sorts ~this many keys in one task. 4M keys (8-byte hash
# + key string) is comfortably one executor task; 10^12 keys resolve to
# the 65536 cap => ~15M keys/bucket, still one task's worth of sort.
# The floor of 32 keeps sandbox-scale runs parallel.
_TARGET_KEYS_PER_ID_BUCKET = 4_000_000


def assign_dense_ids(
    df: DataFrame, key_col: str, id_col: str, n_partitions: int | None = None
) -> tuple[DataFrame, int]:
    """Dense deterministic 64-bit IDs for a unique key column (SURVEY
    §7.4). hash64(key) collides at scale (~27k birthday collisions at
    10^12 keys), so IDs are dense: range-partition by key, count per
    partition, exclusive-scan the (tiny, one row per partition) counts
    on the driver, then add the partition offset to a within-partition
    running count. The bucket id is DERIVED FROM THE DATA
    (pmod(xxhash64(key), n)) rather than from spark_partition_id():
    physical partition ids are not stable across jobs — Catalyst can
    collapse a user repartition into an ENSURE_REQUIREMENTS exchange
    that AQE then coalesces — while a data-derived bucket is immune to
    any re-planning.

    ``n_partitions=None`` derives a power-of-two bucket count sized so
    no task sorts more than ~_TARGET_KEYS_PER_ID_BUCKET keys — WITHOUT
    an extra pass over the input: the counting groupBy histograms fine
    pre-buckets (hash mod 65536) and, since n | 65536, folds them into
    the final buckets driver-side ((h mod 65536) mod n == h mod n).
    Deterministic for a fixed key set and bucket count; changing the
    bucket count renumbers — the resolved count is RETURNED and
    build_index_from_pages persists it in docmap_meta as generation
    PROVENANCE (cross-generation id stability itself needs no pinning:
    carried urls keep their ids via the prior-docmap join, and fresh
    ids are offset past the prior max at any bucket count)."""
    pre = 65536 if n_partitions is None else n_partitions
    with_pre = df.withColumn(
        "_pre", F.pmod(F.xxhash64(F.col(key_col)), F.lit(pre)).cast("int")
    )
    pre_counts = {
        r["_pre"]: r["n"]
        for r in with_pre.groupBy("_pre").agg(F.count("*").alias("n")).collect()
    }
    if n_partitions is None:
        total = sum(pre_counts.values())
        n_partitions = 32
        while (
            n_partitions < 65536
            and total / n_partitions > _TARGET_KEYS_PER_ID_BUCKET
        ):
            n_partitions *= 2
    counts: dict[int, int] = {}
    for pb, n in pre_counts.items():
        counts[pb % n_partitions] = counts.get(pb % n_partitions, 0) + n
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    with_pid = with_pre.withColumn(
        "_pid", F.pmod(F.col("_pre"), F.lit(n_partitions)).cast("int")
    ).drop("_pre")

    def _number(batches):
        consumed: dict[int, int] = {}
        for pdf in batches:
            pids = pdf["_pid"].to_numpy()
            ids = np.empty(len(pdf), dtype=np.int64)
            for s, e in _group_slices(pids):
                pid = int(pids[s])
                base = offsets[pid] + consumed.get(pid, 0)
                ids[s:e] = np.arange(base, base + (e - s), dtype=np.int64)
                consumed[pid] = consumed.get(pid, 0) + (e - s)
            pdf = pdf.assign(**{id_col: ids})
            yield pdf.drop(columns=["_pid"])

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    # All rows of one bucket land in one partition (hash on _pid) and
    # arrive key-sorted and contiguous; a bucket spanning Arrow batches
    # is handled by the per-bucket consumed counter.
    out = (
        with_pid.repartition(n_partitions, "_pid")
        .sortWithinPartitions("_pid", key_col)
        .mapInPandas(_number, schema=out_schema + f", {id_col} long")
    )
    return out, n_partitions


def term_dimension(postings_raw: DataFrame, cfg: IndexConfig = DEFAULT) -> DataFrame:
    """(term) -> (term, term_id, term_bucket): dense numeric term IDs +
    the FNV partition bucket. Vocabulary-sized (≪ postings); the bucket
    UDF runs over vocab rows only. The posting pipeline then moves ONLY
    numeric columns through Arrow — converting 10^7+ string cells per
    partition to Python objects measured ~10x slower than the numeric
    transfer, so strings are re-attached at block level, never carried
    per posting."""
    n_buckets = cfg.n_term_buckets

    @F.pandas_udf(T.IntegerType())
    def bucket_udf(s: pd.Series) -> pd.Series:
        return pd.Series(_term_bucket_np(s, n_buckets).astype(np.int32))

    # NULL terms are the explode_outer sentinels for empty docs (they
    # exist for doclen only) — never vocabulary entries.
    vocab = postings_raw.select("term").filter(F.col("term").isNotNull()).distinct()
    vocab_ids, _ = assign_dense_ids(vocab, "term", "term_id")
    return vocab_ids.withColumn("term_bucket", bucket_udf("term"))


# --- E3/E4/E5: tokenize, doc length, tf triples ------------------------------


def tokenize_corpus(corpus: DataFrame, cfg: IndexConfig = DEFAULT) -> DataFrame:
    """(doc_id, text, ...) -> (doc_id, tokens, dl).

    Default path is the codegen'd column-expression tokenizer (identical
    to the frozen spec for ASCII; zero Python in the scan stage — see
    IndexConfig.use_jvm_tokenizer). The Arrow UDF path carries the full
    NFC+casefold spec for non-Latin corpora.

    The JVM path REFUSES texts containing a DIVERGENT character (one
    codegen'd rlike per row, negligible next to extraction) rather than
    silently diverging from the frozen spec. Divergent = the exact
    class where lower() and NFC+casefold can disagree on [a-z0-9] run
    formation — casefold expansions (ß→ss), NFC-unstable singletons,
    and combining marks that merge with ASCII bases
    (functions/unicode_gate.py; verified exhaustively over every other
    codepoint). Accented Latin, U+FFFD from errors='replace' decoding,
    CJK etc. all pass — they tokenize identically on both paths. Flip
    ``use_jvm_tokenizer=False`` for corpora that trip the guard
    (pytest-gated rank-identical)."""
    from ..functions.analysis import tokenize_expr
    from ..functions.unicode_gate import JVM_DIVERGENT_REGEX

    if cfg.use_jvm_tokenizer:
        # Short-circuit: the 427-range divergence class compiles to a
        # slow Java regex (measured 32x the whole tokenize stage when
        # run on every row), so it is evaluated ONLY for rows that
        # contain non-ASCII at all — detected by octet_length != length
        # (byte count vs char count; no regex, no scan beyond what the
        # tokenizer reads anyway). Pure-ASCII corpora never touch the
        # heavy class; codegen's And short-circuits per row.
        nonascii = F.octet_length("text") != F.length("text")
        divergent = nonascii & F.col("text").rlike(JVM_DIVERGENT_REGEX)
        exact_ok = ~F.coalesce(divergent, F.lit(False))
        guard = F.assert_true(
            exact_ok,
            F.lit(
                "text contains characters where the JVM tokenizer diverges "
                "from the frozen NFC+casefold spec (casefold expansion / "
                "combining mark / NFC-unstable — see functions/unicode_gate); "
                "build with IndexConfig(use_jvm_tokenizer=False)"
            ),
        )
        tok = F.when(guard.isNull(), tokenize_expr(F.col("text")))
    else:
        tok = tokenize_udf("text")
    # NULL text -> [] (the spec: tokenize(None) == []), so dl is 0, not
    # size(NULL) = -1, and empty docs stay representable downstream.
    tok = F.coalesce(tok, F.array().cast("array<string>"))
    return corpus.select("doc_id", tok.alias("tokens")).withColumn(
        "dl", F.size("tokens").cast("int")
    )


def term_frequencies(tokenized: DataFrame) -> DataFrame:
    """E5: explode tokens -> (term, doc_id, tf, dl).

    groupBy(doc_id, dl, term).count() is a reducing agg: Spark's partial
    aggregation collapses repeats map-side before the shuffle (dl is
    functionally dependent on doc_id, so adding it to the key is free).

    explode_OUTER: a document whose text tokenizes to NOTHING (an empty
    re-crawl of a previously non-empty page) emits one NULL-term row,
    so doclen still records it (dl=0) in the same single corpus pass.
    Without it the doc vanishes from doclen entirely and a later merge
    derives NO tombstone for its previous epoch — its stale postings
    would silently survive the re-crawl. NULL terms are filtered before
    the dictionary/posting pipeline (term_dimension, the term_id join)."""
    return (
        tokenized.select("doc_id", "dl", F.explode_outer("tokens").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("int").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )


# --- E7: salted two-phase posting assembly -> compressed blocks --------------
#
# Both phases keep the mandated shuffle structure — phase 1 exchanges on
# (term, range_bucket, salt), phase 2 on (term, range_bucket) — but are
# executed as repartition + sortWithinPartitions + mapInPandas rather
# than groupBy().applyInPandas: one Arrow stream per PARTITION (many
# groups), with group boundaries found vectorized. Measured ~12 ms of
# per-group Arrow/pandas overhead in FlatMapGroupsInPandas vs ~2 ms of
# actual kernel work — at 10^12 docs the group count is ~1e9, so
# per-group framework overhead is the difference between feasible and
# not. Memory bound: one shuffle partition buffered per worker (sized by
# spark.sql.shuffle.partitions exactly like any sort-based stage).

_RUNS_SCHEMA = (
    "term_id long, range_bucket long, salt int, n_docs int, first_doc long, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary"
)

_BLOCKS_SCHEMA = (
    "term_id long, range_bucket long, block_id int, first_doc long, "
    "last_doc long, n_docs int, sum_tf long, block_max_tf_norm float, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary, epoch long"
)


def _run_starts(*keys: np.ndarray) -> np.ndarray:
    """Row offsets where an equal-key run begins, over pre-sorted keys."""
    n = len(keys[0])
    change = np.zeros(n, dtype=bool)
    change[:1] = True
    for k in keys:
        change[1:] |= k[1:] != k[:-1]
    return np.flatnonzero(change)


def _group_slices(*keys: np.ndarray):
    """Boundaries of equal-key runs over pre-sorted key arrays."""
    starts = _run_starts(*keys)
    yield from zip(starts, np.append(starts[1:], len(keys[0])))


def reblock(
    gid: np.ndarray,
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    bs: int,
) -> dict:
    """Cut posting groups into ``bs``-doc blocks with block-max bounds —
    the one re-block routine of build phase 2 and the merge kernel.

    Input: the postings of many groups back to back, sorted by (gid,
    doc_id), at least one posting. Output: one entry per block, in
    (group, block_id) order — ``group`` (the block's gid, for the
    caller's keys), ``block_id`` (0-based within its group), first/last
    doc, n_docs, sum_tf, the admissible float32 ``block_max_tf_norm``
    (bm25.bmax32) and the three encoded payloads. Bounds come from
    reduceat over block starts and payloads from ONE batched encode per
    column (a per-block encode call costs ~0.25 ms of fixed overhead)."""
    n = len(docs)
    g_start = _run_starts(gid)
    g_end = np.append(g_start[1:], n)
    n_blk = -(-(g_end - g_start) // bs)
    g_of_blk = np.repeat(np.arange(len(g_start)), n_blk)
    block_id = np.arange(len(g_of_blk)) - np.repeat(np.cumsum(n_blk) - n_blk, n_blk)
    b_start = g_start[g_of_blk] + block_id * bs
    b_end = np.minimum(b_start + bs, g_end[g_of_blk])
    cuts = b_start[1:]
    tf_norms = bm25.tf_norm(tfs, dls, avgdl)
    return {
        "group": gid[b_start],
        "block_id": block_id.astype(np.int32),
        "first_doc": docs[b_start].astype(np.int64),
        "last_doc": docs[b_end - 1].astype(np.int64),
        "n_docs": (b_end - b_start).astype(np.int32),
        "sum_tf": np.add.reduceat(tfs, b_start).astype(np.int64),
        "block_max_tf_norm": bm25.bmax32(np.maximum.reduceat(tf_norms, b_start)),
        "doc_bytes": encode_doc_gaps_many(np.split(docs.astype(np.uint64), cuts)),
        "tf_bytes": pfor_encode_many(np.split(tfs, cuts)),
        "dl_bytes": pfor_encode_many(np.split(dls, cuts)),
    }


def _encode_runs_partition(batches) -> "pd.DataFrame":
    """Phase-1 kernel: a whole shuffle partition of postings, sorted by
    (term_id, range_bucket, salt, doc_id) -> one compressed run per
    (term_id, range_bucket, salt) group. All-numeric input: the Arrow
    crossing is zero-copy into NumPy."""
    parts = [p for p in batches]
    if not parts:
        return
    pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
    tids = pdf["term_id"].to_numpy()
    rbs = pdf["range_bucket"].to_numpy()
    salts = pdf["salt"].to_numpy()
    docs = pdf["doc_id"].to_numpy().astype(np.uint64)
    tfs = pdf["tf"].to_numpy().astype(np.uint64)
    dls = pdf["dl"].to_numpy().astype(np.uint64)
    out = {k: [] for k in (
        "term_id", "range_bucket", "salt", "n_docs", "first_doc",
    )}
    d_slices, t_slices, l_slices = [], [], []
    for s, e in _group_slices(tids, rbs, salts):
        d = docs[s:e]  # already doc_id-sorted within the group
        out["term_id"].append(tids[s])
        out["range_bucket"].append(rbs[s])
        out["salt"].append(salts[s])
        out["n_docs"].append(e - s)
        out["first_doc"].append(np.int64(d[0]))
        d_slices.append(d)
        t_slices.append(tfs[s:e])
        l_slices.append(dls[s:e])
    # batched run encode (per-group encode calls were the kernel's
    # fixed-cost bound on partitions with many small groups)
    out["doc_bytes"] = encode_doc_gaps_many(d_slices)
    out["tf_bytes"] = pfor_encode_many(t_slices)
    out["dl_bytes"] = pfor_encode_many(l_slices)
    res = pd.DataFrame(out)[[
        "term_id", "range_bucket", "salt", "n_docs", "first_doc",
        "doc_bytes", "tf_bytes", "dl_bytes",
    ]]
    res["salt"] = res["salt"].astype(np.int32)
    res["n_docs"] = res["n_docs"].astype(np.int32)
    yield res


def _merge_runs_partition_factory(avgdl: float, epoch: int, cfg: IndexConfig):
    """Phase-2 kernel: a whole shuffle partition of runs, sorted by
    (term_id, range_bucket) -> final fixed-size blocks with per-block
    max-score statistics (E7c/d/e). Input rows are compressed runs
    (<= S per group), never raw postings."""
    bs = cfg.block_size

    def merge_partition(batches):
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        tids = pdf["term_id"].to_numpy()
        rbs = pdf["range_bucket"].to_numpy()
        # ALL runs of the partition are decoded in ONE batched pass
        # (per-group decode calls were fixed cost on group-heavy
        # partitions); rows are group-sorted, so each group's postings
        # are contiguous.
        docs, run_lens = decode_doc_ids_many(
            pdf["first_doc"].to_numpy(dtype=np.uint64),
            list(pdf["doc_bytes"]),
            pdf["n_docs"].to_numpy(dtype=np.int64),
        )
        tfs, _ = pfor_decode_many(list(pdf["tf_bytes"]))
        dls, _ = pfor_decode_many(list(pdf["dl_bytes"]))
        starts = _run_starts(tids, rbs)
        gid = np.repeat(np.arange(len(starts)), np.add.reduceat(run_lens, starts))
        order = np.lexsort((docs, gid))  # docs unique within a group across salts
        blocks = reblock(gid[order], docs[order], tfs[order], dls[order], avgdl, bs)
        rows = starts[blocks.pop("group")]
        # column order must match _BLOCKS_SCHEMA (position-matched)
        yield pd.DataFrame({
            "term_id": tids[rows], "range_bucket": rbs[rows], **blocks,
            "epoch": np.int64(epoch),
        })

    return merge_partition


def build_segments(
    postings: DataFrame,
    terms_dim: DataFrame,
    avgdl: float,
    epoch: int,
    cfg: IndexConfig = DEFAULT,
) -> DataFrame:
    """(term_id, doc_id, tf, dl) + terms_dim -> segments DataFrame (lazy).

    The two mandated shuffles — (term, salt) then (term) — run on the
    NUMERIC term_id; the term string and its partition bucket are joined
    back at BLOCK granularity (blocks ≈ postings/128, and the join is
    JVM-side; AQE broadcasts terms_dim when it is small)."""
    salted = postings.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(cfg.n_salts)).cast("int")
    ).withColumn("range_bucket", F.shiftright("doc_id", cfg.range_bits).cast("long"))
    runs = (
        salted.repartition("term_id", "range_bucket", "salt")
        .sortWithinPartitions("term_id", "range_bucket", "salt", "doc_id")
        .mapInPandas(_encode_runs_partition, _RUNS_SCHEMA)
    )
    blocks = (
        runs.repartition("term_id", "range_bucket")
        .sortWithinPartitions("term_id", "range_bucket")
        .mapInPandas(_merge_runs_partition_factory(avgdl, epoch, cfg), _BLOCKS_SCHEMA)
    )
    return blocks.join(terms_dim, "term_id").select(
        *[f.name for f in schemas.SEGMENTS.fields]
    )


# --- the full build ----------------------------------------------------------


@dataclass
class BuildResult:
    paths: IndexPaths
    n_docs: int
    avgdl: float
    wall_sec: float
    docs_per_sec: float


def build_index(
    corpus: DataFrame,
    index_root: str,
    epoch: int = 0,
    cfg: IndexConfig = DEFAULT,
    prior_index: str | None = None,
) -> BuildResult:
    """Build a full index epoch from a corpus DataFrame (doc_id, text).

    Writes segments/dictionary/doclen/corpus_stats (+ lineage metrics)
    under ``index_root`` via the Iceberg-or-Parquet shim.

    ``prior_index`` (an earlier generation's root) feeds its committed
    metrics into ``derive_n_salts`` — the incremental-epoch contract
    (SURVEY §7.4); without it S derives from the worst-case range
    occupancy of THIS corpus, never below ``cfg.n_salts``."""
    spark = corpus.sparkSession
    paths = IndexPaths(index_root)
    t0 = time.monotonic()

    # ONE pass over the corpus: extract/tokenize UDFs run once, the
    # reduced triples are the materialization point. Term strings are
    # swapped for dense numeric term_ids BEFORE the salted shuffles so
    # the Arrow crossings move only fixed-width columns (term_dimension
    # docstring has the measurement).
    postings_raw = term_frequencies(tokenize_corpus(corpus, cfg)).persist()
    terms_dim = term_dimension(postings_raw, cfg).persist()
    postings = (
        postings_raw.join(terms_dim.select("term", "term_id"), "term")
        .select("term_id", "doc_id", "tf", "dl")
        .persist()
    )
    # E4/E8: doc lengths + corpus stats. Derived from the RAW triples
    # (pre term-id join): explode_outer keeps a NULL-term sentinel row
    # per empty doc, so docs whose text tokenizes to nothing still get
    # a doclen row (dl=0) — the merge's tombstone derivation depends on
    # every crawled doc being present here. This collect materializes
    # the persisted triples; the numeric postings reuse that cache.
    # doclen is persisted (tiny: 12 B/doc) because the raw triples are
    # freed before the finalize writes — without the cache the doclen
    # write would re-tokenize the whole corpus.
    doclen = (
        postings_raw.groupBy("doc_id")
        .agg(F.max("dl").cast("int").alias("dl"))
        .persist()
    )
    stats_row = doclen.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs = int(stats_row["n_docs"])
    # avg over zero docs is NULL; an empty corpus runs the same stages
    # over zero rows and commits a well-formed empty index.
    avgdl = float(stats_row["avgdl"] or 0.0)
    # Materialize the numeric postings and terms_dim FROM the cached raw
    # triples BEFORE freeing them: the doclen collect materialized only
    # postings_raw itself, and `postings` (lazy persist) is otherwise
    # first computed by the segments write — after this unpersist, which
    # would re-run the Arrow extract/tokenize over the whole corpus and
    # break the module's one-corpus-pass contract.
    terms_dim.count()
    postings.count()
    postings_raw.unpersist()

    # E7: salted two-phase assembly -> compressed blocks, written
    # partitioned by term_bucket (query-time partition pruning, Q3).
    # S is derived per epoch (metrics-driven; cfg.n_salts is the floor)
    # — salt count is transient build geometry, not index geometry, so
    # epochs with different S merge fine.
    n_salts = derive_n_salts(n_docs, cfg, spark, prior_index)
    cfg_run = cfg if n_salts == cfg.n_salts else replace(cfg, n_salts=n_salts)
    segments = build_segments(postings, terms_dim, avgdl, epoch, cfg_run)
    write_table(segments, paths.segments, partition_by=["term_bucket"])

    # E6/E10/E13: dictionary, doclen, lineage (with the driver-measured
    # wall clock through the segment commit), then corpus_stats.
    wall_ms = int((time.monotonic() - t0) * 1000)
    seg = read_engine_table(spark, paths.segments, schemas.SEGMENTS)
    commit_index(
        spark,
        paths,
        doclen,
        (n_docs, avgdl, epoch, cfg.analysis_version,
         cfg.n_term_buckets, cfg.range_bits),
        lineage=segment_lineage(seg, epoch, "build", wall_ms),
    )
    postings.unpersist()
    terms_dim.unpersist()
    doclen.unpersist()
    wall = time.monotonic() - t0

    return BuildResult(
        paths=paths,
        n_docs=n_docs,
        avgdl=avgdl,
        wall_sec=wall,
        docs_per_sec=n_docs / wall if wall > 0 else float("inf"),
    )


def build_index_from_documents(
    spark: SparkSession, sf_dir: str, index_root: str, cfg: IndexConfig = DEFAULT
) -> BuildResult:
    """Convenience: build from the driver testdata ``documents`` table
    (native dense doc_ids — the oracle compares on these directly)."""
    from ..sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return build_index(docs, index_root, cfg=cfg)


def build_index_from_pages(
    pages: DataFrame,
    index_root: str,
    epoch: int = 0,
    langs: Iterable[str] | None = None,
    cfg: IndexConfig = DEFAULT,
    prior_docmap: str | None = None,
) -> BuildResult:
    """Full north-rule path: pages(url, warc_ts, html, lang) -> index.

    filter -> dedup -> byte-identical extraction -> dense docIDs (docmap
    persisted for doc_id <-> url resolution) -> shared build.

    ``prior_docmap`` (path to an earlier generation's docmap table)
    makes the build INCREMENTAL — the crawl→re-crawl→merge flow: urls
    already mapped keep their doc_id (left join against the prior map,
    broadcast/shuffled by Catalyst as size dictates), and only NEW urls
    get fresh dense ids, offset past the prior max so ids stay dense
    across generations. The written docmap is the full updated map
    (this crawl's rows + carried-forward rows for urls not re-crawled),
    so generations chain. This is what makes the merge's latest-epoch-
    wins semantics (operators/merge.py) reachable from pages: a
    re-crawled url shadows its old postings because it carries the SAME
    doc_id into the new epoch."""
    spark = pages.sparkSession
    # Persist the prepared corpus: THREE separate actions consume it
    # (the dense-id pre-count collect, the docmap write, and the index
    # build's postings materialization — plus the prior-docmap join on
    # the incremental path). Without the cache each action re-runs the
    # pages scan, the latest-per-url window shuffle, and the extraction
    # UDF — the most expensive upstream stages, ~3x at 100 TB.
    prepared = prepare_pages(pages, langs=langs, cfg=cfg).persist()
    paths = IndexPaths(index_root)

    if prior_docmap is None:
        corpus, n_id_buckets = assign_dense_ids(prepared, "url", "doc_id")
        base_offset = 0
        docmap = corpus.select("doc_id", "url", "warc_ts")
    else:
        prior = read_engine_table(spark, prior_docmap, schemas.DOCMAP)
        prior_ids = prior.select("url", F.col("doc_id").alias("_prior_id"))
        joined = prepared.join(prior_ids, "url", "left")
        known = (
            joined.filter(F.col("_prior_id").isNotNull())
            .withColumn("doc_id", F.col("_prior_id"))
            .drop("_prior_id")
        )
        fresh = joined.filter(F.col("_prior_id").isNull()).drop("_prior_id")
        prior_max = prior.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
        # Explicit None check — `or -1` was a falsy-ZERO bug: a
        # single-doc prior (max doc_id 0) read as "no prior rows",
        # base_offset became 0, and the first fresh url collided with
        # the carried doc_id 0 (latest-epoch-wins would then conflate
        # two different urls' postings).
        base_offset = (int(prior_max) if prior_max is not None else -1) + 1
        fresh_ids, n_id_buckets = assign_dense_ids(fresh, "url", "doc_id")
        fresh_ids = fresh_ids.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(base_offset)).cast("long")
        )
        corpus = known.unionByName(fresh_ids.select(*known.columns))
        crawl_map = corpus.select("doc_id", "url", "warc_ts")
        carried = prior.join(crawl_map.select("url"), "url", "left_anti").select(
            "doc_id", "url", "warc_ts"
        )
        docmap = crawl_map.unionByName(carried)

    # The id-assigned corpus feeds both the docmap write and the index
    # build; cache it so the id-assignment shuffle also runs once.
    corpus = corpus.persist()
    write_table(docmap, paths.docmap)
    write_table(
        spark.createDataFrame(
            [(int(epoch), int(n_id_buckets), int(base_offset))],
            "epoch long, id_buckets int, base_offset long",
        ),
        paths.docmap_meta,
    )
    try:
        # A prior docmap implies a prior GENERATION: its committed
        # metrics also drive this epoch's salt count (derive_n_salts).
        prior_index = (
            os.path.dirname(prior_docmap.rstrip("/")) if prior_docmap else None
        )
        return build_index(
            corpus.select("doc_id", "text"), index_root, epoch, cfg,
            prior_index=prior_index,
        )
    finally:
        corpus.unpersist()
        prepared.unpersist()
