"""E14 — checkpoint-resumable, range-partitioned segment merge.

Merges several index epochs (each built by ``operators.build``) into one
compacted generation. North-rule clauses covered (BASELINE.json:14):
"checkpoint-resumable merge passes", "range-partitioned segment merge",
"per-partition lineage + metrics".

Execution model
---------------
Work is partitioned by ``term_bucket`` — the segments table's partition
column — and processed in ``cfg.merge_waves`` driver-side waves. Each
wave is one Spark job:

  union(input segments for the wave's buckets)
    -> repartition(term, range_bucket)
       .sortWithinPartitions(term, range_bucket)
       .mapInPandas(merge kernel)
    -> dynamic-partition-overwrite of exactly those term_buckets
    -> append one manifest row per bucket to lineage_metrics
       (stage='merge', status='done')

The manifest append happens strictly AFTER the wave's data commit, so a
crash at any point loses at most one wave; on rerun, buckets whose
manifest row exists are skipped (driver-side anti-join — the bucket list
is tiny) and the interrupted wave's partial partitions are idempotently
overwritten. Finalization is the build's own commit routine,
``build.commit_index``: dictionary derived from the committed merged
segments, doclen, then corpus_stats strictly last — pure overwrites,
safe to repeat. Every input and output table is read with its declared
schema (schemas.py), so all-empty inputs merge through the same path.

Merge semantics
---------------
The kernel has the build's phase-2 shape: one Arrow stream per sorted
shuffle partition (many (term, range_bucket) groups), every block of
the partition decoded in one batched pass, and the blocks written by
the same ``build.reblock`` routine as the build — so a merged
generation and a full build of the same corpus store the same blocks
(block-max bounds agree to the last bits of the two avgdl sums).
Posting lists are re-blocked per (term, range_bucket) with duplicate
doc_ids resolved LATEST-EPOCH-WINS (a re-crawled url keeps its doc_id
via the docmap, so the new epoch's postings shadow the old). Block-max
statistics are recomputed against the merged corpus' avgdl — they depend
on it, which is why the merged avgdl is computed BEFORE the first wave
from the inputs' doclen tables (same latest-epoch-wins rule).

Per-(term, doc) shadowing alone is NOT enough: a re-crawled doc whose
new text DROPPED a term has no new posting to shadow the old one, so
the stale posting would keep matching searches. The merge therefore
writes TOMBSTONES first — (epoch, range_bucket, doc_id) rows for every
doc superseded by a newer epoch, exactly Iceberg v2's positional-delete
-file idea — and the kernel drops tombstoned docs from every input
block of that epoch before re-blocking. Tombstone volume is bounded by
re-crawl churn (not corpus size); workers load them once per merge via
a per-process cache, and at 10^12 docs the table is written partitioned
by range_bucket so a worker reads only its ranges' delete files.

Scale notes: the kernel's input rows are already-compressed blocks
(~1-2 bytes/posting over the wire); a group is one term within one
2^range_bits doc range, so group size is bounded regardless of how hot
the term is, and a worker buffers one shuffle partition (sized by
spark.sql.shuffle.partitions like any sort-based stage); waves bound
the blast radius of a failure and give the manifest its checkpoint
granularity. At 10^12 docs: thousands of term buckets, waves sized so
one wave ~ one cluster-full of tasks.

Catalog sessions are refused: the merge's checkpoint semantics hang on
raw parquet dynamic partition overwrite, while a catalog-configured
build writes Iceberg tables that the merge would never read or replace.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from .. import schemas
from ..config import DEFAULT, IndexConfig
from ..functions.codec import decode_doc_ids_many, pfor_decode_many
from ..sources.tables import _iceberg_catalog, read_engine_table
from .build import (
    IndexPaths,
    _run_starts,
    commit_index,
    index_geometry,
    reblock,
    segment_lineage,
)


class MergeInterrupted(RuntimeError):
    """Raised by fault injection in tests (fail_after_waves)."""


@dataclass
class MergeResult:
    paths: IndexPaths
    n_docs: int
    avgdl: float
    epoch: int
    buckets_merged: int
    buckets_skipped: int
    wall_sec: float


# Per-Python-worker tombstone cache: loaded lazily PER RANGE BUCKET —
# the table is written partitioned by range_bucket, so a worker reads
# only the delete files of the ranges its groups actually touch (the
# scale contract in the module docstring). Keyed by (path, fingerprint)
# so a rerun with different content at the same path never serves stale
# deletes; the value maps range_bucket -> {epoch -> sorted doc_id array}.
_TOMB_CACHE: dict[tuple, dict[int, dict[int, np.ndarray]]] = {}


def _load_tombstones(path: str, fingerprint: tuple, range_bucket: int) -> dict:
    """Deletes for ONE range bucket: {epoch -> sorted doc_id ndarray}.

    fingerprint = (total_rows, content_hash) of the whole table. A
    missing partition directory is the expected no-deletes-in-range case
    ONLY while the table as a whole is readable — an unreadable table
    with fingerprint rows > 0 is a hard error (silently keeping
    superseded postings would be a correctness bug, not a degradation).
    """
    key = (path, fingerprint)
    per_merge = _TOMB_CACHE.get(key)
    if per_merge is None:
        _TOMB_CACHE.clear()  # only one merge's tombstones stay resident
        per_merge = _TOMB_CACHE.setdefault(key, {})
    hit = per_merge.get(range_bucket)
    if hit is None:
        hit = {}
        if fingerprint and fingerprint[0] > 0:
            import os as _os

            import pyarrow.parquet as pq

            part = _os.path.join(path, f"range_bucket={range_bucket}")
            try:
                t = pq.read_table(part, columns=["epoch", "doc_id"]).to_pandas()
            except FileNotFoundError:
                if not _os.path.isdir(path):
                    # Table root itself is gone while the manifest says
                    # rows exist -> fail loudly, do not drop deletes.
                    raise
                t = None  # this range simply has no deletes
            if t is not None and len(t):
                for ep, g in t.groupby("epoch"):
                    hit[int(ep)] = np.sort(g["doc_id"].to_numpy().astype(np.int64))
        per_merge[range_bucket] = hit
    return hit


def _merge_blocks_factory(
    avgdl: float, epoch_out: int, cfg: IndexConfig,
    tombstone_path: str | None = None, tombstone_fp: tuple = (),
):
    """Kernel: a whole shuffle partition of input blocks, sorted by
    (term, range_bucket) -> merged, re-blocked, re-bounded segment rows.
    Tombstoned (superseded-epoch) docs are dropped at decode;
    latest-epoch-wins dedup then handles docs present in several
    epochs' postings of the SAME term."""
    bs = cfg.block_size

    def merge_partition(batches):
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        terms = pdf["term"].to_numpy()
        rbs = pdf["range_bucket"].to_numpy()
        # ONE batched decode of every input block of the partition (a hot
        # term spans thousands of blocks at corpus scale; per-block calls
        # were the kernel bound — same fix as the query kernel).
        docs, dlens = decode_doc_ids_many(
            pdf["first_doc"].to_numpy(dtype=np.uint64),
            list(pdf["doc_bytes"]),
            pdf["n_docs"].to_numpy(dtype=np.int64),
        )
        docs = docs.astype(np.int64)
        tfs, _ = pfor_decode_many(list(pdf["tf_bytes"]))
        dls, _ = pfor_decode_many(list(pdf["dl_bytes"]))
        starts = _run_starts(terms, rbs)
        gid = np.repeat(np.arange(len(starts)), np.add.reduceat(dlens, starts))
        eps = np.repeat(pdf["epoch"].to_numpy(dtype=np.int64), dlens)
        if tombstone_path:
            # A doc's tombstone lives in its own range_bucket's delete
            # file, so one membership test per epoch against the union of
            # the partition's ranges is exact.
            dead: dict[int, list[np.ndarray]] = {}
            for rb in np.unique(rbs).tolist():
                for ep, d in _load_tombstones(tombstone_path, tombstone_fp, rb).items():
                    dead.setdefault(ep, []).append(d)
            keep = np.ones(len(docs), dtype=bool)
            for ep, chunks in dead.items():
                sel = eps == ep
                keep[sel] = ~np.isin(docs[sel], np.concatenate(chunks))
            gid, docs, tfs, dls, eps = (
                gid[keep], docs[keep], tfs[keep], dls[keep], eps[keep]
            )
        if not len(docs):
            return
        # Sort by (group, doc_id, epoch); keep the LAST (highest-epoch)
        # posting of each (group, doc_id).
        order = np.lexsort((eps, docs, gid))
        gid, docs, tfs, dls = gid[order], docs[order], tfs[order], dls[order]
        last = np.append((gid[1:] != gid[:-1]) | (docs[1:] != docs[:-1]), True)
        blocks = reblock(gid[last], docs[last], tfs[last], dls[last], avgdl, bs)
        rows = starts[blocks.pop("group")]
        # term_bucket is the STORED bucket, never recomputed: recomputing
        # with the merge process' cfg would silently route output into
        # the wrong partitions if it disagrees with the build geometry.
        yield pd.DataFrame({
            "term": terms[rows],
            "term_bucket": pdf["term_bucket"].to_numpy()[rows],
            "range_bucket": rbs[rows],
            **blocks,
            "epoch": np.int64(epoch_out),
        })

    return merge_partition


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem of the path's own
    scheme (local, hdfs, s3a, ...) — ``os.path`` would answer False for
    any non-local out_root and silently skip the purge that depends on
    this."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _read_done_buckets(spark: SparkSession, paths: IndexPaths, epoch: int) -> set[int]:
    try:
        rows = (
            read_engine_table(spark, paths.lineage, schemas.LINEAGE_METRICS)
            .filter(
                (F.col("stage") == "merge")
                & (F.col("status") == "done")
                & (F.col("epoch") == epoch)
            )
            .select("partition_id")
            .distinct()
            .collect()
        )
    except AnalysisException:  # no manifest yet -> nothing done
        return set()
    # Any other failure (storage/permission/corruption) must propagate:
    # silently returning set() would re-merge an entire committed index.
    return {int(r["partition_id"]) for r in rows}


def _doclen_and_tombstones(
    spark: SparkSession,
    inputs: list[IndexPaths],
    epochs: list[int],
    range_bits: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(merged doclen, tombstones, ranked-handle). ``epochs`` is passed
    in by the caller (merge_indexes already collected every input's
    corpus_stats for the geometry/version checks — re-reading them here
    cost N extra read+collect jobs per merge). One ranking window
    over the unioned doclens yields both: rank 1 per doc_id is the
    surviving (latest) epoch; every other (doc_id, epoch) row is a
    superseded crawl whose postings must be dropped wholesale —
    including terms the new text no longer contains.

    ``ranked`` is returned PERSISTED (caller unpersists when done):
    four downstream actions consume its children — the n_docs/avgdl
    collect, the tombstone fingerprint agg, the tombstone write, and
    the finalize doclen write — and without the cache each one re-reads
    every input doclen table and re-runs the partitionBy(doc_id) window
    shuffle (~4x a multi-TB shuffle at the 10^12-doc design point)."""
    parts = []
    for p, ep in zip(inputs, epochs):
        parts.append(
            read_engine_table(spark, p.doclen, schemas.DOCLEN).withColumn(
                "epoch", F.lit(ep).cast("long")
            )
        )
    union = parts[0]
    for d in parts[1:]:
        union = union.unionByName(d)
    w = Window.partitionBy("doc_id").orderBy(F.col("epoch").desc())
    ranked = union.withColumn("_rn", F.row_number().over(w)).persist()
    doclen = ranked.filter(F.col("_rn") == 1).select("doc_id", "dl")
    tombstones = ranked.filter(F.col("_rn") > 1).select(
        "epoch",
        F.shiftright("doc_id", range_bits).cast("long").alias("range_bucket"),
        "doc_id",
    )
    return doclen, tombstones, ranked


def merge_indexes(
    spark: SparkSession,
    input_roots: list[str],
    out_root: str,
    cfg: IndexConfig = DEFAULT,
    resume: bool = True,
    fail_after_waves: int | None = None,
) -> MergeResult:
    """Merge N built indexes into a compacted generation at ``out_root``.

    ``resume=True`` skips term buckets whose manifest row already exists
    (the checkpoint-resume contract); ``fail_after_waves`` injects a
    crash after that many committed waves (tests only). Refused on a
    session with an Iceberg catalog configured: see the module
    docstring."""
    if _iceberg_catalog(spark) is not None:
        raise ValueError(
            "merge_indexes reads and writes raw parquet and cannot merge "
            "indexes a catalog-configured session wrote as Iceberg tables; "
            "run the merge on a session without an Iceberg catalog"
        )
    t0 = time.monotonic()
    inputs = [IndexPaths(r) for r in input_roots]
    out = IndexPaths(out_root)

    # Refuse to merge indexes built with different frozen analyzers.
    stats = [
        read_engine_table(spark, p.corpus_stats, schemas.CORPUS_STATS).collect()[0]
        for p in inputs
    ]
    versions = {s["analysis_version"] for s in stats}
    if len(versions) != 1:
        raise ValueError(f"mixed analysis versions: {sorted(versions)}")
    # Latest-epoch-wins is only well-defined when epochs are distinct:
    # a same-epoch tie would tombstone one input's copy as (epoch, doc_id)
    # and the kernel would then drop that doc from BOTH inputs' blocks.
    epochs = [int(s["epoch"]) for s in stats]
    if len(set(epochs)) != len(epochs):
        raise ValueError(
            f"merge inputs must have distinct epochs, got {sorted(epochs)}"
        )
    epoch_out = max(epochs)
    # Geometry comes FROM the inputs, never from this process' cfg: a
    # term-bucket mismatch would make waves overwrite partitions other
    # waves committed; a range_bits mismatch would make every tombstone
    # lookup miss. Mixed-geometry inputs need a rebuild, not a merge.
    geoms = {index_geometry(s) for s in stats}
    if len(geoms) != 1:
        raise ValueError(f"merge inputs have mixed index geometry: {sorted(geoms)}")
    (n_term_buckets, range_bits), = geoms

    # Resume is only meaningful against the SAME input set: the manifest
    # keys buckets by (stage, epoch, bucket), so a rerun with different
    # inputs would silently skip everything while finalize stats reflect
    # the new inputs. A small marker pins the inputs this out_root's
    # manifest belongs to.
    # (epoch, n_docs, avgdl) alone is NOT enough: an input rebuilt in
    # place whose per-doc token counts happen to be unchanged (word-swap
    # edits, regenerated same-shape fixtures) preserves all three, and a
    # trusted marker would then skip every bucket and finalize over the
    # OLD committed segments. Each input's corpus_stats file listing +
    # mtimes (query._index_signature — every build/merge rewrites
    # corpus_stats LAST, so ANY rebuild changes it) is therefore folded
    # in. The STABLE variant is load-bearing: the raw serving-side
    # signature returns a distinct per-call sentinel for unverifiable
    # roots, which can never reproduce across restarts — every resume
    # would see a "different input set" and refuse. For such roots the
    # signature collapses to a constant and the aggregate triple
    # remains the guard.
    from .query import index_signature_stable

    inputs_sig = repr(sorted(
        (int(s["epoch"]), int(s["n_docs"]), float(s["avgdl"]),
         index_signature_stable(p.root))
        for s, p in zip(stats, inputs)
    ))
    marker_path = f"{out.root}/merge_inputs"
    marker_trusted = False
    if resume:
        prev = None
        for attempt in (0, 1):
            try:
                # A crash can leave a readable-but-EMPTY marker directory
                # (the parquet files committed, the rows not): zero rows
                # is "no marker", not an IndexError. Deliberately broad
                # except, same rationale as build._prior_hot_group_df: a
                # TRUNCATED marker part-file (killed writer) surfaces as
                # Py4JJavaError at collect(), not AnalysisException — and
                # a marker whose own write never committed proves nothing
                # about the manifest, so it degrades to "no marker"
                # rather than bricking the resume path it exists to
                # protect. One retry first: a transient storage blip
                # raises the same exception class as a torn file, and a
                # false "torn" verdict costs a full (correct, purged)
                # re-merge of a possibly-committed index.
                rows = read_engine_table(
                    spark, marker_path, schemas.MERGE_INPUTS
                ).collect()
                prev = rows[0]["inputs_sig"] if rows else None
                break
            except AnalysisException:
                break  # no marker directory at all
            except Exception:
                if attempt == 0:
                    time.sleep(0.2)
        if prev is not None and prev != inputs_sig:
            raise ValueError(
                "resume=True but this out_root was merged from a different "
                "input set; merge into a fresh root or pass resume=False"
            )
        # The done-bucket manifest is only trusted when an INTACT marker
        # vouches that it was written for THIS input set.
        marker_trusted = prev == inputs_sig
    if not marker_trusted:
        # Nothing this root holds is vouched for (torn/absent marker, or
        # resume=False reusing a dirty root). Re-merging the new input
        # set's buckets is NOT enough: its waves dynamic-overwrite only
        # the term_buckets the new inputs contain, so segments a
        # DIFFERENT input set committed for other buckets would survive
        # on disk — and finalize derives the dictionary from ALL
        # committed segments, silently serving ghost postings from the
        # foreign corpus. The stale manifest would likewise keep its old
        # rows next to the re-merge's appends, double-counting every
        # lineage consumer. Purge both with empty static overwrites
        # BEFORE the new marker is written: a crash mid-purge leaves the
        # marker torn/absent, so the next attempt purges again; once the
        # marker commits, the root holds only this input set's state and
        # the manifest can be trusted by the next resume.
        #
        # Purge ORDER is load-bearing: lineage (the done manifest) MUST
        # go before segments. A root can still hold a PREVIOUS input
        # set's intact marker while this purge runs (the new marker is
        # only written below) — if segments were purged first and the
        # process died before the lineage purge, a later resume of that
        # previous input set would find its marker intact, trust the
        # surviving all-done manifest, run zero waves, and finalize a
        # silently EMPTY index. Lineage-first closes the window: any
        # crash leaves either the old state untouched or a manifest
        # with no done buckets, so that resume re-merges everything
        # (waves are dynamic-partition-overwrite idempotent).
        #
        # Skipped on a genuinely FRESH root (neither table exists):
        # every first merge would otherwise pay two Spark write jobs
        # that delete nothing. Existence goes through the Hadoop FS of
        # the path's own scheme, not os.path — out_root need not be
        # local on a real cluster.
        if _fs_exists(spark, out.lineage) or _fs_exists(spark, out.segments):
            spark.createDataFrame([], schemas.LINEAGE_METRICS).write.mode(
                "overwrite"
            ).parquet(out.lineage)
            spark.createDataFrame([], schemas.SEGMENTS).write.mode(
                "overwrite"
            ).option("partitionOverwriteMode", "static").partitionBy(
                "term_bucket"
            ).parquet(out.segments)
    spark.createDataFrame(
        [(inputs_sig,)], "inputs_sig string"
    ).write.mode("overwrite").parquet(marker_path)

    # Merged corpus stats FIRST — block-max bounds depend on avgdl.
    doclen, tombstones, ranked = _doclen_and_tombstones(
        spark, inputs, epochs, range_bits
    )
    row = doclen.agg(F.count("*").alias("n"), F.avg("dl").alias("a")).collect()[0]
    # avg over zero rows is NULL: merging all-empty inputs (zero-doc
    # epochs are a build-supported shape) must produce a well-formed
    # empty generation, not a TypeError.
    n_docs = int(row["n"])
    avgdl = float(row["a"]) if row["a"] is not None else 0.0

    # Tombstones committed BEFORE any wave (idempotent overwrite, so a
    # crash-resume rewrites the identical content), PARTITIONED BY
    # range_bucket so each kernel worker reads only the delete files of
    # the ranges it merges (see _load_tombstones). The fingerprint is
    # computed from the deterministic source DataFrame — identical to
    # the written content — and rides into the kernel closure to key the
    # per-worker cache.
    # Hash accumulation in DECIMAL(38,0): a plain long sum of random
    # 64-bit hashes overflows (and ANSI mode then fails the job) once
    # there are more than a handful of tombstones; the decimal sum holds
    # ~10^19 rows and the mod keeps the fingerprint in long range.
    fp_row = tombstones.agg(
        F.count("*").alias("n"),
        F.coalesce(
            (
                F.sum(
                    F.xxhash64("epoch", "range_bucket", "doc_id").cast(
                        "decimal(38,0)"
                    )
                )
                % F.lit(1 << 62)
            ).cast("long"),
            F.lit(0),
        ).alias("h"),
    ).collect()[0]
    tombstone_fp = (int(fp_row["n"]), int(fp_row["h"]))
    # STATIC overwrite, pinned: tombstones are a pure function of THIS
    # input set, so the write must replace the whole table. Under the
    # session-global dynamic mode, only range_buckets present in the new
    # set would be rewritten — a previous input set's delete files in
    # other buckets would survive (dense doc_ids make stale matches the
    # norm, silently dropping live docs), re-opening on the tombstones
    # table exactly the ghost-state hole the purge above closes for
    # segments and lineage.
    tombstones.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("range_bucket").parquet(out.tombstones)

    seg_inputs = [
        read_engine_table(spark, p.segments, schemas.SEGMENTS) for p in inputs
    ]
    all_buckets = sorted({
        int(r["term_bucket"])
        for df in seg_inputs
        for r in df.select("term_bucket").distinct().collect()
    })
    done = _read_done_buckets(spark, out, epoch_out) if marker_trusted else set()
    pending = [b for b in all_buckets if b not in done]

    n_waves = max(1, min(cfg.merge_waves, len(pending)))
    waves = [pending[i::n_waves] for i in range(n_waves)] if pending else []
    kernel = _merge_blocks_factory(
        avgdl, epoch_out, cfg, out.tombstones, tombstone_fp
    )

    for wi, wave in enumerate(waves):
        tw = time.monotonic()
        union = seg_inputs[0].filter(F.col("term_bucket").isin(wave))
        for df in seg_inputs[1:]:
            union = union.unionByName(df.filter(F.col("term_bucket").isin(wave)))
        merged = (
            union.repartition("term", "range_bucket")
            .sortWithinPartitions("term", "range_bucket")
            .mapInPandas(kernel, schemas.SEGMENTS)
        )
        # Dynamic partition overwrite: ONLY this wave's term_buckets are
        # replaced (idempotent on rerun after a crash mid-wave).
        merged.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("term_bucket").parquet(out.segments)

        wall_ms = int((time.monotonic() - tw) * 1000)
        wave_seg = read_engine_table(spark, out.segments, schemas.SEGMENTS).filter(
            F.col("term_bucket").isin(wave)
        )
        manifest = segment_lineage(wave_seg, epoch_out, "merge", wall_ms)
        # Manifest row for a bucket with zero output blocks (possible if
        # no input had the bucket): emit an explicit empty-done row so
        # resume still skips it.
        present = {int(r["term_bucket"]) for r in wave_seg.select("term_bucket").distinct().collect()}
        missing = [b for b in wave if b not in present]
        if missing:
            empty_rows = spark.createDataFrame(
                [(epoch_out, "merge", b, 0, 0, 0, wall_ms, "done") for b in missing],
                schemas.LINEAGE_METRICS,
            )
            manifest = manifest.unionByName(empty_rows)
        manifest.write.mode("append").parquet(out.lineage)

        if fail_after_waves is not None and wi + 1 >= fail_after_waves:
            # Release the ranked-doclen cache on the injected-crash path
            # too: crash-resume tests re-run merge_indexes in ONE
            # process, and each run persists a fresh `ranked` (a real
            # crash kills the executor storage with the process).
            ranked.unpersist()
            raise MergeInterrupted(f"injected failure after wave {wi + 1}")

    # All inputs segment-less (every doc deleted / zero-doc epochs): no
    # wave ran, so on a fresh root the segments table does not exist yet.
    if not _fs_exists(spark, out.segments):
        spark.createDataFrame([], schemas.SEGMENTS).write.partitionBy(
            "term_bucket"
        ).parquet(out.segments)
    commit_index(
        spark,
        out,
        doclen,
        (n_docs, avgdl, epoch_out, stats[0]["analysis_version"],
         n_term_buckets, range_bits),
    )
    ranked.unpersist()

    return MergeResult(
        paths=out,
        n_docs=n_docs,
        avgdl=avgdl,
        epoch=epoch_out,
        buckets_merged=len(pending),
        buckets_skipped=len(done),
        wall_sec=time.monotonic() - t0,
    )
