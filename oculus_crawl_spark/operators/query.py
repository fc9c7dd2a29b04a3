"""Query path — ops Q1..Q7 of SURVEY.md §2.B.

  Q1 tokenize query (shared frozen analyzer)
  Q2 dictionary lookup -> (term, df, idf, term_bucket)      [tiny, driver]
  Q3 partition pruning: segments scan touches ONLY the term_buckets of
     query terms (literal IN-list => parquet/Iceberg partition pruning)
     and only the rows of query terms (term IN-list)
  Q4 block-max WAND: per (query_id, range_bucket), an exact top-k
     with per-block max-score skipping over lazily-decompressed posting
     blocks, vectorized in NumPy inside mapInPandas
  Q5 Okapi BM25 k1=1.2 b=0.75 (functions/bm25 — one frozen formula)
  Q6 global top-k merge: each partition cuts its ranges' lists to k rows
     per query, and the coordinator merges the <= partitions*queries*k
     rows it collects as Arrow with one NumPy lexsort
  Q7 rank assignment, pinned tie-break (score DESC, doc_id ASC)

Scale story: the index is document-range partitioned (blocks never cross
a range_bucket), so Q4 runs one independent exact WAND per (query,
range) — 10^12 docs = ~1M ranges fanned out across executors, each
seeing only its range's blocks. A partition holds many ranges, and the
kernel keeps only the k best rows per (partition, query) over all of
them; partitions are capped at the core count, so the final merge is
within a core-count factor of the queries*k result the caller collects
anyway, at any corpus size — a classic document-partitioned search tier
(cut to k inside each partition, then one small global merge).

One kernel shape: every session holds ONE relation, the segments
repartitioned by range_bucket, and every query batch runs
filter(term_bucket IN buckets AND term IN terms) -> mapInPandas(WAND)
-> merge over it. The per-term (query_id, idf) plan rides in the
kernel closure, so no join ever touches the blocks; hash partitioning
puts every block of one range_bucket in one partition, so each
(query, range) WAND in a partition is exact.

* Resident session (``cache_segments=True``, the default): the relation
  is persisted, so its one shuffle is paid at session open and a query
  batch is ONE narrow stage: cached-scan filter -> mapInPandas, then
  the coordinator merge.
  This is how a serving tier works: the shard layout is fixed at load
  time, queries are routed to it.
* Uncached session (one-shot querying, or segments too large to hold
  resident): the filter pushes below the repartition, so a query batch
  is a partition-pruned parquet scan plus ONE exchange of the matching
  blocks before the same kernel.

Exactness of the skipping (BMW soundness argument): for every block b of
term t, UB(b) = idf_t*block_max(b) + sum over other query terms t' of
the max idf_t'*block_max over t' blocks OVERLAPPING b's [first,last]
doc range. Any doc d in b appears, for each of its matching terms, in a
block overlapping b's range (it contains d), so score(d) <= UB(b).
Blocks with UB(b) < theta (theta = current k-th best score) can be
skipped wholesale; candidate docs from surviving blocks are scored
EXACTLY by probing all terms' blocks that contain them (decompressed on
demand). Property-tested BMW == exhaustive in tests/.
"""

from __future__ import annotations

import threading
import weakref

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import schemas
from ..config import DEFAULT, IndexConfig
from ..functions import bm25
from ..functions.analysis import tokenize
from ..functions.codec import decode_doc_ids_many, pfor_decode_many
from ..sources.tables import read_engine_table
from .build import IndexPaths, index_geometry


# --- sparse-table range-max (vectorized overlap bounds) ----------------------


def _sparse_table(values: np.ndarray) -> list[np.ndarray]:
    """st[j][i] = max(values[i : i + 2**j]); O(n log n), fully vectorized."""
    st = [values]
    j = 1
    while (1 << j) <= len(values):
        prev = st[-1]
        half = 1 << (j - 1)
        st.append(np.maximum(prev[: len(prev) - half], prev[half:]))
        j += 1
    return st


def _range_max(st: list[np.ndarray], lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Vectorized max(values[lo:hi]) per query window; 0.0 where lo >= hi."""
    out = np.zeros(len(lo), dtype=np.float64)
    length = hi - lo
    nonempty = length > 0
    if not nonempty.any():
        return out
    j = np.zeros(len(lo), dtype=np.int64)
    j[nonempty] = np.int64(np.floor(np.log2(length[nonempty])))
    for jj in np.unique(j[nonempty]):
        sel = nonempty & (j == jj)
        span = 1 << int(jj)
        tbl = st[int(jj)]
        out[sel] = np.maximum(tbl[lo[sel]], tbl[hi[sel] - span])
    return out


# --- the per-(query, range) exact BMW kernel ---------------------------------


class _TermBlocks:
    """All candidate blocks of one term within the group, sorted by
    first_doc (disjoint doc ranges within a term). Decode is BATCHED:
    a hot term at corpus scale spans thousands of blocks, and the
    ~0.15 ms fixed cost of a per-block decode call was the serving
    tier's scale bound (measured: 'the' over 1.28M docs = 7,681 blocks
    = 1.1 s of pure per-block overhead); pfor_decode_many amortizes it
    to one numpy pass over all needed blocks."""

    __slots__ = (
        "idf", "first", "last", "bmax", "n_docs",
        "doc_bytes", "tf_bytes", "dl_bytes", "_cache", "_concat",
        "decoded_blocks",
    )

    def __init__(self, idf: float, pdf: pd.DataFrame):
        order = np.argsort(pdf["first_doc"].to_numpy(), kind="stable")
        self.idf = idf
        self.first = pdf["first_doc"].to_numpy()[order]
        self.last = pdf["last_doc"].to_numpy()[order]
        self.bmax = idf * pdf["block_max_tf_norm"].to_numpy()[order].astype(np.float64)
        self.n_docs = pdf["n_docs"].to_numpy()[order].astype(np.int64)
        self.doc_bytes = pdf["doc_bytes"].to_numpy()[order]
        self.tf_bytes = pdf["tf_bytes"].to_numpy()[order]
        self.dl_bytes = pdf["dl_bytes"].to_numpy()[order]
        self._cache: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        self._concat: dict[bytes, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        self.decoded_blocks = 0

    def decode_blocks(
        self, idxs: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(docs, tfs, dls) of the given blocks, concatenated in block
        order — ascending doc_ids, since blocks are disjoint ranges
        sorted by first_doc. Missing blocks are decoded in ONE batched
        pass; decoded blocks are cached per block so a multi-query
        batch decodes each hot block once (the kernel reuses one
        _TermBlocks per (range, term) across the query plan)."""
        if len(idxs) == 0:
            e = np.empty(0, dtype=np.uint64)
            return e.astype(np.int64), e, e
        # Concatenated-result cache: identical block sets (the common
        # case — a hot term whose blocks all survive, queried again in
        # the same batch) return the SAME arrays with zero per-block
        # Python work. Falls back to composing from the per-block cache
        # only for genuinely new mixed sets. Keyed on the EXACT index
        # bytes (a 64-bit hash could collide between two different sets
        # sharing len/first/last and silently return wrong postings) and
        # bounded — distinct mixed sets across a long multi-query batch
        # would otherwise grow it without limit.
        key = idxs.astype(np.int64, copy=False).tobytes()
        hit = self._concat.get(key)
        if hit is not None:
            return hit
        while len(self._concat) >= 64:
            # Evict the OLDEST entry only (insertion order); clearing
            # everything on overflow would dump the warm entries the
            # cache exists for, right when a batch is using them.
            self._concat.pop(next(iter(self._concat)))
        cache = self._cache
        miss = (
            idxs
            if not cache
            else np.array(
                [i for i in idxs.tolist() if i not in cache], dtype=np.int64
            )
        )
        if len(miss):
            # int64 throughout the kernel: mixing uint64 with int64 in
            # searchsorted silently upcasts to float64 (lossy past 2^53).
            docs, dl_ = decode_doc_ids_many(
                self.first[miss].astype(np.uint64),
                list(self.doc_bytes[miss]),
                self.n_docs[miss],
            )
            docs = docs.astype(np.int64)
            tfs, _tl = pfor_decode_many(list(self.tf_bytes[miss]))
            dls, _ll = pfor_decode_many(list(self.dl_bytes[miss]))
            self.decoded_blocks += len(miss)
            offs = np.concatenate(([0], np.cumsum(dl_)))
            for j, i in enumerate(miss.tolist()):
                sl = slice(int(offs[j]), int(offs[j + 1]))
                cache[i] = (docs[sl], tfs[sl], dls[sl])
            if len(miss) == len(idxs):
                # The whole request was decoded contiguously: return as-is.
                out = (docs, tfs, dls)
                self._concat[key] = out
                return out
        parts = [cache[i] for i in idxs.tolist()]
        out = (
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
            np.concatenate([p[2] for p in parts]),
        )
        self._concat[key] = out
        return out

    def score_docs(self, cand: np.ndarray, avgdl: float) -> np.ndarray:
        """Exact idf*tf_norm contribution of this term for each candidate
        doc (0 where the doc has no posting). Decodes exactly the blocks
        that can contain a candidate THROUGH the shared block cache
        (decode_blocks) — a multi-query batch that probes the same hot
        blocks decodes them once, and decoded_blocks counts true decode
        work, never re-decodes."""
        out = np.zeros(len(cand), dtype=np.float64)
        if not len(self.first):
            return out
        bidx = np.searchsorted(self.first, cand, side="right") - 1
        valid = (bidx >= 0) & (cand <= self.last[np.maximum(bidx, 0)])
        if not valid.any():
            return out
        need = np.unique(bidx[valid])
        docs, tfs, dls = self.decode_blocks(need)
        cv = cand[valid]
        pos = np.searchsorted(docs, cv)
        pos = np.minimum(pos, len(docs) - 1)
        hit = docs[pos] == cv
        if hit.any():
            tgt = np.flatnonzero(valid)[hit]
            p = pos[hit]
            out[tgt] = self.idf * bm25.tf_norm(tfs[p], dls[p], avgdl)
        return out


def _bmw_topk(
    terms: list[_TermBlocks], k: int, avgdl: float
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k (docs, scores) for one (query, range) group."""

    def exact_scores(cand: np.ndarray) -> np.ndarray:
        s = np.zeros(len(cand), dtype=np.float64)
        for t in terms:
            s += t.score_docs(cand, avgdl)
        return s

    # Seed theta: exactly score the docs of each term's single best block.
    seed_parts = [
        t.decode_blocks(np.array([np.argmax(t.bmax)]))[0]
        for t in terms
        if len(t.first)
    ]
    if not seed_parts:
        return np.empty(0, np.uint64), np.empty(0, np.float64)
    seed = np.unique(np.concatenate(seed_parts))
    seed_scores = exact_scores(seed)
    if len(seed) > k:
        theta = -np.partition(-seed_scores, k - 1)[k - 1]
    else:
        theta = -np.inf

    # Per-block upper bounds: own bmax + overlap-window max of other
    # terms. Surviving blocks are decoded ONCE (batched): their postings
    # are simultaneously the candidate set and the bulk contributions.
    sts = [
        _sparse_table(t.bmax) if len(t.bmax) else None for t in terms
    ]
    surv_idx: list[np.ndarray] = []
    surv_data: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
    for ti, t in enumerate(terms):
        if not len(t.first):
            surv_idx.append(np.empty(0, dtype=np.int64))
            surv_data.append(t.decode_blocks(np.empty(0, dtype=np.int64)))
            continue
        ub = t.bmax.copy()
        for tj, o in enumerate(terms):
            if tj == ti or not len(o.first):
                continue
            lo = np.searchsorted(o.last, t.first, side="left")
            hi = np.searchsorted(o.first, t.last, side="right")
            ub += _range_max(sts[tj], lo, hi)
        keep = ub >= theta - 1e-9  # strict-prune only; float-safe slack
        idxs = np.flatnonzero(keep)
        surv_idx.append(idxs)
        surv_data.append(t.decode_blocks(idxs))

    cand = np.unique(
        np.concatenate([seed] + [d[0] for d in surv_data if len(d[0])])
    )
    # Exact scores: one vectorized += per term for the surviving
    # postings (every surviving doc is in cand, and docs are unique
    # within a term, so plain fancy-index addition is exact), plus a
    # patch-up pass over PRUNED blocks that contain another term's
    # candidates — pruning bounds which blocks can contribute a top-k
    # ENTRY, not which postings exist, so exactness requires these.
    scores = np.zeros(len(cand), dtype=np.float64)
    for t, idxs, (sdocs, stfs, sdls) in zip(terms, surv_idx, surv_data):
        if len(sdocs):
            pos = np.searchsorted(cand, sdocs)
            scores[pos] += t.idf * bm25.tf_norm(stfs, sdls, avgdl)
        if not len(t.first):
            continue
        bidx = np.searchsorted(t.first, cand, side="right") - 1
        valid = (bidx >= 0) & (cand <= t.last[np.maximum(bidx, 0)])
        if not valid.any():
            continue
        need = np.unique(bidx[valid])
        pruned = np.setdiff1d(need, idxs, assume_unique=True)
        if not len(pruned):
            continue
        pdocs, ptfs, pdls = t.decode_blocks(pruned)
        in_pruned = valid & np.isin(bidx, pruned)
        cv = cand[in_pruned]
        ppos = np.searchsorted(pdocs, cv)
        ppos = np.minimum(ppos, len(pdocs) - 1)
        hit = pdocs[ppos] == cv
        if hit.any():
            tgt = np.flatnonzero(in_pruned)[hit]
            scores[tgt] += t.idf * bm25.tf_norm(
                ptfs[ppos[hit]], pdls[ppos[hit]], avgdl
            )
    if len(cand) > k:
        part = np.argpartition(-scores, k - 1)[:k]
        # pinned tie-break: score DESC, doc_id ASC — but argpartition's
        # boundary may split ties arbitrarily, so re-select on the full
        # set when the k-th score ties outside the partition.
        kth = scores[part].min()
        tied = scores >= kth - 0.0
        idx = np.flatnonzero(tied)
        order = np.lexsort((cand[idx], -scores[idx]))
        sel = idx[order][:k]
    else:
        order = np.lexsort((cand, -scores))
        sel = order
    return cand[sel], scores[sel]


# --- the Spark surface --------------------------------------------------------


# The kernel frame. blocks_total/blocks_decoded are additive: each
# (partition, query)'s counters ride on its rank-1 row and are 0 on the
# others, so summing a query's rows gives its totals over all ranges.
_WAND_SCHEMA = (
    "query_id int, doc_id long, score double, "
    "blocks_total long, blocks_decoded long"
)
_RESULT_SCHEMA = "query_id int, rank int, doc_id long, score double"
_COUNTERS = ("blocks_total", "blocks_decoded")


def _top_k_rows(
    qid: np.ndarray, doc: np.ndarray, score: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Indices of each query's k best rows under the pinned tie-break
    (score DESC, doc_id ASC), ordered by (query_id, rank), and their
    ranks. One lexsort; the kernel's per-partition cut and the
    coordinator's global merge both rank through it."""
    order = np.lexsort((doc, -score, qid))
    q = qid[order]
    first = np.ones(len(q), dtype=bool)
    first[1:] = q[1:] != q[:-1]
    starts = np.flatnonzero(first)
    rank = np.arange(1, len(q) + 1) - np.repeat(
        starts, np.diff(np.append(starts, len(q)))
    )
    keep = rank <= k
    return order[keep], rank[keep]


def _wand_partition_factory(plan: list[tuple[int, dict[str, float]]], k: int, avgdl: float):
    """The WAND kernel: one Arrow stream per range-partitioned segment
    partition. ``plan`` = [(query_id, {term: idf})] travels in the
    closure (bytes-tiny), so no join ever touches the blocks. Blocks of
    one range_bucket are guaranteed co-partitioned (the session's
    repartition), so each (query, range) WAND here is exact, and so is
    the partition's top-k per query over all its ranges — the only rows
    it emits."""

    def run(batches):
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        qids, docs, scores = [], [], []
        counters: dict[int, list[int]] = {}
        for rb, grb in pdf.groupby("range_bucket", sort=False):
            term_groups = dict(tuple(grb.groupby("term", sort=True)))
            # One _TermBlocks per (range, term), shared across the whole
            # query plan: a term's idf is query-independent, and sharing
            # keeps the per-block decode cache warm — a 25-query batch
            # decodes each hot block once instead of 25 times.
            tb_cache: dict[str, _TermBlocks] = {}
            for qid, tidf in plan:
                terms = []
                for t in sorted(tidf):
                    if t not in term_groups:
                        continue
                    tb = tb_cache.get(t)
                    if tb is None:
                        tb = _TermBlocks(tidf[t], term_groups[t])
                        tb_cache[t] = tb
                    terms.append(tb)
                if not terms:
                    continue
                # decoded_blocks accumulates across the whole query batch
                # (the _TermBlocks are shared per (range, term)); count
                # this query's decode work as the delta, so a later query
                # can never report more decodes than blocks (it reports
                # 0 when the batch cache was already warm).
                before = sum(t.decoded_blocks for t in terms)
                d, sc = _bmw_topk(terms, k, avgdl)
                c = counters.setdefault(qid, [0, 0])
                c[0] += int(sum(len(t.first) for t in terms))
                c[1] += int(sum(t.decoded_blocks for t in terms) - before)
                qids.append(np.full(len(d), qid, dtype=np.int32))
                docs.append(d.astype(np.int64))
                scores.append(sc)
        if not qids:
            return
        qid, doc, score = (np.concatenate(a) for a in (qids, docs, scores))
        sel, rank = _top_k_rows(qid, doc, score, k)
        out = pd.DataFrame(
            {"query_id": qid[sel], "doc_id": doc[sel], "score": score[sel]}
        )
        lead = rank == 1
        lead_qids = qid[sel][lead].tolist()
        for j, name in enumerate(_COUNTERS):
            col = np.zeros(len(sel), dtype=np.int64)
            col[lead] = [counters[q][j] for q in lead_qids]
            out[name] = col
        yield out

    return run


_SEG_COLS = [
    "term", "term_bucket", "range_bucket", "first_doc", "last_doc",
    "n_docs", "block_max_tf_norm", "doc_bytes", "tf_bytes", "dl_bytes",
]


class SearchSession:
    """A query tier over one built index.

    Load time does the heavy lifting once — corpus stats, the resident
    dictionary (bounded by ``max_resident_terms``), and the segments
    relation PARTITIONED BY ``range_bucket``, persisted when
    ``cache_segments=True`` — so a query batch is ONE Spark job over
    the same kernel either way: filter -> mapInPandas WAND, then one
    Arrow merge at the coordinator. A resident session's job is one
    narrow stage over the cache; an uncached session (one-shot querying,
    or segments too large to hold resident) adds one exchange of the
    term-filtered blocks per batch.
    Sessions on one root share the persisted relation (an uncached one
    reads it too while a resident session holds it); see ``invalidate``.
    Opening a session on a root rebuilt in place unpersists the older
    version's relation, so the new session reads the new blocks."""

    def __init__(
        self,
        spark: SparkSession,
        index_root: str,
        cfg: IndexConfig = DEFAULT,
        max_resident_terms: int = 2_000_000,
        cache_segments: bool = True,
    ):
        self.spark = spark
        self.cfg = cfg
        self.paths = IndexPaths(index_root)
        # Taken before anything is read, so a rebuild racing this open
        # shows as a changed signature at the next open.
        sig = _index_signature(index_root, spark)
        # read_engine_table, not read.parquet: build_index writes these
        # through the Iceberg-or-Parquet shim, and a session configured
        # for the catalog backend has no parquet files at these paths —
        # the serving tier must mirror the writer's backend choice. The
        # declared schemas spare one inference job per table.
        stats = read_engine_table(
            spark, self.paths.corpus_stats, schemas.CORPUS_STATS
        ).collect()[0]
        self.n_docs = int(stats["n_docs"])
        self.avgdl = float(stats["avgdl"])
        self.epoch = int(stats["epoch"])
        self._dictionary = read_engine_table(
            spark, self.paths.dictionary, schemas.DICTIONARY
        )
        seg = read_engine_table(
            spark, self.paths.segments, schemas.SEGMENTS
        ).select(*_SEG_COLS)
        # Ranges actually present (partition sizing): dense doc_ids make
        # this exact. Stored geometry wins over the caller's cfg — a
        # session opened with a different range_bits would mis-size the
        # cached layout. Pre-geometry indexes are refused
        # here exactly like merge_indexes refuses them (index_geometry
        # raises): one surface silently falling back to cfg while the
        # other hard-fails was an inconsistent contract.
        n_ranges = (self.n_docs >> index_geometry(stats)[1]) + 1
        # Co-partition blocks by their doc range: every (query, range)
        # WAND is then complete within one partition. A resident session
        # pays this shuffle ONCE at open and keeps the blocks hot; an
        # uncached one pays it per batch, over term-filtered blocks only.
        # Partition count = the number of ranges CAPPED AT the core
        # count: every partition schedules a task + a Python-worker
        # round-trip PER QUERY, so partitions beyond one wave of cores
        # only add fixed overhead (measured at 256 ranges / 32 cores: the
        # old 4x-cores cap ran 4 task waves and put single-query median
        # at 2.14 s; cap=cores runs one wave at 0.44 s). Ranges are
        # near-uniform by construction (dense doc ids, fixed range
        # width), so wave-smoothing oversubscription buys nothing.
        n_parts = max(1, min(n_ranges, spark.sparkContext.defaultParallelism))
        self._segments = seg.repartition(n_parts, "range_bucket")
        self._hold = None
        root = self.paths.root.rstrip("/")
        with _SESSION_LOCK:
            # Spark substitutes ANY persisted relation with this plan —
            # and a parquet scan's plan is its root path, not the files
            # — into this session's reads, cached or not. So first drop
            # every hold on this root that caches another index version
            # or that no live session holds any more.
            _drop_holds(root, sig)
            if cache_segments:
                key = (root, n_parts)
                hold = _HOLDS.get(key)
                if hold is None:
                    hold = _HOLDS[key] = _Hold(key, sig, self._segments)
                hold.holders.add(self)
                self._hold = hold
                self._segments = self._segments.persist()
        self._resident: dict[str, tuple[int, int]] | None = None
        # ONE dictionary job decides residency AND loads the map: the
        # limit(cap + 1) overfetch reveals "too big" (len > cap) without
        # a separate full count() — the old count-then-collect pair ran
        # two full dictionary scans at every session open.
        rows = (
            self._dictionary.select("term", "df", "term_bucket")
            .limit(max_resident_terms + 1)
            .collect()
        )
        if len(rows) <= max_resident_terms:
            self._resident = {
                r["term"]: (int(r["df"]), int(r["term_bucket"])) for r in rows
            }

    def invalidate(self) -> None:
        """Release this session's hold on the persisted segments. Call
        when the index at this root has been rebuilt or merged in place.

        Spark keys cached data by plan, so every resident session on one
        root (at one partition count) shares one persisted relation: the
        segments are unpersisted only when the last live session holding
        them lets go. A second call is a no-op."""
        with _SESSION_LOCK:
            hold, self._hold = self._hold, None
            if hold is None:
                return
            hold.holders.discard(self)
            if not hold.holders and _HOLDS.get(hold.key) is hold:
                del _HOLDS[hold.key]
                _unpersist(hold.relation)

    def _lookup(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        if self._resident is not None:
            return {t: self._resident[t] for t in terms if t in self._resident}
        terms_df = self.spark.createDataFrame([(t,) for t in terms], "term string")
        rows = (
            self._dictionary.join(F.broadcast(terms_df), "term", "inner")
            .select("term", "df", "term_bucket")
            .collect()
        )
        return {r["term"]: (int(r["df"]), int(r["term_bucket"])) for r in rows}

    def search(
        self,
        queries: list[str] | list[list[str]],
        k: int = 10,
        with_metrics: bool = False,
    ) -> DataFrame:
        """BM25 top-k per query: DataFrame(query_id, rank, doc_id, score),
        plus the query's blocks_total and blocks_decoded over all ranges
        when ``with_metrics``.

        Q6/Q7, the coordinator merge: the kernel frame holds at most k
        rows per (partition, query), <= partitions*queries*k rows with
        partitions capped at the core count. It is collected as Arrow,
        ranked with one lexsort under the pinned tie-break, cut to k per
        query and handed back through createDataFrame's Arrow path.
        Cached and uncached sessions produce identical rows."""
        schema = _RESULT_SCHEMA
        if with_metrics:
            schema += ", blocks_total long, blocks_decoded long"
        kernel = self._kernel_frame(queries, k)
        if kernel is None:
            return self.spark.createDataFrame([], schema)
        t = kernel.toArrow()
        qid, doc, score = (
            t.column(c).to_numpy() for c in ("query_id", "doc_id", "score")
        )
        sel, rank = _top_k_rows(qid, doc, score, k)
        cols = {
            "query_id": qid[sel],
            "rank": rank.astype(np.int32),
            "doc_id": doc[sel],
            "score": score[sel],
        }
        if with_metrics:
            for name in _COUNTERS:
                per_q = np.bincount(qid, weights=t.column(name).to_numpy())
                cols[name] = per_q.astype(np.int64)[qid[sel]]
        return self.spark.createDataFrame(pa.table(cols), schema)

    def _kernel_frame(
        self, queries: list[str] | list[list[str]], k: int
    ) -> DataFrame | None:
        """The lazy per-partition top-k frame (``_WAND_SCHEMA``) that
        ``search`` merges, or None when nothing can match. Its plan is
        the query's physical shape: filter -> MapInPandas, no join."""
        # k=0 is a valid "no results requested" batch, not an error: the
        # WAND kernel's argpartition(k-1) theta seed and zero-size score
        # reductions assume k >= 1, so guard here instead of crashing in
        # every executor task.
        if k <= 0:
            return None

        # Q1: tokenize queries with the SAME frozen analyzer as the corpus.
        qterms: list[tuple[int, str]] = []
        for qid, q in enumerate(queries):
            toks = (
                tokenize(q)
                if isinstance(q, str)
                else [t for s in q for t in tokenize(s)]
            )
            qterms.extend((qid, t) for t in sorted(set(toks)))
        if not qterms:
            return None

        # Q2: dictionary lookup (resident map or pruned semi-join).
        info = self._lookup(sorted({t for _, t in qterms}))
        if not info:
            return None
        buckets = sorted({tb for _, tb in info.values()})
        idf_of = {
            t: float(bm25.idf(self.n_docs, np.array([df_]))[0])
            for t, (df_, _tb) in info.items()
        }

        # The plan rides in the kernel closure. One linear pass over
        # qterms, not a rescan per query id — a per-qid comprehension is
        # O(Q^2 * T) on the driver at 10k-query batches.
        by_qid: dict[int, dict[str, float]] = {}
        for q, t in qterms:
            if t in idf_of:
                by_qid.setdefault(q, {})[t] = idf_of[t]
        plan = sorted(by_qid.items())
        # Both IN-lists are evaluated against cached-batch stats, or, on
        # an uncached session, pushed below the repartition into the
        # parquet scan (partition pruning + row-group filter).
        blocks = self._segments.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(sorted(idf_of))
        )
        return blocks.mapInPandas(
            _wand_partition_factory(plan, k, self.avgdl), _WAND_SCHEMA
        )


# Resident sessions are heavyweight (persisted segments + resident
# dictionary), so the per-process cache is a small LRU: a long-lived
# serving process that touches many index roots unpersists the
# least-recently-used session instead of pinning every root forever.
SESSION_CACHE_CAP = 8
_SESSION_CACHE: dict[str, tuple[tuple, SearchSession]] = {}
# Guards every read-check-mutate sequence on _SESSION_CACHE: Spark
# drivers routinely run concurrent query threads, and the unlocked
# del/reinsert dance raced (double-del KeyError on the hit path; two
# sessions both persisting the same segments on the miss path).
# Re-entrant: eviction calls invalidate(), which takes it again.
_SESSION_LOCK = threading.RLock()


class _Hold:
    """One persisted segments relation, shared by the live resident
    sessions on one (root, n_parts) that opened the index version
    ``sig``. ``holders`` is a weak set, so a session dropped without
    ``invalidate()`` stops counting as a holder."""

    __slots__ = ("key", "sig", "relation", "holders")

    def __init__(self, key: tuple[str, int], sig: tuple, relation: DataFrame):
        self.key = key
        self.sig = sig
        self.relation = relation
        self.holders = weakref.WeakSet()


# The current hold per (root, n_parts); guarded by _SESSION_LOCK.
_HOLDS: dict[tuple[str, int], _Hold] = {}


def _unpersist(relation: DataFrame) -> None:
    try:
        relation.unpersist()
    except Exception:
        pass


def _drop_holds(root: str, sig: tuple) -> None:
    """Unpersist the holds that no live session holds, and every hold on
    ``root`` cached from an index version other than ``sig``: a session
    still holding one serves a rebuilt root stale anyway. Caller holds
    _SESSION_LOCK."""
    for key, hold in list(_HOLDS.items()):
        if not hold.holders or (key[0] == root and hold.sig != sig):
            del _HOLDS[key]
            _unpersist(hold.relation)


# One construction lock PER ROOT (lock striping): SearchSession
# construction runs several Spark jobs (segments repartition+persist,
# dictionary sizing), so holding the global lock across it would make
# one slow session open head-of-line-block warm-cache hits on every
# OTHER root. The global lock guards only the map mutations (and the
# stripe map itself); the per-root lock serializes open/reopen of one
# root so concurrent misses still build exactly one session. Stripe
# count is bounded by distinct roots this process ever serves.
_ROOT_LOCKS: dict[str, threading.Lock] = {}


def _root_lock(index_root: str) -> threading.Lock:
    with _SESSION_LOCK:
        return _ROOT_LOCKS.setdefault(index_root, threading.Lock())


def _index_signature(index_root: str, spark: SparkSession | None = None) -> tuple:
    """Cheap staleness token for an index root: the corpus_stats file
    listing + mtimes on the parquet backend (every build/merge rewrites
    corpus_stats last), or the table's latest Iceberg snapshot id when
    the root is catalog-backed (no local files to scan — the `.snapshots`
    metadata table is the canonical Iceberg staleness token and changes
    on every rewrite).

    When NEITHER token is obtainable (non-scandir-able storage with no
    catalog, or a catalog whose metadata read fails) the signature is a
    DISTINCT sentinel per call: a constant () would compare equal
    across calls and serve a stale cached session FOREVER after an
    in-place rewrite — the exact staleness this token exists to catch.
    The cost is honest: search() rebuilds the session on every call for
    such roots, and every session open on one drops the others' cached
    segments; hold one ``SearchSession`` directly to serve them
    resident."""
    import os

    stats_dir = IndexPaths(index_root).corpus_stats
    try:
        with os.scandir(stats_dir) as it:
            return tuple(
                sorted((e.name, e.stat().st_mtime_ns) for e in it if e.is_file())
            )
    except OSError:
        pass
    if spark is not None:
        from ..sources.tables import _iceberg_catalog

        catalog = _iceberg_catalog(spark)
        if catalog is not None:
            tbl = f"{catalog}.{stats_dir.strip('/').replace('/', '.')}"
            try:
                row = (
                    spark.read.table(f"{tbl}.snapshots")
                    .agg(F.max("snapshot_id"))
                    .collect()[0]
                )
                return ("iceberg-snapshot", row[0])
            except Exception:
                return ("unverifiable", next(_SIG_UNVERIFIABLE))
    return ("unverifiable", next(_SIG_UNVERIFIABLE))


# Monotonic counter for the unverifiable-staleness sentinel above.
import itertools

_SIG_UNVERIFIABLE = itertools.count()


def index_signature_stable(index_root: str) -> tuple:
    """``_index_signature`` for REPRODUCIBLE fingerprints (the merge
    resume marker): the per-call unverifiable sentinel collapses to a
    constant. A marker folds this value into a string that must compare
    EQUAL across process restarts for the same on-disk state — with the
    per-call sentinel, resuming a crashed merge whose INPUT roots are
    unverifiable would always see a "different input set" and brick the
    exact recovery path the marker protects. Degraded mode is honest and
    documented at the call site: for such roots the caller's other
    marker fields (epoch, n_docs, avgdl) remain the only rebuild guard.
    The serving cache must keep using ``_index_signature`` directly —
    there the per-call sentinel is the point (never serve stale)."""
    sig = _index_signature(index_root)
    if sig and sig[0] == "unverifiable":
        return ("unverifiable",)
    return sig


def release_sessions_under(path: str) -> None:
    """Invalidate and drop every cached ``SearchSession`` whose index
    root IS ``path`` or lives under it — for callers about to delete or
    rewrite that directory (a stale fixture root, an in-place merge):
    nothing will ever search the old path again, so its signature
    re-check never runs and the persisted segments would otherwise
    linger in executor storage until unrelated LRU pressure. Public so
    cache owners never touch ``_SESSION_CACHE``'s internals (eviction
    must always pair the pop with ``invalidate()``)."""
    path = path.rstrip("/")  # cache keys are unslashed roots
    prefix = path + "/"
    with _SESSION_LOCK:
        for root in [
            r for r in _SESSION_CACHE if r == path or r.startswith(prefix)
        ]:
            _SESSION_CACHE.pop(root)[1].invalidate()


def search(
    spark: SparkSession,
    index_root: str,
    queries: list[str] | list[list[str]],
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    with_metrics: bool = False,
) -> DataFrame:
    """BM25 top-k for a batch of queries against a built index.

    Returns DataFrame(query_id, rank, doc_id, score) — rank-identical to
    the exhaustive oracle (pinned tie-break score DESC, doc_id ASC).
    Thin wrapper over a cached ``SearchSession`` per index root; a
    rebuilt/merged-in-place index is detected via the corpus_stats
    signature and the stale session's cache is released."""
    # Per-root lock for the whole read-check-(invalidate/create)
    # sequence: two threads hitting the SAME root otherwise both take
    # the hit path and double-del (KeyError), or both take the miss
    # path and build two sessions that each persist() the segments —
    # duplicate-create is the expensive failure, so construction stays
    # inside the per-root critical section. The GLOBAL lock is held
    # only around map mutations, so a slow session open on one root
    # never blocks warm hits on other roots. sess.search() runs
    # unlocked. (release_sessions_under may pop the entry between our
    # insert and the search — harmless: invalidate() only unpersists,
    # and Spark recomputes from the still-present files; retired
    # fixture roots are deleted at process exit, not inline.)
    with _root_lock(index_root):
        sig = _index_signature(index_root, spark)
        with _SESSION_LOCK:
            hit = _SESSION_CACHE.get(index_root)
            stale = None
            if hit is not None and (
                hit[0] != sig or hit[1].spark is not spark
            ):
                stale = _SESSION_CACHE.pop(index_root)
                hit = None
            if hit is not None:
                sess = hit[1]
                del _SESSION_CACHE[index_root]  # re-insert => most recent
                _SESSION_CACHE[index_root] = (sig, sess)
        if stale is not None:
            stale[1].invalidate()
        if hit is None:
            # Construction outside the global lock (several Spark jobs);
            # the per-root lock guarantees single construction per root.
            sess = SearchSession(spark, index_root, cfg)
            with _SESSION_LOCK:
                while len(_SESSION_CACHE) >= SESSION_CACHE_CAP:
                    # LRU eviction: dicts iterate in insertion order and
                    # a cache hit re-inserts above, so the first key is
                    # least recent.
                    lru = next(iter(_SESSION_CACHE))
                    _SESSION_CACHE.pop(lru)[1].invalidate()
                _SESSION_CACHE[index_root] = (sig, sess)
    return sess.search(queries, k=k, with_metrics=with_metrics)


def search_bruteforce(
    spark: SparkSession,
    corpus: DataFrame,
    queries: list[str],
    k: int = 10,
) -> DataFrame:
    """Index-free exhaustive BM25 — pure DataFrame expressions end to end
    (no Python UDF on the scoring path; the tokenizer is the codegen'd
    ``tokenize_expr`` equivalent of the frozen spec). Used as the Spark-
    side oracle and for one-shot queries where building an index is not
    worth it."""
    from ..functions.analysis import tokenize_expr

    toks = corpus.select(
        "doc_id", tokenize_expr(F.col("text")).alias("tokens")
    ).withColumn("dl", F.size("tokens"))
    tf = (
        toks.select("doc_id", "dl", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    stats = toks.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    qrows = []
    for qid, q in enumerate(queries):
        for t in sorted(set(tokenize(q))):
            qrows.append((qid, t))
    if not qrows:
        return spark.createDataFrame(
            [], "query_id int, rank int, doc_id long, score double"
        )
    qdf = spark.createDataFrame(qrows, "query_id int, term string")

    # df for the QUERY terms only, from the term-filtered tf (identical
    # values — df is a per-term corpus count either way): broadcasting a
    # full-vocabulary dfreq ships the entire dictionary to every
    # executor and outgrows the broadcast limit on a large corpus, when
    # only |query terms| rows are ever joined. Filter BEFORE attaching
    # query_id — the qdf join would duplicate a term shared by several
    # queries and inflate its df.
    tfq = tf.filter(F.col("term").isin(sorted({t for _, t in qrows})))
    dfreq = tfq.groupBy("term").agg(F.count("*").alias("df"))

    scored = (
        tfq.join(F.broadcast(qdf), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            bm25.idf_col(F.col("n_docs"), F.col("df"))
            * bm25.tf_norm_col(F.col("tf"), F.col("dl"), F.col("avgdl")),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
