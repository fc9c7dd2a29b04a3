"""Engine configuration.

All knobs that matter at 10^12-doc scale live here with their sandbox
defaults. Comments state the scale rationale (SURVEY.md §4, §7.4).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class IndexConfig:
    """Configuration for one index build / query epoch."""

    # BM25 parameters are NOT knobs: k1=1.2, b=0.75 are pinned by
    # BASELINE.json:6 and live as frozen constants in functions/bm25.py
    # (one formula, three surfaces — NumPy, Column expr, oracle SQL).

    # Posting block size. 128 matches the block-max WAND literature
    # (Ding & Suel, SIGIR 2011) and keeps per-block decode vectorizable.
    block_size: int = 128

    # Salt-count FLOOR for the two-phase salted posting assembly (E7).
    # Phase 1 groups on (term, salt) so a hot term (a stop word occurring
    # in ~every doc) is split across S tasks; phase-1 output is already
    # block-compressed, so the phase-2 shuffle moves ~1-2 bytes/posting.
    # The EFFECTIVE S is derived per epoch by operators.build.
    # derive_n_salts (SURVEY §7.4's metrics-driven contract): bounded
    # worst-case range occupancy first epoch, prior-generation E6/E8
    # metrics afterwards — a full 2^20-doc range derives S=64; this
    # floor keeps small sandbox corpora at a fixed, deterministic 8.
    n_salts: int = 8

    # Term buckets — the partition column of the segments table.
    # Query-time partition pruning (Q3) reads only buckets containing
    # query terms; at 10^12 docs this is the difference between scanning
    # the whole index and a handful of files. Scale: 4096+; sandbox: 16.
    n_term_buckets: int = 16

    # Doc-range bucket width (log2). Posting blocks never cross a range
    # boundary, so the query path can repartition candidate blocks by
    # (query, range) and run an independent exact block-max WAND per
    # partition — the document-partitioned query fan-out that makes
    # top-k distributable. 2^20 docs/range => 10^12 docs = ~1M ranges.
    range_bits: int = 20

    # Number of driver-side merge waves for the checkpoint-resumable
    # segment merge (E14): each wave commits its term buckets + manifest
    # atomically, so a crash loses at most one wave.
    merge_waves: int = 4

    # Tokenizer execution path. The frozen spec (functions/analysis.py)
    # has two exactly-equivalent-for-ASCII implementations: the
    # whole-stage-codegen column expression (zero Python — measured 4-5x
    # faster and linearly scaling where the Arrow UDF path bottlenecks
    # on Python workers) and the Arrow pandas UDF (NFC+casefold, needed
    # for non-Latin corpora). Default: JVM path; flip for non-ASCII.
    use_jvm_tokenizer: bool = True

    # Frozen analysis-chain version, recorded in corpus_stats so an index
    # built with a different extractor/tokenizer is never silently mixed.
    analysis_version: str = "1"


DEFAULT = IndexConfig()
