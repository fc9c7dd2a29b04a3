"""Property test: the block-max WAND kernel == exhaustive BM25 on random
mini-corpora (SURVEY.md §5.3), plus block-max soundness."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from oculus_crawl_spark.functions import bm25
from oculus_crawl_spark.functions.codec import encode_doc_gaps, pfor_encode
from oculus_crawl_spark.operators.query import _bmw_topk, _TermBlocks

BLOCK = 4  # tiny blocks force multi-block lists and real skipping


def make_term_blocks(
    idf: float, docs: np.ndarray, tfs: np.ndarray, dls: np.ndarray
) -> _TermBlocks:
    rows = []
    for start in range(0, len(docs), BLOCK):
        d = docs[start : start + BLOCK]
        t = tfs[start : start + BLOCK]
        l = dls[start : start + BLOCK]
        rows.append(
            {
                "first_doc": int(d[0]),
                "last_doc": int(d[-1]),
                "n_docs": len(d),
                # PRODUCTION representation: the admissible float32
                # (bm25.bmax32), not float64 — a float64 harness never
                # exercises the cast the build/merge kernels store.
                "block_max_tf_norm": bm25.bmax32(
                    bm25.tf_norm(t, l, _AVGDL).max()
                ),
                "doc_bytes": encode_doc_gaps(d.astype(np.uint64)),
                "tf_bytes": pfor_encode(t.astype(np.uint64)),
                "dl_bytes": pfor_encode(l.astype(np.uint64)),
            }
        )
    return _TermBlocks(idf, pd.DataFrame(rows))


_AVGDL = 10.0


@st.composite
def mini_corpus(draw):
    n_docs = draw(st.integers(5, 120))
    n_terms = draw(st.integers(1, 5))
    rng = np.random.default_rng(draw(st.integers(0, 2**31)))
    dls = rng.integers(1, 40, size=n_docs)
    corpus = {}
    for t in range(n_terms):
        density = draw(st.floats(0.05, 1.0))
        present = np.flatnonzero(rng.random(n_docs) < density)
        if len(present) == 0:
            present = np.array([rng.integers(0, n_docs)])
        tfs = rng.integers(1, 8, size=len(present))
        corpus[f"t{t}"] = (present.astype(np.int64), tfs.astype(np.int64))
    return n_docs, dls.astype(np.int64), corpus


@given(mini_corpus(), st.integers(1, 15))
@settings(max_examples=150, deadline=None)
def test_bmw_equals_exhaustive(data, k):
    n_docs, dls, corpus = data
    n_terms = len(corpus)
    dfs = {t: len(docs) for t, (docs, _) in corpus.items()}

    terms = []
    scores = np.zeros(n_docs, dtype=np.float64)
    for t, (docs, tfs) in corpus.items():
        idf = float(bm25.idf(n_docs, np.array([dfs[t]]))[0])
        terms.append(make_term_blocks(idf, docs, tfs, dls[docs]))
        scores[docs] += idf * bm25.tf_norm(tfs, dls[docs], _AVGDL)

    got_docs, got_scores = _bmw_topk(terms, k, _AVGDL)

    mask = scores > 0
    ids = np.flatnonzero(mask)
    sc = scores[mask]
    order = np.lexsort((ids, -sc))[:k]
    exp_docs, exp_scores = ids[order], sc[order]

    assert list(got_docs) == list(exp_docs), (n_terms, k)
    assert np.allclose(got_scores, exp_scores, atol=1e-9)


@given(mini_corpus())
@settings(max_examples=100, deadline=None)
def test_block_max_soundness(data):
    """For every block: true max contribution <= idf * block_max_tf_norm."""
    n_docs, dls, corpus = data
    for t, (docs, tfs) in corpus.items():
        idf = float(bm25.idf(n_docs, np.array([len(docs)]))[0])
        tb = make_term_blocks(idf, docs, tfs, dls[docs])
        for i in range(len(tb.first)):
            bd, bt, bl = tb.decode_blocks(np.array([i]))
            true_max = (idf * bm25.tf_norm(bt, bl, _AVGDL)).max()
            assert true_max <= tb.bmax[i] + 1e-12


def test_term_blocks_decode_blocks_cache_mixing():
    """decode_blocks must return identical arrays across all cache
    states: cold batch, full re-request (concat-cache hit), a subset
    after a full decode (per-block cache path), and a superset after a
    partial decode (mixed hit/miss path) — and agree with a cold
    single-block decode (the WAND seed's call)."""
    import numpy as np
    import pandas as pd

    from oculus_crawl_spark.functions.codec import encode_doc_gaps, pfor_encode
    from oculus_crawl_spark.operators.query import _TermBlocks

    rng = np.random.default_rng(31)
    rows = []
    base = 0
    for b in range(12):
        n = int(rng.integers(1, 60))
        docs = np.sort(rng.choice(500, n, replace=False)).astype(np.uint64) + base
        tfs = rng.integers(1, 20, n).astype(np.uint64)
        dls = rng.integers(20, 400, n).astype(np.uint64)
        rows.append({
            "first_doc": int(docs[0]), "last_doc": int(docs[-1]),
            "n_docs": n, "block_max_tf_norm": 1.0,
            "doc_bytes": encode_doc_gaps(docs),
            "tf_bytes": pfor_encode(tfs), "dl_bytes": pfor_encode(dls),
        })
        base += 600
    pdf = pd.DataFrame(rows)

    def fresh():
        return _TermBlocks(1.5, pdf)

    all_idx = np.arange(12, dtype=np.int64)
    ref = fresh().decode_blocks(all_idx)

    # cold subset then superset (mixed path)
    tb = fresh()
    sub = np.array([2, 5, 9], dtype=np.int64)
    got_sub = tb.decode_blocks(sub)
    got_all = tb.decode_blocks(all_idx)
    for a, b in zip(got_all, ref):
        assert np.array_equal(a, b)
    # subset again (per-block cache path) matches slices of ref
    got_sub2 = tb.decode_blocks(sub)
    for a, b in zip(got_sub2, got_sub):
        assert np.array_equal(a, b)
    # concat-cache hit returns the same arrays
    got_all2 = tb.decode_blocks(all_idx)
    for a, b in zip(got_all2, got_all):
        assert np.array_equal(a, b)
    # seed-path single decode agrees
    tb2 = fresh()
    d0 = tb2.decode_blocks(np.array([3]))
    off = int(np.cumsum(pdf["n_docs"].to_numpy())[2])
    n3 = int(pdf["n_docs"].iloc[3])
    assert np.array_equal(d0[0], ref[0][off : off + n3])
    assert np.array_equal(d0[1], ref[1][off : off + n3])
    assert np.array_equal(d0[2], ref[2][off : off + n3])


def test_bmax32_is_admissible_upper_bound():
    """The stored float32 block max must never sit below the true
    float64 max (WAND compares idf*bmax against an exact float64
    theta); a plain to-nearest cast violates this for ~half of all
    values."""
    rng = np.random.default_rng(7)
    xs = rng.random(20000) * np.repeat([1e-3, 1.0, 1e3], 20000)[:20000]
    casted = np.array([bm25.bmax32(x) for x in xs], dtype=np.float32)
    assert (casted.astype(np.float64) >= xs).all()
    # and the bound is tight: at most one ulp above
    assert (
        casted.astype(np.float64)
        <= np.nextafter(xs.astype(np.float32), np.float32(np.inf)).astype(
            np.float64
        )
    ).all()


def test_tied_kth_score_in_prunable_block_is_kept():
    """Regression: a doc that TIES the k-th score, sitting in a block
    whose to-nearest float32 bound rounds DOWN past the 1e-9 slack,
    used to be pruned — and the pinned (score DESC, doc_id ASC)
    tie-break means the dropped doc was the one that should have won.
    Constructed so the seed block holds the high-scoring doc at a HIGH
    doc_id while lower doc_ids tie theta in the other block."""
    # Find a doc length whose tf=1 norm rounds down by more than the
    # query-side slack when cast to nearest float32.
    d = next(
        dl
        for dl in range(2, 200)
        if np.float64(np.float32(lo := float(bm25.tf_norm(1, dl, _AVGDL))))
        < lo - 2e-9
    )
    lo = float(bm25.tf_norm(1, d, _AVGDL))
    docs = np.arange(8, dtype=np.int64)
    tfs = np.array([1, 1, 1, 1, 1, 1, 1, 8], dtype=np.int64)
    dls = np.full(8, d, dtype=np.int64)
    term = make_term_blocks(1.0, docs, tfs, dls)
    # Block layout: [0..3] all tie at `lo`; [4..7] holds the tf=8 doc,
    # so it seeds theta = 3rd best seed score = `lo` exactly.
    got_docs, got_scores = _bmw_topk([term], k=3, avgdl=_AVGDL)
    hi = float(bm25.tf_norm(8, d, _AVGDL))
    assert got_docs.tolist() == [7, 0, 1]
    assert np.allclose(got_scores, [hi, lo, lo])
