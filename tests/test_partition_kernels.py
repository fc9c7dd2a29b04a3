"""Pure-NumPy tests for the partition-level kernel helpers (no Spark):
group-boundary detection, the shared re-block routine and the dense-ID
offset bookkeeping."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from oculus_crawl_spark.functions import bm25
from oculus_crawl_spark.functions.codec import encode_doc_gaps, pfor_encode
from oculus_crawl_spark.operators.build import _group_slices, reblock


def test_group_slices_basic():
    a = np.array([1, 1, 2, 2, 2, 3])
    b = np.array([0, 0, 0, 1, 1, 1])
    assert list(_group_slices(a, b)) == [(0, 2), (2, 3), (3, 5), (5, 6)]


def test_group_slices_empty():
    assert list(_group_slices(np.array([], dtype=np.int64))) == []


def test_group_slices_single_group():
    assert list(_group_slices(np.zeros(5, dtype=np.int64))) == [(0, 5)]


def test_group_slices_object_keys():
    terms = np.array(["a", "a", "b", "b", "c"], dtype=object)
    assert list(_group_slices(terms)) == [(0, 2), (2, 4), (4, 5)]


@given(
    st.lists(st.integers(min_value=0, max_value=5), min_size=0, max_size=60)
)
@settings(max_examples=200, deadline=None)
def test_group_slices_covers_exactly_once(vals):
    """Slices partition [0, n) exactly, and each slice is constant-key
    with a different key from its neighbor (on sorted input)."""
    arr = np.array(sorted(vals), dtype=np.int64)
    slices = list(_group_slices(arr)) if len(arr) else []
    covered = []
    for s, e in slices:
        assert s < e
        assert (arr[s:e] == arr[s]).all()
        if covered:
            assert arr[covered[-1][1] - 1] != arr[s]
        covered.append((s, e))
    assert sum(e - s for s, e in covered) == len(arr)


def _reblock_reference(gid, docs, tfs, dls, avgdl, bs):
    """Naive per-block loop: the build's and the merge's re-block loop
    before both moved to the vectorized ``reblock``."""
    out = {k: [] for k in (
        "group", "block_id", "first_doc", "last_doc", "n_docs", "sum_tf",
        "block_max_tf_norm", "doc_bytes", "tf_bytes", "dl_bytes",
    )}
    for s, e in _group_slices(gid):
        norms = bm25.tf_norm(tfs[s:e], dls[s:e], avgdl)
        for bid, start in enumerate(range(s, e, bs)):
            stop = min(start + bs, e)
            d = docs[start:stop]
            out["group"].append(gid[s])
            out["block_id"].append(bid)
            out["first_doc"].append(int(d[0]))
            out["last_doc"].append(int(d[-1]))
            out["n_docs"].append(len(d))
            out["sum_tf"].append(int(tfs[start:stop].sum()))
            out["block_max_tf_norm"].append(
                bm25.bmax32(norms[start - s : stop - s].max())
            )
            out["doc_bytes"].append(encode_doc_gaps(d.astype(np.uint64)))
            out["tf_bytes"].append(pfor_encode(tfs[start:stop]))
            out["dl_bytes"].append(pfor_encode(dls[start:stop]))
    return out


_BS = 4


@given(
    st.lists(
        st.one_of(
            st.sampled_from([1, _BS, _BS + 1]), st.integers(1, 4 * _BS + 3)
        ),
        min_size=1,
        max_size=12,
    ),
    st.integers(0, 2**31),
    st.floats(1.0, 50.0),
)
@settings(max_examples=200, deadline=None)
def test_reblock_matches_per_block_loop(group_lens, seed, avgdl):
    """The vectorized re-block (reduceat bounds, batched encode) equals
    the per-block loop on every column, byte for byte — including groups
    of length 1, bs and bs+1, where a block boundary is off by one."""
    rng = np.random.default_rng(seed)
    gid = np.repeat(np.arange(len(group_lens)) * 3, group_lens)
    docs = np.concatenate([
        np.sort(rng.choice(10 * n + 5, n, replace=False)) for n in group_lens
    ]).astype(np.uint64)
    tfs = rng.integers(1, 40, len(docs)).astype(np.uint64)
    dls = rng.integers(1, 900, len(docs)).astype(np.uint64)

    got = reblock(gid, docs, tfs, dls, avgdl, _BS)
    ref = _reblock_reference(gid, docs, tfs, dls, avgdl, _BS)
    assert list(got) == list(ref)
    for col, want in ref.items():
        assert list(got[col]) == want, col
    assert got["block_max_tf_norm"].dtype == np.float32


@given(
    st.lists(
        st.text(alphabet="abcdefgh", min_size=1, max_size=4),
        min_size=1,
        max_size=80,
        unique=True,
    ),
    st.integers(min_value=1, max_value=8),
)
@settings(max_examples=100, deadline=None)
def test_dense_id_offsets_are_a_permutation(keys, n_buckets):
    """The data-derived-bucket + exclusive-scan scheme yields exactly
    0..n-1 with no collisions, independent of physical partitioning —
    simulated here over arbitrary bucket assignments."""
    buckets = {k: hash(k) % n_buckets for k in keys}
    counts: dict[int, int] = {}
    for k in keys:
        counts[buckets[k]] = counts.get(buckets[k], 0) + 1
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    ids = []
    consumed: dict[int, int] = {}
    for b in sorted(set(buckets.values())):
        for k in sorted(k for k in keys if buckets[k] == b):
            ids.append(offsets[b] + consumed.get(b, 0))
            consumed[b] = consumed.get(b, 0) + 1
    assert sorted(ids) == list(range(len(keys)))


@given(
    st.lists(
        st.text(min_size=0, max_size=40),  # full unicode incl. empty/astral
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=4096),
)
@settings(max_examples=150, deadline=None)
def test_term_bucket_np_matches_scalar(terms, n_buckets):
    """The batch-wide FNV-1a bucket kernel must be value-identical to the
    scalar routing function on arbitrary unicode — same constants, same
    UTF-8 byte order, same modulus."""
    import pandas as pd

    from oculus_crawl_spark.operators.build import (
        _term_bucket_np,
        _term_bucket_py,
    )

    got = _term_bucket_np(pd.Series(terms, dtype=object), n_buckets)
    exp = np.array([_term_bucket_py(t, n_buckets) for t in terms])
    assert (got == exp).all()
