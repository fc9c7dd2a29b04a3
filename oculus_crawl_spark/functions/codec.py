"""Posting-block compression — pure NumPy, fully vectorized.

Two codecs, per BASELINE.json:6 "delta + varint (PForDelta-style block)":

1. ``varint_encode/decode`` — LEB128 (7 data bits + continuation bit),
   vectorized across the whole array (loops only over byte *positions*,
   never over values).
2. ``pfor_encode/decode`` — PForDelta-style frame-of-reference blocks:
   choose a bit width w minimizing total size, bit-pack the low w bits of
   every value, and spill values >= 2**w into an exception stream
   (varint-coded positions-as-deltas + high bits). Decoding is
   np.unpackbits + a shift-or loop over w bit positions.

DocID lists are stored as ``pfor_encode(np.diff(doc_ids))`` with
``first_doc`` kept in the segment row (delta coding); tf/dl arrays are
pfor-coded directly. These functions run only inside Arrow UDF bodies —
Spark never sees them (SURVEY.md §2 E7c/d).
"""

from __future__ import annotations

import struct

import numpy as np

_POW2 = (np.uint64(1) << np.arange(64, dtype=np.uint64))  # 2^0 .. 2^63
_U64_1 = np.uint64(1)


def _bit_lengths(values: np.ndarray) -> np.ndarray:
    """Exact bit length per uint64 value (0 -> 0), no float math."""
    return np.searchsorted(_POW2, values, side="right").astype(np.int64)


# --- varint (LEB128) ---------------------------------------------------------


def varint_encode(values: np.ndarray) -> bytes:
    """Vectorized LEB128 encode of a uint64 array."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b""
    nbytes = np.maximum(1, (_bit_lengths(v) + 6) // 7)
    offsets = np.concatenate(([0], np.cumsum(nbytes)))
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    kmax = int(nbytes.max())
    for j in range(kmax):  # loop over byte positions (<=10), not values
        sel = nbytes > j
        chunk = (v[sel] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = np.where(nbytes[sel] > j + 1, 0x80, 0).astype(np.uint8)
        out[offsets[:-1][sel] + j] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Vectorized LEB128 decode -> uint64 array."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if len(raw) == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (raw & 0x80) == 0
    ends = np.flatnonzero(is_end)  # inclusive last byte of each value
    starts = np.concatenate(([0], ends[:-1] + 1))
    nbytes = ends - starts + 1
    kmax = int(nbytes.max())
    vals = np.zeros(len(starts), dtype=np.uint64)
    for j in range(kmax):
        sel = nbytes > j
        vals[sel] |= (raw[starts[sel] + j] & np.uint64(0x7F)).astype(
            np.uint64
        ) << np.uint64(7 * j)
    return vals


# --- PForDelta-style bit-packed blocks --------------------------------------

_HEADER = struct.Struct("<IBI")  # n_values, width, n_exceptions


def _choose_width(bits: np.ndarray) -> int:
    """Deterministic width choice: minimize packed + exception bytes."""
    n = len(bits)
    sorted_bits = np.sort(bits)
    widths = np.arange(65)
    n_ok = np.searchsorted(sorted_bits, widths, side="right")
    n_exc = n - n_ok
    # exceptions cost ~2 varint bytes for the position delta + high bits
    exc_cost = n_exc * 4
    total = (n * widths + 7) // 8 + exc_cost
    return int(np.argmin(total))  # argmin takes the first (lowest w) tie


def pfor_encode(values: np.ndarray) -> bytes:
    """PForDelta-style encode of a uint64 array (order-preserving)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return _HEADER.pack(0, 0, 0)
    bits = _bit_lengths(v)
    w = _choose_width(bits)
    if w > 0:
        mask = (_U64_1 << np.uint64(w)) - _U64_1 if w < 64 else ~np.uint64(0)
        low = v & mask
        bitmat = (
            (low[:, None] >> np.arange(w, dtype=np.uint64)) & _U64_1
        ).astype(np.uint8)
        packed = np.packbits(bitmat.reshape(-1), bitorder="little").tobytes()
    else:
        packed = b""
    exc_pos = np.flatnonzero(bits > w).astype(np.uint64)
    n_exc = len(exc_pos)
    if n_exc:
        high = v[exc_pos] >> np.uint64(w) if w < 64 else np.zeros(n_exc, np.uint64)
        pos_deltas = np.diff(exc_pos, prepend=np.uint64(0))
        exc_stream = varint_encode(pos_deltas) + varint_encode(high)
    else:
        exc_stream = b""
    return _HEADER.pack(n, w, n_exc) + packed + exc_stream


def pfor_decode(buf: bytes) -> np.ndarray:
    """Inverse of pfor_encode."""
    n, w, n_exc = _HEADER.unpack_from(buf, 0)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    off = _HEADER.size
    vals = np.zeros(n, dtype=np.uint64)
    if w > 0:
        packed_len = (n * w + 7) // 8
        bitmat = np.unpackbits(
            np.frombuffer(buf, dtype=np.uint8, count=packed_len, offset=off),
            count=n * w,
            bitorder="little",
        ).reshape(n, w)
        for j in range(w):
            vals |= bitmat[:, j].astype(np.uint64) << np.uint64(j)
        off += packed_len
    if n_exc:
        exc = varint_decode(buf[off:])
        pos = np.cumsum(exc[:n_exc]).astype(np.int64)
        high = exc[n_exc : 2 * n_exc]
        if w < 64:
            vals[pos] |= high << np.uint64(w)
    return vals


# --- docID delta coding ------------------------------------------------------


def encode_doc_gaps(doc_ids: np.ndarray) -> bytes:
    """Strictly-increasing doc_ids -> pfor-coded gaps (first id excluded;
    the segment row keeps it as ``first_doc``)."""
    d = np.ascontiguousarray(doc_ids, dtype=np.uint64)
    return pfor_encode(np.diff(d))


def decode_doc_ids(first_doc: int, doc_bytes: bytes, n_docs: int) -> np.ndarray:
    """Inverse of encode_doc_gaps given the stored first_doc and count."""
    if n_docs == 0:
        return np.empty(0, dtype=np.uint64)
    gaps = pfor_decode(doc_bytes)
    out = np.empty(n_docs, dtype=np.uint64)
    out[0] = first_doc
    if n_docs > 1:
        np.cumsum(gaps, out=out[1:])
        out[1:] += np.uint64(first_doc)
    return out


# --- batched multi-block decode ----------------------------------------------
#
# The query kernel's scale bound is not the per-value work (already
# vectorized) but the PER-BLOCK Python/numpy call overhead: a hot term
# at 10^6+ docs spans thousands of 128-doc blocks, and ~0.15 ms of
# fixed overhead per pfor_decode call dominates the decode. The *_many
# variants decode an arbitrary set of blocks in ONE numpy pass: headers
# are parsed from the concatenated buffers via strided views, blocks
# are grouped by bit width, and each width group is unpacked with a
# single np.unpackbits + shift-or over the whole group (block packed
# regions are byte-aligned, so the group concatenation preserves
# per-block bit offsets). Exceptions (rare by construction of
# _choose_width) fall back to the per-block path.


def pfor_decode_many(bufs: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Decode many pfor blocks in one vectorized pass.

    Returns (values, lengths): ``values`` is the concatenation of every
    block's decoded array in input order; ``lengths[i]`` is block i's
    value count (0-length blocks allowed).
    """
    m = len(bufs)
    if m == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    if m == 1:
        # One block (the WAND seed, single-block terms): the per-block
        # decoder has about a third of the batched pass's fixed cost
        # (a 128-doc block's doc/tf/dl decode: ~0.15 ms per-block vs
        # ~0.55 ms batched, 4-core x86 VM).
        vals = pfor_decode(bufs[0])
        return vals, np.array([len(vals)], dtype=np.int64)
    hsz = _HEADER.size
    concat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    buf_lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=m)
    buf_offs = np.concatenate(([0], np.cumsum(buf_lens)))[:-1]
    # header: <IBI little-endian at each buffer start
    n_arr = (
        concat[buf_offs].astype(np.int64)
        | (concat[buf_offs + 1].astype(np.int64) << 8)
        | (concat[buf_offs + 2].astype(np.int64) << 16)
        | (concat[buf_offs + 3].astype(np.int64) << 24)
    )
    w_arr = concat[buf_offs + 4].astype(np.int64)
    exc_arr = (
        concat[buf_offs + 5].astype(np.int64)
        | (concat[buf_offs + 6].astype(np.int64) << 8)
        | (concat[buf_offs + 7].astype(np.int64) << 16)
        | (concat[buf_offs + 8].astype(np.int64) << 24)
    )
    out_offs = np.concatenate(([0], np.cumsum(n_arr)))
    vals = np.zeros(int(out_offs[-1]), dtype=np.uint64)

    nonzero = n_arr > 0
    for w in np.unique(w_arr[nonzero]):
        if w == 0:
            continue  # all-zero low bits: vals already zeroed
        sel = np.flatnonzero(nonzero & (w_arr == w))
        ns = n_arr[sel]
        packed_bytes = (ns * w + 7) // 8
        starts = buf_offs[sel] + hsz
        # gather each block's packed region back-to-back (byte-aligned)
        gather = np.concatenate(
            [concat[s : s + pb] for s, pb in zip(starts, packed_bytes)]
        )
        # per-block bit base inside the gathered stream
        byte_base = np.concatenate(([0], np.cumsum(packed_bytes)))[:-1]
        bits = np.unpackbits(gather, bitorder="little")
        # absolute bit index of (value v, bit j) for every block in group:
        # base*8 + v*w + j  — build via repeat/arange, fully vectorized
        total_vals = int(ns.sum())
        val_base = np.repeat(byte_base * 8, ns) + (
            np.arange(total_vals) - np.repeat(np.cumsum(ns) - ns, ns)
        ) * w
        group_vals = np.zeros(total_vals, dtype=np.uint64)
        for j in range(int(w)):
            group_vals |= bits[val_base + j].astype(np.uint64) << np.uint64(j)
        # scatter into the output at each block's slice
        tgt = np.repeat(out_offs[sel], ns) + (
            np.arange(total_vals) - np.repeat(np.cumsum(ns) - ns, ns)
        )
        vals[tgt] = group_vals
    # Exceptions, batched (NOT rare in practice: ~75% of real doc-gap
    # blocks carry at least one). Varint is self-delimiting, so every
    # block's exception stream can be concatenated and decoded in ONE
    # varint_decode pass; per block the stream is n_exc position-deltas
    # then n_exc high-bit values.
    eb = np.flatnonzero((exc_arr > 0) & nonzero)
    if len(eb):
        packed_len = (n_arr[eb] * w_arr[eb] + 7) // 8
        s0 = buf_offs[eb] + hsz + packed_len
        s1 = buf_offs[eb] + buf_lens[eb]
        stream = np.concatenate([concat[a:b] for a, b in zip(s0, s1)])
        allv = varint_decode(stream.tobytes())
        ne = exc_arr[eb]
        total_exc = int(ne.sum())
        base = np.concatenate(([0], np.cumsum(2 * ne)))[:-1]
        within = np.arange(total_exc) - np.repeat(np.cumsum(ne) - ne, ne)
        pd_idx = np.repeat(base, ne) + within
        pds = allv[pd_idx].astype(np.int64)
        his = allv[pd_idx + np.repeat(ne, ne)]
        # positions: segmented cumsum of the deltas (encoder used
        # diff(exc_pos, prepend=0), so cumsum within block restores pos)
        pcs = np.cumsum(pds)
        first_idx = np.cumsum(ne) - ne
        pos = pcs - np.repeat(pcs[first_idx] - pds[first_idx], ne)
        tgt = np.repeat(out_offs[eb], ne) + pos
        vals[tgt] |= his << np.repeat(w_arr[eb], ne).astype(np.uint64)
    return vals, n_arr


def decode_doc_ids_many(
    first_docs: np.ndarray, doc_bufs: list[bytes], n_docs: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Batched inverse of encode_doc_gaps over many blocks.

    Returns (doc_ids, lengths) with doc_ids concatenated in input
    order; lengths mirrors ``n_docs`` (int64).
    """
    m = len(doc_bufs)
    firsts = np.ascontiguousarray(first_docs, dtype=np.uint64)
    ns = np.ascontiguousarray(n_docs, dtype=np.int64)
    if m == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    if m == 1:  # same fixed-cost reasoning as pfor_decode_many
        return decode_doc_ids(int(firsts[0]), doc_bufs[0], int(ns[0])), ns
    gaps, gap_lens = pfor_decode_many(doc_bufs)
    # interleave: each block contributes [first, first+cumsum(gaps...)].
    # Build the full gap stream with the first_doc as the leading "gap"
    # of each block relative to a running offset, then one cumsum.
    out_lens = ns
    total = int(out_lens.sum())
    if total == 0:
        # All blocks empty (0-length blocks are allowed, mirroring
        # pfor_decode_many's contract).
        return np.empty(0, dtype=np.uint64), out_lens
    full = np.empty(total, dtype=np.uint64)
    starts = np.concatenate(([0], np.cumsum(out_lens)))[:-1]
    # positions of each block's first value
    full[:] = 0
    # scatter gaps into positions starts[i]+1 .. starts[i]+n_i-1
    gap_starts = np.concatenate(([0], np.cumsum(gap_lens)))[:-1]
    pos = np.repeat(starts + 1, gap_lens) + (
        np.arange(int(gap_lens.sum())) - np.repeat(gap_starts, gap_lens)
    )
    full[pos] = gaps
    csum = np.cumsum(full, dtype=np.uint64)
    # Running sum at each block's first slot (== 0 gap). A 0-length
    # block's start equals the NEXT block's slot — or `total` when it
    # trails, which would index past csum — but its base is repeated 0
    # times below, so clipping the index is safe.
    base = csum[np.minimum(starts, total - 1)]
    adjust = firsts - base
    out = csum + np.repeat(adjust, out_lens)
    return out, out_lens


def pfor_encode_many(blocks: list[np.ndarray]) -> list[bytes]:
    """Encode many blocks in one vectorized pass (byte-identical to
    per-block ``pfor_encode``).

    Width choice is replicated exactly via a per-block bit-length
    histogram; low bits of EVERY block (exception-bearing or not) are
    packed per width group in one unpackbits-mirror pass, and all
    blocks' exception streams are varint-encoded in ONE call (varint is
    per-value, so the concatenated encoding equals the concatenation of
    per-block encodings, sliced back apart by summed value byte counts).
    """
    m = len(blocks)
    if m == 0:
        return []
    ns = np.fromiter((len(b) for b in blocks), dtype=np.int64, count=m)
    total = int(ns.sum())
    out: list[bytes | None] = [None] * m
    empty = np.flatnonzero(ns == 0)
    for i in empty:
        out[i] = _HEADER.pack(0, 0, 0)
    if total == 0:
        return out  # type: ignore[return-value]
    vals = np.concatenate([np.ascontiguousarray(b, dtype=np.uint64) for b in blocks if len(b)])
    nz = np.flatnonzero(ns > 0)
    nz_ns = ns[nz]
    starts = np.concatenate(([0], np.cumsum(nz_ns)))[:-1]
    block_of = np.repeat(np.arange(len(nz)), nz_ns)
    bits = _bit_lengths(vals)
    # per-block histogram of bit lengths -> exact _choose_width replica
    # (bincount on a combined key; np.add.at is an order slower)
    hist = np.bincount(block_of * 65 + bits, minlength=len(nz) * 65).reshape(
        len(nz), 65
    )
    n_ok = np.cumsum(hist, axis=1)  # n_ok[:, w] = #values with bits <= w
    widths = np.arange(65)
    n_exc_mat = nz_ns[:, None] - n_ok
    cost = (nz_ns[:, None] * widths + 7) // 8 + n_exc_mat * 4
    w_arr = np.argmin(cost, axis=1).astype(np.int64)  # first (lowest) tie
    n_exc_arr = np.take_along_axis(n_exc_mat, w_arr[:, None], axis=1)[:, 0]

    # packed low bits per block (every block, exception-bearing or not)
    packed_of: dict[int, bytes] = {}
    for w in np.unique(w_arr):
        sel = np.flatnonzero(w_arr == w)
        if w == 0:
            for j in sel:
                packed_of[int(j)] = b""
            continue
        sns = nz_ns[sel]
        packed_bytes = (sns * w + 7) // 8
        byte_base = np.concatenate(([0], np.cumsum(packed_bytes)))[:-1]
        gather_vals = np.concatenate([
            vals[starts[j] : starts[j] + int(nz_ns[j])] for j in sel
        ])
        if w < 64:
            gather_vals = gather_vals & ((_U64_1 << np.uint64(w)) - _U64_1)
        # (N, w) bit matrix in C order == per-value little bit stream;
        # each block's bits are then a CONTIGUOUS slice of the ravel,
        # copied (memcpy) into its byte-aligned slot. Built via a
        # per-bit-position loop with preallocated output: numpy's
        # BROADCAST uint64 shift takes a generic inner loop (~25x
        # slower than the contiguous same-shape shift).
        bitmat = np.empty((len(gather_vals), int(w)), dtype=np.uint8)
        for j in range(int(w)):
            np.bitwise_and(
                gather_vals >> np.uint64(j),
                _U64_1,
                out=bitmat[:, j],
                casting="unsafe",
            )
        flat = bitmat.ravel()
        bitbuf = np.zeros(int(packed_bytes.sum()) * 8, dtype=np.uint8)
        vstart = np.concatenate(([0], np.cumsum(sns)))[:-1]
        for idx in range(len(sel)):
            nbits = int(sns[idx]) * int(w)
            b0 = int(byte_base[idx]) * 8
            f0 = int(vstart[idx]) * int(w)
            bitbuf[b0 : b0 + nbits] = flat[f0 : f0 + nbits]
        packed = np.packbits(bitbuf, bitorder="little").tobytes()
        for idx, j in enumerate(sel):
            s = int(byte_base[idx])
            packed_of[int(j)] = packed[s : s + int(packed_bytes[idx])]

    # exception streams, batched: per block varint(pos_deltas) then
    # varint(high bits); all blocks' values interleaved in that order
    # and encoded with ONE varint_encode, sliced by per-value byte
    # counts (nbytes(v) = max(1, (bitlen+6)//7), the LEB128 width).
    exc_slice: dict[int, bytes] = {}
    eb = np.flatnonzero(n_exc_arr > 0)
    if len(eb):
        w_of_val = w_arr[block_of]
        exc_mask = bits > w_of_val
        exc_pos_global = np.flatnonzero(exc_mask)
        e_block = block_of[exc_pos_global]
        pos_in_block = exc_pos_global - starts[e_block]
        ne = n_exc_arr[eb]
        # deltas: diff within block with prepend=0
        firsts_mask = np.concatenate(([True], e_block[1:] != e_block[:-1]))
        deltas = np.empty(len(pos_in_block), dtype=np.uint64)
        deltas[firsts_mask] = pos_in_block[firsts_mask].astype(np.uint64)
        deltas[~firsts_mask] = (
            pos_in_block[~firsts_mask] - pos_in_block[:-1][~firsts_mask[1:]]
        ).astype(np.uint64)
        highs = vals[exc_pos_global] >> w_of_val[exc_pos_global].astype(np.uint64)
        # interleave [deltas_b0, highs_b0, deltas_b1, highs_b1, ...]
        total_exc = int(ne.sum())
        base2 = np.concatenate(([0], np.cumsum(2 * ne)))[:-1]
        within = np.arange(total_exc) - np.repeat(np.cumsum(ne) - ne, ne)
        pd_idx = np.repeat(base2, ne) + within
        inter = np.empty(2 * total_exc, dtype=np.uint64)
        inter[pd_idx] = deltas
        inter[pd_idx + np.repeat(ne, ne)] = highs
        stream = varint_encode(inter)
        vb = np.maximum(1, (_bit_lengths(inter) + 6) // 7)
        vb_cum = np.concatenate(([0], np.cumsum(vb)))
        stream_base = vb_cum[base2]
        stream_end = vb_cum[base2 + 2 * ne]
        for idx, j in enumerate(eb):
            exc_slice[int(j)] = stream[
                int(stream_base[idx]) : int(stream_end[idx])
            ]

    for j in range(len(nz)):
        out[int(nz[j])] = (
            _HEADER.pack(int(nz_ns[j]), int(w_arr[j]), int(n_exc_arr[j]))
            + packed_of[j]
            + exc_slice.get(j, b"")
        )
    return out  # type: ignore[return-value]


def encode_doc_gaps_many(blocks: list[np.ndarray]) -> list[bytes]:
    """Batched ``encode_doc_gaps``: per-block diff is computed on the
    concatenation with block boundaries fixed up, then one
    ``pfor_encode_many`` pass."""
    m = len(blocks)
    if m == 0:
        return []
    gap_blocks = [
        np.diff(np.ascontiguousarray(b, dtype=np.uint64)) for b in blocks
    ]
    return pfor_encode_many(gap_blocks)
