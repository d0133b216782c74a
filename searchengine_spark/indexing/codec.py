"""Delta + varbyte posting-list codec (SURVEY.md §2 B4, north rule).

The reference gap-encodes docIDs and positions but stores every field as a
fixed 4-byte u32 (reference: engine/indexing/spimi.py:145-187).  Here the
same logical record — ``df, then per posting (doc_gap, tf, pos_gaps...)`` —
is compressed with classic varbyte (7 data bits per byte, high bit set on the
terminal byte of each value), giving ~1 byte per small gap instead of 4.

Everything is vectorized numpy, run inside the build's Arrow kernels on
executors (no per-row Python, per the north rule).  The encoder is
whole-column: :func:`encode_blocks` lays every block of a partition out as
one value stream and varbyte-encodes it in one pass, cutting the block blobs
at byte offsets (the whole-column codec idea of the columnar inverted index
paper, ICDE 2025, PAPERS.md, kept to today's byte layout); ``encode_block``
is its one-block case.  Decode walks one block's record starts over plain
ints and rebuilds positions with one segmented cumsum.  Values must be
< 2**56 (docID gaps, tfs and position gaps are far below).
"""

from __future__ import annotations

import numpy as np

_SEVEN = np.uint64(7)
_MASK7 = np.uint64(0x7F)
_TERM_BIT = np.uint8(0x80)


def _varbyte_bytes(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Varbyte-encode a uint64 array into one uint8 array; also returns the
    exclusive end byte of every value (``ends[i]``), so a caller can cut the
    byte stream at any value boundary — varbyte is a per-value code, so the
    bytes of a slice of values equal the encoding of that slice."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # bytes needed per value: ceil(bit_length/7), min 1 (<= 8 thresholds
    # for 56-bit values)
    nbytes = np.ones(n, dtype=np.int64)
    vmax = int(v.max())
    k = 1
    while vmax >> (7 * k):
        nbytes += v >= np.uint64(1 << (7 * k))
        k += 1
    ends = np.cumsum(nbytes)
    out = np.empty(int(ends[-1]), dtype=np.uint8)
    starts = ends - nbytes
    out[starts] = (v & _MASK7).astype(np.uint8)
    # byte slot k of the values that still have one, narrowing the working
    # set each round (most gaps fit in one byte)
    live = nbytes > 1
    rest, at, nb = v[live] >> _SEVEN, starts[live], nbytes[live]
    k = 1
    while rest.size:
        out[at + k] = (rest & _MASK7).astype(np.uint8)
        k += 1
        live = nb > k
        rest, at, nb = rest[live] >> _SEVEN, at[live], nb[live]
    out[ends - 1] |= _TERM_BIT
    return out, ends


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a uint64 array (little-endian 7-bit
    groups; high bit marks the final byte of each value)."""
    return _varbyte_bytes(values)[0].tobytes()


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Inverse of :func:`varbyte_encode`; returns uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    term = (b & _TERM_BIT) > 0
    # first byte of every value: byte 0 and every byte after a terminator
    starts = np.flatnonzero(np.concatenate(([True], term[:-1])))
    grp = np.cumsum(np.concatenate(([0], term[:-1])), dtype=np.int64)
    within = np.arange(b.size, dtype=np.int64) - starts[grp]
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (
        _SEVEN * within.astype(np.uint64)
    )
    # the 7-bit groups of one value occupy disjoint bits: a segmented sum
    # over each value's contiguous bytes is their OR
    return np.add.reduceat(contrib, starts)


def delta_encode(sorted_vals: np.ndarray, first_prev: int = 0) -> np.ndarray:
    """Gaps of a sorted array (first gap relative to ``first_prev``) —
    the reference's gap scheme (spimi.py:160-186)."""
    v = np.asarray(sorted_vals, dtype=np.uint64)
    out = np.empty_like(v)
    if v.size:
        out[0] = v[0] - np.uint64(first_prev)
        np.subtract(v[1:], v[:-1], out=out[1:])
    return out


def delta_decode(gaps: np.ndarray, first_prev: int = 0) -> np.ndarray:
    g = np.asarray(gaps, dtype=np.uint64)
    return np.cumsum(g, dtype=np.uint64) + np.uint64(first_prev)


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    positions_flat: np.ndarray,
    block_starts: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Every posting block of a partition -> one varbyte byte stream.

    ``doc_ids``/``tfs`` are parallel per-posting arrays; ``positions_flat``
    concatenates each posting's sorted positions (length ``tfs.sum()``);
    ``block_starts`` are the ascending posting indices where blocks begin
    (the first is 0; block b spans ``block_starts[b]`` up to the next
    start).  Returns ``(data, byte_offsets)``: a uint8 array and B+1 int64
    offsets, with block b's blob at ``data[byte_offsets[b]:byte_offsets[b+1]]``.

    Block layout mirrors the reference record (spimi.py:145-187) minus the
    term header (the term is a table column):
        n_postings, then per posting: doc_gap, tf, pos_gap * tf
    doc gaps restart at every block (the first gap is the doc_id itself)
    and position gaps restart at every posting.  The whole partition is one
    interleaved value stream and ONE varbyte pass; block blobs are cut from
    it at the header values' byte offsets, so every blob is byte-identical
    to encoding its block alone."""
    doc_ids = np.asarray(doc_ids, dtype=np.uint64)
    tfs = np.asarray(tfs, dtype=np.uint64)
    positions_flat = np.asarray(positions_flat, dtype=np.uint64)
    block_starts = np.asarray(block_starts, dtype=np.int64)
    n = doc_ids.size
    n_blocks = block_starts.size
    block_len = np.diff(np.append(block_starts, n))
    # exclusive position offset of every posting (and the total at [n])
    pos_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tfs, out=pos_off[1:])

    doc_gaps = doc_ids.copy()
    if n:
        doc_gaps[1:] -= doc_ids[:-1]
        live = block_starts[block_len > 0]
        doc_gaps[live] = doc_ids[live]
    pos_gaps = positions_flat.copy()
    if positions_flat.size:
        pos_gaps[1:] -= positions_flat[:-1]
        first = pos_off[:-1][tfs > 0]
        pos_gaps[first] = positions_flat[first]

    # stream slots: block b's header sits after every earlier block's
    # header, 2 slots per earlier posting and every earlier position
    block_of = np.repeat(np.arange(n_blocks, dtype=np.int64), block_len)
    header_at = np.arange(n_blocks, dtype=np.int64) + 2 * block_starts + pos_off[block_starts]
    rec_start = block_of + 1 + 2 * np.arange(n, dtype=np.int64) + pos_off[:-1]
    total = n_blocks + 2 * n + positions_flat.size
    stream = np.empty(total, dtype=np.uint64)
    stream[header_at] = block_len
    stream[rec_start] = doc_gaps
    stream[rec_start + 1] = tfs
    if positions_flat.size:
        mask = np.ones(total, dtype=bool)
        mask[header_at] = False
        mask[rec_start] = False
        mask[rec_start + 1] = False
        stream[mask] = pos_gaps
    data, ends = _varbyte_bytes(stream)
    byte_offsets = np.empty(n_blocks + 1, dtype=np.int64)
    # a blob starts where the value before its header ends
    byte_offsets[:-1] = np.where(header_at > 0, ends[header_at - 1], 0)
    byte_offsets[-1] = data.size
    return data, byte_offsets


def encode_block(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    positions_flat: np.ndarray,
) -> bytes:
    """One posting block -> one varbyte blob (see :func:`encode_blocks` for
    the layout)."""
    data, _ = encode_blocks(doc_ids, tfs, positions_flat, np.zeros(1, dtype=np.int64))
    return data.tobytes()


def decode_block(blob: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_block` ->
    (doc_ids, tfs, positions_flat)."""
    stream = varbyte_decode(blob)
    if stream.size == 0:
        z = np.empty(0, dtype=np.uint64)
        return z, z, z
    vals = stream.tolist()
    n = vals[0]
    # walk record starts (data-dependent: each record is 2 + tf slots) over
    # plain Python ints — bounded by the block size, default 128
    rec = [0] * n
    off = 1
    for i in range(n):
        rec[i] = off
        off += 2 + vals[off + 1]
    rec_start = np.array(rec, dtype=np.int64)
    doc_ids = np.cumsum(stream[rec_start], dtype=np.uint64)
    tfs = stream[rec_start + 1]
    # position gaps are every slot that is not the header, a doc gap or a
    # tf; one cumsum over all of them, re-based at each posting's start,
    # undoes the per-posting delta
    mask = np.ones(stream.size, dtype=bool)
    mask[0] = False
    mask[rec_start] = False
    mask[rec_start + 1] = False
    pos_gaps = stream[mask]
    if not pos_gaps.size:
        return doc_ids, tfs, pos_gaps
    cs = np.cumsum(pos_gaps, dtype=np.uint64)
    tf_i = tfs.astype(np.int64)
    has = tf_i > 0
    first = (np.cumsum(tf_i) - tf_i)[has]
    positions_flat = cs - np.repeat(cs[first] - pos_gaps[first], tf_i[has])
    return doc_ids, tfs, positions_flat
