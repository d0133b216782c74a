"""Round-trip property tests for the delta+varbyte codec (SURVEY.md §5 item 4)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.indexing.codec import (
    decode_block,
    delta_decode,
    delta_encode,
    encode_block,
    encode_blocks,
    varbyte_decode,
    varbyte_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**56 - 1), max_size=200))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert varbyte_decode(varbyte_encode(arr)).tolist() == vals


def test_varbyte_compression_small_gaps():
    arr = np.arange(1000, dtype=np.uint64) % 100
    assert len(varbyte_encode(arr)) == 1000  # 1 byte per small value vs 4 u32


@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=100))
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(vals):
    arr = np.sort(np.array(vals, dtype=np.uint64))
    assert delta_decode(delta_encode(arr)).tolist() == arr.tolist()


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**31),
            st.lists(st.integers(min_value=1, max_value=2**20), min_size=1, max_size=8),
        ),
        max_size=40,
    )
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(postings):
    # unique sorted doc_ids; per-posting sorted positions
    seen, rows = set(), []
    for doc_id, positions in postings:
        if doc_id in seen:
            continue
        seen.add(doc_id)
        rows.append((doc_id, sorted(set(positions))))
    rows.sort()
    doc_ids = np.array([r[0] for r in rows], dtype=np.uint64)
    tfs = np.array([len(r[1]) for r in rows], dtype=np.uint64)
    flat = np.array([p for r in rows for p in r[1]], dtype=np.uint64)

    d, t, p = decode_block(encode_block(doc_ids, tfs, flat))
    assert d.tolist() == doc_ids.tolist()
    assert t.tolist() == tfs.tolist()
    assert p.tolist() == flat.tolist()


def test_block_empty():
    z = np.empty(0, dtype=np.uint64)
    d, t, p = decode_block(encode_block(z, z, z))
    assert d.size == 0 and t.size == 0 and p.size == 0


_BIG = 2**56 - 1


@st.composite
def _partitions(draw):
    """A partition's sorted postings as term runs cut into blocks: runs of
    1-300 postings, cut at BLOCK_SIZE-style strides of 1-128 (1-posting
    and full 128-posting blocks included), with large tfs and doc_ids /
    positions up to 56 bits."""
    doc_ids, tfs, flat, block_starts = [], [], [], []
    for _ in range(draw(st.integers(1, 4))):
        n = draw(st.integers(1, 300))
        stride = draw(st.sampled_from([1, 2, 127, 128]))
        big = draw(st.booleans())
        top = _BIG if big else 2**20
        docs = sorted(draw(st.sets(st.integers(0, top), min_size=n, max_size=n)))
        for i, d in enumerate(docs):
            if i % stride == 0:
                block_starts.append(len(doc_ids))
            tf = draw(st.sampled_from([1, 2, 3, 200])) if i < 3 else 1 + i % 3
            pos = draw(st.integers(0, top - tf))
            doc_ids.append(d)
            tfs.append(tf)
            flat.extend(range(pos, pos + tf))
    return (
        np.array(doc_ids, dtype=np.uint64),
        np.array(tfs, dtype=np.uint64),
        np.array(flat, dtype=np.uint64),
        np.array(block_starts, dtype=np.int64),
    )


def _reference_blob(doc_ids, tfs, positions) -> bytes:
    """The block layout written out in plain Python: n, then per posting
    doc_gap, tf and the posting's position gaps, each value as 7-bit groups
    low first with the high bit on its last byte."""
    stream, prev, off = [len(doc_ids)], 0, 0
    for d, tf in zip(doc_ids.tolist(), tfs.tolist()):
        pos = positions[off : off + tf].tolist()
        stream += [d - prev, tf] + [b - a for a, b in zip([0] + pos, pos)]
        prev, off = d, off + tf
    out = bytearray()
    for v in stream:
        while v >= 128:
            out.append(v & 0x7F)
            v >>= 7
        out.append(v | 0x80)
    return bytes(out)


@given(_partitions())
@settings(max_examples=60, deadline=None)
def test_encode_blocks_equals_per_block_layout(part):
    doc_ids, tfs, flat, starts = part
    data, offsets = encode_blocks(doc_ids, tfs, flat, starts)
    ends = np.append(starts[1:], doc_ids.size)
    pos_off = np.concatenate(([0], np.cumsum(tfs))).astype(np.int64)
    blobs = [
        _reference_blob(doc_ids[s:e], tfs[s:e], flat[pos_off[s] : pos_off[e]])
        for s, e in zip(starts, ends)
    ]
    assert data.tobytes() == b"".join(blobs)
    assert offsets.tolist() == np.cumsum([0] + [len(b) for b in blobs]).tolist()
    for b, s, e in zip(blobs, starts, ends):
        assert encode_block(doc_ids[s:e], tfs[s:e], flat[pos_off[s] : pos_off[e]]) == b
        d, t, p = decode_block(b)
        assert d.tolist() == doc_ids[s:e].tolist()
        assert t.tolist() == tfs[s:e].tolist()
        assert p.tolist() == flat[pos_off[s] : pos_off[e]].tolist()


def test_encode_block_layout_is_fixed():
    # pins the interleaved (n | doc_gap, tf, pos_gaps...) record layout
    blob = encode_block(
        np.array([5, 300], dtype=np.uint64),
        np.array([2, 1], dtype=np.uint64),
        np.array([3, 10, 129], dtype=np.uint64),
    )
    assert blob == varbyte_encode(np.array([2, 5, 2, 3, 7, 295, 1, 129], dtype=np.uint64))
