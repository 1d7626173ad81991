"""Posting-block codec: hypothesis roundtrips + size sanity."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from review_recommender_spark.index.codec import (decode_block,
                                                  decode_blocks_bulk,
                                                  encode_block,
                                                  encode_blocks_bulk,
                                                  varint_decode,
                                                  varint_encode)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = varint_decode(varint_encode(arr), len(arr))
    assert (out == arr).all()


@settings(max_examples=200, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=10**12), min_size=1,
               max_size=128),
       st.integers(min_value=1, max_value=5000),
       st.integers(min_value=1, max_value=5000))
def test_block_roundtrip(doc_set, tf_seed, dl_seed):
    docs = np.array(sorted(doc_set), dtype=np.int64)
    rng = np.random.default_rng(tf_seed)
    tfs = rng.integers(1, tf_seed + 1, len(docs))
    dls = rng.integers(1, dl_seed + 1, len(docs))
    db, tb, lb = encode_block(docs, tfs, dls)
    d2, t2, l2 = decode_block(db, tb, lb, len(docs))
    assert (d2 == docs).all() and (t2 == tfs).all() and (l2 == dls).all()


def test_compression_beats_fixed_width():
    """Dense doc ids (small gaps) + small tfs must beat 8-byte ints."""
    docs = np.arange(0, 128 * 7, 7, dtype=np.int64) + 10**9
    tfs = np.ones(128, dtype=np.int64)
    dls = np.full(128, 300, dtype=np.int64)
    db, tb, lb = encode_block(docs, tfs, dls)
    total = len(db) + len(tb) + len(lb)
    assert total < 128 * 8  # < one fixed-width column, let alone three
    # gaps of 7 → 1 byte each after the first; tf=1 → 1 byte; dl=300 → 2
    assert len(tb) == 128
    assert len(lb) == 256


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert len(varint_decode(b"")) == 0


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**10), min_size=1,
                max_size=600, unique=True),
       st.integers(min_value=1, max_value=7))
def test_bulk_encode_equals_per_block(doc_list, n_groups):
    """encode_blocks_bulk must be byte-identical to per-block encode_block
    for arbitrary group/block layouts."""
    docs = np.array(sorted(doc_list), dtype=np.int64)
    n = len(docs)
    rng = np.random.default_rng(n)
    tfs = rng.integers(1, 1000, n)
    dls = rng.integers(1, 5000, n)
    # synthesize group starts, then 128-row block starts within groups
    group_starts = np.unique(
        np.concatenate([[0], rng.integers(0, n, n_groups - 1)]))
    starts = set()
    bounds = np.append(group_starts, n)
    for s, e in zip(bounds[:-1], bounds[1:]):
        starts.update(range(int(s), int(e), 128))
    bs = np.array(sorted(starts), dtype=np.int64)
    db, tb, lb = encode_blocks_bulk(docs, tfs, dls, bs)
    ends = np.append(bs[1:], n)
    for i, (s, e) in enumerate(zip(bs, ends)):
        eb, et, el = encode_block(docs[s:e], tfs[s:e], dls[s:e])
        assert db[i] == eb and tb[i] == et and lb[i] == el
        d2, t2, l2 = decode_block(db[i], tb[i], lb[i], int(e - s))
        assert (d2 == docs[s:e]).all()
        assert (t2 == tfs[s:e]).all() and (l2 == dls[s:e]).all()
    d3, t3, l3 = decode_blocks_bulk(ends - bs, db, tb, lb)
    assert (d3 == docs).all() and (t3 == tfs).all() and (l3 == dls).all()
