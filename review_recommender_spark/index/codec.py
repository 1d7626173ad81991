"""Posting-block codec: delta + varint (LEB128), numpy-vectorized.

The reference keeps its "index" as a pickled list-of-token-lists and rebuilds
all statistics in RAM (nlp/12_product_prep.py:85-89); at web scale the index
must be a compressed on-disk structure. Blocks hold ≤ ``block_size`` postings
of one (term, range) group:

  * doc ids: sorted, delta-encoded (first id stored as the first delta from
    0), varint-compressed.
  * term frequencies: varint-compressed.
  * doc lengths: varint-compressed — denormalized into the block so query
    scoring needs **no join against doc_stats** (a 10^12-row join per query
    otherwise; one extra small varint per posting instead).
  * per-block metadata: first/last doc id, max_tf, min_dl → query-time
    score upper bounds for block-max pruning that stay valid for *any*
    (k1, b), since tf/(tf + K(dl)) is increasing in tf and decreasing in dl.

Positional blocks (index/positions.py) share the layout: doc ids as
above, one occurrence count per doc, then every doc's positions as
deltas with the doc's first position absolute. ``encode_blocks_bulk`` /
``decode_blocks_bulk`` handle both with a ``positional`` switch;
``decode_block`` and ``decode_pos_block`` are the per-block references.

Both encode and decode are vectorized numpy (no per-value Python loops);
decode handles a whole concatenated buffer of varints at once.
"""

from __future__ import annotations

import numpy as np


def varint_nbytes(values: np.ndarray) -> np.ndarray:
    """Encoded byte length of each value (vectorized)."""
    vals = np.asarray(values, dtype=np.uint64)
    nbits = np.zeros(len(vals), dtype=np.int64)
    tmp = vals.copy()
    while True:
        alive = tmp > 0
        if not alive.any():
            break
        nbits[alive] += 1
        tmp >>= np.uint64(7)
    return np.maximum(nbits, 1)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a 1-D array of non-negative ints, vectorized."""
    vals = np.asarray(values, dtype=np.uint64)
    n = len(vals)
    if n == 0:
        return b""
    # Number of 7-bit groups per value (at least 1).
    nbits = np.zeros(n, dtype=np.int64)
    tmp = vals.copy()
    while True:
        alive = tmp > 0
        if not alive.any():
            break
        nbits[alive] += 1
        tmp >>= np.uint64(7)
    nbytes = np.maximum(nbits, 1)
    max_b = int(nbytes.max())
    # Byte matrix: column j holds bits [7j, 7j+7) of each value.
    mat = np.zeros((n, max_b), dtype=np.uint8)
    shifted = vals.copy()
    for j in range(max_b):
        mat[:, j] = (shifted & np.uint64(0x7F)).astype(np.uint8)
        shifted >>= np.uint64(7)
    valid = np.arange(max_b)[None, :] < nbytes[:, None]
    # Continuation bit on every byte except the last of each value.
    cont = np.arange(max_b)[None, :] < (nbytes[:, None] - 1)
    mat[cont] |= 0x80
    return mat[valid].tobytes()


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode a buffer of concatenated LEB128 varints into uint64, vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.zeros(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    # Group index of each byte: 0-based running count of completed varints.
    group = np.zeros(len(b), dtype=np.int64)
    np.cumsum(is_end[:-1], out=group[1:])
    n_vals = int(is_end.sum())
    if count is not None and n_vals != count:
        raise ValueError(f"expected {count} varints, found {n_vals}")
    # Position of each byte within its group.
    starts = np.zeros(n_vals, dtype=np.int64)
    ends = np.flatnonzero(is_end)
    starts[1:] = ends[:-1] + 1
    pos = np.arange(len(b)) - starts[group]
    contrib = (b & np.uint64(0x7F)).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    out = np.zeros(n_vals, dtype=np.uint64)
    np.add.at(out, group, contrib)
    return out


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray
                 ) -> tuple[bytes, bytes, bytes]:
    """Encode one block (already sorted by doc_id, ≤ block_size postings)."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    deltas = np.diff(doc_ids, prepend=np.int64(0))
    deltas[0] = doc_ids[0]
    return (varint_encode(deltas.astype(np.uint64)),
            varint_encode(np.asarray(tfs, dtype=np.uint64)),
            varint_encode(np.asarray(dls, dtype=np.uint64)))




def _block_deltas(values: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Consecutive differences of ``values``, with the value itself kept
    at every offset in ``starts`` (so each run decodes on its own)."""
    out = np.empty(len(values), dtype=np.uint64)
    out[1:] = (values[1:] - values[:-1]).astype(np.uint64)
    out[starts] = values[starts].astype(np.uint64)
    return out


def _encode_cut(values: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """One varint encode of ``values``, cut into one buffer per run that
    begins at each offset in ``starts`` (ascending, the first 0)."""
    vals = np.asarray(values, dtype=np.uint64)
    buf = varint_encode(vals)
    off = np.zeros(len(vals) + 1, dtype=np.int64)
    np.cumsum(varint_nbytes(vals), out=off[1:])
    cut = np.append(off[starts], len(buf))
    return [buf[a:b] for a, b in zip(cut[:-1], cut[1:])]


def _run_cumsum(deltas: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Cumulative sum of ``deltas`` restarted at every run of ``lens``
    (each run non-empty): one cumsum over the whole batch, minus the
    running sum each run starts from."""
    c = np.cumsum(deltas)
    base = np.zeros(len(lens), dtype=np.int64)
    base[1:] = c[np.cumsum(lens)[:-1] - 1]
    return c - np.repeat(base, lens)


def encode_blocks_bulk(doc_ids: np.ndarray, counts: np.ndarray,
                       payload: np.ndarray, block_starts: np.ndarray,
                       positional: bool = False
                       ) -> tuple[list[bytes], list[bytes], list[bytes]]:
    """Encode MANY blocks in three vectorized passes (one varint encode per
    column for the whole batch, then byte slicing), instead of one Python
    call per block — the hot path of every block-table build.

    ``doc_ids`` and ``counts`` hold one entry per doc, doc_id-sorted
    within each block; ``block_starts`` are the doc offsets of block
    beginnings (ascending, starting at 0). Each block's first doc-id
    delta is the absolute doc id, so every block decodes independently.
    ``payload`` is one entry per doc (a posting's dl: per block,
    byte-identical to ``encode_block``), or with ``positional`` each
    doc's ``counts`` positions, ascending, concatenated — encoded as
    deltas with each doc's first position absolute."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    bs = np.asarray(block_starts, dtype=np.int64)
    docs = _encode_cut(_block_deltas(doc_ids, bs), bs)
    cnts = _encode_cut(counts, bs)
    if not positional:
        return docs, cnts, _encode_cut(payload, bs)
    counts = np.asarray(counts, dtype=np.int64)
    first = np.zeros(len(counts), dtype=np.int64)   # each doc's first pos
    np.cumsum(counts[:-1], out=first[1:])
    pos = np.asarray(payload, dtype=np.int64)
    return docs, cnts, _encode_cut(_block_deltas(pos, first[counts > 0]),
                                   first[bs])


def decode_blocks_bulk(ns, doc_bytes, count_bytes=None, payload_bytes=None,
                       positional: bool = False):
    """Decode MANY blocks in one varint pass per column — the inverse of
    ``encode_blocks_bulk``. ``ns`` holds each block's doc count and the
    byte columns each block's encoded buffers, in block order.

    Returns every block's doc ids concatenated (int64), or the triple
    (doc_ids, counts, payload) when the other two columns are given;
    with ``positional`` the payload is every doc's positions. Integer
    cumsums restart per block (doc ids) and per doc (positions), so the
    values are bitwise those of ``decode_block`` / ``decode_pos_block``."""
    ns = np.asarray(ns, dtype=np.int64)
    total = int(ns.sum())
    docs = _run_cumsum(
        varint_decode(b"".join(doc_bytes), total).astype(np.int64), ns)
    if count_bytes is None:
        return docs
    counts = varint_decode(b"".join(count_bytes), total).astype(np.int64)
    if not positional:
        return docs, counts, varint_decode(b"".join(payload_bytes),
                                           total).astype(np.int64)
    pdeltas = varint_decode(b"".join(payload_bytes),
                            int(counts.sum())).astype(np.int64)
    return docs, counts, _run_cumsum(pdeltas, counts)


def decode_block(doc_bytes: bytes, tf_bytes: bytes, dl_bytes: bytes,
                 n: int | None = None
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one block → (doc_ids int64, tfs int64, dls int64)."""
    deltas = varint_decode(doc_bytes, n).astype(np.int64)
    doc_ids = np.cumsum(deltas)
    tfs = varint_decode(tf_bytes, n).astype(np.int64)
    dls = varint_decode(dl_bytes, n).astype(np.int64)
    return doc_ids, tfs, dls


def decode_pos_block(doc_bytes: bytes, cnt_bytes: bytes, pos_bytes: bytes,
                     n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one positional block → (doc_ids int64 ascending, counts
    int64, positions int64 flat — each doc's positions ascending): the
    per-block reference the bulk codec is tested against."""
    docs = np.cumsum(varint_decode(doc_bytes, n).astype(np.int64))
    counts = varint_decode(cnt_bytes, n).astype(np.int64)
    pdeltas = varint_decode(pos_bytes, int(counts.sum())).astype(np.int64)
    if not len(pdeltas):
        return docs, counts, pdeltas
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    starts = starts[counts > 0]
    c = np.cumsum(pdeltas)
    # grouped cumsum: subtract each doc-run's incoming prefix
    base = np.zeros(len(pdeltas), dtype=np.int64)
    base[starts] = c[starts] - pdeltas[starts]
    np.maximum.accumulate(base, out=base)
    return docs, counts, c - base
