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


def encode_blocks_bulk(doc_ids: np.ndarray, tfs: np.ndarray,
                       dls: np.ndarray, block_starts: np.ndarray
                       ) -> tuple[list[bytes], list[bytes], list[bytes]]:
    """Encode MANY blocks in three vectorized passes (one varint encode per
    column for the whole batch + exclusive-cumsum slicing), instead of one
    Python call per block — the hot path of the index build.

    ``block_starts`` are row offsets of block beginnings (ascending,
    starting at 0); rows within a block must be doc_id-sorted. The first
    delta of each block is the absolute doc_id, so each block decodes
    independently (identical to per-block ``encode_block``)."""
    n = len(doc_ids)
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    deltas = np.empty(n, dtype=np.uint64)
    deltas[1:] = (doc_ids[1:] - doc_ids[:-1]).astype(np.uint64)
    deltas[block_starts] = doc_ids[block_starts].astype(np.uint64)

    def split(buf: bytes, nbytes: np.ndarray) -> list[bytes]:
        ends = np.cumsum(nbytes)
        bstart_bytes = ends[block_starts] - nbytes[block_starts]
        bend_bytes = np.append(bstart_bytes[1:], len(buf))
        return [buf[int(s):int(e)]
                for s, e in zip(bstart_bytes, bend_bytes)]

    tf_u = np.asarray(tfs, dtype=np.uint64)
    dl_u = np.asarray(dls, dtype=np.uint64)
    doc_parts = split(varint_encode(deltas), varint_nbytes(deltas))
    tf_parts = split(varint_encode(tf_u), varint_nbytes(tf_u))
    dl_parts = split(varint_encode(dl_u), varint_nbytes(dl_u))
    return doc_parts, tf_parts, dl_parts


def decode_blocks_bulk(ns, doc_bytes, tf_bytes=None, dl_bytes=None):
    """Decode MANY blocks in one varint pass per column — the inverse of
    ``encode_blocks_bulk``. ``ns`` holds each block's posting count and
    the byte columns each block's encoded buffer, in block order.

    Returns every block's doc ids concatenated (int64), or the triple
    (doc_ids, tfs, dls) when the tf and dl buffers are given. Each
    block's first delta is its absolute doc id, so one cumsum over the
    whole batch is reset per block by subtracting the running sum the
    block starts from: per block, bitwise-identical to ``decode_block``."""
    ns = np.asarray(ns, dtype=np.int64)
    total = int(ns.sum())
    c = np.cumsum(varint_decode(b"".join(doc_bytes), total).astype(np.int64))
    base = np.zeros(len(ns), dtype=np.int64)
    base[1:] = c[np.cumsum(ns)[:-1] - 1]
    docs = c - np.repeat(base, ns)
    if tf_bytes is None:
        return docs
    return (docs,
            varint_decode(b"".join(tf_bytes), total).astype(np.int64),
            varint_decode(b"".join(dl_bytes), total).astype(np.int64))


def decode_block(doc_bytes: bytes, tf_bytes: bytes, dl_bytes: bytes,
                 n: int | None = None
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one block → (doc_ids int64, tfs int64, dls int64)."""
    deltas = varint_decode(doc_bytes, n).astype(np.int64)
    doc_ids = np.cumsum(deltas)
    tfs = varint_decode(tf_bytes, n).astype(np.int64)
    dls = varint_decode(dl_bytes, n).astype(np.int64)
    return doc_ids, tfs, dls
