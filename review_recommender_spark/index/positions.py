"""Positional postings + phrase matching over the inverted index.

The POSTINGS table stores (doc, tf, dl) — enough for BM25, blind to WHERE
in a document each term occurs. This module adds an OPTIONAL ``positions``
table to an index root (the classic positional-index extension of a
full-text engine), plus the phrase-query operator it enables. The
reference has no positional structure (its "index" is a pickled
list-of-token-lists, nlp/12_product_prep.py:85-89, and all its queries are
bag-of-words); this is an engine capability beyond parity, built
Spark-first.

Design:

  * SAME layout discipline as POSTINGS: rows are (term, range_id) block
    groups, hive-partitioned by ``term_bucket`` (directory pruning for
    query terms), shuffled on the PAIR (term, range_id) so a head term's
    positions are split across reducers by doc-range — the identical
    unconditional skew bound Stage C uses (index/build.py).
  * SAME input: the Stage A checkpoint (LOCAL_TF — one packed
    (doc_id, dl, toks) row per doc), so positions are token-for-token
    consistent with the postings the index scores, and a positions build
    re-reads the tokenize output instead of re-tokenizing 100 TB.
  * MAP-SIDE COMBINE like Stage C 'packed': scan tasks locally sort
    their (term, range, doc, pos) occurrences and emit ONE partial row
    per (term, range) with packed ragged arrays; the shuffle moves
    ~postings-sized rows (plus the position payload, which is the data),
    and the reducer merges pre-sorted partials.

Positions are 0-based offsets into the K1-FILTERED token stream — the
stream the index itself is built from. Stoplist words and 1-char tokens do
not occupy offsets, so a phrase matches across removed stopwords exactly
as a positional index over a stopped corpus classically does ("wireless
headphones" matches "wireless THE headphones").

Block format (delta + varint, reusing the postings codec primitives):
  doc_bytes: doc-id deltas (first absolute) — one per doc in the block
  cnt_bytes: per-doc position count
  pos_bytes: per-doc position deltas, each doc's first position absolute
Block metadata (n docs, first/last doc id) keeps the same range/bucket
pruning surface as POSTINGS blocks.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..functions.tokenize import tokenize_k1_py
from .build import LOCAL_TF, InvertedIndex, term_bucket_col, term_bucket_py
from .codec import varint_decode, varint_encode, varint_nbytes
from .tableio import TableIO

POSITIONS = "positions"

POS_BLOCK_SCHEMA = ("term string, range_id long, block_id int, n int, "
                    "first_doc_id long, last_doc_id long, "
                    "doc_bytes binary, cnt_bytes binary, pos_bytes binary")

POS_PARTIAL_SCHEMA = ("term string, range_id long, n int, doc_arr binary, "
                      "cnt_arr binary, pos_arr binary")

# (doc, pos) pairs are packed into one int64 key for the vectorized phrase
# intersection: doc * _POS_MULT + pos. Positions are < token_cap (5000) <
# _POS_MULT, and doc ids stay below 2^63 / _POS_MULT ≈ 1.1e15 — comfortably
# above the 10^12-doc design point.
_POS_MULT = np.int64(1) << np.int64(13)


# --------------------------------------------------------------- codec

def encode_pos_blocks_bulk(doc_ids: np.ndarray, counts: np.ndarray,
                           pos_flat: np.ndarray, block_starts: np.ndarray
                           ) -> tuple[list[bytes], list[bytes], list[bytes]]:
    """Encode MANY positional blocks in three vectorized varint passes
    (the ``encode_blocks_bulk`` pattern). ``doc_ids``/``counts`` are
    per-doc (doc_ids ascending within a block, unique per group);
    ``pos_flat`` concatenates each doc's ascending positions;
    ``block_starts`` are DOC-row offsets of block beginnings."""
    n = len(doc_ids)
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    pos_flat = np.asarray(pos_flat, dtype=np.int64)
    # doc-id deltas, first of each block absolute
    deltas = np.empty(n, dtype=np.uint64)
    deltas[1:] = (doc_ids[1:] - doc_ids[:-1]).astype(np.uint64)
    deltas[block_starts] = doc_ids[block_starts].astype(np.uint64)
    # position deltas, first of each DOC absolute
    doc_starts = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=doc_starts[1:])
    pdeltas = np.empty(len(pos_flat), dtype=np.uint64)
    if len(pos_flat):
        pdeltas[1:] = (pos_flat[1:] - pos_flat[:-1]).astype(np.uint64)
        pdeltas[doc_starts[counts > 0]] = \
            pos_flat[doc_starts[counts > 0]].astype(np.uint64)
    # one varint encode per column for the whole batch, then byte-slice
    doc_buf = varint_encode(deltas)
    cnt_buf = varint_encode(counts.astype(np.uint64))
    pos_buf = varint_encode(pdeltas)
    doc_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(varint_nbytes(deltas), out=doc_off[1:])
    cnt_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(varint_nbytes(counts.astype(np.uint64)), out=cnt_off[1:])
    pos_off = np.zeros(len(pos_flat) + 1, dtype=np.int64)
    np.cumsum(varint_nbytes(pdeltas), out=pos_off[1:])
    bs = np.append(block_starts, n)
    flat_bs = doc_starts[bs[:-1]] if n else np.zeros(0, dtype=np.int64)
    flat_bs = np.append(flat_bs, len(pos_flat))
    return ([doc_buf[doc_off[a]:doc_off[b]]
             for a, b in zip(bs[:-1], bs[1:])],
            [cnt_buf[cnt_off[a]:cnt_off[b]]
             for a, b in zip(bs[:-1], bs[1:])],
            [pos_buf[pos_off[a]:pos_off[b]]
             for a, b in zip(flat_bs[:-1], flat_bs[1:])])


def decode_pos_block(doc_bytes: bytes, cnt_bytes: bytes, pos_bytes: bytes,
                     n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One block → (doc_ids int64 ascending, counts int64, positions int64
    flat — each doc's positions ascending)."""
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


def _pos_blocks_to_partials(purge_ids=None):
    """Inverse of the positions encode for merge purposes: decode
    persisted position-block rows back into ``POS_PARTIAL_SCHEMA`` rows
    (one partial per block — the merge kernel accepts any granularity).
    BULK-vectorized with the same chunked one-varint-pass-per-column
    pattern as ``build._blocks_to_partials`` (chunks sized to stay in
    cache-hot pages); ``purge_ids`` (sorted int64) drops those docs'
    positions during the decode — the delete/upsert half of incremental
    positions maintenance."""
    purge = (np.asarray(purge_ids, dtype=np.int64)
             if purge_ids is not None else None)
    chunk_rows = 2048

    def unpack(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for big in it:
            for lo in range(0, len(big), chunk_rows):
                out = _unpack_chunk(big.iloc[lo:lo + chunk_rows])
                if out is not None:
                    yield out

    def _unpack_chunk(pdf: pd.DataFrame) -> pd.DataFrame | None:
        if not len(pdf):
            return None
        ns = pdf["n"].to_numpy(dtype=np.int64)           # docs per block
        total = int(ns.sum())
        deltas = varint_decode(
            b"".join(pdf["doc_bytes"]), total).astype(np.int64)
        bstarts0 = np.concatenate([[0], np.cumsum(ns)[:-1]])
        c = np.cumsum(deltas)
        base = np.zeros(len(ns), dtype=np.int64)
        base[1:] = c[bstarts0[1:] - 1]
        docs = c - np.repeat(base, ns)
        counts = varint_decode(
            b"".join(pdf["cnt_bytes"]), total).astype(np.int64)
        totpos = int(counts.sum())
        pdeltas = varint_decode(
            b"".join(pdf["pos_bytes"]), totpos).astype(np.int64)
        # positions: grouped cumsum resetting at each DOC start
        dstarts = np.zeros(total, dtype=np.int64)
        np.cumsum(counts[:-1], out=dstarts[1:])
        pc = np.cumsum(pdeltas)
        pbase = np.zeros(totpos, dtype=np.int64)
        s = dstarts[counts > 0]
        pbase[s] = pc[s] - pdeltas[s]
        np.maximum.accumulate(pbase, out=pbase)
        pos = (pc - pbase).astype(np.int32)
        if purge is not None and len(purge):
            keep_doc = ~np.isin(docs, purge)
            pos = pos[np.repeat(keep_doc, counts)]
            gid = np.repeat(np.arange(len(ns)), ns)
            ns = np.bincount(gid[keep_doc], minlength=len(ns)) \
                .astype(np.int64)
            docs, counts = docs[keep_doc], counts[keep_doc]
        ends = np.cumsum(ns)
        bstarts = ends - ns
        fcum = np.zeros(len(docs) + 1, dtype=np.int64)
        np.cumsum(counts, out=fcum[1:])
        sel = np.flatnonzero(ns > 0)
        if not len(sel):
            return None
        counts32 = counts.astype(np.int32)
        return pd.DataFrame({
            "term": pdf["term"].to_numpy()[sel],
            "range_id": pdf["range_id"].to_numpy()[sel],
            "n": ns[sel].astype(np.int32),
            "doc_arr": [docs[bstarts[i]:ends[i]].tobytes() for i in sel],
            "cnt_arr": [counts32[bstarts[i]:ends[i]].tobytes()
                        for i in sel],
            "pos_arr": [pos[fcum[bstarts[i]]:fcum[ends[i]]].tobytes()
                        for i in sel],
        })

    return unpack


# --------------------------------------------------------------- build

def _pack_pos_partials(chunk_rows: int = 2_000_000):
    """Map-side combine: (doc_id, range_id, pos, term) occurrence rows →
    one partial per (term, range_id) with packed ragged arrays
    (doc_arr int64 per doc, cnt_arr int32 per doc, pos_arr int32 flat).
    A doc split across chunk flushes yields two partials for the same
    (group, doc); the merge kernel re-sorts and re-concatenates."""

    def pack(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:

        def flush(frames: list[pd.DataFrame]) -> pd.DataFrame:
            pdf = (pd.concat(frames, ignore_index=True)
                   if len(frames) > 1 else frames[0])
            codes, uniq = pd.factorize(pdf["term"].to_numpy())
            r = pdf["range_id"].to_numpy()
            d = pdf["doc_id"].to_numpy()
            p = pdf["pos"].to_numpy(dtype=np.int32)
            order = np.lexsort((p, d, r, codes))
            codes, r, d, p = codes[order], r[order], d[order], p[order]
            m = len(d)
            dchange = np.empty(m, dtype=bool)
            dchange[0] = True
            dchange[1:] = ((codes[1:] != codes[:-1]) | (r[1:] != r[:-1])
                           | (d[1:] != d[:-1]))
            druns = np.flatnonzero(dchange)
            doc_ids = d[druns]
            counts = np.diff(np.append(druns, m)).astype(np.int32)
            gcodes, granges = codes[druns], r[druns]
            gchange = np.empty(len(druns), dtype=bool)
            gchange[0] = True
            gchange[1:] = ((gcodes[1:] != gcodes[:-1])
                           | (granges[1:] != granges[:-1]))
            gs = np.flatnonzero(gchange)
            ge = np.append(gs[1:], len(druns))
            flat = np.zeros(len(druns) + 1, dtype=np.int64)
            np.cumsum(counts, out=flat[1:])
            return pd.DataFrame({
                "term": uniq[gcodes[gs]],
                "range_id": granges[gs],
                "n": (ge - gs).astype(np.int32),
                "doc_arr": [doc_ids[a:b].tobytes() for a, b in zip(gs, ge)],
                "cnt_arr": [counts[a:b].tobytes() for a, b in zip(gs, ge)],
                "pos_arr": [p[flat[a]:flat[b]].tobytes()
                            for a, b in zip(gs, ge)],
            })

        buf: list[pd.DataFrame] = []
        nbuf = 0
        for pdf in it:
            if not len(pdf):
                continue
            buf.append(pdf)
            nbuf += len(pdf)
            if nbuf >= chunk_rows:
                yield flush(buf)
                buf, nbuf = [], 0
        if buf:
            yield flush(buf)

    return pack


def _pack_pos_partials_arrow(shift: int, chunk_tokens: int = 2_000_000):
    """Map-side combine reading the PACKED checkpoint rows directly
    (``mapInArrow`` over (doc_id, toks)) — r7 form of
    ``_pack_pos_partials``, mirroring ``build._pack_partials_arrow``:
    no JVM posexplode, no occurrence-row Arrow transfer; positions are
    each token's offset inside its doc's kept-token list (the same
    coordinate posexplode produced). Partial content is identical, so
    the merged positional blocks stay byte-identical
    (tests/test_positions.py gates vs the delta-merge rebuild)."""

    def pack(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import pyarrow as pa
        import pyarrow.compute as pc

        def flush(batches: list) -> "pa.RecordBatch | None":
            doc = np.concatenate([b.column(0).to_numpy(
                zero_copy_only=False) for b in batches])
            toks = pa.chunked_array([b.column(1) for b in batches]) \
                .combine_chunks()
            offs = toks.offsets.to_numpy(zero_copy_only=False)
            tok_counts = np.diff(offs)
            m = int(tok_counts.sum())
            if m == 0:
                return None
            dic = pc.dictionary_encode(toks.values)
            codes = dic.indices.to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            uniq = np.asarray(dic.dictionary.to_pandas(), dtype=object)
            d = np.repeat(doc, tok_counts)
            r = d >> np.int64(shift)
            # position = offset within the doc's kept-token list
            starts = np.repeat(offs[:-1], tok_counts)
            p = (np.arange(m, dtype=np.int64) - starts).astype(np.int32)
            order = np.lexsort((p, d, r, codes))
            codes, r, d, p = codes[order], r[order], d[order], p[order]
            dchange = np.empty(m, dtype=bool)
            dchange[0] = True
            dchange[1:] = ((codes[1:] != codes[:-1]) | (r[1:] != r[:-1])
                           | (d[1:] != d[:-1]))
            druns = np.flatnonzero(dchange)
            doc_ids = d[druns]
            counts = np.diff(np.append(druns, m)).astype(np.int32)
            gcodes, granges = codes[druns], r[druns]
            gchange = np.empty(len(druns), dtype=bool)
            gchange[0] = True
            gchange[1:] = ((gcodes[1:] != gcodes[:-1])
                           | (granges[1:] != granges[:-1]))
            gs = np.flatnonzero(gchange)
            ge = np.append(gs[1:], len(druns))
            flat = np.zeros(len(druns) + 1, dtype=np.int64)
            np.cumsum(counts, out=flat[1:])
            return pa.record_batch([
                pa.array(uniq[gcodes[gs]], type=pa.string()),
                pa.array(granges[gs], type=pa.int64()),
                pa.array((ge - gs).astype(np.int32), type=pa.int32()),
                pa.array([doc_ids[a:b].tobytes() for a, b in zip(gs, ge)],
                         type=pa.binary()),
                pa.array([counts[a:b].tobytes() for a, b in zip(gs, ge)],
                         type=pa.binary()),
                pa.array([p[flat[a]:flat[b]].tobytes()
                          for a, b in zip(gs, ge)], type=pa.binary()),
            ], names=["term", "range_id", "n",
                      "doc_arr", "cnt_arr", "pos_arr"])

        bufs: list = []
        ntok = 0
        for b in it:
            if b.num_rows == 0:
                continue
            bufs.append(b)
            ntok += len(b.column(1).flatten())
            if ntok >= chunk_tokens:
                out = flush(bufs)
                if out is not None:
                    yield out
                bufs, ntok = [], 0
        if bufs:
            out = flush(bufs)
            if out is not None:
                yield out

    return pack


def _merge_encode_pos_partials(block_size: int):
    """Reduce side: partials arrive hash-partitioned by (term, range_id)
    and JVM-sorted on those keys; each group's ragged arrays are
    concatenated, re-sorted by (doc, pos) (chunk-split docs re-merge), and
    block-encoded — ≤ ``block_size`` DOCS per block, blocks never spanning
    a group. Vectorized across all groups of a batch like
    ``_merge_encode_partials``."""

    def merge(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None

        def merge_groups(pdf: pd.DataFrame, flush_all: bool
                         ) -> tuple[pd.DataFrame | None, pd.DataFrame | None]:
            if len(pdf) == 0:
                return None, None
            tcol = pdf["term"].to_numpy()
            rcol = pdf["range_id"].to_numpy()
            change = np.empty(len(pdf), dtype=bool)
            change[0] = True
            change[1:] = (tcol[1:] != tcol[:-1]) | (rcol[1:] != rcol[:-1])
            remainder = None
            if not flush_all:
                last_start = int(np.flatnonzero(change)[-1])
                remainder = pdf.iloc[last_start:]
                pdf = pdf.iloc[:last_start]
                if len(pdf) == 0:
                    return remainder, None
                tcol, rcol, change = (tcol[:last_start], rcol[:last_start],
                                      change[:last_start])
            nrow = pdf["n"].to_numpy(dtype=np.int64)
            docs = np.frombuffer(b"".join(pdf["doc_arr"]), dtype=np.int64)
            counts = np.frombuffer(b"".join(pdf["cnt_arr"]),
                                   dtype=np.int32).astype(np.int64)
            pos = np.frombuffer(b"".join(pdf["pos_arr"]),
                                dtype=np.int32).astype(np.int64)
            row_gid = np.cumsum(change) - 1
            gid = np.repeat(row_gid, nrow)          # per doc-run
            # expand to per-position, sort (gid, doc, pos) — within a
            # partial everything is already ascending, so this is a
            # near-sorted merge of ≤ n_partials runs
            pgid = np.repeat(gid, counts)
            pdoc = np.repeat(docs, counts)
            order = np.lexsort((pos, pdoc, pgid))
            pgid, pdoc, pos = pgid[order], pdoc[order], pos[order]
            dchange = np.empty(len(pdoc), dtype=bool)
            if not len(pdoc):
                return remainder, None
            dchange[0] = True
            dchange[1:] = (pgid[1:] != pgid[:-1]) | (pdoc[1:] != pdoc[:-1])
            druns = np.flatnonzero(dchange)
            doc_ids = pdoc[druns]
            mcounts = np.diff(np.append(druns, len(pdoc))).astype(np.int64)
            post_gid = pgid[druns]
            gchange = np.empty(len(druns), dtype=bool)
            gchange[0] = True
            gchange[1:] = post_gid[1:] != post_gid[:-1]
            # block starts: every block_size docs within a group
            idx = np.arange(len(druns), dtype=np.int64)
            gstart = idx[gchange][np.cumsum(gchange) - 1]
            rel = idx - gstart
            bs = np.flatnonzero((rel % block_size) == 0)
            bend = np.append(bs[1:], len(druns))
            db, cb, pb = encode_pos_blocks_bulk(doc_ids, mcounts, pos, bs)
            lead = np.flatnonzero(change)
            out = pd.DataFrame({
                "term": tcol[lead][post_gid[bs]],
                "range_id": rcol[lead][post_gid[bs]],
                "block_id": (rel[bs] // block_size).astype(np.int32),
                "n": (bend - bs).astype(np.int32),
                "first_doc_id": doc_ids[bs],
                "last_doc_id": doc_ids[bend - 1],
                "doc_bytes": db,
                "cnt_bytes": cb,
                "pos_bytes": pb,
            })
            return remainder, out

        for pdf in it:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            pending, out = merge_groups(pdf, flush_all=False)
            if out is not None and len(out):
                yield out
        if pending is not None and len(pending):
            _, out = merge_groups(pending, flush_all=True)
            if out is not None and len(out):
                yield out

    return merge


def build_positions(spark: SparkSession, io: TableIO,
                    cfg: EngineConfig | None = None,
                    shuffle_partitions: int | None = None) -> None:
    """Build the optional ``positions`` table for an index root whose
    Stage A checkpoint (LOCAL_TF) exists — i.e. after (or alongside)
    ``build_index`` on the same ``io``. One extra (term, range_id)-keyed
    shuffle over the already-tokenized checkpoint; no re-tokenize, no
    interaction with the postings tables (byte-identity of POSTINGS is
    untouched — gated in tests/test_positions.py)."""
    cfg = cfg or EngineConfig()
    if cfg.index.token_cap > int(_POS_MULT):
        raise ValueError(
            f"build_positions: token_cap {cfg.index.token_cap} exceeds "
            f"the phrase kernel's position radix {int(_POS_MULT)} — "
            f"raise _POS_MULT (doc ids then bound at 2^63/radix)")
    if not io.exists(LOCAL_TF):
        raise FileNotFoundError(
            f"positions build needs the {LOCAL_TF} checkpoint under "
            f"{io.root}; run build_index first (it is retained for "
            f"exactly this kind of derived build)")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions"))
    local_tf = io.read(spark, LOCAL_TF)
    # r7: pack directly from the packed checkpoint rows — no JVM
    # posexplode, no occurrence-row Arrow transfer (_pack_pos_partials
    # remains for occurrence-row inputs, e.g. tests)
    partials = (local_tf.select("doc_id", "toks")
                .mapInArrow(
                    _pack_pos_partials_arrow(cfg.index.range_shift),
                    schema=POS_PARTIAL_SCHEMA))
    encoded = (partials.repartition(shuffle_partitions, "term", "range_id")
               .sortWithinPartitions("term", "range_id")
               .mapInPandas(_merge_encode_pos_partials(cfg.index.block_size),
                            schema=POS_BLOCK_SCHEMA))
    encoded = encoded.withColumn(
        "term_bucket", term_bucket_col(F.col("term"),
                                       cfg.index.term_buckets))
    encoded = encoded.repartition(cfg.index.term_buckets, "term_bucket")
    io.write(encoded, POSITIONS, partition_by=["term_bucket"],
             lineage={"parent": io.current_snapshot(LOCAL_TF)["snapshot_id"],
                      "shuffle_partitions": shuffle_partitions},
             metrics={})


# --------------------------------------------------------------- query

def _decode_pos_rows_bulk(it):
    """Gather a kernel's position-block rows and decode them in ONE
    varint pass per column (the ``_pos_blocks_to_partials`` pattern,
    r7: replaces the per-row ``decode_pos_block`` loop). Returns
    ``(keys, code_per_pos, uniq_terms)`` — packed ``doc·2^13 + pos``
    int64 keys for every position, each position's term code, and the
    factorized term list — or None when the partition is empty.
    Identical values to the per-row decode: integer cumsums reset per
    block/doc via base subtraction."""
    frames = [pdf for pdf in it if len(pdf)]
    if not frames:
        return None
    pdf = frames[0] if len(frames) == 1 \
        else pd.concat(frames, ignore_index=True)
    ns = pdf["n"].to_numpy(dtype=np.int64)            # docs per block
    total = int(ns.sum())
    deltas = varint_decode(b"".join(pdf["doc_bytes"]),
                           total).astype(np.int64)
    bstarts = np.concatenate([[0], np.cumsum(ns)[:-1]])
    c = np.cumsum(deltas)
    base = np.zeros(len(ns), dtype=np.int64)
    base[1:] = c[bstarts[1:] - 1]
    docs = c - np.repeat(base, ns)
    counts = varint_decode(b"".join(pdf["cnt_bytes"]),
                           total).astype(np.int64)
    totpos = int(counts.sum())
    pdeltas = varint_decode(b"".join(pdf["pos_bytes"]),
                           totpos).astype(np.int64)
    # positions: grouped cumsum resetting at each DOC start
    dstarts = np.zeros(total, dtype=np.int64)
    np.cumsum(counts[:-1], out=dstarts[1:])
    pc = np.cumsum(pdeltas)
    pbase = np.zeros(totpos, dtype=np.int64)
    s = dstarts[counts > 0]
    pbase[s] = pc[s] - pdeltas[s]
    np.maximum.accumulate(pbase, out=pbase)
    pos = pc - pbase
    keys = np.repeat(docs, counts) * _POS_MULT + pos
    codes, uniq_terms = pd.factorize(pdf["term"].to_numpy())
    code_per_pos = np.repeat(
        np.repeat(codes, ns), counts)
    return keys, code_per_pos, list(uniq_terms)

def warm_positions(spark: SparkSession, index: InvertedIndex,
                   serving_shards: int | None = None) -> None:
    """Pin the positions table in executor memory re-sharded by range_id
    — the phrase-serving analogue of ``InvertedIndex.warm``'s doc-sharded
    postings layout. Subsequent ``phrase_match`` calls skip the parquet
    scan AND the per-query range_id exchange (the resident layout is
    already doc-range-sharded), leaving a single map stage + merge.

    Call AFTER ``index.warm(...)`` if both are wanted: ``warm()`` resets
    the cache dict (releasing any previous warm state, positions
    included); ``index.unwarm()`` releases this layout too. Memory: the
    measured 2.08 bytes/position ≈ avgdl bytes/doc — comparable to the
    postings layout; the same head-shard partial-warm economics apply
    (warm postings ranges first; phrase traffic is typically a small
    fraction of query volume)."""
    if serving_shards is None:
        # one shard per executor slot, as for the postings layout
        serving_shards = spark.sparkContext.defaultParallelism
    df = (index.io.read(spark, POSITIONS)
          .select("term", "range_id", "n", "doc_bytes", "cnt_bytes",
                  "pos_bytes")
          .repartition(serving_shards, "range_id")
          .cache())
    df.count()
    cached = index._cached if index._cached is not None else {}
    old = cached.get("_positions")
    if old is not None:
        old.unpersist()
    cached["_positions"] = df
    object.__setattr__(index, "_cached", cached)

def phrase_match(spark: SparkSession, index: InvertedIndex, phrase: str,
                 k: int = 100) -> DataFrame:
    """Documents containing ``phrase`` as CONSECUTIVE tokens of the
    indexed (K1) stream → (doc_id, n_occ) with n_occ = occurrence count,
    ordered (n_occ desc, doc_id asc), top ``k``.

    Plan shape (scale story): the positions scan is directory-pruned to
    the phrase terms' buckets and row-group-pruned on term — the same
    pruning surface as a BM25 query — then shuffled ONCE keyed by
    range_id so each task holds every phrase term's blocks for its
    doc-ranges. The per-range kernel is pure vectorized numpy: (doc, pos)
    pairs pack into int64 keys and the phrase is a chain of sorted-array
    intersections (offset i's keys shifted by -i), so cost is linear in
    the phrase terms' position payload — no per-doc Python. Work is
    independent per range: 10^8 ranges at 10^12 docs parallelize freely.

    Phrase-FILTERED BM25 ranking is the composition with filtered
    retrieval:
        bm25_topk_exact(spark, index, query, filter_docs=
                        phrase_match(spark, index, phrase, k=BIG))
    (tests/test_positions.py::test_phrase_filtered_bm25)."""
    if index.cfg.index.token_cap > int(_POS_MULT):
        raise ValueError(
            f"phrase_match: token_cap {index.cfg.index.token_cap} exceeds "
            f"the position radix {int(_POS_MULT)}; keys would collide")
    toks = tokenize_k1_py(phrase)
    out_schema = "doc_id long, n_occ long"
    if not toks:
        return spark.createDataFrame([], out_schema)
    terms = sorted(set(toks))
    warm = (index._cached or {}).get("_positions")
    if warm is not None:
        # warm layout is already doc-range-sharded: filter resident rows
        # (no scan, no exchange) and run the kernel in one map stage
        blocks = warm.filter(F.col("term").isin(terms))
    else:
        buckets = sorted({term_bucket_py(t, index.cfg.index.term_buckets)
                          for t in terms})
        blocks = (index.io.read(spark, POSITIONS)
                  .filter(F.col("term_bucket").isin(buckets)
                          & F.col("term").isin(terms)))

    def match(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        got = _decode_pos_rows_bulk(it)
        if got is None:
            return
        keys_all, code_per_pos, uniq_terms = got
        by_term = {t: keys_all[code_per_pos == ci]
                   for ci, t in enumerate(uniq_terms)}
        if any(t not in by_term or not len(by_term[t]) for t in toks):
            return  # some phrase term absent from this partition's ranges
        keys_of = {t: np.sort(by_term[t]) for t in set(toks)}
        cur = keys_of[toks[0]]
        for i, t in enumerate(toks[1:], 1):
            ki = keys_of[t]
            ki = ki[(ki % _POS_MULT) >= i]  # don't underflow into doc-1
            cur = np.intersect1d(cur, ki - i, assume_unique=True)
            if not len(cur):
                return
        docs = cur // _POS_MULT
        uniq, n_occ = np.unique(docs, return_counts=True)
        yield pd.DataFrame({"doc_id": uniq, "n_occ": n_occ})

    if warm is not None:
        # already range_id-sharded and resident: one map stage, no shuffle
        local = blocks.mapInPandas(match, schema=out_schema)
    else:
        # column-prune before the exchange: the kernel needs 5 columns +
        # the shuffle key — block_id/first/last_doc_id stay unread
        local = (blocks.select("term", "range_id", "n", "doc_bytes",
                               "cnt_bytes", "pos_bytes")
                 .repartition("range_id")
                 .mapInPandas(match, schema=out_schema))
    return local.orderBy(F.desc("n_occ"), F.asc("doc_id")).limit(k)


def near_match(spark: SparkSession, index: InvertedIndex, phrase: str,
               window: int, k: int = 100) -> DataFrame:
    """Proximity ("sloppy phrase") match: documents where ALL the
    phrase's distinct K1 terms co-occur within a token window —
    ``min_span`` (the smallest max−min position difference over one
    chosen occurrence per term) ≤ ``window``. Unordered, the
    `"a b"~N`-style relaxation of ``phrase_match`` (exact consecutive =
    ordered span m−1). Returns (doc_id, min_span) ordered (min_span
    ASC, doc_id ASC), top ``k``.

    Same plan shape as ``phrase_match``: bucket+term-pruned positions
    scan, ONE range_id-keyed shuffle (or the warm resident layout —
    no scan, no exchange), then a per-range kernel that is pure
    vectorized numpy: merge all terms' packed (doc·2^13+pos) keys with
    integer labels, sort once, forward-fill each label's last
    occurrence index (np.maximum.accumulate), and for every end
    position take the window starting at the MINIMUM of those
    last-occurrence indices — the classic optimal sliding window, so
    per-doc min_span is exact. Cross-document windows are masked
    explicitly in the kernel: adjacent docs' packed keys can differ by
    as little as _POS_MULT − token_cap + 1 (3193 at the default cap),
    which a large legal ``window`` could straddle, so every qualifying
    span additionally requires its start and end key to share a doc."""
    if index.cfg.index.token_cap > int(_POS_MULT):
        raise ValueError(
            f"near_match: token_cap {index.cfg.index.token_cap} exceeds "
            f"the position radix {int(_POS_MULT)}; keys would collide")
    if window < 0:
        raise ValueError("window must be >= 0")
    terms = sorted(set(tokenize_k1_py(phrase)))
    out_schema = "doc_id long, min_span long"
    if not terms:
        return spark.createDataFrame([], out_schema)
    m = len(terms)
    warm = (index._cached or {}).get("_positions")
    if warm is not None:
        blocks = warm.filter(F.col("term").isin(terms))
    else:
        buckets = sorted({term_bucket_py(t, index.cfg.index.term_buckets)
                          for t in terms})
        blocks = (index.io.read(spark, POSITIONS)
                  .filter(F.col("term_bucket").isin(buckets)
                          & F.col("term").isin(terms)))
    label_of = {t: i for i, t in enumerate(terms)}
    win = np.int64(window)

    def near(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        got = _decode_pos_rows_bulk(it)
        if got is None:
            return
        keys, code_per_pos, uniq_terms = got
        if len(uniq_terms) < m:
            return  # some term absent from this partition's ranges
        lbl_of_code = np.array([label_of[t] for t in uniq_terms],
                               dtype=np.int8)
        labels = lbl_of_code[code_per_pos]
        order = np.argsort(keys, kind="stable")
        keys, labels = keys[order], labels[order]
        n = len(keys)
        idx = np.arange(n, dtype=np.int64)
        # last occurrence index of each label at or before j (−1 = none),
        # folded into ONE running minimum — O(n) extra memory instead of
        # an (m, n) matrix (multi-GB per task for high-df terms at scale)
        start = None
        row = np.empty(n, dtype=np.int64)
        for lbl in range(m):
            np.copyto(row, idx)
            row[labels != lbl] = -1
            np.maximum.accumulate(row, out=row)
            if start is None:
                start = row.copy()
            else:
                np.minimum(start, row, out=start)
        valid = start >= 0
        if not valid.any():
            return
        span = np.full(n, np.int64(1) << 62, dtype=np.int64)
        span[valid] = keys[valid] - keys[start[valid]]
        ok = span <= win
        # mask windows whose START lies in a PREVIOUS document: adjacent
        # docs' packed keys can differ by as little as
        # _POS_MULT − token_cap + 1 (< any window ≥ 3193 at the default
        # cap), so a span ≤ window may straddle a doc boundary — such an
        # end position has some term with NO occurrence in its own doc
        # at/before it (else that occurrence would be the later start),
        # hence no legal same-doc window ends there at all.
        ok[valid] &= (keys[valid] // _POS_MULT
                      == keys[start[valid]] // _POS_MULT)
        if not ok.any():
            return
        docs = keys[ok] // _POS_MULT
        spans = span[ok]
        # per-doc minimum over all qualifying end positions
        uniq, inv = np.unique(docs, return_inverse=True)
        best = np.full(len(uniq), np.int64(1) << 62, dtype=np.int64)
        np.minimum.at(best, inv, spans)
        yield pd.DataFrame({"doc_id": uniq, "min_span": best})

    if warm is not None:
        local = blocks.mapInPandas(near, schema=out_schema)
    else:
        local = (blocks.select("term", "range_id", "n", "doc_bytes",
                               "cnt_bytes", "pos_bytes")
                 .repartition("range_id")
                 .mapInPandas(near, schema=out_schema))
    return local.orderBy(F.asc("min_span"), F.asc("doc_id")).limit(k)
