"""Positional postings + phrase matching over the inverted index.

The POSTINGS table stores (doc, tf, dl) — enough for BM25, blind to WHERE
in a document each term occurs. This module adds an OPTIONAL ``positions``
table to an index root (the classic positional-index extension of a
full-text engine), plus the phrase, proximity and snippet queries it
enables. The reference has no positional structure (its "index" is a
pickled list-of-token-lists, nlp/12_product_prep.py:85-89, and all its
queries are bag-of-words); this is an engine capability beyond parity,
built Spark-first.

The table is the SECOND payload spec of the build's one (term, range_id)
block pipeline (index/build.py, ``POSITIONS_BLOCKS``): the same map-side
pack kernel over the Stage A checkpoint (so positions are token-for-token
consistent with the postings the index scores, and nothing is
re-tokenized), the same pair-hashed shuffle and merge kernel, the same
bulk codec, term_bucket layout and delta merge. Only the per-doc payload
differs — a position count plus the positions, instead of tf + dl.

Positions are 0-based offsets into the K1-FILTERED token stream — the
stream the index itself is built from. Stoplist words and 1-char tokens do
not occupy offsets, so a phrase matches across removed stopwords exactly
as a positional index over a stopped corpus classically does ("wireless
headphones" matches "wireless THE headphones").

Block format (index/codec.py, ``positional=True``):
  doc_bytes: doc-id deltas (first absolute) — one per doc in the block
  cnt_bytes: per-doc position count
  pos_bytes: per-doc position deltas, each doc's first position absolute
Block metadata (n docs, first/last doc id) keeps the same range/bucket
pruning surface as POSTINGS blocks.

Every query here reads the table through ``positions_blocks``: the warm
layout when ``warm_positions`` pinned it, else a bucket- and term-pruned
scan shuffled once by range_id, so each kernel task holds every query
term's blocks for its doc-ranges.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..functions.tokenize import tokenize_k1_py
from ..query.bm25 import local_result
from .build import (LOCAL_TF, POSITIONS, POSITIONS_BLOCKS, InvertedIndex,
                    _stage_c_blocks, _write_blocks, read_bucketed,
                    term_bucket_py)
from .codec import decode_blocks_bulk
from .tableio import TableIO

# (doc, pos) pairs are packed into one int64 key for the vectorized phrase
# intersection: doc * _POS_MULT + pos. Positions are < token_cap (5000) <
# _POS_MULT, and doc ids stay below 2^63 / _POS_MULT ≈ 1.1e15 — comfortably
# above the 10^12-doc design point.
_POS_MULT = np.int64(1) << np.int64(13)
# the block columns a query kernel reads (plus range_id, the shuffle key)
_KERNEL_COLS = ["term", "range_id", "n", "doc_bytes", "cnt_bytes",
                "pos_bytes"]


def _check_radix(cfg: EngineConfig, caller: str) -> None:
    if cfg.index.token_cap > int(_POS_MULT):
        raise ValueError(
            f"{caller}: token_cap {cfg.index.token_cap} exceeds the "
            f"position radix {int(_POS_MULT)}; (doc, pos) keys would "
            f"collide (raise _POS_MULT: doc ids then bound at 2^63/radix)")


def build_positions(spark: SparkSession, io: TableIO,
                    cfg: EngineConfig | None = None,
                    shuffle_partitions: int | None = None) -> None:
    """Build the optional ``positions`` table for an index root whose
    Stage A checkpoint (LOCAL_TF) exists — i.e. after (or alongside)
    ``build_index`` on the same ``io``. One extra (term, range_id)-keyed
    shuffle over the already-tokenized checkpoint, through the build's
    block pipeline with the positional payload spec; no re-tokenize, no
    interaction with the postings tables (byte-identity of POSTINGS is
    untouched — gated in tests/test_positions.py)."""
    cfg = cfg or EngineConfig()
    _check_radix(cfg, "build_positions")
    if not io.exists(LOCAL_TF):
        raise FileNotFoundError(
            f"positions build needs the {LOCAL_TF} checkpoint under "
            f"{io.root}; run build_index first (it is retained for "
            f"exactly this kind of derived build)")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions"))
    blocks = _stage_c_blocks(io.read(spark, LOCAL_TF), cfg,
                             shuffle_partitions, POSITIONS_BLOCKS)
    _write_blocks(io, POSITIONS_BLOCKS, blocks, cfg,
                  {"parent": io.current_snapshot(LOCAL_TF)["snapshot_id"],
                   "shuffle_partitions": shuffle_partitions})


# --------------------------------------------------------------- query

def positions_blocks(spark: SparkSession, index: InvertedIndex,
                     caller: str, terms: list[str], ranges=None,
                     doc_span: tuple[int, int] | None = None) -> DataFrame:
    """The positions blocks of ``terms`` (optionally only of doc-ranges
    ``ranges``), sharded by range_id for a per-range kernel: the warm
    layout's resident rows when ``warm_positions`` pinned it (no scan, no
    exchange), else a scan pruned to the terms' bucket directories and
    row groups — and to blocks whose doc interval meets ``doc_span`` (lo,
    hi) — column-pruned to the kernel's columns and shuffled once by
    range_id. Raises when the index's token_cap overflows the (doc, pos)
    key radix."""
    _check_radix(index.cfg, caller)
    cond = F.col("term").isin(terms)
    if ranges is not None:
        cond = cond & F.col("range_id").isin(ranges)
    warm = (index._cached or {}).get("_positions")
    if warm is not None:
        return warm.filter(cond)
    buckets = sorted({term_bucket_py(t, index.cfg.index.term_buckets)
                      for t in terms})
    cond = F.col("term_bucket").isin(buckets) & cond
    if doc_span is not None:
        cond = (cond & (F.col("first_doc_id") <= int(doc_span[1]))
                & (F.col("last_doc_id") >= int(doc_span[0])))
    return (read_bucketed(spark, index.io, POSITIONS).filter(cond)
            .select(*_KERNEL_COLS).repartition("range_id"))


def decode_positions(it: Iterator[pd.DataFrame]):
    """Gather a kernel's position-block rows and decode them in ONE
    varint pass per column (``decode_blocks_bulk``). Returns
    ``(keys, code_per_pos, uniq_terms)`` — packed ``doc·2^13 + pos``
    int64 keys for every position, each position's term code, and the
    factorized term list — or None when the partition is empty."""
    frames = [pdf for pdf in it if len(pdf)]
    if not frames:
        return None
    pdf = frames[0] if len(frames) == 1 \
        else pd.concat(frames, ignore_index=True)
    ns = pdf["n"].to_numpy(dtype=np.int64)
    docs, counts, pos = decode_blocks_bulk(
        ns, pdf["doc_bytes"], pdf["cnt_bytes"], pdf["pos_bytes"],
        positional=True)
    keys = np.repeat(docs, counts) * _POS_MULT + pos
    codes, uniq_terms = pd.factorize(pdf["term"].to_numpy())
    code_per_pos = np.repeat(np.repeat(codes, ns), counts)
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
    df = (read_bucketed(spark, index.io, POSITIONS)
          .select(*_KERNEL_COLS)
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
    toks = tokenize_k1_py(phrase)
    out_schema = "doc_id long, n_occ long"
    if not toks:
        return local_result(spark, schema=out_schema)
    blocks = positions_blocks(spark, index, "phrase_match",
                              sorted(set(toks)))

    def match(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        got = decode_positions(it)
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

    return (blocks.mapInPandas(match, schema=out_schema)
            .orderBy(F.desc("n_occ"), F.asc("doc_id")).limit(k))


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
    if window < 0:
        raise ValueError("window must be >= 0")
    terms = sorted(set(tokenize_k1_py(phrase)))
    out_schema = "doc_id long, min_span long"
    if not terms:
        return local_result(spark, schema=out_schema)
    m = len(terms)
    blocks = positions_blocks(spark, index, "near_match", terms)
    label_of = {t: i for i, t in enumerate(terms)}
    win = np.int64(window)

    def near(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        got = decode_positions(it)
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

    return (blocks.mapInPandas(near, schema=out_schema)
            .orderBy(F.asc("min_span"), F.asc("doc_id")).limit(k))
