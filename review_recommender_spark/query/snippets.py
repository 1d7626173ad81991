"""Snippet extraction / hit highlighting over the positional index.

The user-facing half of a full-text engine the reference lacks entirely
(its UI shows whole review texts — app/app_product_search.py renders raw
rows): given a query and a bounded result set (typically a BM25 top-k),
find for each document the best ``window``-token span and the query-term
hit offsets inside it, WITHOUT touching the raw corpus — everything comes
from the positions table (index/positions.py), so snippet serving never
re-reads or re-tokenizes 100 TB of page text.

Span semantics (deterministic, DuckDB-oracle-checked — entry
``ft_snippets``):

  * hits(d)  = (pos, term) occurrences in doc d of the query's DISTINCT
               K2 tokens; positions are offsets into the K1-filtered
               token stream, exactly as stored by ``build_positions``.
  * a candidate span starts AT a hit (an optimal fixed-width window can
    always be slid right until its left edge touches one) and covers
    token positions [s, s + window).
  * best span = max distinct query terms covered, then max total hits,
    then smallest start — the classic relevance-snippet objective.

Returned per doc: (doc_id, snippet_start, n_distinct, n_hits, hit_pos)
with ``hit_pos`` the ascending comma-joined hit offsets inside the best
span — enough for a renderer to slice the stored/source text and bold
the matches.

Scale shape: the positions scan is directory-pruned to the query terms'
buckets + row-group-pruned on term, then restricted to the target docs'
RANGES (``range_id`` is doc_id >> range_shift, so a k-doc result set
touches ≤ k ranges out of ~10^8 at 10^12 docs) before one range_id-keyed
exchange co-locates every term's blocks per range — the phrase-match
plan. The per-range kernel decodes only blocks whose [first, last] doc
interval intersects the target set, and the window search itself runs
over ≤ |result set| × |query| hit rows. With ``warm_positions`` pinned,
the scan and the exchange both disappear (resident layout is already
range-sharded).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize_k2_py
from ..index.build import InvertedIndex
from ..index.positions import _POS_MULT, decode_positions, positions_blocks
from .bm25 import _collect_filter_ids, local_result

SNIPPET_SCHEMA = ("doc_id long, snippet_start long, n_distinct long, "
                  "n_hits long, hit_pos string")


def _collect_doc_ids(doc_ids, cap: int) -> np.ndarray:
    """Bounded driver-side sorted unique int64 doc ids — a DataFrame's
    through ``bm25._collect_filter_ids``, the filters' collect (no Spark
    job for a driver-resident result) — raising beyond ``cap``: snippets
    are for RESULT SETS, not corpus sweeps."""
    if isinstance(doc_ids, DataFrame):
        ids, too_big = _collect_filter_ids(doc_ids, cap)
    else:
        ids = np.asarray(list(doc_ids), dtype=np.int64)
        too_big = len(ids) > cap
    if too_big:
        raise ValueError(
            f"snippet_spans: more than cap {cap} target docs — "
            f"snippets serve bounded result sets; raise cap explicitly "
            f"if you really mean a sweep")
    return np.unique(ids)


def _best_window(pos: np.ndarray, tid: np.ndarray, window: int
                 ) -> tuple[int, int, int, np.ndarray]:
    """Best [s, s+window) span over ONE doc's sorted hit positions.
    Returns (start, n_distinct, n_hits, hit positions inside the span)."""
    best = None
    for i in range(len(pos)):
        j = int(np.searchsorted(pos, pos[i] + window, side="left"))
        key = (len(np.unique(tid[i:j])), j - i, -int(pos[i]))
        if best is None or key > best[0]:
            best = (key, i, j)
    (nd, nh, neg_s), i, j = best
    return -neg_s, nd, nh, pos[i:j]


def snippet_spans(spark: SparkSession, index: InvertedIndex, query: str,
                  doc_ids, window: int = 30,
                  cap: int = 100_000) -> DataFrame:
    """Best-span snippets for ``doc_ids`` (a DataFrame with a ``doc_id``
    column — typically a top-k result — or any iterable of ids) under
    ``query``. Requires the index root's positions table
    (``build_positions``); uses the warm layout when ``warm_positions``
    has pinned it. One row per target doc with ≥ 1 hit."""
    targets = _collect_doc_ids(doc_ids, cap)
    qterms = sorted(set(tokenize_k2_py(query)))
    if not len(targets) or not qterms:
        return local_result(spark, schema=SNIPPET_SCHEMA)
    tid_of = {t: i for i, t in enumerate(qterms)}
    shift = index.cfg.index.range_shift
    blocks = positions_blocks(
        spark, index, "snippet_spans", qterms,
        ranges=[int(r) for r in np.unique(targets >> shift)],
        doc_span=(int(targets[0]), int(targets[-1])))

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        got = decode_positions(it)
        if got is None:
            return
        keys, codes, uniq_terms = got
        tids = np.array([tid_of[t] for t in uniq_terms], dtype=np.int32)
        keep = np.isin(keys // _POS_MULT, targets)
        if not keep.any():
            return
        order = np.argsort(keys[keep], kind="stable")   # by (doc, pos)
        keys, t = keys[keep][order], tids[codes[keep][order]]
        d, p = keys // _POS_MULT, keys % _POS_MULT
        starts = np.concatenate(
            [[0], np.flatnonzero(d[1:] != d[:-1]) + 1, [len(d)]])
        rows = {"doc_id": [], "snippet_start": [], "n_distinct": [],
                "n_hits": [], "hit_pos": []}
        for a, b in zip(starts[:-1], starts[1:]):
            s, nd, nh, hp = _best_window(p[a:b], t[a:b], window)
            rows["doc_id"].append(int(d[a]))
            rows["snippet_start"].append(s)
            rows["n_distinct"].append(nd)
            rows["n_hits"].append(nh)
            rows["hit_pos"].append(",".join(str(int(x)) for x in hp))
        yield pd.DataFrame(rows)

    return blocks.mapInPandas(kernel, schema=SNIPPET_SCHEMA)


def proximity_rerank(spark: SparkSession, index: InvertedIndex, query: str,
                     topk: DataFrame, window: int = 30,
                     beta_distinct: float = 0.1,
                     beta_hits: float = 0.01) -> DataFrame:
    """Proximity-aware second pass over a BM25 top-k: boost docs whose
    query terms co-occur inside one ``window``-token span —
    score' = score + β_d·n_distinct + β_h·n_hits of the doc's best span
    (both 0 for docs the positions table has no hits for, which cannot
    happen for BM25-matched docs). A deterministic, index-only rerank:
    the positional evidence comes from ``snippet_spans`` — no corpus
    re-read, no model. Returns (doc_id, score) re-ordered
    (score desc, doc_id asc), same row count as ``topk``."""
    spans = snippet_spans(spark, index, query, topk, window=window)
    feats = spans.select("doc_id",
                         (F.col("n_distinct") * float(beta_distinct)
                          + F.col("n_hits") * float(beta_hits))
                         .alias("__boost"))
    return (topk.join(F.broadcast(feats), "doc_id", "left")
            .select("doc_id",
                    (F.col("score")
                     + F.coalesce(F.col("__boost"), F.lit(0.0)))
                    .alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")))
