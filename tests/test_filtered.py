"""Filtered BM25 retrieval — a metadata predicate applied BEFORE top-k.

Contract (query/bm25.py::_apply_doc_filter / _served_local_topk allowed=):
the result is the true top-k of the FILTERED corpus — an excluded doc
never occupies a top-k slot (post-filtering a top-k underfills it) — and
every surviving doc's score is bitwise-identical to its unfiltered score
(the filter shrinks the candidate set, never touches the arithmetic).

Routes gated here:
  * exact path:   LEFT SEMI join of score partials against the filter scan
  * served path:  sorted-id mask inside the zero-shuffle shard kernel
                  (block-max skipping stays rank-safe under the mask)
  * fallback:     survivor set over ``_MASK_IDS_MAX`` → the exact
                  semi-join route (forced here with a cap of 0)
  * partial warm: the cold on-disk union is filtered too
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from review_recommender_spark.query import bm25
from review_recommender_spark.query.bm25 import (bm25_topk_exact,
                                                 bm25_topk_served,
                                                 bm25_topk_served_batch)

QUERIES = ["wireless bluetooth headphones", "yellow cat socks"]


def _es_filter(small_pages):
    return small_pages.filter(F.col("lang") == "es").select("doc_id")


def _pairs(rows):
    return [(r["doc_id"], r["score"]) for r in rows]


def test_exact_filtered_is_topk_of_filtered_corpus(spark, small_pages,
                                                   small_index):
    """Ground truth: the unfiltered FULL ranking (k = corpus size),
    filtered in plain Python — the filtered top-k must equal its head."""
    allowed = {r["doc_id"] for r in _es_filter(small_pages).collect()}
    assert 10 <= len(allowed) <= 200  # ~2% of 1000 pages; sanity
    for q in QUERIES:
        full = bm25_topk_exact(spark, small_index, q, k=2000).collect()
        want = [(r["doc_id"], r["score"]) for r in full
                if r["doc_id"] in allowed][:10]
        got = _pairs(bm25_topk_exact(
            spark, small_index, q, k=10,
            filter_docs=_es_filter(small_pages)).collect())
        assert got == want, q
        # the filter must actually bite: unfiltered top-10 differs
        assert [d for d, _ in got] != [r["doc_id"] for r in full[:10]], q


def test_served_filtered_bitwise_equals_exact(spark, small_pages,
                                              small_index):
    small_index.warm(spark, serving_shards=5)
    try:
        for q in QUERIES:
            exact = _pairs(bm25_topk_exact(
                spark, small_index, q, k=10,
                filter_docs=_es_filter(small_pages)).collect())
            served = _pairs(bm25_topk_served(
                spark, small_index, q, k=10,
                filter_docs=_es_filter(small_pages)).collect())
            assert served == exact, q  # bitwise: == on floats on purpose
    finally:
        small_index.unwarm()


def test_served_filtered_fallback_route_identical(spark, small_pages,
                                                  small_index, monkeypatch):
    """_MASK_IDS_MAX=0 forces the semi-join fallback; results must
    match the mask route bitwise (single + batch)."""
    small_index.warm(spark, serving_shards=5)
    try:
        fd = _es_filter(small_pages)
        q = QUERIES[0]
        mask = _pairs(bm25_topk_served(spark, small_index, q, k=10,
                                       filter_docs=fd).collect())
        with monkeypatch.context() as m:
            m.setattr(bm25, "_MASK_IDS_MAX", 0)
            fb = _pairs(bm25_topk_served(spark, small_index, q, k=10,
                                         filter_docs=fd).collect())
        assert fb == mask
        key = lambda r: (r["query_id"], r["doc_id"], r["score"])  # noqa: E731
        bmask = sorted(map(key, bm25_topk_served_batch(
            spark, small_index, QUERIES, k=10, filter_docs=fd).collect()))
        with monkeypatch.context() as m:
            m.setattr(bm25, "_MASK_IDS_MAX", 0)
            bfb = sorted(map(key, bm25_topk_served_batch(
                spark, small_index, QUERIES, k=10,
                filter_docs=fd).collect()))
        assert bfb == bmask
    finally:
        small_index.unwarm()


def test_served_batch_filtered_equals_per_query(spark, small_pages,
                                                small_index):
    small_index.warm(spark, serving_shards=5)
    try:
        fd = _es_filter(small_pages)
        batch = bm25_topk_served_batch(spark, small_index, QUERIES, k=10,
                                       filter_docs=fd).collect()
        by_q: dict[int, list] = {}
        for r in batch:
            by_q.setdefault(r["query_id"], []).append(r)
        for qi, q in enumerate(QUERIES):
            solo = _pairs(bm25_topk_served(spark, small_index, q, k=10,
                                           filter_docs=fd).collect())
            assert _pairs(by_q.get(qi, [])) == solo, q
    finally:
        small_index.unwarm()


def test_partial_warm_filtered_bitwise(spark, small_pages, small_index):
    """Half-warm + filter: the cold on-disk union is filtered too, so the
    answer equals the fully-warm filtered answer bitwise."""
    fd = _es_filter(small_pages)
    small_index.warm(spark, serving_shards=5)
    try:
        full = {q: _pairs(bm25_topk_served(spark, small_index, q, k=10,
                                           filter_docs=fd).collect())
                for q in QUERIES}
        all_ranges = sorted(r["range_id"]
                            for r in small_index.postings(spark)
                            .select("range_id").distinct().collect())
        small_index.warm(spark, serving_shards=5, ranges=all_ranges[::2])
        for q in QUERIES:
            got = _pairs(bm25_topk_served(spark, small_index, q, k=10,
                                          filter_docs=fd).collect())
            assert got == full[q], q
    finally:
        small_index.unwarm()


def test_empty_filter_returns_empty(spark, small_pages, small_index):
    fd = small_pages.filter(F.col("lang") == "xx").select("doc_id")
    assert bm25_topk_exact(spark, small_index, QUERIES[0], k=10,
                           filter_docs=fd).count() == 0
    small_index.warm(spark, serving_shards=5)
    try:
        assert bm25_topk_served(spark, small_index, QUERIES[0], k=10,
                                filter_docs=fd).count() == 0
        assert bm25_topk_served_batch(spark, small_index, QUERIES, k=10,
                                      filter_docs=fd).count() == 0
    finally:
        small_index.unwarm()


def test_pruned_filtered(spark, small_pages, small_index, monkeypatch):
    """The pruned path with a filter must seed θ from FILTERED scores: the
    'es' slice (~2%) scores far below the unfiltered seeds, so an
    unfiltered θ would prune ranges holding the true filtered top-k.
    Bitwise identity with the exact filtered path, with the fine
    block-level prune on (it always is)."""
    from review_recommender_spark.query.bm25 import bm25_topk_pruned
    monkeypatch.setattr(bm25, "_SEED_RANGES", 2)
    fd = _es_filter(small_pages)
    for q in QUERIES:
        exact = _pairs(bm25_topk_exact(spark, small_index, q, k=10,
                                       filter_docs=fd).collect())
        pruned = _pairs(bm25_topk_pruned(
            spark, small_index, q, k=10, min_ranges_to_prune=1,
            filter_docs=fd).collect())
        assert pruned == exact, q
    # fall-through branch (few ranges → exact path) also filters
    ft = _pairs(bm25_topk_pruned(spark, small_index, QUERIES[0], k=10,
                                 min_ranges_to_prune=10**9,
                                 filter_docs=fd).collect())
    assert ft == _pairs(bm25_topk_exact(spark, small_index, QUERIES[0],
                                        k=10, filter_docs=fd).collect())


def test_block_skip_rank_safe_under_filter(spark, small_pages, small_index):
    """Skipping with the mask on must stay bitwise-identical to the
    unskipped masked kernel (a range bound over ALL docs upper-bounds the
    allowed subset, so skipping only gets more eager, never wrong)."""
    small_index.warm(spark, serving_shards=5)
    try:
        fd = _es_filter(small_pages)
        for q in QUERIES:
            on = _pairs(bm25_topk_served(spark, small_index, q, k=10,
                                         filter_docs=fd,
                                         block_skip=True).collect())
            off = _pairs(bm25_topk_served(spark, small_index, q, k=10,
                                          filter_docs=fd,
                                          block_skip=False).collect())
            assert on == off, q
    finally:
        small_index.unwarm()
