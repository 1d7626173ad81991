"""Conjunctive / minimum-should-match BM25 retrieval.

Contract (query/bm25.py::_resolve_min_match and the per-path threading):
``min_match=m`` keeps only documents matching ≥ m DISTINCT query terms;
``min_match="all"`` requires every distinct query token (counted over ALL
tokens — a query containing a term absent from the index can never be
fully matched and returns empty). Applied BEFORE top-k like filtered
retrieval, scores bitwise-untouched, so all execution paths must agree
bitwise:

  * exact path:   map-size filter inside the query-order fold
  * served path:  per-range distinct-matched-term mask inside the
                  zero-shuffle shard kernel (θ = k-th best QUALIFYING
                  score; block-max skipping stays rank-safe because a
                  range bound over all docs upper-bounds the subset)
  * pruned path:  the same kernel mask (θ = k-th best QUALIFYING
                  score); counts are complete per range (a doc's
                  postings live in one range)
  * partial warm: warm/cold split never splits a doc's range, so each
                  side's count is total
"""

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from review_recommender_spark.functions.tokenize import (tokenize_k1_py,
                                                         tokenize_k2_py)
from review_recommender_spark.query import bm25
from review_recommender_spark.query.bm25 import (bm25_topk_exact,
                                                 bm25_topk_pruned,
                                                 bm25_topk_served,
                                                 bm25_topk_served_batch)

Q = "wireless bluetooth headphones"
Q2 = "yellow cat socks"


def _pairs(rows):
    return [(r["doc_id"], r["score"]) for r in rows]


@pytest.fixture(scope="module")
def toksets(small_pages):
    return {r["doc_id"]: set(tokenize_k1_py(r["text"]))
            for r in small_pages.select("doc_id", "text").collect()}


def test_exact_min_match_is_topk_of_qualifying_docs(spark, small_index,
                                                    toksets):
    """Ground truth: full unfiltered ranking, count-filtered in Python."""
    qt = set(tokenize_k2_py(Q))
    full = _pairs(bm25_topk_exact(spark, small_index, Q, k=2000).collect())
    for m in (2, 3):
        want = [(d, s) for d, s in full if len(qt & toksets[d]) >= m][:10]
        got = _pairs(bm25_topk_exact(spark, small_index, Q, k=10,
                                     min_match=m).collect())
        assert got == want, m
    # the constraint must actually bite at m=3 on this corpus
    m3 = _pairs(bm25_topk_exact(spark, small_index, Q, k=10,
                                min_match=3).collect())
    assert m3 and [d for d, _ in m3] != [d for d, _ in full[:10]]
    # "all" == m=3 for this 3-distinct-token query
    assert _pairs(bm25_topk_exact(spark, small_index, Q, k=10,
                                  min_match="all").collect()) == m3


def test_all_with_unknown_term_returns_empty(spark, small_index):
    q = Q + " zzzunknownzz"
    assert bm25_topk_exact(spark, small_index, q, k=10,
                           min_match="all").count() == 0
    small_index.warm(spark, serving_shards=5)
    try:
        assert bm25_topk_served(spark, small_index, q, k=10,
                                min_match="all").count() == 0
    finally:
        small_index.unwarm()


def test_min_match_validation(spark, small_index):
    with pytest.raises(ValueError):
        bm25_topk_exact(spark, small_index, Q, k=10, min_match=0)


def test_served_and_pruned_bitwise_equal_exact(spark, small_index):
    small_index.warm(spark, serving_shards=5)
    try:
        for q in (Q, Q2):
            for m in (2, "all"):
                exact = _pairs(bm25_topk_exact(
                    spark, small_index, q, k=10, min_match=m).collect())
                for skip in (True, False):
                    served = _pairs(bm25_topk_served(
                        spark, small_index, q, k=10, min_match=m,
                        block_skip=skip).collect())
                    assert served == exact, (q, m, skip)
                pruned = _pairs(bm25_topk_pruned(
                    spark, small_index, q, k=10, min_ranges_to_prune=1,
                    min_match=m).collect())
                assert pruned == exact, (q, m)
    finally:
        small_index.unwarm()


def test_pruned_fall_through_applies_min_match(spark, small_index):
    exact = _pairs(bm25_topk_exact(spark, small_index, Q, k=10,
                                   min_match="all").collect())
    ft = _pairs(bm25_topk_pruned(spark, small_index, Q, k=10,
                                 min_ranges_to_prune=10**9,
                                 min_match="all").collect())
    assert ft == exact


def test_served_batch_min_match_equals_per_query(spark, small_index):
    small_index.warm(spark, serving_shards=5)
    try:
        batch = bm25_topk_served_batch(spark, small_index, [Q, Q2], k=10,
                                       min_match="all").collect()
        by_q = defaultdict(list)
        for r in batch:
            by_q[r["query_id"]].append((r["doc_id"], r["score"]))
        for qi, q in enumerate((Q, Q2)):
            solo = _pairs(bm25_topk_served(spark, small_index, q, k=10,
                                           min_match="all").collect())
            assert by_q.get(qi, []) == solo, q
    finally:
        small_index.unwarm()


def test_partial_warm_min_match_bitwise(spark, small_index):
    small_index.warm(spark, serving_shards=5)
    try:
        full = _pairs(bm25_topk_served(spark, small_index, Q, k=10,
                                       min_match="all").collect())
        all_ranges = sorted(r["range_id"]
                            for r in small_index.postings(spark)
                            .select("range_id").distinct().collect())
        small_index.warm(spark, serving_shards=5, ranges=all_ranges[::2])
        got = _pairs(bm25_topk_served(spark, small_index, Q, k=10,
                                      min_match="all").collect())
        assert got == full
    finally:
        small_index.unwarm()


def test_min_match_composes_with_filter(spark, small_pages, small_index,
                                        toksets, monkeypatch):
    """min_match AND a metadata filter: both applied before top-k."""
    qt = set(tokenize_k2_py(Q))
    fd = small_pages.filter(F.col("lang") == "en").select("doc_id")
    allowed = {r["doc_id"] for r in fd.collect()}
    full = _pairs(bm25_topk_exact(spark, small_index, Q, k=2000).collect())
    want = [(d, s) for d, s in full
            if d in allowed and len(qt & toksets[d]) >= 2][:10]
    got = _pairs(bm25_topk_exact(spark, small_index, Q, k=10, min_match=2,
                                 filter_docs=fd).collect())
    assert got == want
    small_index.warm(spark, serving_shards=5)
    try:
        served = _pairs(bm25_topk_served(
            spark, small_index, Q, k=10, min_match=2,
            filter_docs=fd).collect())
        assert served == want
        # forced semi-join fallback route too
        monkeypatch.setattr(bm25, "_MASK_IDS_MAX", 0)
        fb = _pairs(bm25_topk_served(
            spark, small_index, Q, k=10, min_match=2,
            filter_docs=fd).collect())
        assert fb == want
    finally:
        small_index.unwarm()
