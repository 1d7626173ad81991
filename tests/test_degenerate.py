"""Degenerate top-k requests get ONE defined answer on every BM25 route.

Routes: exact, served on both tiers (driver copy, and executor shards
with the driver budget forced to 0), pruned in its gathered and
distributed tiers, and pruned below ``min_ranges_to_prune`` (the exact
fall-through). Requests: an empty query, an all-stopword query, a query
of unknown terms only, a duplicated term, ``k=0``, ``k`` above the
corpus size, and a search-after cursor at the last result. Every route
must return the same rows, bit for bit, and none may raise."""

import pytest

from review_recommender_spark.query import bm25
from review_recommender_spark.query.bm25 import (bm25_topk_exact,
                                                 bm25_topk_pruned,
                                                 bm25_topk_served)

Q = "yellow cat socks"
CASES = {
    "empty": ("", 10, None),
    "all_stopword": ("the and of", 10, None),
    "unknown_only": ("zzznope qqqmissing", 10, None),
    "duplicate_term": ("cat cat socks", 10, None),
    "k_zero": (Q, 0, None),
    "k_over_n_docs": (Q, 5000, None),
    "after_last_result": (Q, 10, "last"),
}
EMPTY = {"empty", "all_stopword", "unknown_only", "k_zero",
         "after_last_result"}


def _pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.fixture(scope="module")
def warm_index(spark, small_index):
    small_index.warm(spark)
    yield small_index
    small_index.unwarm()


@pytest.fixture(scope="module")
def full_ranking(spark, warm_index):
    return _pairs(bm25_topk_exact(spark, warm_index, Q, k=10 ** 6))


@pytest.mark.parametrize("case", sorted(CASES))
def test_degenerate_request_same_on_every_route(spark, warm_index,
                                                full_ranking, monkeypatch,
                                                case):
    query, k, after = CASES[case]
    if after == "last":
        d, s = full_ranking[-1]
        after = (s, d)
    idx = warm_index

    def pruned(**kw):
        return bm25_topk_pruned(spark, idx, query, k=k, after=after, **kw)

    def forced(attr, value, run):
        with monkeypatch.context() as m:
            m.setattr(bm25, attr, value)
            return _pairs(run())

    routes = {
        "served_driver": lambda: _pairs(
            bm25_topk_served(spark, idx, query, k=k, after=after)),
        "served_executor": lambda: forced(
            "_DRIVER_SERVING_BYTES_MAX", 0,
            lambda: bm25_topk_served(spark, idx, query, k=k, after=after)),
        "pruned_gathered": lambda: _pairs(pruned(min_ranges_to_prune=1)),
        "pruned_distributed": lambda: forced(
            "_PRUNED_LOCAL_BLOCKS_MAX", 0,
            lambda: pruned(min_ranges_to_prune=1)),
        "pruned_fall_through": lambda: _pairs(pruned()),
    }
    want = _pairs(bm25_topk_exact(spark, idx, query, k=k, after=after))
    for name, run in routes.items():
        assert run() == want, (case, name)
    if case in EMPTY:
        assert want == []
    elif case == "k_over_n_docs":
        assert want == full_ranking and len(want) < k
    else:
        assert len(want) == k
