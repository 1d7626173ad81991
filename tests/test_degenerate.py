"""Degenerate top-k requests get ONE defined answer on every BM25 route.

Routes: exact, served on both tiers (driver copy, and executor shards
on a second handle warmed with the driver budget forced to 0), pruned on both its tiers
(gathered, and distributed with the gather budget forced to 0), and
pruned below ``min_ranges_to_prune`` (the exact fall-through).
Requests: an empty query, an all-stopword query, a query of unknown
terms only, a duplicated term, a 1,000-term query drawn from the index
vocabulary, ``k=0``, ``k`` above the corpus size, and a search-after
cursor at the last result. Every route must return the same rows, bit
for bit, and none may raise."""

import dataclasses

import pytest

from review_recommender_spark.index import build
from review_recommender_spark.query import bm25
from review_recommender_spark.query.bm25 import (bm25_topk_exact,
                                                 bm25_topk_pruned,
                                                 bm25_topk_served)

Q = "yellow cat socks"
# stands for 1,000 index terms, distinct while the vocabulary lasts
VOCAB_1000 = "<1,000 vocabulary terms>"
CASES = {
    "empty": ("", 10, None),
    "all_stopword": ("the and of", 10, None),
    "unknown_only": ("zzznope qqqmissing", 10, None),
    "duplicate_term": ("cat cat socks", 10, None),
    "terms_1000": (VOCAB_1000, 10, None),
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
def executor_index(spark, small_index):
    """A second handle on the index, warmed with the driver budget forced
    to 0: it keeps the executor serving layout."""
    idx = dataclasses.replace(small_index, _cached=None)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(build, "_DRIVER_SERVING_BYTES_MAX", 0)
        idx.warm(spark)
    assert idx.serving_df() is not None
    yield idx
    idx.unwarm()


@pytest.fixture(scope="module")
def vocab_1000(spark, warm_index):
    vocab = sorted(r["term"] for r in
                   warm_index.term_stats(spark).select("term").collect())
    return [vocab[i % len(vocab)] for i in range(1000)]


@pytest.fixture(scope="module")
def full_ranking(spark, warm_index):
    return _pairs(bm25_topk_exact(spark, warm_index, Q, k=10 ** 6))


@pytest.mark.parametrize("case", sorted(EMPTY - {"after_last_result"}))
def test_empty_request_takes_the_empty_tier(spark, warm_index, case):
    """A request with no known term, or k=0, is answered by the planner's
    ``empty`` tier on every route, before any tier-specific work."""
    query, k, _ = CASES[case]
    for name, run, kw in (
            ("exact", bm25_topk_exact, {}),
            ("served", bm25_topk_served, {}),
            ("pruned", bm25_topk_pruned, {"min_ranges_to_prune": 1}),
            ("pruned_fall_through", bm25_topk_pruned, {})):
        stats: dict = {}
        assert _pairs(run(spark, warm_index, query, k=k, stats=stats,
                          **kw)) == [], (case, name)
        assert stats["tier"] == "empty", (case, name)


@pytest.mark.parametrize("case", sorted(CASES))
def test_degenerate_request_same_on_every_route(spark, warm_index,
                                                executor_index,
                                                full_ranking, vocab_1000,
                                                monkeypatch, case):
    query, k, after = CASES[case]
    if query == VOCAB_1000:
        query = vocab_1000
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

    def served_executor():
        stats: dict = {}
        rows = _pairs(bm25_topk_served(spark, executor_index, query, k=k,
                                       after=after, stats=stats))
        assert stats["tier"] == ("empty" if case in EMPTY - {
            "after_last_result"} else "executor"), (case, stats["tier"])
        return rows

    routes = {
        "served_driver": lambda: _pairs(
            bm25_topk_served(spark, idx, query, k=k, after=after)),
        "served_executor": served_executor,
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
