"""The pruned tests, re-run on the DISTRIBUTED and LAZY tiers.

Every test corpus is small enough that ``bm25_topk_pruned`` takes its
gathered tier: the candidate blocks fit ``_PRUNED_LOCAL_BLOCKS_MAX`` (and
``_PRUNED_LOCAL_BYTES_MAX``, whose forced fallback
tests/test_serving_tiers.py checks) and the touched ranges fit
``_PRUNED_DRIVER_RANGES_MAX``. Here one of the
two budgets is forced to 0 around each test, so the same assertions run
on the distributed tier (driver-side range bounds, a seed job, then the
survivor kernel over ``isin``-selected ranges) and on the lazy tier
(cached range bounds, a seed job, then the survivor kernel over a
broadcast join). Together with the tests' own modules this holds all
three pruned tiers bitwise-identical to ``bm25_topk_exact``, and
``test_forced_budget_reaches_its_tier`` checks that each forced budget
really sends the request to the tier it names."""

import pytest

from review_recommender_spark.query import bm25
from review_recommender_spark.query.bm25 import (bm25_topk_exact,
                                                 bm25_topk_pruned)
from test_conjunctive import (  # noqa: F401 — collected here again
    test_served_and_pruned_bitwise_equal_exact, toksets)
from test_filtered import test_pruned_filtered  # noqa: F401
from test_paging import (  # noqa: F401
    full_ranking, test_served_and_pruned_pages_bitwise)
from test_wand import (  # noqa: F401
    test_negative_idf_pruning_rank_safe, test_pruned_equals_exact,
    test_pruned_exact_ties_at_theta, test_pruned_small_seed_still_safe)

TIER_BUDGET = {"distributed": "_PRUNED_LOCAL_BLOCKS_MAX",
               "lazy": "_PRUNED_DRIVER_RANGES_MAX"}


@pytest.fixture(autouse=True, params=sorted(TIER_BUDGET))
def pruned_tier(request, monkeypatch):
    monkeypatch.setattr(bm25, TIER_BUDGET[request.param], 0)
    return request.param


def test_forced_budget_reaches_its_tier(spark, small_index, pruned_tier):
    """The planner reports the tier it took: under each forced budget a
    pruned request runs the distributed or the lazy tier, returns the
    exact rows, and (like every pruned tier) a LocalRelation."""
    for q in ("wireless bluetooth headphones", "yellow cat socks"):
        stats: dict = {}
        df = bm25_topk_pruned(spark, small_index, q, k=10, stats=stats,
                              min_ranges_to_prune=1)
        assert stats["tier"] == pruned_tier, (q, stats["tier"])
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", q
        want = bm25_topk_exact(spark, small_index, q, k=10).collect()
        assert [(r["doc_id"], r["score"]) for r in df.collect()] == \
            [(r["doc_id"], r["score"]) for r in want], q
