"""The pruned tests, re-run on the DISTRIBUTED and LAZY tiers.

Every test corpus is small enough that ``bm25_topk_pruned`` takes its
gathered tier: the candidate blocks fit ``_PRUNED_LOCAL_BLOCKS_MAX`` and
the touched ranges fit ``_PRUNED_DRIVER_RANGES_MAX``. Here one of the
two budgets is forced to 0 around each test, so the same assertions run
on the distributed tier (driver-side range bounds, a seed job, then the
survivor kernel over ``isin``-selected ranges) and on the lazy tier
(cached range bounds, a seed job, then the survivor kernel over a
broadcast join). Together with the tests' own modules this holds all
three pruned tiers bitwise-identical to ``bm25_topk_exact``."""

import pytest

from review_recommender_spark.query import bm25
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
