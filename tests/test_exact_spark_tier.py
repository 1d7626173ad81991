"""The bitwise tests that compare against ``bm25_topk_exact``, re-run
with the exact route on its Spark plan.

Every test corpus is small enough that the exact route's blocks fit the
gather budgets, so in their own modules these tests compare against the
``exact_gathered`` tier (the exact plan carried out on the driver). Here
``_PRUNED_LOCAL_BLOCKS_MAX`` is forced to 0 for the whole module (module
scope, so module-scoped fixtures such as ``full_ranking`` are built under
it too): the exact route then runs ``_exact_topk`` — the closure scorer,
the filter/exclude joins and the JVM token-order fold — and each test
checks the served and pruned tiers against that fold. The pruned
requests here take the distributed tier, as the same budget also bounds
the gathered pruned tier."""

import pytest

from review_recommender_spark.query import bm25
from review_recommender_spark.query.bm25 import bm25_topk_exact
from test_bm25_parity import oracle, test_topk_rank_identical  # noqa: F401
from test_conjunctive import (  # noqa: F401 — collected here again
    test_served_and_pruned_bitwise_equal_exact, toksets)
from test_filtered import (  # noqa: F401
    test_pruned_filtered, test_served_filtered_bitwise_equals_exact)
from test_paging import (  # noqa: F401
    full_ranking, test_served_and_pruned_pages_bitwise)
from test_wand import (  # noqa: F401
    test_negative_idf_pruning_rank_safe, test_pruned_equals_exact,
    test_served_equals_exact)


@pytest.fixture(autouse=True, scope="module")
def spark_exact_tier():
    with pytest.MonkeyPatch.context() as m:
        m.setattr(bm25, "_PRUNED_LOCAL_BLOCKS_MAX", 0)
        yield


def test_forced_budget_reaches_the_spark_plan(spark, small_index):
    """Under the forced budget the exact route reports the ``exact``
    tier and returns the Spark plan, not a driver-resident result."""
    stats: dict = {}
    df = bm25_topk_exact(spark, small_index, "wireless bluetooth headphones",
                         k=10, stats=stats)
    assert stats["tier"] == "exact"
    assert not isinstance(df, bm25._DriverResult)
    assert "TakeOrderedAndProject" in \
        df._jdf.queryExecution().executedPlan().toString()
