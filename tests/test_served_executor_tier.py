"""The served tests that pin kernel behaviour, re-run on the EXECUTOR
tier.

Every test corpus fits ``_DRIVER_SERVING_BYTES_MAX``, so in their own
modules these tests exercise the driver tier of ``bm25_topk_served``
(the in-process kernel over the driver copy of the serving layout).
Here the budget is forced to 0 around each of them, so the same
assertions run over the cached executor shards: one map stage of
per-shard local top-ks plus the k×shards merge. Together the two runs
hold both tiers bitwise-identical to ``bm25_topk_exact`` and to each
other."""

import pytest

from review_recommender_spark.query import bm25
from test_conjunctive import (  # noqa: F401 — collected here again
    test_all_with_unknown_term_returns_empty,
    test_min_match_composes_with_filter,
    test_served_and_pruned_bitwise_equal_exact,
    test_served_batch_min_match_equals_per_query, toksets)
from test_filtered import (  # noqa: F401
    test_block_skip_rank_safe_under_filter, test_empty_filter_returns_empty,
    test_served_filtered_bitwise_equals_exact,
    test_served_filtered_fallback_route_identical)
from test_paging import (  # noqa: F401
    full_ranking, test_served_and_pruned_pages_bitwise)
from test_wand import (  # noqa: F401
    test_negative_idf_pruning_rank_safe, test_served_block_skip_bitwise,
    test_served_block_skip_engages_on_skewed_tf,
    test_served_block_skip_ties_at_theta, test_served_equals_exact)


@pytest.fixture(autouse=True)
def executor_tier(monkeypatch):
    monkeypatch.setattr(bm25, "_DRIVER_SERVING_BYTES_MAX", 0)
