"""The served tests that pin kernel behaviour, re-run on the EXECUTOR
tier.

Every test corpus fits ``_DRIVER_SERVING_BYTES_MAX``, so in their own
modules these tests exercise the driver tier of the served routes (the
in-process kernel over the driver copy of the serving layout). Here the
budget is forced to 0 around each of them, and each test warms its
index itself, so every warm builds the cached executor shards instead
and the same assertions run over them: one map stage of per-shard local
top-ks plus the merge. The fixture also checks that no served request
answered from a driver copy. Together the two runs hold both tiers
bitwise-identical to ``bm25_topk_exact`` and to each other."""

import pytest

from review_recommender_spark.index import build
from review_recommender_spark.index.build import InvertedIndex
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
    monkeypatch.setattr(build, "_DRIVER_SERVING_BYTES_MAX", 0)
    sliced = []
    serving_rows = InvertedIndex.serving_rows

    def recorded(index, terms):
        rows = serving_rows(index, terms)
        sliced.append(rows is not None)
        return rows

    monkeypatch.setattr(InvertedIndex, "serving_rows", recorded)
    yield
    assert not any(sliced), "a served request read a driver copy"
