"""The pruned tests, re-run on the DISTRIBUTED tier.

Every test corpus is small enough that ``bm25_topk_pruned`` takes its
gathered tier: the candidate blocks fit ``_PRUNED_LOCAL_BLOCKS_MAX`` (and
``_PRUNED_LOCAL_BYTES_MAX``, whose forced fallback
tests/test_serving_tiers.py checks). Here only ``_PRUNED_LOCAL_BLOCKS_MAX``
is forced, to 0, around each test, so the same assertions run on the
distributed tier: the candidate blocks re-sharded by range_id into
doc-complete tasks, the block-max kernel's local top-k in each task, and
one merge. Each test runs under two task layouts, since the tier's
θ is task-local: many tasks holding a few ranges each (16 shuffle
partitions, coalescing off) and one task holding every range (1).
Together with the tests' own modules this holds both pruned tiers
bitwise-identical to ``bm25_topk_exact``;
``test_forced_budget_reaches_its_tier`` checks that the forced budget
really sends the request to the distributed tier, and
``test_distributed_tier_runs_two_jobs`` that it runs at most two Spark
jobs, with the layout's task count after the shuffle."""

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
    test_pruned_exact_ties_at_theta)

# shuffle partitions per task layout of the distributed tier
LAYOUTS = {"distributed": 16, "distributed_one_task": 1}


@pytest.fixture(autouse=True, params=sorted(LAYOUTS))
def pruned_layout(request, spark, monkeypatch):
    monkeypatch.setattr(bm25, "_PRUNED_LOCAL_BLOCKS_MAX", 0)
    conf = {"spark.sql.shuffle.partitions": str(LAYOUTS[request.param]),
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    old = {key: spark.conf.get(key) for key in conf}
    for key, value in conf.items():
        spark.conf.set(key, value)
    yield request.param
    for key, value in old.items():
        spark.conf.set(key, value)


def _pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_forced_budget_reaches_its_tier(spark, small_index):
    """The planner reports the tier it took: under the forced budget a
    pruned request runs the distributed tier, returns the exact rows,
    and (like every pruned tier) a LocalRelation."""
    for q in ("wireless bluetooth headphones", "yellow cat socks"):
        stats: dict = {}
        df = bm25_topk_pruned(spark, small_index, q, k=10, stats=stats,
                              min_ranges_to_prune=1)
        assert stats["tier"] == "distributed", (q, stats["tier"])
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", q
        want = bm25_topk_exact(spark, small_index, q, k=10).collect()
        assert _pairs(df) == [(r["doc_id"], r["score"]) for r in want], q


def test_distributed_tier_runs_two_jobs(spark, small_index, pruned_layout):
    """A distributed pruned request runs at most 2 Spark jobs from the
    call through the collect, one of its stages runs one task per
    shuffle partition of the layout, and its rows are bitwise the exact
    rows."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for i, q in enumerate(("wireless bluetooth headphones",
                           "yellow cat socks", "water people time")):
        group = f"{pruned_layout}-{i}"
        stats: dict = {}
        sc.setJobGroup(group, group)
        try:
            got = _pairs(bm25_topk_pruned(spark, small_index, q, k=10,
                                          stats=stats,
                                          min_ranges_to_prune=1))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = tracker.getJobIdsForGroup(group)
        assert stats["tier"] == "distributed", (q, stats["tier"])
        assert 1 <= len(jobs) <= 2, (q, jobs)
        tasks = {info.numTasks for j in jobs
                 for s in tracker.getJobInfo(j).stageIds
                 if (info := tracker.getStageInfo(s)) is not None}
        assert LAYOUTS[pruned_layout] in tasks, (q, tasks)
        assert got == _pairs(bm25_topk_exact(spark, small_index, q,
                                             k=10)), q
