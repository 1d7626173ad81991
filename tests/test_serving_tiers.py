"""The two served tiers (query/bm25.py::bm25_topk_served).

A full ``warm()`` whose encoded posting bytes fit
``_DRIVER_SERVING_BYTES_MAX`` keeps a driver copy of the serving layout
and answers on the DRIVER tier: the query terms' rows are sliced out of
that copy, the block-max kernel runs in-process, and the ≤ k rows come
back as a LocalRelation — zero Spark jobs. Partial warms and layouts
over budget answer on the EXECUTOR tier (one map stage over the cached
shards). Bitwise identity of the two tiers is gated by the served tests
themselves, which run once per tier (tests/test_served_executor_tier.py
re-runs them with the budget forced to 0)."""

from pyspark.sql import functions as F

from review_recommender_spark.query import bm25
from review_recommender_spark.query.bm25 import (bm25_topk_exact,
                                                 bm25_topk_pruned,
                                                 bm25_topk_served)

QUERIES = ["wireless bluetooth headphones", "yellow cat socks",
           "usb charging cable long"]
UNLIMITED = 1 << 62


def _pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` with every Spark job it starts tagged with ``group``;
    return (fn's result, the number of jobs the group ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _is_local_relation(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def test_driver_tier_runs_no_spark_job(spark, small_index, monkeypatch):
    """Without filters, a driver-tier served query — hit, miss, or a
    conjunctive request with no qualifying doc — runs 0 Spark jobs from
    the call through the collect. The executor tier, read the same way,
    runs at least one (the probe is not vacuous)."""
    small_index.warm(spark)
    try:
        requests = [(q, None, True) for q in QUERIES + ["zzznope"]] + [
            ("yellow zzznope", "all", True), (QUERIES[0], "all", False)]
        for i, (q, mm, skip) in enumerate(requests):
            want = _pairs(bm25_topk_exact(spark, small_index, q, k=10,
                                          min_match=mm))
            got, n_jobs = _jobs_in_group(
                spark, f"driver-tier-{i}",
                lambda: _pairs(bm25_topk_served(spark, small_index, q, k=10,
                                                min_match=mm,
                                                block_skip=skip)))
            assert n_jobs == 0, (q, mm, n_jobs)
            assert got == want, (q, mm)
        monkeypatch.setattr(bm25, "_DRIVER_SERVING_BYTES_MAX", 0)
        _, n_jobs = _jobs_in_group(
            spark, "executor-tier",
            lambda: _pairs(bm25_topk_served(spark, small_index, QUERIES[0],
                                            k=10)))
        assert n_jobs >= 1
    finally:
        small_index.unwarm()


def test_driver_tier_and_gathered_results_are_local_relations(
        spark, small_index):
    """The served driver tier and the gathered pruned tier return their
    ≤ k rows — empty ones included — as LocalRelations, whose collect
    starts no Python stage."""
    small_index.warm(spark)
    try:
        for q in QUERIES + ["zzznope"]:
            assert _is_local_relation(
                bm25_topk_served(spark, small_index, q, k=10)), q
    finally:
        small_index.unwarm()
    for q in QUERIES + ["zzznope"]:
        stats: dict = {}
        df = bm25_topk_pruned(spark, small_index, q, k=10, stats=stats,
                              min_ranges_to_prune=1)
        assert _is_local_relation(df), q
        assert stats.get("pruning_engaged", True), q


def test_driver_copy_slices_the_serving_layout(spark, small_index):
    """``serving_rows`` returns exactly the executor layout's block rows
    for the requested terms (unknown terms contribute none), and nothing
    once the budget is below the copy's encoded bytes."""
    small_index.warm(spark)
    try:
        terms = sorted({"cat", "socks", "wireless", "zzznope"})
        got = small_index.serving_rows(terms, UNLIMITED)
        want = (small_index.serving_df(spark)
                .filter(F.col("term").isin(terms)).toPandas())
        key = ["term", "range_id", "first_doc_id"]
        cols = list(want.columns)
        assert list(got.columns) == cols
        got = got.sort_values(key).reset_index(drop=True)
        want = want.sort_values(key).reset_index(drop=True)
        assert got.to_dict("list") == want.to_dict("list")
        assert set(got["term"]) == {"cat", "socks", "wireless"}
        assert small_index.serving_rows(terms, 0) is None
        assert len(small_index.serving_rows([], UNLIMITED)) == 0
    finally:
        small_index.unwarm()


def test_unwarm_and_partial_warm_drop_driver_copy(spark, small_index,
                                                  monkeypatch):
    """Only a FULL warm within budget keeps the driver copy: a partial
    ``warm(ranges=...)`` or ``warm(max_bytes=...)`` drops it, ``unwarm``
    drops it, and a warm over budget never takes one."""
    def resident():
        return small_index.serving_rows(["cat"], UNLIMITED) is not None

    small_index.warm(spark)
    try:
        assert resident()
        small_index.warm(spark, ranges=[0, 1])
        assert not resident()
        small_index.warm(spark)
        assert resident()
        small_index.warm(spark, max_bytes=UNLIMITED)
        assert small_index.warm_ranges() is not None and not resident()
        small_index.warm(spark)
        small_index.unwarm()
        assert not resident()
        monkeypatch.setattr(bm25, "_DRIVER_SERVING_BYTES_MAX", 0)
        small_index.warm(spark)
        assert small_index.is_warm() and not resident()
    finally:
        small_index.unwarm()
