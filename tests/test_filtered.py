"""Filtered BM25 retrieval — a metadata predicate applied BEFORE top-k.

Contract (query/bm25.py::_apply_doc_filter / _served_local_topk allowed=):
the result is the true top-k of the FILTERED corpus — an excluded doc
never occupies a top-k slot (post-filtering a top-k underfills it) — and
every surviving doc's score is bitwise-identical to its unfiltered score
(the filter shrinks the candidate set, never touches the arithmetic).

Routes gated here:
  * exact path:   LEFT SEMI join of score partials against the filter scan
  * served path:  sorted-id mask inside the zero-shuffle shard kernel
                  (block-max skipping stays rank-safe under the mask)
  * fallback:     survivor set over ``_MASK_IDS_MAX`` → the exact
                  semi-join route (forced here with a cap of 0)
  * partial warm: the cold on-disk union is filtered too
  * mask memo:    a filter whose rows cannot change is collected once per
                  DataFrame object; any other filter on every request
"""

import gc
import weakref

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from review_recommender_spark.query import bm25
from review_recommender_spark.query.bm25 import (bm25_topk_exact,
                                                 bm25_topk_served,
                                                 bm25_topk_served_batch,
                                                 local_result)
from review_recommender_spark.query.snippets import _collect_doc_ids
from test_serving_tiers import _jobs_in_group

QUERIES = ["wireless bluetooth headphones", "yellow cat socks"]


def _es_filter(small_pages):
    return small_pages.filter(F.col("lang") == "es").select("doc_id")


def _pairs(rows):
    return [(r["doc_id"], r["score"]) for r in rows]


def test_exact_filtered_is_topk_of_filtered_corpus(spark, small_pages,
                                                   small_index):
    """Ground truth: the unfiltered FULL ranking (k = corpus size),
    filtered in plain Python — the filtered top-k must equal its head."""
    allowed = {r["doc_id"] for r in _es_filter(small_pages).collect()}
    assert 10 <= len(allowed) <= 200  # ~2% of 1000 pages; sanity
    for q in QUERIES:
        full = bm25_topk_exact(spark, small_index, q, k=2000).collect()
        want = [(r["doc_id"], r["score"]) for r in full
                if r["doc_id"] in allowed][:10]
        got = _pairs(bm25_topk_exact(
            spark, small_index, q, k=10,
            filter_docs=_es_filter(small_pages)).collect())
        assert got == want, q
        # the filter must actually bite: unfiltered top-10 differs
        assert [d for d, _ in got] != [r["doc_id"] for r in full[:10]], q


def test_served_filtered_bitwise_equals_exact(spark, small_pages,
                                              small_index):
    small_index.warm(spark, serving_shards=5)
    try:
        for q in QUERIES:
            exact = _pairs(bm25_topk_exact(
                spark, small_index, q, k=10,
                filter_docs=_es_filter(small_pages)).collect())
            served = _pairs(bm25_topk_served(
                spark, small_index, q, k=10,
                filter_docs=_es_filter(small_pages)).collect())
            assert served == exact, q  # bitwise: == on floats on purpose
    finally:
        small_index.unwarm()


def test_served_filtered_fallback_route_identical(spark, small_pages,
                                                  small_index, monkeypatch):
    """_MASK_IDS_MAX=0 forces the semi-join fallback; results must
    match the mask route bitwise (single + batch)."""
    small_index.warm(spark, serving_shards=5)
    try:
        fd = _es_filter(small_pages)
        q = QUERIES[0]
        mask = _pairs(bm25_topk_served(spark, small_index, q, k=10,
                                       filter_docs=fd).collect())
        with monkeypatch.context() as m:
            m.setattr(bm25, "_MASK_IDS_MAX", 0)
            fb = _pairs(bm25_topk_served(spark, small_index, q, k=10,
                                         filter_docs=fd).collect())
        assert fb == mask
        key = lambda r: (r["query_id"], r["doc_id"], r["score"])  # noqa: E731
        bmask = sorted(map(key, bm25_topk_served_batch(
            spark, small_index, QUERIES, k=10, filter_docs=fd).collect()))
        with monkeypatch.context() as m:
            m.setattr(bm25, "_MASK_IDS_MAX", 0)
            bfb = sorted(map(key, bm25_topk_served_batch(
                spark, small_index, QUERIES, k=10,
                filter_docs=fd).collect()))
        assert bfb == bmask
    finally:
        small_index.unwarm()


def test_served_batch_filtered_equals_per_query(spark, small_pages,
                                                small_index):
    small_index.warm(spark, serving_shards=5)
    try:
        fd = _es_filter(small_pages)
        batch = bm25_topk_served_batch(spark, small_index, QUERIES, k=10,
                                       filter_docs=fd).collect()
        by_q: dict[int, list] = {}
        for r in batch:
            by_q.setdefault(r["query_id"], []).append(r)
        for qi, q in enumerate(QUERIES):
            solo = _pairs(bm25_topk_served(spark, small_index, q, k=10,
                                           filter_docs=fd).collect())
            assert _pairs(by_q.get(qi, [])) == solo, q
    finally:
        small_index.unwarm()


def test_partial_warm_filtered_bitwise(spark, small_pages, small_index):
    """Half-warm + filter: the cold on-disk union is filtered too, so the
    answer equals the fully-warm filtered answer bitwise."""
    fd = _es_filter(small_pages)
    small_index.warm(spark, serving_shards=5)
    try:
        full = {q: _pairs(bm25_topk_served(spark, small_index, q, k=10,
                                           filter_docs=fd).collect())
                for q in QUERIES}
        all_ranges = sorted(r["range_id"]
                            for r in small_index.postings(spark)
                            .select("range_id").distinct().collect())
        small_index.warm(spark, serving_shards=5, ranges=all_ranges[::2])
        for q in QUERIES:
            got = _pairs(bm25_topk_served(spark, small_index, q, k=10,
                                          filter_docs=fd).collect())
            assert got == full[q], q
    finally:
        small_index.unwarm()


def test_empty_filter_returns_empty(spark, small_pages, small_index):
    fd = small_pages.filter(F.col("lang") == "xx").select("doc_id")
    assert bm25_topk_exact(spark, small_index, QUERIES[0], k=10,
                           filter_docs=fd).count() == 0
    small_index.warm(spark, serving_shards=5)
    try:
        assert bm25_topk_served(spark, small_index, QUERIES[0], k=10,
                                filter_docs=fd).count() == 0
        assert bm25_topk_served_batch(spark, small_index, QUERIES, k=10,
                                      filter_docs=fd).count() == 0
    finally:
        small_index.unwarm()


def test_pruned_filtered(spark, small_pages, small_index):
    """The pruned path with a filter must take θ from FILTERED scores:
    the 'es' slice (~2%) scores far below the unfiltered top-k, so an
    unfiltered θ would prune ranges holding the true filtered top-k.
    Bitwise identity with the exact filtered path, with the fine
    block-level prune on (it always is)."""
    from review_recommender_spark.query.bm25 import bm25_topk_pruned
    fd = _es_filter(small_pages)
    for q in QUERIES:
        exact = _pairs(bm25_topk_exact(spark, small_index, q, k=10,
                                       filter_docs=fd).collect())
        pruned = _pairs(bm25_topk_pruned(
            spark, small_index, q, k=10, min_ranges_to_prune=1,
            filter_docs=fd).collect())
        assert pruned == exact, q
    # fall-through branch (few ranges → exact path) also filters
    ft = _pairs(bm25_topk_pruned(spark, small_index, QUERIES[0], k=10,
                                 min_ranges_to_prune=10**9,
                                 filter_docs=fd).collect())
    assert ft == _pairs(bm25_topk_exact(spark, small_index, QUERIES[0],
                                        k=10, filter_docs=fd).collect())


def test_block_skip_rank_safe_under_filter(spark, small_pages, small_index):
    """Skipping with the mask on must stay bitwise-identical to the
    unskipped masked kernel (a range bound over ALL docs upper-bounds the
    allowed subset, so skipping only gets more eager, never wrong)."""
    small_index.warm(spark, serving_shards=5)
    try:
        fd = _es_filter(small_pages)
        for q in QUERIES:
            on = _pairs(bm25_topk_served(spark, small_index, q, k=10,
                                         filter_docs=fd,
                                         block_skip=True).collect())
            off = _pairs(bm25_topk_served(spark, small_index, q, k=10,
                                          filter_docs=fd,
                                          block_skip=False).collect())
            assert on == off, q
    finally:
        small_index.unwarm()


def _range_filter(spark, n_docs, seed=3):
    """Every 5th doc by hash: a Range → Filter → Project plan, the shape
    of the benchmark's filter."""
    return (spark.range(0, n_docs)
            .where(F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(5)) == 0)
            .select(F.col("id").alias("doc_id")))


def _served(spark, index, group, k=10, **kw):
    """A served request's (rows, jobs it ran, tier taken)."""
    stats: dict = {}
    rows, n_jobs = _jobs_in_group(spark, group, lambda: _pairs(
        bm25_topk_served(spark, index, QUERIES[0], k=k, stats=stats,
                         **kw).collect()))
    return rows, n_jobs, stats["tier"]


@pytest.mark.parametrize("modifier", ["filter_docs", "exclude_docs"])
def test_fixed_filter_is_collected_once(spark, small_index, modifier):
    """A range-backed filter's mask is collected by the first request
    only: the second runs 0 Spark jobs on the driver tier, and both
    answer bitwise what ``bm25_topk_exact`` answers."""
    fd = _range_filter(spark, small_index.n_docs)
    want = _pairs(bm25_topk_exact(spark, small_index, QUERIES[0], k=10,
                                  **{modifier: fd}).collect())
    assert want != _pairs(bm25_topk_exact(spark, small_index, QUERIES[0],
                                          k=10).collect())
    small_index.warm(spark)
    try:
        fresh = _range_filter(spark, small_index.n_docs)
        first, n_first, _ = _served(spark, small_index, f"{modifier}-1",
                                    **{modifier: fresh})
        again, n_again, tier = _served(spark, small_index, f"{modifier}-2",
                                       **{modifier: fresh})
    finally:
        small_index.unwarm()
    assert n_first >= 1 and n_again == 0 and tier == "driver"
    assert first == again == want      # bitwise: == on floats on purpose


def test_parquet_filter_is_collected_every_request(spark, small_index,
                                                   tmp_path):
    """A Parquet-backed filter is re-collected on every request, so once
    its file is overwritten in place the answer follows the new rows.
    (Same-size rewrites: Spark keeps the file listing of a DataFrame.)"""
    path = tmp_path / "ids.parquet"

    def write(seed):
        ids = _range_filter(spark, small_index.n_docs, seed).toArrow()
        pq.write_table(pa.table({"doc_id": ids["doc_id"][:150]}), path,
                       compression="none", use_dictionary=False,
                       write_statistics=False)
        return path.stat().st_size

    size = write(3)
    fd = spark.read.parquet(str(tmp_path)).select("doc_id")
    small_index.warm(spark)
    try:
        answers = []
        for seed in (3, 11):
            assert write(seed) == size
            want = _pairs(bm25_topk_exact(spark, small_index, QUERIES[0],
                                          k=10, filter_docs=fd).collect())
            got, n_jobs, _ = _served(spark, small_index, f"parquet-{seed}",
                                     filter_docs=fd)
            assert n_jobs >= 1 and got == want, seed
            answers.append(got)
    finally:
        small_index.unwarm()
    assert answers[0] != answers[1]
    assert bm25._MASKS[fd] is None


@pytest.mark.parametrize("keep", ["rand", "current_timestamp", "python_udf"])
def test_changing_filters_are_never_memoized(spark, keep):
    """``rand()`` is nondeterministic; ``current_timestamp()`` is
    deterministic to Spark but not a leaf of fixed rows; a Python UDF's
    deterministic flag is only a promise. Each is collected every time."""
    pred = {"rand": F.rand(7) < 0.5,
            "current_timestamp": F.current_timestamp() > F.lit(0).cast(
                "timestamp"),
            "python_udf": F.udf(lambda i: i % 5 == 0, "boolean")("id")}[keep]
    fd = spark.range(0, 200).where(pred).select(F.col("id").alias("doc_id"))
    for i in range(2):
        _, n_jobs = _jobs_in_group(spark, f"{keep}-{i}", lambda:
                                   bm25._collect_filter_ids(fd, 1000))
        assert n_jobs >= 1, (keep, i)
    assert bm25._MASKS[fd] is None


def test_memo_entry_goes_with_its_dataframe(spark):
    fd = _range_filter(spark, 1000)
    ids, too_big = bm25._collect_filter_ids(fd, 1000)
    assert not too_big and len(ids) and not ids.flags.writeable
    assert bm25._MASKS[fd] == {1000: (ids, False)}
    n, ref = len(bm25._MASKS), weakref.ref(fd)
    del fd
    gc.collect()
    assert ref() is None and len(bm25._MASKS) == n - 1


def test_driver_result_ids_are_read_in_process(spark):
    """A driver-resident result as a filter, or as snippet targets, is
    read from its Arrow column: 0 Spark jobs, even on first use. The
    snippets keep their raise-on-cap contract."""
    top = local_result(spark, [9, 4, 9, 2], [3.0, 2.0, 1.0, 0.5])
    (mask, ids), n_jobs = _jobs_in_group(spark, "driver-result", lambda: (
        bm25._collect_filter_ids(top, 10), _collect_doc_ids(top, 10)))
    assert n_jobs == 0
    assert mask[0].tolist() == ids.tolist() == [2, 4, 9] and not mask[1]
    assert bm25._collect_filter_ids(top, 2) == (None, True)
    with pytest.raises(ValueError, match="cap 2"):
        _collect_doc_ids(top, 2)


def test_k_zero_and_empty_fixed_filter_answer_empty(spark, small_index):
    """``k=0`` answers ``empty`` without collecting the filter; a fixed
    filter that admits nothing answers ``empty`` on first use and again,
    from the memo, with 0 jobs."""
    small_index.warm(spark)
    try:
        fd = _range_filter(spark, small_index.n_docs)
        assert _served(spark, small_index, "k-zero", k=0,
                       filter_docs=fd) == ([], 0, "empty")
        assert fd not in bm25._MASKS
        none = spark.range(0).select(F.col("id").alias("doc_id"))
        for i in range(2):
            rows, n_jobs, tier = _served(spark, small_index, f"none-{i}",
                                         filter_docs=none)
            assert (rows, tier) == ([], "empty"), i
        assert n_jobs == 0
    finally:
        small_index.unwarm()
