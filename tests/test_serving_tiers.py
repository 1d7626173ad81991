"""The two served tiers (query/bm25.py::_served_scores).

A full ``warm()`` whose encoded posting bytes fit
``_DRIVER_SERVING_BYTES_MAX`` (index/build.py) keeps one serving layout,
a driver copy read straight from the postings Parquet, and every served
entry point answers on the DRIVER tier: the query terms' rows are sliced
out of that copy, the block-max kernel runs in-process, and the rows
come back as a driver-resident result — zero Spark jobs, for the warm
too. Partial warms and warms over budget keep the cached executor shards
instead and answer on the EXECUTOR tier (one map stage). The budget is
read at warm time, so a test reaches the executor tier by warming with
it forced to 0. Bitwise identity of the two tiers is gated by the served
tests themselves, which run once per tier
(tests/test_served_executor_tier.py re-runs them that way).

The gathered pruned tier answers on the driver the same way: on a
never-warmed index its idf and candidate blocks are read straight from
Parquet, so it runs zero Spark jobs too."""

import pytest
from pyspark.sql import functions as F

from review_recommender_spark.index import build
from review_recommender_spark.index.build import _KERNEL_COLS, TERM_STATS
from review_recommender_spark.query import bm25
from review_recommender_spark.query.bm25 import (bm25_topk_exact,
                                                 bm25_topk_pruned,
                                                 bm25_topk_served,
                                                 bm25_topk_served_batch)
from review_recommender_spark.query.search import bm25_scores_batch_served

QUERIES = ["wireless bluetooth headphones", "yellow cat socks",
           "usb charging cable long"]


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
    the call through the collect, and so does an unknown-term batch
    through ``bm25_topk_served_batch`` or ``bm25_scores_batch_served``.
    The executor tier (a warm with the driver budget forced to 0), read
    the same way, runs at least one (the probe is not vacuous)."""
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
        # an unknown-term batch is answered empty on the driver too
        for name, fn in [
                ("served-batch", lambda: bm25_topk_served_batch(
                    spark, small_index, ["zzznope"], k=10)),
                ("scores-batch", lambda: bm25_scores_batch_served(
                    spark, small_index, ["zzznope"]))]:
            rows, n_jobs = _jobs_in_group(
                spark, f"driver-tier-{name}", lambda: fn().collect())
            assert n_jobs == 0 and rows == [], (name, n_jobs)
        monkeypatch.setattr(build, "_DRIVER_SERVING_BYTES_MAX", 0)
        small_index.warm(spark)
        stats: dict = {}
        _, n_jobs = _jobs_in_group(
            spark, "executor-tier",
            lambda: _pairs(bm25_topk_served(spark, small_index, QUERIES[0],
                                            k=10, stats=stats)))
        assert stats["tier"] == "executor" and n_jobs >= 1
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


def test_driver_copy_slices_the_serving_layout(spark, small_index,
                                              monkeypatch):
    """``serving_rows`` returns exactly the on-disk postings block rows
    (``_KERNEL_COLS``) of the requested terms — unknown terms contribute
    none — and the same rows as the executor layout that a warm with the
    driver budget forced to 0 keeps instead of a driver copy."""
    terms = sorted({"cat", "socks", "wireless", "zzznope"})

    def rows(pdf):
        assert list(pdf.columns) == _KERNEL_COLS
        return (pdf.sort_values(["term", "range_id", "first_doc_id"])
                .reset_index(drop=True).to_dict("list"))

    small_index.warm(spark)
    try:
        got = small_index.serving_rows(terms)
        assert set(got["term"]) == {"cat", "socks", "wireless"}
        assert len(small_index.serving_rows([])) == 0
        assert rows(got) == rows(
            small_index.postings(spark).filter(F.col("term").isin(terms))
            .select(*_KERNEL_COLS).toPandas())
        monkeypatch.setattr(build, "_DRIVER_SERVING_BYTES_MAX", 0)
        small_index.warm(spark)
        assert small_index.serving_rows(terms) is None
        assert rows(got) == rows(small_index.serving_df()
                                 .filter(F.col("term").isin(terms))
                                 .toPandas())
    finally:
        small_index.unwarm()


def test_unwarm_and_partial_warm_drop_driver_copy(spark, small_index,
                                                  monkeypatch):
    """A warm keeps ONE serving layout. Only a FULL warm within budget
    keeps the driver copy (and no executor layout): a partial
    ``warm(ranges=...)`` or ``warm(max_bytes=...)`` keeps the executor
    layout instead, ``unwarm`` drops either, and a warm over budget
    keeps the executor layout."""
    def layout():
        driver = small_index.serving_rows(["cat"]) is not None
        executor = small_index.serving_df() is not None
        assert not (driver and executor)
        return "driver" if driver else "executor" if executor else None

    small_index.warm(spark)
    try:
        assert layout() == "driver"
        small_index.warm(spark, ranges=[0, 1])
        assert layout() == "executor"
        small_index.warm(spark)
        assert layout() == "driver"
        small_index.warm(spark, max_bytes=1 << 62)
        assert small_index.warm_ranges() is not None
        assert layout() == "executor"
        small_index.warm(spark)
        small_index.unwarm()
        assert layout() is None
        monkeypatch.setattr(build, "_DRIVER_SERVING_BYTES_MAX", 0)
        small_index.warm(spark)
        assert small_index.is_warm() and layout() == "executor"
    finally:
        small_index.unwarm()


def test_within_budget_warm_is_a_driver_read(spark, small_index,
                                             monkeypatch):
    """A full warm within the driver budget runs 0 Spark jobs and caches
    nothing in Spark: it keeps the driver copy and the idf map only.
    Forced over budget, the warm builds and caches the executor layout
    (``_serving``) and keeps no driver copy."""
    sc = spark.sparkContext

    def cached_rdds():
        return {s.id() for s in sc._jsc.sc().getRDDStorageInfo()}

    before = cached_rdds()
    try:
        _, n_jobs = _jobs_in_group(spark, "warm-driver",
                                   lambda: small_index.warm(spark))
        assert n_jobs == 0
        assert cached_rdds() == before
        assert set(small_index._cached) == {"_driver_serving", "_idf"}
        monkeypatch.setattr(build, "_DRIVER_SERVING_BYTES_MAX", 0)
        _, n_jobs = _jobs_in_group(spark, "warm-executor",
                                   lambda: small_index.warm(spark))
        assert n_jobs >= 1
        assert set(small_index._cached) == {"_serving", "_idf"}
        assert cached_rdds() - before
    finally:
        small_index.unwarm()
    assert cached_rdds() == before


def test_driver_batches_run_no_spark_job(spark, small_index, monkeypatch):
    """On a driver-copy warm, ``bm25_topk_served_batch`` — plain, with a
    filter, with min_match, and with both — and
    ``bm25_scores_batch_served`` run 0 Spark jobs from the call through
    the collect; their answers are bitwise the executor layout's (a warm
    with the driver budget forced to 0)."""
    fd = bm25.local_result(spark, list(range(0, 1000, 2)),
                           schema="doc_id long")
    cases = [{}, {"filter_docs": fd}, {"min_match": 2},
             {"filter_docs": fd, "min_match": "all"}]

    def answers(layout):
        out = []
        for i, kw in enumerate(cases):
            out.append(_jobs_in_group(
                spark, f"{layout}-batch-{i}",
                lambda: bm25_topk_served_batch(spark, small_index, QUERIES,
                                               k=10, **kw).collect()))
        out.append(_jobs_in_group(
            spark, f"{layout}-scores",
            lambda: sorted(bm25_scores_batch_served(
                spark, small_index, QUERIES).collect())))
        return out

    try:
        small_index.warm(spark)
        driver = answers("driver")
        monkeypatch.setattr(build, "_DRIVER_SERVING_BYTES_MAX", 0)
        small_index.warm(spark)
        executor = answers("executor")
    finally:
        small_index.unwarm()
    for case, (rows, n_jobs), (want, _) in zip(cases + ["scores"], driver,
                                               executor):
        assert n_jobs == 0, (case, n_jobs)
        assert rows and rows == want, case
    assert sum(n for _, n in executor) >= len(executor)


def test_no_idf_cache_never_rewarms(spark, small_index):
    """After ``warm(idf_cache_max=0)`` the driver copy serves without the
    idf cache (``is_warm()`` is then False): single requests, batches
    and hybrid's served scores run 0 Spark jobs, single requests answer
    as the exact route does, and no request warms again — ``_cached``
    is the same object before and after."""
    small_index.warm(spark, idf_cache_max=0)
    try:
        cached = small_index._cached
        assert small_index.idf_lookup() is None
        assert not small_index.is_warm()
        for i, q in enumerate(QUERIES):
            rows, n_jobs = _jobs_in_group(
                spark, f"no-idf-{i}",
                lambda: _pairs(bm25_topk_served(spark, small_index, q,
                                                k=10)))
            assert n_jobs == 0, (q, n_jobs)
            assert rows == _pairs(bm25_topk_exact(spark, small_index, q,
                                                  k=10)), q
        for name, fn in [
                ("batch", lambda: bm25_topk_served_batch(
                    spark, small_index, QUERIES, k=10)),
                ("scores", lambda: bm25_scores_batch_served(
                    spark, small_index, QUERIES))]:
            rows, n_jobs = _jobs_in_group(spark, f"no-idf-{name}",
                                          lambda: fn().collect())
            assert n_jobs == 0 and rows, (name, n_jobs)
        assert small_index._cached is cached
    finally:
        small_index.unwarm()


def test_scan_opens_only_the_terms_buckets(spark, tmp_path):
    """``InvertedIndex.scan`` opens only the ``term_bucket=`` directories
    its terms hash to: an unreadable file in any other bucket is never
    touched, a bucket with no directory gives no rows, and a root
    rebuilt in place is read afresh (its new rows, and no rows for a
    term whose bucket directory went away)."""
    import dataclasses
    import os

    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.index.build import (build_index,
                                                      term_bucket_py)
    from review_recommender_spark.index.tableio import TableIO
    cfg = EngineConfig(bm25=bm25_north())
    cfg = dataclasses.replace(cfg, index=dataclasses.replace(
        cfg.index, term_buckets=64))
    n = cfg.index.term_buckets
    io = TableIO(str(tmp_path / "idx"))

    def build(texts):
        return build_index(spark, spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"), io, cfg,
            resume=False)

    def df_of(idx, term):
        tbl = idx.scan(TERM_STATS, [term], ["term", "df"]).to_table()
        return dict(zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()))

    idx = build(["alpha beta", "alpha gamma", "beta"])
    root = io.path(TERM_STATS)
    present = {int(d.split("=")[1]) for d in os.listdir(root)
               if d.startswith("term_bucket=")}
    missing = next(t for t in (f"zz{i}" for i in range(1000))
                   if term_bucket_py(t, n) not in present)
    assert df_of(idx, missing) == {}
    assert bm25.query_term_idf(spark, idx, missing) == {}
    assert df_of(idx, "alpha") == {"alpha": 2}
    assert df_of(idx, "beta") == {"beta": 2}
    # an unreadable file in a bucket no scanned term hashes to
    other = next(b for b in sorted(present)
                 if b not in {term_bucket_py(t, n) for t in
                              ("alpha", "beta")})
    with open(os.path.join(root, f"term_bucket={other}",
                           "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    assert df_of(idx, "alpha") == {"alpha": 2}
    with pytest.raises(Exception):
        idx.scan(TERM_STATS, None, ["term"]).to_table()
    # rebuilt in place, read through the same handle
    build(["alpha", "alpha delta", "alpha", "delta"])
    assert df_of(idx, "alpha") == {"alpha": 3}
    assert df_of(idx, "delta") == {"delta": 2}
    if term_bucket_py("beta", n) not in {term_bucket_py(t, n)
                                         for t in ("alpha", "delta")}:
        assert not os.path.isdir(os.path.join(
            root, f"term_bucket={term_bucket_py('beta', n)}"))
    assert df_of(idx, "beta") == {}


def test_planner_names_the_tier_taken(spark, small_index, small_pages,
                                      monkeypatch):
    """``stats["tier"]`` names the tier the planner took, and each forced
    path reaches the tier it claims: the served driver tier; the
    executor tier after a warm with ``_DRIVER_SERVING_BYTES_MAX`` at 0;
    the exact
    tier for a filtered served request with ``_MASK_IDS_MAX`` at 0; the
    gathered pruned tier; the exact_gathered tier for the exact route and
    a pruned request below ``min_ranges_to_prune``, and the exact tier
    for both with ``_PRUNED_LOCAL_BLOCKS_MAX`` at 0. The rows are the
    exact rows on every tier."""
    q = QUERIES[0]
    fd = small_pages.filter(F.col("lang") == "en").select("doc_id")

    def tier_of(run, **kw):
        stats: dict = {}
        got = _pairs(run(spark, small_index, q, k=10, stats=stats, **kw))
        assert got == _pairs(bm25_topk_exact(spark, small_index, q, k=10,
                                             filter_docs=kw.get(
                                                 "filter_docs")))
        return stats["tier"]

    small_index.warm(spark)
    try:
        assert tier_of(bm25_topk_served) == "driver"
        assert tier_of(bm25_topk_served, filter_docs=fd) == "driver"
        with monkeypatch.context() as m:
            m.setattr(build, "_DRIVER_SERVING_BYTES_MAX", 0)
            small_index.warm(spark)
        assert tier_of(bm25_topk_served) == "executor"
        small_index.warm(spark)
        with monkeypatch.context() as m:
            m.setattr(bm25, "_MASK_IDS_MAX", 0)
            assert tier_of(bm25_topk_served, filter_docs=fd) == "exact"
            assert tier_of(bm25_topk_pruned, filter_docs=fd,
                           min_ranges_to_prune=1) == "exact"
    finally:
        small_index.unwarm()
    assert tier_of(bm25_topk_pruned, min_ranges_to_prune=1) == "gathered"
    assert tier_of(bm25_topk_pruned, filter_docs=fd,
                   min_ranges_to_prune=1) == "gathered"
    assert tier_of(bm25_topk_pruned) == "exact_gathered"
    assert tier_of(bm25_topk_exact) == "exact_gathered"
    with monkeypatch.context() as m:
        m.setattr(bm25, "_PRUNED_LOCAL_BLOCKS_MAX", 0)
        assert tier_of(bm25_topk_pruned) == "exact"
        assert tier_of(bm25_topk_exact) == "exact"


def test_cold_gathered_request_runs_no_spark_job(spark, small_index):
    """On a never-warmed handle, a pruned request the gathered tier
    answers runs 0 Spark jobs from the call through the collect: idf and
    the candidate blocks are read straight from Parquet on the driver.
    ``query_term_idf`` runs 0 jobs too, and returns the term_stats
    values. The rows are the exact rows."""
    from review_recommender_spark.index.build import InvertedIndex
    cold = InvertedIndex.load(spark, small_index.io, small_index.cfg)
    idf_table = {r["term"]: r["idf"] for r in
                 small_index.term_stats(spark).select("term", "idf")
                 .collect()}
    for i, q in enumerate(QUERIES + ["zzznope"]):
        stats: dict = {}
        got, n_jobs = _jobs_in_group(
            spark, f"cold-gathered-{i}",
            lambda: _pairs(bm25_topk_pruned(spark, cold, q, k=10,
                                            stats=stats,
                                            min_ranges_to_prune=1)))
        assert n_jobs == 0, (q, n_jobs)
        assert got == _pairs(bm25_topk_exact(spark, small_index, q, k=10))
        idf, n_jobs = _jobs_in_group(
            spark, f"cold-idf-{i}",
            lambda: bm25.query_term_idf(spark, cold, q))
        assert n_jobs == 0, (q, n_jobs)
        assert idf == {t: idf_table[t] for t in bm25._qtf(q)
                       if t in idf_table}, q
        if idf:
            assert stats["tier"] == "gathered", q
            assert 0 < stats["gathered_rows"] <= bm25._PRUNED_LOCAL_BLOCKS_MAX
            assert 0 < stats["gathered_bytes"] <= bm25._PRUNED_LOCAL_BYTES_MAX
    assert cold.idf_lookup() is None


@pytest.mark.parametrize("budget", ["_PRUNED_LOCAL_BLOCKS_MAX",
                                    "_PRUNED_LOCAL_BYTES_MAX"])
def test_each_gather_budget_falls_back_to_distributed(spark, small_index,
                                                      monkeypatch, budget):
    """Either gather budget alone — block rows or encoded bytes — sends a
    pruned request over it to the distributed tier, with the exact rows;
    the stats record what the gather read before it stopped."""
    monkeypatch.setattr(bm25, budget, 0)
    for q in QUERIES[:2]:
        stats: dict = {}
        got = _pairs(bm25_topk_pruned(spark, small_index, q, k=10,
                                      stats=stats, min_ranges_to_prune=1))
        assert stats["tier"] == "distributed", (q, stats["tier"])
        assert stats["gathered_rows"] > 0 and stats["gathered_bytes"] > 0
        assert got == _pairs(bm25_topk_exact(spark, small_index, q, k=10))


def test_gathered_kernel_ignores_row_order(spark, small_index):
    """The gathered tier's kernel gives bitwise-equal rows over the
    gathered block frame and over seeded permutations of its rows (the
    driver-side Parquet read fixes no row order)."""
    for q in QUERIES:
        req = bm25._request(spark, small_index, [q], 10)
        pdf = bm25._gather_blocks(small_index, sorted(req.idf), None)
        assert len(pdf)

        def run(frame):
            return _pairs(bm25._run_local(
                spark, req.kernel(small_index, fine_prune=True), frame))

        want = run(pdf)
        assert want == _pairs(bm25_topk_exact(spark, small_index, q, k=10))
        for seed in (0, 1, 2):
            shuffled = pdf.sample(frac=1.0, random_state=seed) \
                .reset_index(drop=True)
            assert run(shuffled) == want, (q, seed)


@pytest.fixture(scope="module")
def negative_idf_index(spark, tmp_path_factory):
    """test_wand.py's degenerate corpus: 4 terms, each in 3/4 of 960
    docs with tf 1..3, so every term's fixed-up idf is negative."""
    import dataclasses

    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.index.build import build_index
    from review_recommender_spark.index.tableio import TableIO
    rows = []
    for i in range(960):
        words = []
        for j, t in enumerate(["alpha", "beta", "gamma", "delta"]):
            if (i + j) % 4 != 0:
                words.extend([t] * (1 + (i * 7 + j) % 3))
        rows.append((i, " ".join(words)))
    cfg = EngineConfig(bm25=bm25_north())
    cfg = dataclasses.replace(cfg, index=dataclasses.replace(
        cfg.index, range_shift=6, term_buckets=8))
    idx = build_index(spark, spark.createDataFrame(
        rows, "doc_id long, text string"),
        TableIO(str(tmp_path_factory.mktemp("negidf_tiers"))), cfg)
    assert bm25.query_term_idf(spark, idx, "alpha")["alpha"] < 0
    return idx


def test_exact_gathered_bitwise_equals_spark_exact(
        spark, small_index, small_pages, negative_idf_index, monkeypatch):
    """The exact route's two tiers give bitwise-equal rows: the driver's
    ``exact_gathered`` and the Spark plan (``exact``, forced with
    ``_PRUNED_LOCAL_BLOCKS_MAX`` at 0), for every query × min_match
    {None, "all", 2} × {no modifier, filter_docs, exclude_docs, an
    ``after`` cursor} — repeated query tokens and an index whose every
    idf is negative included."""
    docs = small_pages.select("doc_id")
    neg_docs = spark.range(960).withColumnRenamed("id", "doc_id")
    cases = [(small_index, docs, QUERIES + ["cable usb cable charging"]),
             (negative_idf_index, neg_docs,
              ["alpha beta", "gamma alpha gamma delta"])]

    def rows_and_tier(idx, q, **kw):
        stats: dict = {}
        rows = _pairs(bm25_topk_exact(spark, idx, q, k=10, stats=stats, **kw))
        return rows, stats["tier"]

    n_cases = 0
    for idx, ids, queries in cases:
        mods = [{}, {"filter_docs": ids.filter(F.col("doc_id") % 2 == 0)},
                {"exclude_docs": ids.filter(F.col("doc_id") % 3 == 0)},
                "after"]
        for q in queries:
            for mm in (None, "all", 2):
                for mod in mods:
                    if mod == "after":
                        page = _pairs(bm25_topk_exact(spark, idx, q, k=4,
                                                      min_match=mm))
                        if not page:
                            continue
                        mod = {"after": (page[-1][1], page[-1][0])}
                    got, tier = rows_and_tier(idx, q, min_match=mm, **mod)
                    assert tier == "exact_gathered", (q, mm, mod)
                    with monkeypatch.context() as m:
                        m.setattr(bm25, "_PRUNED_LOCAL_BLOCKS_MAX", 0)
                        want, tier = rows_and_tier(idx, q, min_match=mm,
                                                   **mod)
                    assert tier == "exact", (q, mm, mod)
                    assert got == want, (q, mm, mod)
                    n_cases += bool(want)
    assert n_cases >= 40   # most cases have rows: the check is not vacuous


def test_exact_without_masks_runs_no_spark_job(spark, small_index):
    """An exact request with no filter/exclude set — plain, conjunctive
    or paged — runs 0 Spark jobs from the call through the collect, on
    the built handle and on a freshly loaded one."""
    from review_recommender_spark.index.build import InvertedIndex
    cold = InvertedIndex.load(spark, small_index.io, small_index.cfg)
    for idx in (small_index, cold):
        for i, (q, kw) in enumerate(
                [(q, {}) for q in QUERIES + ["zzznope"]]
                + [(QUERIES[0], {"min_match": "all"}),
                   (QUERIES[1], {"after": (1.0, 0)})]):
            rows, n_jobs = _jobs_in_group(
                spark, f"exact-no-job-{id(idx)}-{i}",
                lambda: _pairs(bm25_topk_exact(spark, idx, q, k=10, **kw)))
            assert n_jobs == 0, (q, kw, n_jobs)


def test_load_runs_no_spark_job(spark, small_index):
    """``InvertedIndex.load`` reads the one-row corpus_stats table on the
    driver: 0 Spark jobs, and the built handle's corpus statistics."""
    from review_recommender_spark.index.build import InvertedIndex
    cold, n_jobs = _jobs_in_group(
        spark, "load", lambda: InvertedIndex.load(spark, small_index.io,
                                                  small_index.cfg))
    assert n_jobs == 0
    assert (cold.n_docs, cold.avgdl, cold.vocab_size) == \
        (small_index.n_docs, small_index.avgdl, small_index.vocab_size)
    assert type(cold.n_docs) is int and type(cold.vocab_size) is int
