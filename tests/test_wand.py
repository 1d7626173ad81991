"""Rank-safety of the block-max pruned scorer: identical top-k to the
exact scorer for every golden query, plus pruning edge cases."""

import numpy as np
import pytest

from review_recommender_spark.query.bm25 import (bm25_topk_exact,
                                                 bm25_topk_pruned)

QUERIES = [
    "wireless bluetooth headphones",
    "yellow cat socks",
    "organic green tea",
    "the and of",             # all stopwords → empty
    "water people time",      # common terms (negative-idf territory)
    "usb charging cable long",
    "zzznope missing terms",
]


@pytest.mark.parametrize("query", QUERIES + ["wireless sound quality"])
@pytest.mark.parametrize("k", [1, 10, 50])
def test_pruned_equals_exact(spark, small_index, query, k):
    exact = bm25_topk_exact(spark, small_index, query, k=k).collect()
    pruned = bm25_topk_pruned(spark, small_index, query, k=k,
                              min_ranges_to_prune=1).collect()
    assert [r["doc_id"] for r in pruned] == [r["doc_id"] for r in exact]
    np.testing.assert_allclose([r["score"] for r in pruned],
                               [r["score"] for r in exact], rtol=1e-12)


@pytest.mark.parametrize("query", QUERIES)
def test_served_equals_exact(spark, small_index, query):
    """The doc-sharded serving path (warm, zero-shuffle local top-k per
    shard + merge) must be rank-identical to the exact path."""
    from review_recommender_spark.query.bm25 import bm25_topk_served
    small_index.warm(spark, serving_shards=5)
    exact = bm25_topk_exact(spark, small_index, query, k=10).collect()
    served = bm25_topk_served(spark, small_index, query, k=10).collect()
    assert [r["doc_id"] for r in served] == [r["doc_id"] for r in exact]
    np.testing.assert_allclose([r["score"] for r in served],
                               [r["score"] for r in exact], rtol=1e-12)


def test_served_batch_topk_equals_per_query(spark, small_index):
    """bm25_topk_served_batch (one map stage for ALL queries) must be
    bitwise-identical per query to bm25_topk_served — same decode, same
    query-token-order fold, same (score desc, doc_id asc) order."""
    from review_recommender_spark.query.bm25 import (bm25_topk_served,
                                                     bm25_topk_served_batch)
    small_index.warm(spark, serving_shards=5)
    batch = bm25_topk_served_batch(spark, small_index, QUERIES,
                                   k=10).collect()
    by_q: dict[int, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(r)
    for qi, query in enumerate(QUERIES):
        solo = bm25_topk_served(spark, small_index, query, k=10).collect()
        got = by_q.get(qi, [])
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in solo], \
            f"query {qi!r}: batch ranking differs from per-query served"
        assert [r["score"] for r in got] == [r["score"] for r in solo], \
            f"query {qi!r}: batch scores not bitwise-equal"


@pytest.mark.parametrize("query", QUERIES)
def test_served_block_skip_bitwise(spark, small_index, query):
    """Served WITH per-shard block-max skipping must be BITWISE-identical
    to served without (same docs, same float scores) — skipping a range
    drops whole sub-θ docs, never a term's contribution."""
    from review_recommender_spark.query.bm25 import bm25_topk_served
    small_index.warm(spark, serving_shards=5)
    plain = bm25_topk_served(spark, small_index, query, k=10,
                             block_skip=False).collect()
    skipped = bm25_topk_served(spark, small_index, query, k=10,
                               block_skip=True).collect()
    assert [r["doc_id"] for r in skipped] == [r["doc_id"] for r in plain]
    assert [r["score"] for r in skipped] == [r["score"] for r in plain]


def test_served_batch_block_skip_bitwise(spark, small_index):
    """Batch form: bitwise identity with skipping on, counters populated.
    (On this uniform synthetic corpus the summed per-term range bounds
    rarely drop below θ, so no decode-count assertion here — engagement
    is proven on a constructed skewed corpus below, the shape real text
    has.)"""
    from review_recommender_spark.query.bm25 import bm25_topk_served_batch
    small_index.warm(spark, serving_shards=5)
    plain = bm25_topk_served_batch(spark, small_index, QUERIES, k=10,
                                   block_skip=False).collect()
    stats: dict = {}
    skipped = bm25_topk_served_batch(spark, small_index, QUERIES, k=10,
                                     block_skip=True,
                                     stats=stats).collect()
    key = lambda r: (r["query_id"], r["doc_id"], r["score"])  # noqa: E731
    assert sorted(map(key, skipped)) == sorted(map(key, plain))
    decoded = stats["decoded_blocks"].value
    total = stats["total_blocks"].value
    assert 0 < decoded <= total, (decoded, total)


def test_served_block_skip_engages_on_skewed_tf(spark, tmp_path):
    """Block-max skipping must actually SKIP when the data is skewed —
    the shape real text has (Zipfian tf, hot ranges): docs 0-63 carry the
    query term with tf=10 while every other range's docs carry it once in
    a short doc. The hot range's local top-k sets θ above every other
    range's bound, so one shard-resident decode covers the answer and the
    remaining ~15 range-blocks are never decoded. Bitwise identity and
    the decode counters are both asserted."""
    import dataclasses

    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.index.build import build_index
    from review_recommender_spark.index.tableio import TableIO
    from review_recommender_spark.query.bm25 import bm25_topk_served

    rows = [(i, " ".join(["signal"] * 10) + f" pad{i}") if i < 64
            else (i, f"signal pad{i}")
            for i in range(1024)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = EngineConfig(bm25=bm25_north())
    cfg = dataclasses.replace(
        cfg, index=dataclasses.replace(cfg.index, range_shift=6,
                                       term_buckets=8))
    idx = build_index(spark, docs, TableIO(str(tmp_path / "skew")), cfg)
    idx.warm(spark, serving_shards=1)
    try:
        plain = bm25_topk_served(spark, idx, "signal", k=10,
                                 block_skip=False).collect()
        stats: dict = {}
        skipped = bm25_topk_served(spark, idx, "signal", k=10,
                                   block_skip=True, stats=stats).collect()
    finally:
        idx.unwarm()
    assert [r["doc_id"] for r in skipped] == [r["doc_id"] for r in plain]
    assert [r["score"] for r in skipped] == [r["score"] for r in plain]
    decoded = stats["decoded_blocks"].value
    total = stats["total_blocks"].value
    # 16 ranges hold the term; only the hot range (and at most a tie
    # neighbor) should decode
    assert total >= 16, total
    assert decoded * 4 <= total, (decoded, total)


def test_served_block_skip_ties_at_theta(spark, tmp_path):
    """Hundreds of identical docs → every range's bound TIES the local
    θ. The skip rule must keep θ-tied ranges (ulp slack) so tied docs
    are scored and the doc_id tie-break matches the unskipped path."""
    import dataclasses

    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.index.build import build_index
    from review_recommender_spark.index.tableio import TableIO
    from review_recommender_spark.query.bm25 import bm25_topk_served

    rows = [(i, "usb charging cable long quality product")
            if i % 3 == 0 else
            (i, f"filler{i} unrelated body text {i}")
            for i in range(900)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = EngineConfig(bm25=bm25_north())
    cfg = dataclasses.replace(
        cfg, index=dataclasses.replace(cfg.index, range_shift=6,
                                       term_buckets=8))
    idx = build_index(spark, docs, TableIO(str(tmp_path / "sk_ties")), cfg)
    idx.warm(spark, serving_shards=4)
    try:
        plain = bm25_topk_served(spark, idx, "usb charging cable", k=10,
                                 block_skip=False).collect()
        skipped = bm25_topk_served(spark, idx, "usb charging cable", k=10,
                                   block_skip=True).collect()
    finally:
        idx.unwarm()
    assert [r["doc_id"] for r in skipped] == [r["doc_id"] for r in plain]
    assert [r["score"] for r in skipped] == [r["score"] for r in plain]


def test_partial_warm_bitwise_identical(spark, small_index):
    """warm(ranges=...) pins only a subset of doc-ranges; served answers
    must be BITWISE-identical to a fully-warm serve (cold ranges are
    exact-scored on disk and merged). Covers single-query, batch, and the
    hybrid scoring seam, plus the degenerate empty warm set."""
    from review_recommender_spark.query.bm25 import (bm25_topk_served,
                                                     bm25_topk_served_batch)
    from review_recommender_spark.query.search import (
        bm25_scores_batch, bm25_scores_batch_served)

    small_index.warm(spark, serving_shards=5)
    assert small_index.warm_ranges() is None
    full = {q: bm25_topk_served(spark, small_index, q, k=10).collect()
            for q in QUERIES}
    key = lambda r: (r["query_id"], r["doc_id"], r["score"])  # noqa: E731
    full_batch = sorted(map(key, bm25_topk_served_batch(
        spark, small_index, QUERIES, k=10).collect()))

    all_ranges = sorted(r["range_id"] for r in small_index.postings(spark)
                        .select("range_id").distinct().collect())
    assert len(all_ranges) >= 8
    half = all_ranges[::2]
    small_index.warm(spark, serving_shards=5, ranges=half)
    try:
        assert small_index.warm_ranges() == frozenset(half)
        assert small_index.is_warm()
        for q in QUERIES:
            got = bm25_topk_served(spark, small_index, q, k=10).collect()
            assert [(r["doc_id"], r["score"]) for r in got] \
                == [(r["doc_id"], r["score"]) for r in full[q]], q
        got_batch = sorted(map(key, bm25_topk_served_batch(
            spark, small_index, QUERIES, k=10).collect()))
        assert got_batch == full_batch
        # hybrid scoring seam: partial-warm served == cold join path
        qs = QUERIES[:2]
        served = sorted(
            (r["query_id"], r["doc_id"], r["_bm25_raw"]) for r in
            bm25_scores_batch_served(spark, small_index, qs).collect())
        cold = sorted(
            (r["query_id"], r["doc_id"], r["_bm25_raw"]) for r in
            bm25_scores_batch(spark, small_index, qs).collect())
        assert served == cold

        # empty warm set: the whole answer comes from the cold side
        small_index.warm(spark, serving_shards=5, ranges=[])
        got = bm25_topk_served(spark, small_index, QUERIES[0],
                               k=10).collect()
        assert [(r["doc_id"], r["score"]) for r in got] \
            == [(r["doc_id"], r["score"]) for r in full[QUERIES[0]]]
    finally:
        small_index.unwarm()


def test_budgeted_warm_picks_by_mass_and_stays_bitwise(spark, small_index):
    """warm(max_bytes=...) must (a) reject combination with ranges=,
    (b) pick ranges greedily by descending encoded posting bytes within
    the budget, (c) answer bitwise-identically to fully-warm, and
    (d) degrade to an all-cold (empty) warm set under a tiny budget."""
    import pyspark.sql.functions as F

    from review_recommender_spark.query.bm25 import bm25_topk_served

    with pytest.raises(ValueError):
        small_index.warm(spark, ranges=[0], max_bytes=1024)
    with pytest.raises(ValueError):
        small_index.warm(spark, max_bytes=-1)

    sizes = {r["range_id"]: r["bytes"] for r in
             small_index.postings(spark).groupBy("range_id")
             .agg(F.sum(F.octet_length("doc_bytes")
                        + F.octet_length("tf_bytes")
                        + F.octet_length("dl_bytes")).alias("bytes"))
             .collect()}
    assert len(sizes) >= 8
    order = sorted(sizes, key=lambda rid: (-sizes[rid], rid))
    # budget that fits the top-3-by-mass exactly (greedy packs smaller
    # ranges too if they still fit, so leave no slack: Σ top-3)
    budget = sum(sizes[rid] for rid in order[:3])
    small_index.warm(spark, serving_shards=5)
    full = bm25_topk_served(spark, small_index, QUERIES[0], k=10).collect()

    small_index.warm(spark, serving_shards=5, max_bytes=budget)
    try:
        picked = small_index.warm_ranges()
        assert picked is not None and picked
        assert sum(sizes[rid] for rid in picked) <= budget
        # greedy-by-mass: the single heaviest range is always in
        assert order[0] in picked
        got = bm25_topk_served(spark, small_index, QUERIES[0],
                               k=10).collect()
        assert [(r["doc_id"], r["score"]) for r in got] \
            == [(r["doc_id"], r["score"]) for r in full]

        # budget below the smallest range: warms nothing, still identical
        small_index.warm(spark, serving_shards=5,
                         max_bytes=min(sizes.values()) - 1)
        assert small_index.warm_ranges() == frozenset()
        got = bm25_topk_served(spark, small_index, QUERIES[0],
                               k=10).collect()
        assert [(r["doc_id"], r["score"]) for r in got] \
            == [(r["doc_id"], r["score"]) for r in full]
    finally:
        small_index.unwarm()


def test_bursty_corpus_skip_and_pruned_identity(spark, tmp_path):
    """The bench's bursty/topical corpus (web-realistic mixed term
    selectivity + heavy-tailed tf) must actually ENGAGE the skip
    machinery on the mixed rare+common query set — and stay bitwise /
    rank-identical with it on. This is the rank-identity gate behind the
    headline BENCH bursty phase."""
    import dataclasses

    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.corpus.pages import bursty_queries, pages_df
    from review_recommender_spark.index.build import build_index
    from review_recommender_spark.index.tableio import TableIO
    from review_recommender_spark.query.bm25 import bm25_topk_served_batch

    cfg = EngineConfig(bm25=bm25_north())
    cfg = dataclasses.replace(
        cfg, index=dataclasses.replace(cfg.index, range_shift=7,
                                       term_buckets=8))
    docs = pages_df(spark, 16000, partitions=16, bursty=True, plant=False)
    idx = build_index(spark, docs, TableIO(str(tmp_path / "bursty")), cfg)
    qs = bursty_queries()
    # 2 shards so per-shard topical candidates exceed k (the bench corpus
    # at 120k reaches that with its default shard count)
    idx.warm(spark, serving_shards=2)
    try:
        stats: dict = {}
        on = bm25_topk_served_batch(spark, idx, qs, k=10, block_skip=True,
                                    stats=stats).collect()
        off = bm25_topk_served_batch(spark, idx, qs, k=10,
                                     block_skip=False).collect()
    finally:
        idx.unwarm()
    key = lambda r: (r["query_id"], r["doc_id"], r["score"])  # noqa: E731
    assert sorted(map(key, on)) == sorted(map(key, off))
    dec = stats["decoded_blocks"].value
    tot = stats["total_blocks"].value
    assert dec * 3 <= tot * 2, (dec, tot)  # skip_ratio ≥ 1/3

    # on-disk pruned path: rank identity + a real block-decode win
    st_e: dict = {}
    st_p: dict = {}
    e = bm25_topk_exact(spark, idx, qs[0], k=10, stats=st_e).collect()
    p = bm25_topk_pruned(spark, idx, qs[0], k=10, min_ranges_to_prune=1,
                         stats=st_p).collect()
    assert [r["doc_id"] for r in p] == [r["doc_id"] for r in e]
    np.testing.assert_allclose([r["score"] for r in p],
                               [r["score"] for r in e], rtol=1e-12)
    assert st_p["decoded_blocks"].value * 2 \
        <= st_e["decoded_blocks"].value, \
        (st_p["decoded_blocks"].value, st_e["decoded_blocks"].value)


def test_negative_idf_pruning_rank_safe(spark, tmp_path):
    """Degenerate/templated corpus where EVERY term's fixed-up idf is
    negative (df > n/2 for the whole vocabulary → vocabulary-mean raw idf
    < 0 → the BM25Okapi ε-fixup ε·avg_idf is itself negative). With
    negative weights, high-tf docs score LOWER, so the (max_tf, min_dl)
    "upper" bound is actually a lower bound — an unclamped pruner would
    skip the ranges holding the true (least-negative) top-k. The bound
    clamp (negative-idf terms contribute 0 to bounds, never to scores)
    must keep both the pruned and the served block-skip paths
    rank-identical to exact."""
    import dataclasses

    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.index.build import build_index
    from review_recommender_spark.index.tableio import TableIO
    from review_recommender_spark.query.bm25 import bm25_topk_served

    # 4-term vocabulary, each term in 3/4 of the docs, tf varying 1..3 by
    # doc — no unique terms, so the vocabulary-mean raw idf stays negative
    rows = []
    for i in range(960):
        words = []
        for j, t in enumerate(["alpha", "beta", "gamma", "delta"]):
            if (i + j) % 4 != 0:
                words.extend([t] * (1 + (i * 7 + j) % 3))
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = EngineConfig(bm25=bm25_north())
    cfg = dataclasses.replace(
        cfg, index=dataclasses.replace(cfg.index, range_shift=6,
                                       term_buckets=8))
    idx = build_index(spark, docs, TableIO(str(tmp_path / "negidf")), cfg)
    # precondition: the fixup produced negative idf for the query terms
    ts = {r["term"]: r["idf"]
          for r in idx.term_stats(spark).collect()}
    assert ts["alpha"] < 0 and ts["beta"] < 0, ts

    query = "alpha beta"
    exact = bm25_topk_exact(spark, idx, query, k=10).collect()
    pruned = bm25_topk_pruned(spark, idx, query, k=10,
                              min_ranges_to_prune=1).collect()
    assert [r["doc_id"] for r in pruned] == [r["doc_id"] for r in exact]
    np.testing.assert_allclose([r["score"] for r in pruned],
                               [r["score"] for r in exact], rtol=1e-12)

    idx.warm(spark, serving_shards=4)
    try:
        plain = bm25_topk_served(spark, idx, query, k=10,
                                 block_skip=False).collect()
        skipped = bm25_topk_served(spark, idx, query, k=10,
                                   block_skip=True).collect()
    finally:
        idx.unwarm()
    assert [r["doc_id"] for r in skipped] == [r["doc_id"] for r in plain]
    assert [r["score"] for r in skipped] == [r["score"] for r in plain]
    assert [r["doc_id"] for r in plain] == [r["doc_id"] for r in exact]


def test_block_bounds_dominate_scores(spark, small_index):
    """Every block's (max_tf, min_dl) upper bound must dominate the true
    score contribution of each posting in it — for any k1/b this follows
    from monotonicity; verify numerically at the configured params."""
    from review_recommender_spark.index.codec import decode_block

    k1, b = small_index.cfg.bm25.k1, small_index.cfg.bm25.b
    avgdl = small_index.avgdl
    rows = small_index.postings(spark).limit(500).collect()
    for r in rows:
        d, t, ln = decode_block(bytes(r["doc_bytes"]), bytes(r["tf_bytes"]),
                                bytes(r["dl_bytes"]), r["n"])
        tf = t.astype(float)
        contrib = tf * (k1 + 1) / (tf + k1 * (1 - b + b * ln / avgdl))
        mt = float(r["max_tf"])
        bound = mt * (k1 + 1) / (mt + k1 * (1 - b + b * r["min_dl"] / avgdl))
        assert (contrib <= bound + 1e-12).all()


def test_fine_prune_keeps_exactly_hot_blocks():
    """_hot_block_mask, run per range, must keep precisely the blocks
    overlapping a doc interval whose summed per-term bound exceeds θ —
    verified against a brute-force per-doc computation on synthetic
    metadata."""
    import numpy as np
    import pandas as pd
    from review_recommender_spark.query.bm25 import _hot_block_mask

    rng = np.random.default_rng(7)
    rows = []
    for range_id in range(3):
        for t, term in enumerate(["alpha", "beta", "gamma"]):
            # non-overlapping ordered blocks per term
            cuts = np.sort(rng.choice(np.arange(1000), 8, replace=False))
            for b in range(0, len(cuts) - 1, 2):
                rows.append((range_id, term, b // 2,
                             int(cuts[b]), int(cuts[b + 1]),
                             float(rng.uniform(0.1, 2.0))))
    meta = pd.DataFrame(rows, columns=["range_id", "term", "block_id",
                                       "first_doc_id", "last_doc_id", "ub"])
    theta = 2.2
    got = set()
    for range_id, grp in meta.groupby("range_id"):
        keep = _hot_block_mask(grp["first_doc_id"].to_numpy(),
                               grp["last_doc_id"].to_numpy(),
                               grp["ub"].to_numpy(), theta)
        got |= {(range_id, r.term, r.block_id)
                for r in grp[keep].itertuples()}

    # brute force: per doc position, sum covering blocks' ubs
    expected = set()
    for range_id, grp in meta.groupby("range_id"):
        bound = np.zeros(1001)
        for r in grp.itertuples():
            bound[r.first_doc_id:r.last_doc_id + 1] += r.ub
        hot_docs = np.flatnonzero(bound > theta)
        for r in grp.itertuples():
            if ((hot_docs >= r.first_doc_id)
                    & (hot_docs <= r.last_doc_id)).any():
                expected.add((range_id, r.term, r.block_id))
    assert got == expected
    assert 0 < len(got) < len(meta)  # pruning actually drops blocks


def test_pruned_exact_ties_at_theta(spark, tmp_path):
    """Hundreds of identical docs → the k-th score TIES the bound of
    every other range. Rank-identity then depends on keeping θ-tied
    ranges/intervals (≥ with ulp slack, not >) so tied docs are scored
    exactly and the doc_id tie-break matches the exact path."""
    import dataclasses

    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.index.build import build_index
    from review_recommender_spark.index.tableio import TableIO

    rows = [(i, "usb charging cable long quality product")
            if i % 3 == 0 else
            (i, f"filler{i} unrelated body text {i}")
            for i in range(900)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = EngineConfig(bm25=bm25_north())
    cfg = dataclasses.replace(
        cfg, index=dataclasses.replace(cfg.index, range_shift=6,
                                       term_buckets=8))
    idx = build_index(spark, docs, TableIO(str(tmp_path / "ties")), cfg)
    exact = bm25_topk_exact(spark, idx, "usb charging cable", k=10).collect()
    pruned = bm25_topk_pruned(spark, idx, "usb charging cable", k=10,
                              min_ranges_to_prune=1).collect()
    assert [r["doc_id"] for r in pruned] == [r["doc_id"] for r in exact]
    np.testing.assert_allclose([r["score"] for r in pruned],
                               [r["score"] for r in exact], rtol=1e-12)
