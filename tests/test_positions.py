"""Positional postings + phrase matching (index/positions.py).

Ground truth throughout is the frozen Python K1 tokenizer: positions are
0-based offsets into the K1-filtered token stream, recomputed on the
driver per doc and compared against the distributed build/match."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from review_recommender_spark.functions.tokenize import tokenize_k1_py
from review_recommender_spark.index.codec import (decode_pos_block,
                                                  encode_blocks_bulk)
from review_recommender_spark.index.positions import (POSITIONS,
                                                      build_positions,
                                                      phrase_match)


def _truth_positions(texts: dict[int, str]) -> dict[tuple[int, str], list]:
    out: dict[tuple[int, str], list] = {}
    for doc_id, text in texts.items():
        for i, t in enumerate(tokenize_k1_py(text)):
            out.setdefault((doc_id, t), []).append(i)
    return out


def _truth_phrase(texts: dict[int, str], phrase: str) -> dict[int, int]:
    ptoks = tokenize_k1_py(phrase)
    out: dict[int, int] = {}
    for doc_id, text in texts.items():
        toks = tokenize_k1_py(text)
        n = sum(1 for i in range(len(toks) - len(ptoks) + 1)
                if toks[i:i + len(ptoks)] == ptoks)
        if n:
            out[doc_id] = n
    return out


def test_pos_codec_roundtrip():
    rng = np.random.default_rng(7)
    for trial in range(20):
        n = int(rng.integers(1, 400))
        docs = np.cumsum(rng.integers(1, 1000, n)).astype(np.int64)
        counts = rng.integers(1, 30, n).astype(np.int64)
        pos = np.concatenate([
            np.sort(rng.choice(5000, int(c), replace=False))
            for c in counts]).astype(np.int64)
        bs = np.unique(np.concatenate(
            [[0], rng.integers(0, n, max(n // 50, 1))])).astype(np.int64)
        db, cb, pb = encode_blocks_bulk(docs, counts, pos, bs,
                                        positional=True)
        be = np.append(bs[1:], n)
        flat = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(counts, out=flat[1:])
        for bi, (a, b) in enumerate(zip(bs, be)):
            d, c, p = decode_pos_block(db[bi], cb[bi], pb[bi], int(b - a))
            np.testing.assert_array_equal(d, docs[a:b])
            np.testing.assert_array_equal(c, counts[a:b])
            np.testing.assert_array_equal(p, pos[flat[a]:flat[b]])


@pytest.fixture(scope="module")
def pos_index(spark, small_pages, small_index):
    """positions table built over the session-scoped small index root."""
    build_positions(spark, small_index.io, small_index.cfg)
    return small_index


@pytest.fixture(scope="module")
def page_texts(small_pages_pdf):
    return dict(zip(small_pages_pdf["doc_id"], small_pages_pdf["text"]))


def test_positions_match_python_tokenizer(spark, pos_index, page_texts):
    """Decode EVERY (term, doc) position list for a few probe terms and
    compare with driver-side retokenization."""
    truth = _truth_positions(page_texts)
    probe = ["wireless", "headphones", "cat"]
    rows = (pos_index.io.read(spark, POSITIONS)
            .filter(F.col("term").isin(probe)).collect())
    got: dict[tuple[int, str], list] = {}
    for r in rows:
        docs, counts, pos = decode_pos_block(
            bytes(r["doc_bytes"]), bytes(r["cnt_bytes"]),
            bytes(r["pos_bytes"]), int(r["n"]))
        flat = np.zeros(len(counts) + 1, dtype=np.int64)
        np.cumsum(counts, out=flat[1:])
        for i, d in enumerate(docs):
            key = (int(d), r["term"])
            assert key not in got, f"doc split across blocks? {key}"
            got[key] = pos[flat[i]:flat[i + 1]].tolist()
    want = {k: v for k, v in truth.items() if k[1] in probe}
    assert got == want


def test_positions_block_invariants(spark, pos_index):
    """Docs ascending + unique within (term, range) groups; block sizes
    capped; first/last metadata consistent; range_id = doc_id >> shift."""
    shift = pos_index.cfg.index.range_shift
    bsz = pos_index.cfg.index.block_size
    rows = pos_index.io.read(spark, POSITIONS).collect()
    seen = set()
    for r in rows:
        assert 0 < r["n"] <= bsz
        docs, counts, pos = decode_pos_block(
            bytes(r["doc_bytes"]), bytes(r["cnt_bytes"]),
            bytes(r["pos_bytes"]), int(r["n"]))
        assert (np.diff(docs) > 0).all()
        assert docs[0] == r["first_doc_id"] and docs[-1] == r["last_doc_id"]
        assert ((docs >> shift) == r["range_id"]).all()
        assert (counts >= 1).all()
        for d in docs:
            key = (r["term"], int(d))
            assert key not in seen, "doc duplicated across blocks"
            seen.add(key)


PHRASES = [
    "wireless bluetooth",              # adjacent pair (occurs planted)
    "yellow cat",                      # adjacent pair (occurs planted)
    "wireless bluetooth headphones",   # 3-gram: never consecutive in this
                                       # corpus → both sides must be EMPTY
    "wireless headphones",             # gap-of-1 pair — adjacency must not
                                       # match the wireless…bluetooth docs
]


@pytest.mark.parametrize("phrase", PHRASES)
def test_phrase_match_equals_python(spark, pos_index, page_texts, phrase):
    truth = _truth_phrase(page_texts, phrase)
    got = {r["doc_id"]: r["n_occ"]
           for r in phrase_match(spark, pos_index, phrase,
                                 k=100000).collect()}
    assert got == truth, phrase


def test_phrase_match_order_and_k(spark, pos_index, page_texts):
    phrase = "yellow cat"
    truth = _truth_phrase(page_texts, phrase)
    assert len(truth) > 3
    rows = phrase_match(spark, pos_index, phrase, k=3).collect()
    want = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [(r["doc_id"], r["n_occ"]) for r in rows] == want


def test_phrase_single_term_is_tf(spark, pos_index, page_texts):
    truth = _truth_phrase(page_texts, "wireless")
    got = {r["doc_id"]: r["n_occ"]
           for r in phrase_match(spark, pos_index, "wireless",
                                 k=100000).collect()}
    assert got == truth


def test_phrase_repeated_term(spark, pos_index, page_texts):
    """Consecutive repetition of one token ('cat cat') — the offset-shift
    intersection must use the SAME term's keys at both offsets."""
    truth = _truth_phrase(page_texts, "cat cat")
    got = {r["doc_id"]: r["n_occ"]
           for r in phrase_match(spark, pos_index, "cat cat",
                                 k=100000).collect()}
    assert got == truth


def test_phrase_unknown_or_empty(spark, pos_index):
    assert phrase_match(spark, pos_index,
                        "zzzqqq notaword", k=10).count() == 0
    # all-stopword phrase → K1-tokenizes to [] → empty, no job
    assert phrase_match(spark, pos_index, "the and of", k=10).count() == 0


def test_phrase_filtered_bm25(spark, small_pages, pos_index, page_texts):
    """Composition gate: phrase-FILTERED BM25 = bm25_topk_exact over the
    phrase_match survivor set — true BM25 top-k restricted to docs
    containing the phrase."""
    from review_recommender_spark.query.bm25 import bm25_topk_exact
    phrase = "wireless bluetooth"
    truth_docs = set(_truth_phrase(page_texts, phrase))
    assert len(truth_docs) > 3  # the phrase really occurs in this corpus
    survivors = phrase_match(spark, pos_index, phrase, k=100000)
    got = bm25_topk_exact(spark, pos_index, phrase, k=10,
                          filter_docs=survivors).collect()
    assert got and all(r["doc_id"] in truth_docs for r in got)
    full = bm25_topk_exact(spark, pos_index, phrase, k=2000).collect()
    want = [(r["doc_id"], r["score"]) for r in full
            if r["doc_id"] in truth_docs][:10]
    assert [(r["doc_id"], r["score"]) for r in got] == want


def test_phrase_scan_pruned_and_column_clean(spark, pos_index):
    """Plan gate: the positions scan under phrase_match must prune
    directories by term_bucket, push the term filter into parquet, read
    only the kernel's columns (no block_id/first/last_doc_id), and carry
    exactly ONE exchange (the range_id repartition)."""
    import re
    spark.catalog.clearCache()
    df = phrase_match(spark, pos_index, "wireless bluetooth", k=10)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "term_bucket" in m.group(1), plan
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "term" in pushed.group(1), plan
    rs = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert rs and "first_doc_id" not in rs.group(1) \
        and "block_id" not in rs.group(1), plan
    # one data exchange keyed by range_id (+ the final top-k single
    # partition exchange belongs to orderBy/limit)
    assert plan.count("hashpartitioning(range_id") == 1, plan


def test_warm_phrase_serving_bitwise(spark, pos_index, page_texts):
    """warm_positions pins the range-sharded layout; phrase answers must
    be identical to the cold path, and unwarm releases the cache."""
    from review_recommender_spark.index.positions import warm_positions
    cold = {p: sorted((r["doc_id"], r["n_occ"]) for r in
                      phrase_match(spark, pos_index, p, k=100000).collect())
            for p in PHRASES}
    warm_positions(spark, pos_index, serving_shards=5)
    try:
        assert "_positions" in pos_index._cached
        for p in PHRASES:
            got = sorted((r["doc_id"], r["n_occ"]) for r in
                         phrase_match(spark, pos_index, p,
                                      k=100000).collect())
            assert got == cold[p], p
        # the warm plan must not re-shuffle the resident layout
        df = phrase_match(spark, pos_index, "wireless bluetooth", k=10)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        assert "InMemoryTableScan" in plan, plan
        # no live Exchange ABOVE the cache (the InMemoryRelation's
        # embedded description shows the exchange that BUILT it — that
        # already-materialized plan doesn't count)
        import re as _re
        live = plan.split("InMemoryRelation")[0]
        assert _re.search(r"\(\d+\) Exchange", live) is None \
            and "Exchange" not in live.split("MapInPandas")[0], plan
    finally:
        pos_index.unwarm()
    assert pos_index._cached is None


def test_delta_merge_positions_byte_identical(spark, tmp_path):
    """delta_merge_index must maintain the positional
    table incrementally — upsert (re-crawled text, positions shifted by a
    prepend) + tombstones + new docs — BYTE-identical to build_positions
    over a from-scratch index of the merged corpus."""
    import dataclasses

    import pandas as pd

    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.corpus.pages import (PAGES_SCHEMA,
                                                       pages_pdf)
    from review_recommender_spark.index.build import (build_index,
                                                      delta_merge_index)
    from review_recommender_spark.index.tableio import TableIO

    cfg = EngineConfig(bm25=bm25_north())
    cfg = dataclasses.replace(
        cfg, index=dataclasses.replace(cfg.index, range_shift=6,
                                       term_buckets=8))
    main_pdf = pages_pdf(np.arange(400))
    up = pages_pdf(np.arange(5))
    up["text"] = "wireless bluetooth recrawl " + up["text"]  # shift ALL pos
    new = pages_pdf(np.arange(400, 440))
    delta_pdf = pd.concat([up, new], ignore_index=True)
    deletes = [10, 11, 200]

    main_df = spark.createDataFrame(main_pdf, schema=PAGES_SCHEMA) \
        .repartition(4)
    delta_df = spark.createDataFrame(delta_pdf, schema=PAGES_SCHEMA) \
        .repartition(2)
    io_main = TableIO(str(tmp_path / "pmain"))
    idx_main = build_index(spark, main_df, io_main, cfg)
    build_positions(spark, io_main, cfg)

    out_io = TableIO(str(tmp_path / "pmerged"))
    merged = delta_merge_index(spark, idx_main, delta_df, out_io,
                               mode="upsert", delete_doc_ids=deletes)
    assert out_io.exists(POSITIONS)

    gone = set(deletes) | set(range(5))
    scratch_pdf = pd.concat(
        [main_pdf[~main_pdf["doc_id"].isin(gone)], delta_pdf],
        ignore_index=True)
    io_s = TableIO(str(tmp_path / "pscratch"))
    build_index(spark,
                spark.createDataFrame(scratch_pdf, schema=PAGES_SCHEMA)
                .repartition(4), io_s, cfg)
    build_positions(spark, io_s, cfg)

    def rows(io):
        return sorted(
            (r["term"], r["range_id"], r["block_id"], r["n"],
             r["first_doc_id"], r["last_doc_id"], bytes(r["doc_bytes"]),
             bytes(r["cnt_bytes"]), bytes(r["pos_bytes"]))
            for r in io.read(spark, POSITIONS).collect())

    assert rows(out_io) == rows(io_s)

    # behavioral spot-check: the recrawl phrase matches the 5 upserts
    got = {r["doc_id"] for r in
           phrase_match(spark, merged, "wireless bluetooth recrawl",
                        k=1000).collect()}
    assert set(range(5)) <= got
    # tombstoned docs never match anything
    assert not (got & set(deletes))


def test_delta_merge_positions_flag_validation(spark, tmp_path):
    """Merging into a root without a positions table gives a merged root
    without one (the positions merge runs only when the main root has
    the table)."""
    import dataclasses

    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.corpus.pages import (PAGES_SCHEMA,
                                                       pages_pdf)
    from review_recommender_spark.index.build import (build_index,
                                                      delta_merge_index)
    from review_recommender_spark.index.tableio import TableIO

    cfg = EngineConfig(bm25=bm25_north())
    cfg = dataclasses.replace(
        cfg, index=dataclasses.replace(cfg.index, range_shift=6,
                                       term_buckets=8))
    main_df = spark.createDataFrame(pages_pdf(np.arange(100)),
                                    schema=PAGES_SCHEMA)
    delta_df = spark.createDataFrame(pages_pdf(np.arange(100, 120)),
                                     schema=PAGES_SCHEMA)
    idx_main = build_index(spark, main_df,
                           TableIO(str(tmp_path / "vmain")), cfg)
    out = TableIO(str(tmp_path / "vout"))
    delta_merge_index(spark, idx_main, delta_df, out)
    assert out.exists("postings")
    assert not out.exists(POSITIONS)


def test_positions_build_leaves_postings_untouched(spark, pos_index):
    """The positions build must not disturb the postings contract: the
    POSTINGS table still exists with its snapshot lineage intact."""
    assert pos_index.io.exists("postings")
    assert pos_index.io.current_snapshot("postings") is not None
    assert pos_index.io.current_snapshot(POSITIONS)["lineage"]["parent"] \
        == pos_index.io.current_snapshot("local_tf")["snapshot_id"]


# ------------------------------------------------------------ near_match

def _truth_min_span(text, phrase):
    """Brute force: smallest (max-min) over one position per distinct
    K1 term of ``phrase`` in ``text``; None if some term is absent."""
    from itertools import product as iproduct
    toks = tokenize_k1_py(text)
    terms = sorted(set(tokenize_k1_py(phrase)))
    pos = {t: [i for i, w in enumerate(toks) if w == t] for t in terms}
    if any(not p for p in pos.values()):
        return None
    best = None
    for combo in iproduct(*(pos[t] for t in terms)):
        s = max(combo) - min(combo)
        best = s if best is None or s < best else best
    return best


def test_near_match_truth(spark, pos_index, page_texts):
    from review_recommender_spark.index.positions import near_match
    phrase, window = "wireless keyboard", 12
    got = {r["doc_id"]: r["min_span"]
           for r in near_match(spark, pos_index, phrase, window,
                               k=10 ** 6).collect()}
    want = {}
    for did, text in page_texts.items():
        s = _truth_min_span(text, phrase)
        if s is not None and s <= window:
            want[did] = s
    assert got == want and got


def test_near_match_contains_exact_phrase(spark, pos_index):
    """Every exact-phrase doc near-matches with span <= len-1 (the
    consecutive window), and a window of m-1 admits at least them."""
    from review_recommender_spark.index.positions import (near_match,
                                                          phrase_match)
    phrase = "gaming mouse"
    exact = {r["doc_id"] for r in
             phrase_match(spark, pos_index, phrase, k=10 ** 6).collect()}
    near = {r["doc_id"]: r["min_span"] for r in
            near_match(spark, pos_index, phrase, 1, k=10 ** 6).collect()}
    assert exact and exact <= set(near)
    for d in exact:
        assert near[d] <= 1


def test_near_match_warm_bitwise(spark, pos_index):
    from review_recommender_spark.index.positions import (near_match,
                                                          warm_positions)
    phrase, window = "bluetooth socks", 20
    cold = near_match(spark, pos_index, phrase, window, k=100).collect()
    warm_positions(spark, pos_index)
    try:
        warm = near_match(spark, pos_index, phrase, window,
                          k=100).collect()
    finally:
        pos_index.unwarm()
    assert [(r["doc_id"], r["min_span"]) for r in cold] \
        == [(r["doc_id"], r["min_span"]) for r in warm]
    assert cold


def test_near_match_guards(spark, pos_index):
    from review_recommender_spark.index.positions import near_match
    with pytest.raises(ValueError, match="window"):
        near_match(spark, pos_index, "a b", -1)
    assert near_match(spark, pos_index, "", 5).count() == 0


def test_near_match_no_cross_doc_window_leak(spark, tmp_path):
    """ADVICE r6: adjacent docs' packed keys can differ by as little as
    _POS_MULT − token_cap + 1 (3194 here), so a window ≥ that gap used to
    admit a doc via a span that STARTED in the previous document — silent
    wrong results for large legal windows. The kernel now masks cross-doc
    starts: a doc lacking one of the terms must never match, whatever the
    window."""
    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.index.build import build_index
    from review_recommender_spark.index.positions import (build_positions,
                                                          near_match)
    from review_recommender_spark.index.tableio import TableIO

    pad = " ".join(["pad"] * 4998)
    rows = [
        (0, pad + " alpha"),          # alpha at kept-pos 4998, no beta
        (1, "beta " + pad),           # beta at kept-pos 0, no alpha
        (2, "alpha " + " ".join(["pad"] * 50) + " beta"),  # true span 51
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = EngineConfig(bm25=bm25_north())
    idx = build_index(spark, docs, TableIO(str(tmp_path / "leak")), cfg)
    build_positions(spark, idx.io, cfg)
    # cross-doc gap between doc 0's alpha and doc 1's beta is
    # 8192 − 4998 = 3194 ≤ window: docs 0/1 must still NOT match
    got = {r["doc_id"]: r["min_span"]
           for r in near_match(spark, idx, "alpha beta", 4000,
                               k=100).collect()}
    assert got == {2: 51}
