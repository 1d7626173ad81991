"""Search-box DSL (query/parser.py): parsing + boolean execution,
ground-truthed against driver-side retokenization and the full ranking."""

import pytest
from pyspark.sql import functions as F

from review_recommender_spark.functions.tokenize import tokenize_k1_py
from review_recommender_spark.index.positions import build_positions
from review_recommender_spark.query import bm25
from review_recommender_spark.query.bm25 import bm25_topk_exact, term_docs
from review_recommender_spark.query.parser import dsl_search, parse_query


@pytest.fixture(scope="module")
def pos_index(spark, small_pages, small_index):
    build_positions(spark, small_index.io, small_index.cfg)
    return small_index


@pytest.fixture(scope="module")
def page_texts(small_pages_pdf):
    return dict(zip(small_pages_pdf["doc_id"], small_pages_pdf["text"]))


def test_parse_query_grammar():
    pq = parse_query('wireless +bluetooth -cheap "gaming keyboard" socks')
    assert pq.free == ["wireless", "socks"]
    assert pq.required == ["bluetooth"]
    assert pq.excluded == ["cheap"]
    assert pq.phrases == ["gaming keyboard"]
    assert pq.ranking_text == "wireless socks bluetooth gaming keyboard"
    # sigils inside quotes are literal; bare sigils and empty quotes drop
    pq2 = parse_query('"+not -a sigil" + - ""')
    assert pq2.phrases == ["+not -a sigil"]
    assert pq2.free == pq2.required == pq2.excluded == []


def test_term_docs_matches_retokenize(spark, small_index, page_texts):
    got = {r["doc_id"] for r in
           term_docs(spark, small_index, "bluetooth").collect()}
    want = {d for d, t in page_texts.items()
            if "bluetooth" in tokenize_k1_py(t)}
    assert got == want and got


def test_required_and_excluded(spark, small_index, page_texts):
    """+bluetooth -socks: every result contains bluetooth and not socks;
    scores equal the plain ranking's scores; result is the true top-k of
    the constrained set."""
    q = 'wireless +bluetooth -socks'
    got = dsl_search(spark, small_index, q, k=10).collect()
    assert got
    full = bm25_topk_exact(spark, small_index, "wireless bluetooth",
                           k=2000).collect()
    ok = [r for r in full
          if "bluetooth" in tokenize_k1_py(page_texts[r["doc_id"]])
          and "socks" not in tokenize_k1_py(page_texts[r["doc_id"]])][:10]
    assert [(r["doc_id"], r["score"]) for r in got] \
        == [(r["doc_id"], r["score"]) for r in ok]


def test_phrase_constraint(spark, pos_index, page_texts):
    """Quoted phrase: results must contain the exact consecutive token
    pair, ranked by BM25 over all the words."""
    q = '"wireless headphones" bluetooth'
    got = dsl_search(spark, pos_index, q, k=10).collect()
    assert got
    ptoks = tokenize_k1_py("wireless headphones")
    for r in got:
        toks = tokenize_k1_py(page_texts[r["doc_id"]])
        assert any(toks[i:i + 2] == ptoks
                   for i in range(len(toks) - 1)), r["doc_id"]
    # scores equal the plain ranking of the same word sequence
    base = {r["doc_id"]: r["score"] for r in bm25_topk_exact(
        spark, pos_index, "bluetooth wireless headphones", k=2000).collect()}
    for r in got:
        assert r["score"] == base[r["doc_id"]]


def test_ranking_order_is_query_order(spark, pos_index):
    """The DSL spec: ranking text is free + required + phrase words in
    that order (the fold is order-sensitive on ties)."""
    a = dsl_search(spark, pos_index, 'wireless +bluetooth', k=10).collect()
    b = bm25_topk_exact(
        spark, pos_index, "wireless bluetooth", k=2000,
        filter_docs=term_docs(spark, pos_index, "bluetooth")).collect()
    assert [(r["doc_id"], r["score"]) for r in a] \
        == [(r["doc_id"], r["score"]) for r in b[:10]]


def test_composes_with_metadata_filter(spark, small_pages, small_index,
                                       page_texts):
    fd = small_pages.filter(F.col("lang") == "en").select("doc_id")
    allowed = {r["doc_id"] for r in fd.collect()}
    got = dsl_search(spark, small_index, "wireless +bluetooth", k=10,
                     filter_docs=fd).collect()
    assert got
    for r in got:
        assert r["doc_id"] in allowed
        assert "bluetooth" in tokenize_k1_py(page_texts[r["doc_id"]])


def test_served_exclusion_bitwise_equals_exact(spark, small_index,
                                               monkeypatch):
    """exclude_docs on the served path (sorted blocked mask in the shard
    kernel) must equal the exact anti-join route bitwise, with block-max
    skipping on and off, and via the forced fallback."""
    from review_recommender_spark.query.bm25 import (bm25_topk_served,
                                                     bm25_topk_served_batch)
    ex = term_docs(spark, small_index, "socks")
    q = "wireless bluetooth headphones"
    exact = [(r["doc_id"], r["score"]) for r in bm25_topk_exact(
        spark, small_index, q, k=10, exclude_docs=ex).collect()]
    assert exact
    small_index.warm(spark, serving_shards=5)
    try:
        for skip in (True, False):
            served = [(r["doc_id"], r["score"]) for r in bm25_topk_served(
                spark, small_index, q, k=10, exclude_docs=ex,
                block_skip=skip).collect()]
            assert served == exact, skip
        with monkeypatch.context() as m:
            m.setattr(bm25, "_MASK_IDS_MAX", 0)
            fb = [(r["doc_id"], r["score"]) for r in bm25_topk_served(
                spark, small_index, q, k=10, exclude_docs=ex).collect()]
        assert fb == exact
        batch = [(r["doc_id"], r["score"])
                 for r in bm25_topk_served_batch(
                     spark, small_index, [q], k=10,
                     exclude_docs=ex).collect()]
        assert batch == exact
    finally:
        small_index.unwarm()


def test_pruned_exclusion_bitwise_equals_exact(spark, small_index):
    from review_recommender_spark.query.bm25 import bm25_topk_pruned
    ex = term_docs(spark, small_index, "socks")
    q = "wireless bluetooth headphones"
    exact = [(r["doc_id"], r["score"]) for r in bm25_topk_exact(
        spark, small_index, q, k=10, exclude_docs=ex).collect()]
    pruned = [(r["doc_id"], r["score"]) for r in bm25_topk_pruned(
        spark, small_index, q, k=10, min_ranges_to_prune=1,
        exclude_docs=ex).collect()]
    assert pruned == exact


def test_dsl_warm_route_bitwise(spark, pos_index, page_texts):
    """A warm index routes dsl_search through the served kernel; results
    must be bitwise-identical to the cold exact route."""
    q = 'wireless +bluetooth -socks'
    cold = [(r["doc_id"], r["score"])
            for r in dsl_search(spark, pos_index, q, k=10).collect()]
    pos_index.warm(spark, serving_shards=5)
    try:
        warm = [(r["doc_id"], r["score"])
                for r in dsl_search(spark, pos_index, q, k=10).collect()]
        assert warm == cold
    finally:
        pos_index.unwarm()
    for d, _ in cold:
        toks = tokenize_k1_py(page_texts[d])
        assert "bluetooth" in toks and "socks" not in toks


def test_facets_match_retokenize(spark, pos_index, small_pages, page_texts):
    """dsl_match_docs = the full boolean match set; facet_counts = lang
    histogram over it — both checked against driver retokenization."""
    from review_recommender_spark.query.facets import (dsl_match_docs,
                                                       facet_counts)
    q = 'wireless +bluetooth -socks'          # boolean set, no phrase
    got_ids = {r["doc_id"]
               for r in dsl_match_docs(spark, pos_index, q).collect()}
    want_ids = set()
    for d, text in page_texts.items():
        toks = tokenize_k1_py(text)
        # required terms rank too, so the disjunctive base is
        # (wireless OR bluetooth); ∧ bluetooth collapses it to bluetooth
        if "bluetooth" in toks and "socks" not in toks:
            want_ids.add(d)
    assert got_ids == want_ids and len(got_ids) > 10
    # phrase-constrained match set (small by construction: 3 docs)
    qp = 'wireless "wireless headphones"'
    got_ph = {r["doc_id"]
              for r in dsl_match_docs(spark, pos_index, qp).collect()}
    want_ph = {d for d, t in page_texts.items()
               if any(tokenize_k1_py(t)[i:i + 2]
                      == ["wireless", "headphones"]
                      for i in range(len(tokenize_k1_py(t)) - 1))}
    assert got_ph == want_ph and got_ph
    langs = {r["doc_id"]: r["lang"]
             for r in small_pages.select("doc_id", "lang").collect()}
    got = [(r["value"], r["n_docs"]) for r in facet_counts(
        dsl_match_docs(spark, pos_index, q),
        small_pages.select("doc_id", "lang"), "lang").collect()]
    from collections import Counter
    want = sorted(Counter(langs[d] for d in want_ids).items(),
                  key=lambda kv: (-kv[1], kv[0]))
    assert got == want


def test_empty_and_constraint_only(spark, small_index):
    assert dsl_search(spark, small_index, "", k=10).count() == 0
    # exclusion-only has no ranking text → empty by spec
    assert dsl_search(spark, small_index, "-wireless", k=10).count() == 0
    # required-only still ranks (required terms rank too)
    got = dsl_search(spark, small_index, "+bluetooth", k=5).collect()
    assert got


def test_dsl_near_constraint(spark, pos_index, page_texts):
    """'"wireless headphones"~6': results near-match within the window
    (driver ground truth) and scores equal the full expanded ranking."""
    from tests.test_positions import _truth_min_span
    q = 'socks "wireless headphones"~6'
    got = dsl_search(spark, pos_index, q, k=10).collect()
    assert got
    for r in got:
        s = _truth_min_span(page_texts[r["doc_id"]],
                            "wireless headphones")
        assert s is not None and s <= 6
    full = {r["doc_id"]: r["score"]
            for r in bm25_topk_exact(
                spark, pos_index, "socks wireless headphones",
                k=10 ** 6).collect()}
    for r in got:
        assert r["score"] == full[r["doc_id"]]
    # true top-k of the constrained set: no excluded-by-window doc with
    # a higher score may exist outside the result
    allowed = {d for d, t in page_texts.items()
               if (lambda s: s is not None and s <= 6)
               (_truth_min_span(t, "wireless headphones"))}
    best = sorted(((d, full.get(d, 0.0)) for d in allowed),
                  key=lambda x: (-x[1], x[0]))[:10]
    assert [(r["doc_id"], r["score"]) for r in got] == best


def test_dsl_match_count_with_near(spark, pos_index, page_texts):
    """The boolean match set behind facets/counts honours the ~N
    constraint: count == driver recount of (≥1 ranking term) ∧
    (min_span ≤ N)."""
    from review_recommender_spark.query.facets import dsl_match_count
    from tests.test_positions import _truth_min_span
    q = 'socks "wireless headphones"~6'
    n = dsl_match_count(spark, pos_index, q).collect()[0]["n_hits"]
    rank = {"socks", "wireless", "headphones"}
    want = 0
    for _d, text in page_texts.items():
        toks = set(tokenize_k1_py(text))
        if not toks & rank:
            continue
        s = _truth_min_span(text, "wireless headphones")
        if s is not None and s <= 6:
            want += 1
    assert n == want > 0
