"""BM25F fielded ranking (query/bm25f.py) — ground-truthed against an
independent driver-side recomputation, plus the single-field reduction
to plain BM25 and the field-weight semantics."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from review_recommender_spark.functions.tokenize import (tokenize_k1_py,
                                                         tokenize_k2_py)
from review_recommender_spark.index.build import build_index
from review_recommender_spark.index.tableio import TableIO
from review_recommender_spark.query.bm25 import bm25_topk_exact
from review_recommender_spark.query.bm25f import (Bm25fField,
                                                  build_fielded_stats,
                                                  bm25f_topk)

Q = "wireless bluetooth headphones"
TITLE_LEN = 3
W_TITLE, W_BODY = 2.0, 1.0
B = 0.75


def _split(text: str) -> tuple[list[str], list[str]]:
    toks = tokenize_k1_py(text)
    return toks[:TITLE_LEN], toks[TITLE_LEN:]


@pytest.fixture(scope="module")
def page_texts(small_pages_pdf):
    return dict(zip(small_pages_pdf["doc_id"], small_pages_pdf["text"]))


@pytest.fixture(scope="module")
def fielded(spark, small_pages, small_index, tmp_path_factory):
    """Title/body field indexes + combined stats over the 1000-page
    corpus. Field text is rebuilt from the K1 token stream (join with
    spaces re-tokenizes to the identical stream: tokens are word-chars,
    already stop-filtered)."""
    from review_recommender_spark.functions.tokenize import tokenize_k1_col
    k1toks = tokenize_k1_col(F.col("text"))
    toks = small_pages.select(
        "doc_id",
        F.array_join(F.slice(k1toks, 1, TITLE_LEN), " ").alias("title"),
        F.array_join(F.slice(k1toks, TITLE_LEN + 1, 1_000_000), " ")
        .alias("body"))
    cfg = small_index.cfg
    ios = []
    idxs = []
    for fieldcol in ("title", "body"):
        io = TableIO(str(tmp_path_factory.mktemp(f"bm25f_{fieldcol}")))
        idxs.append(build_index(
            spark, toks.select("doc_id", F.col(fieldcol).alias("text")),
            io, cfg, n_chunks=1))
        ios.append(io)
    sio = TableIO(str(tmp_path_factory.mktemp("bm25f_stats")))
    build_fielded_stats(spark, ios, sio, cfg)
    return idxs, sio


def _truth_bm25f(texts: dict[int, str], query: str, k1: float,
                 weights=(W_TITLE, W_BODY), b=(B, B)) -> dict[int, float]:
    """Independent recomputation: plain Python dicts/math, field split by
    token slice, BM25Okapi ε-fixup idf over doc-level df."""
    fields = {d: _split(t) for d, t in texts.items()}
    n = len(texts)
    # per-field avgdl
    avgdl = [sum(len(f[i]) for f in fields.values()) / n for i in (0, 1)]
    # doc-level df
    df: dict[str, int] = {}
    for ftoks in fields.values():
        for t in set(ftoks[0]) | set(ftoks[1]):
            df[t] = df.get(t, 0) + 1
    raw = {t: math.log(n - c + 0.5) - math.log(c + 0.5)
           for t, c in df.items()}
    avg_raw = sum(raw.values()) / len(raw)
    idf = {t: (0.25 * avg_raw if r < 0 else r) for t, r in raw.items()}
    qseq = tokenize_k2_py(query)
    scores: dict[int, float] = {}
    for d, ftoks in fields.items():
        s = 0.0
        for tok in qseq:
            if tok not in idf:
                continue
            w = 0.0
            for i in (0, 1):
                tf = ftoks[i].count(tok)
                if tf:
                    bf = 1 - b[i] + b[i] * len(ftoks[i]) / avgdl[i]
                    w += weights[i] * (tf / bf)
            if w > 0:
                s += idf[tok] * w * (k1 + 1) / (k1 + w)
        if s != 0.0:
            scores[d] = s
    return scores


def test_bm25f_matches_python_truth(spark, fielded, page_texts):
    (ftitle, fbody), sio = fielded
    got = bm25f_topk(
        spark, [Bm25fField(ftitle, W_TITLE, B), Bm25fField(fbody, W_BODY, B)],
        sio, Q, k=20).collect()
    truth = _truth_bm25f(page_texts, Q, k1=ftitle.cfg.bm25.k1)
    want = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, rel=1e-9)


def test_single_field_reduces_to_bm25(spark, small_pages, small_index,
                                      tmp_path_factory):
    """One field, weight 1, b = engine b ⇒ BM25F ≡ BM25 (algebraically:
    idf·(tf/B)(k1+1)/(k1+tf/B) = idf·tf(k1+1)/(tf+k1·B)); float paths
    differ (division before saturation), so approx, not bitwise."""
    sio = TableIO(str(tmp_path_factory.mktemp("bm25f_single")))
    build_fielded_stats(spark, [small_index.io], sio, small_index.cfg)
    f = [Bm25fField(small_index, 1.0, small_index.cfg.bm25.b)]
    got = bm25f_topk(spark, f, sio, Q, k=15).collect()
    base = bm25_topk_exact(spark, small_index, Q, k=15).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in base]
    for a, b_ in zip(got, base):
        assert a["score"] == pytest.approx(b_["score"], rel=1e-9)


def test_title_weight_boosts_title_hits_only(spark, fielded, page_texts):
    """Raising the title weight must strictly increase scores of docs with
    a query-term title hit and leave body-only docs unchanged."""
    (ftitle, fbody), sio = fielded
    lo = {r["doc_id"]: r["score"] for r in bm25f_topk(
        spark, [Bm25fField(ftitle, 1.0, B), Bm25fField(fbody, 1.0, B)],
        sio, Q, k=2000).collect()}
    hi = {r["doc_id"]: r["score"] for r in bm25f_topk(
        spark, [Bm25fField(ftitle, 3.0, B), Bm25fField(fbody, 1.0, B)],
        sio, Q, k=2000).collect()}
    assert set(lo) == set(hi)
    qterms = set(tokenize_k2_py(Q))
    n_title = n_body_only = 0
    for d in lo:
        title, _ = _split(page_texts[d])
        if qterms & set(title):
            assert hi[d] > lo[d], d
            n_title += 1
        else:
            assert hi[d] == pytest.approx(lo[d], rel=1e-12), d
            n_body_only += 1
    assert n_title > 0 and n_body_only > 0  # both classes exercised


# -------------------------------------------------------------- dis_max

def _full_scores(spark, idx, q):
    return {r["doc_id"]: r["score"] for r in
            bm25_topk_exact(spark, idx, q, k=10 ** 6).collect()}


def test_dismax_truth_and_tiebreaker(spark, fielded):
    """dismax == max_f(weight_f · BM25_f) + tie · (sum − max), computed
    from the per-field plain rankings."""
    from review_recommender_spark.query.bm25f import dismax_topk
    idxs, _sio = fielded
    flds = [Bm25fField(idxs[0], weight=W_TITLE),
            Bm25fField(idxs[1], weight=W_BODY)]
    s0 = _full_scores(spark, idxs[0], Q)
    s1 = _full_scores(spark, idxs[1], Q)
    for tie in (0.0, 0.3):
        want = {}
        for d in set(s0) | set(s1):
            a = W_TITLE * s0.get(d, 0.0)
            b = W_BODY * s1.get(d, 0.0)
            want[d] = max(a, b) + tie * (min(a, b))
        top = sorted(want.items(), key=lambda x: (-x[1], x[0]))[:10]
        got = [(r["doc_id"], r["score"]) for r in
               dismax_topk(spark, flds, Q, k=10,
                           tie_breaker=tie).collect()]
        assert [d for d, _ in got] == [d for d, _ in top], tie
        for (gd, gs), (wd, ws) in zip(got, top):
            assert gs == pytest.approx(ws, rel=1e-12), tie


def test_dismax_single_field_reduces_to_bm25(spark, fielded):
    from review_recommender_spark.query.bm25f import dismax_topk
    idxs, _sio = fielded
    got = dismax_topk(spark, [Bm25fField(idxs[1], weight=1.0)], Q,
                      k=10).collect()
    want = bm25_topk_exact(spark, idxs[1], Q, k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] \
        == [(r["doc_id"], r["score"]) for r in want]


def test_dismax_guards(spark, fielded):
    from review_recommender_spark.query.bm25f import dismax_topk
    idxs, _sio = fielded
    with pytest.raises(ValueError, match="tie_breaker"):
        dismax_topk(spark, [Bm25fField(idxs[0])], Q, tie_breaker=1.5)
    with pytest.raises(ValueError, match="at least one"):
        dismax_topk(spark, [], Q)


def test_index_tables_read_with_their_written_schema(spark, small_index,
                                                     fielded, small_pages,
                                                     tmp_path):
    """``InvertedIndex.postings()`` and ``term_stats()``, and the
    positions and bm25f stats reads (``read_bucketed``), use a known
    schema instead of inferring one; it must equal what Spark infers
    from the files, column order included, for a built index with
    positions, its delta merge and each bm25f field index, and for the
    fielded stats table."""
    from review_recommender_spark.index.build import (BM25F_STATS,
                                                      POSITIONS, POSTINGS,
                                                      TERM_STATS,
                                                      delta_merge_index,
                                                      read_bucketed)
    from review_recommender_spark.index.positions import build_positions
    build_positions(spark, small_index.io, small_index.cfg)
    delta = small_pages.filter(F.col("doc_id") < 40) \
        .withColumn("doc_id", F.col("doc_id") + 1000)
    merged = delta_merge_index(spark, small_index, delta,
                               TableIO(str(tmp_path / "merged")))
    field_indexes, stats_io = fielded
    reads = [(stats_io, BM25F_STATS,
              read_bucketed(spark, stats_io, BM25F_STATS))]
    for idx in [small_index, merged] + list(field_indexes):
        reads += [(idx.io, POSTINGS, idx.postings(spark)),
                  (idx.io, TERM_STATS, idx.term_stats(spark))]
    for idx in (small_index, merged):
        reads.append((idx.io, POSITIONS,
                      read_bucketed(spark, idx.io, POSITIONS)))
    for io, name, df in reads:
        inferred = spark.read.parquet(io.path(name)).schema
        assert df.schema == inferred, (io.root, name)
        assert df.columns == [f.name for f in inferred.fields]
