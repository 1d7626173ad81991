"""Determinism across partitioning/parallelism: the same corpus must
produce byte-identical index tables and identical top-k regardless of how
work is split (the sandbox analogue of local[8] == local[32] results —
SURVEY.md §5.2 item 4)."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from review_recommender_spark.config import EngineConfig, bm25_north
from review_recommender_spark.index.build import POSITIONS, build_index
from review_recommender_spark.index.positions import build_positions
from review_recommender_spark.index.tableio import TableIO
from review_recommender_spark.query.bm25 import bm25_topk_exact


def _cfg():
    cfg = EngineConfig(bm25=bm25_north())
    return dataclasses.replace(
        cfg, index=dataclasses.replace(cfg.index, range_shift=6,
                                       term_buckets=8))


def _fingerprint_index(spark, idx):
    posts = sorted(
        (r["term"], r["range_id"], r["block_id"], bytes(r["doc_bytes"]),
         bytes(r["tf_bytes"]), bytes(r["dl_bytes"]), r["max_tf"], r["min_dl"])
        for r in idx.postings(spark).collect())
    stats = sorted((r["term"], r["df"], round(r["idf"], 15))
                   for r in idx.term_stats(spark).collect())
    return posts, stats


def test_index_identical_across_partitioning(spark, small_pages, tmp_path):
    """2 vs 13 input partitions, 5 vs 17 shuffle partitions, 1 vs 3 chunks
    → byte-identical posting blocks and term stats."""
    cfg = _cfg()
    a = build_index(spark, small_pages.repartition(2),
                    TableIO(str(tmp_path / "a")), cfg, n_chunks=1,
                    shuffle_partitions=5)
    b = build_index(spark, small_pages.repartition(13),
                    TableIO(str(tmp_path / "b")), cfg, n_chunks=3,
                    shuffle_partitions=17)
    assert _fingerprint_index(spark, a) == _fingerprint_index(spark, b)
    assert (a.n_docs, a.avgdl, a.vocab_size) == (b.n_docs, b.avgdl,
                                                 b.vocab_size)


def _positions_rows(spark, io):
    return sorted(
        (r["term"], r["range_id"], r["block_id"], r["n"], r["first_doc_id"],
         r["last_doc_id"], bytes(r["doc_bytes"]), bytes(r["cnt_bytes"]),
         bytes(r["pos_bytes"]))
        for r in io.read(spark, POSITIONS).collect())


def test_stage_c_modes_byte_identical(spark, small_pages, tmp_path):
    """The packed Stage C (map-side partial posting arrays merged
    shuffle-side) must produce byte-identical postings + term stats to
    the raw-occurrence oracle plan, including across different
    partitioning — and with a tiny pack chunk size, so each scan task
    flushes many partials per (term, range) group for the merge kernel
    to combine. The positions table, built through the same pack kernel
    at both chunk sizes, must be byte-identical too."""
    from unittest import mock

    from review_recommender_spark.index import build as B
    from review_recommender_spark.oracle import stage_c_raw

    cfg = _cfg()
    a = build_index(spark, small_pages.repartition(7),
                    TableIO(str(tmp_path / "p")), cfg, n_chunks=1,
                    shuffle_partitions=5)
    with mock.patch.object(B, "_stage_c_blocks", stage_c_raw.stage_c_blocks):
        b = build_index(spark, small_pages.repartition(3),
                        TableIO(str(tmp_path / "r")), cfg, n_chunks=1,
                        shuffle_partitions=11)
    assert _fingerprint_index(spark, a) == _fingerprint_index(spark, b)
    orig = B._pack_partials
    with mock.patch.object(
            B, "_pack_partials",
            lambda spec, c, chunk_tokens=2_000_000: orig(spec, c,
                                                         chunk_tokens=64)):
        c = build_index(spark, small_pages.repartition(4),
                        TableIO(str(tmp_path / "s")), cfg, n_chunks=1,
                        shuffle_partitions=7)
        # the positions spec through the same pack kernel, flushed
        # every 64 tokens
        build_positions(spark, c.io, cfg)
    assert _fingerprint_index(spark, c) == _fingerprint_index(spark, b)
    build_positions(spark, a.io, cfg)
    assert _positions_rows(spark, c.io) == _positions_rows(spark, a.io)


@pytest.mark.parametrize("positional", [False, True],
                         ids=["postings", "positions"])
def test_merge_kernel_resums_split_runs(spark, positional):
    """The shuffle-side merge kernel must re-merge a doc split across
    partials — tf SUMMED for postings, positions merged in order for
    positions — the contract that makes partial granularity irrelevant.
    (The arrow pack never splits a doc across flushes, so this is
    exercised directly at the kernel level rather than via a build.)"""
    import numpy as np
    import pandas as pd
    from review_recommender_spark.index import build as B
    from review_recommender_spark.index.codec import (decode_block,
                                                      decode_pos_block)

    def arr(values, dtype):
        return np.asarray(values, dtype).tobytes()

    spec = B.POSITIONS_BLOCKS if positional else B.POSTINGS_BLOCKS
    # doc 9 is split across the two partials
    if positional:
        counts = ([1, 1], [2, 1])
        payload = ([2, 3], [1, 7, 4])     # doc 5: [2]; doc 9: [3] + [1, 7]
    else:
        counts = ([2, 1], [3, 4])         # tfs
        payload = ([40, 50], [50, 60])    # dls
    pdf = pd.DataFrame({
        "term": ["alpha", "alpha"], "range_id": [0, 0], "n": [2, 2],
        "doc_arr": [arr([5, 9], np.int64), arr([9, 11], np.int64)],
        f"{spec.count}_arr": [arr(c, np.int32) for c in counts],
        f"{spec.payload}_arr": [arr(p, np.int32) for p in payload]})
    out = list(B._merge_encode(spec, B.EngineConfig())([pdf]))
    assert len(out) == 1 and len(out[0]) == 1
    row = out[0].iloc[0]
    decode = decode_pos_block if positional else decode_block
    docs, cnts, pay = decode(*(bytes(row[c]) for c in spec.bytes_cols),
                             int(row["n"]))
    assert list(docs) == [5, 9, 11]
    if positional:
        assert list(cnts) == [1, 3, 1]         # doc 9: 1 + 2 positions
        assert list(pay) == [2, 1, 3, 7, 4]    # doc 9: [1, 3, 7]
    else:
        assert list(cnts) == [2, 4, 4]      # doc 9: 1 + 3 re-summed
        assert list(pay) == [40, 50, 60]


def test_topk_stable_across_runs(spark, small_index):
    """Repeated execution of the same query must return identical rows
    (ties broken by doc_id, float sums stable at comparison precision)."""
    q = "wireless bluetooth headphones"
    runs = [bm25_topk_exact(spark, small_index, q, k=20).collect()
            for _ in range(3)]
    base = [(r["doc_id"], round(r["score"], 10)) for r in runs[0]]
    for other in runs[1:]:
        assert [(r["doc_id"], round(r["score"], 10)) for r in other] == base


def test_hybrid_stable_across_partitioning(spark, small_pages, small_index):
    """Dense pool selection uses a partition-invariant total order
    (float32 desc, doc_id asc) — repartitioning embeddings must not change
    hybrid results."""
    from review_recommender_spark.corpus.pages import page_meta_cols
    from review_recommender_spark.query.encoder import embed_documents
    from review_recommender_spark.query.search import hybrid_search

    emb = embed_documents(small_pages.select("doc_id", "text")) \
        .select("doc_id", "embedding")
    meta = (small_pages.select("doc_id", F.col("text").alias("agg_text"))
            .join(page_meta_cols(small_pages.select("doc_id")), "doc_id"))
    q = "organic green tea"
    r1 = hybrid_search(spark, small_index, emb.repartition(2), meta, q,
                       k=10).collect()
    r2 = hybrid_search(spark, small_index, emb.repartition(11), meta, q,
                       k=10).collect()
    assert [(r["doc_id"], round(float(r["_final"]), 6)) for r in r1] == \
        [(r["doc_id"], round(float(r["_final"]), 6)) for r in r2]


def test_packed_build_edge_corpora(spark, tmp_path):
    """Packed Stage C on degenerate corpora: a single doc, a doc with no
    tokens (all stopwords), and all-identical texts (one giant posting
    group) — build must succeed and agree with the raw oracle plan."""
    from unittest import mock

    import pandas as pd

    from review_recommender_spark.index import build as B
    from review_recommender_spark.oracle import stage_c_raw

    cfg = _cfg()
    corpora = {
        "single": pd.DataFrame({"doc_id": [0],
                                "text": ["lonely document text"]}),
        "notok": pd.DataFrame({"doc_id": [0, 1],
                               "text": ["the a of", "real words here"]}),
        "same": pd.DataFrame({"doc_id": list(range(40)),
                              "text": ["identical text body"] * 40}),
    }
    for name, pdf in corpora.items():
        docs = spark.createDataFrame(pdf, "doc_id long, text string")
        a = build_index(spark, docs, TableIO(str(tmp_path / (name + "p"))),
                        cfg, n_chunks=1, shuffle_partitions=3)
        with mock.patch.object(B, "_stage_c_blocks",
                               stage_c_raw.stage_c_blocks):
            b = build_index(spark, docs,
                            TableIO(str(tmp_path / (name + "r"))),
                            cfg, n_chunks=1, shuffle_partitions=3)
        assert _fingerprint_index(spark, a) == _fingerprint_index(spark, b), name
        assert a.n_docs == len(pdf), name
