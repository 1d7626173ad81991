"""Training-data ops: parity/quality tests for the rows-only entries —
MinHash ≈ Jaccard, LSH recall vs brute force, simhash python-parity,
multimodal plumbing, html extraction."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from review_recommender_spark.functions.tokenize import tokenize_k1_col
from review_recommender_spark.ops import dedup as D
from review_recommender_spark.ops import multimodal as MM
from review_recommender_spark.ops import similarity as S
from review_recommender_spark.ops import textstats as TS


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="module")
def emb_df(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_minhash_estimates_jaccard(spark, docs_df):
    """MinHash similarity (fraction of agreeing signature slots) must
    correlate with true shingle Jaccard."""
    d = (docs_df.filter(F.col("doc_id") < 60)
         .select("doc_id",
                 D.token_shingles(tokenize_k1_col(F.col("text")), 3)
                 .alias("sh")))
    k = 64
    sigs = D.minhash_signatures(d, "doc_id", "sh", k=k).toPandas() \
        .set_index("mh_id").sort_index()
    true = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(d, "doc_id", "sh", 0.0).collect()}
    errs = []
    for (a, b), j in true.items():
        if a in sigs.index and b in sigs.index:
            est = (sigs.loc[a].to_numpy() == sigs.loc[b].to_numpy()).mean()
            errs.append(abs(est - j))
    assert errs and float(np.mean(errs)) < 0.12  # k=64 → σ ≈ sqrt(j(1-j)/64)


def test_minhash_lsh_finds_planted_duplicates(spark, docs_df):
    d = docs_df.select("doc_id", "text").filter(F.col("doc_id") < 100)
    dup = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text")
    uni = d.unionByName(dup).select(
        "doc_id", D.token_shingles(tokenize_k1_col(F.col("text")), 3)
        .alias("sh"))
    sigs = D.minhash_signatures(uni, "doc_id", "sh", k=16)
    cands = D.minhash_lsh_candidates(sigs, bands=4, rows_per_band=4) \
        .collect()
    pairs = {(r["id_a"], r["id_b"]) for r in cands}
    # every exact duplicate (identical shingle set → identical signature)
    # must be a candidate
    for i in range(20):
        assert (i, i + 1000) in pairs, f"planted dup {i} missed"


def test_minhash_lsh_degenerate_bucket_bounded(spark):
    """10k boilerplate-identical docs collapse into ONE bucket per band —
    unbounded, the within-bucket self-join would emit ~5·10^7 pairs from
    one reducer. The bucket-size cap must (a) complete with ZERO pairs
    from the degenerate bucket, (b) report what it skipped via metrics,
    and (c) keep genuinely near-dup pairs in small buckets."""
    rows = [(i, "accept cookies privacy policy terms conditions banner")
            for i in range(10_000)]
    # two near-dup docs in their own small bucket
    rows += [(20_000, "rare unique wording about garden furniture sets"),
             (20_001, "rare unique wording about garden furniture sale")]
    d = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", D.token_shingles(tokenize_k1_col(F.col("text")), 3)
        .alias("sh"))
    sigs = D.minhash_signatures(d, "doc_id", "sh", k=16)
    m: dict = {}
    cands = D.minhash_lsh_candidates(sigs, bands=4, rows_per_band=4,
                                     max_bucket_size=100,
                                     metrics=m).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in cands}
    assert all(a >= 20_000 for a, _ in pairs), "degenerate bucket leaked"
    assert (20_000, 20_001) in pairs  # small-bucket recall intact
    assert m["lsh_skipped_buckets"] >= 4  # one giant bucket per band
    assert m["lsh_max_bucket_size"] == 10_000
    assert m["lsh_skipped_rows"] >= 40_000


def test_lsh_ann_recall_vs_bruteforce(spark, emb_df):
    """Production-tuned LSH (30 planes / 10 bands, the entry's settings)
    must hold mean recall ≥ 0.9 vs the exact scan. On this near-random
    synthetic table that recall costs ~75% candidate fraction — the
    honest hyperplane-LSH floor for unstructured vectors (IVF is the
    production pruning path, gated separately)."""
    probes = (emb_df.filter(F.col("vec_id") < 5)
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").alias("probe_vec")))
    exact = S.brute_force_cosine_topk(emb_df, probes, k=10).toPandas()
    approx = S.lsh_cosine_topk(emb_df, probes, k=10, dim=64,
                               n_planes=30, bands=10).toPandas()
    recalls = []
    for pid in range(5):
        e = set(exact[exact["probe_id"] == pid]["vec_id"])
        a = set(approx[approx["probe_id"] == pid]["vec_id"])
        recalls.append(len(e & a) / len(e))
    assert float(np.mean(recalls)) >= 0.9, recalls
    # the probe itself (cosine 1.0) must always survive bucketing
    for pid in range(5):
        assert pid in set(approx[approx["probe_id"] == pid]["vec_id"])


def test_simhash_python_parity_and_similarity(spark, docs_df):
    sub = docs_df.filter(F.col("doc_id") < 50).select("doc_id", "text")
    got = {r["doc_id"]: r["sh"] for r in
           sub.select("doc_id",
                      TS.simhash64_udf(F.col("text")).alias("sh")).collect()}
    pdf = sub.toPandas()
    # independent scalar reference implementation must agree (stronger
    # than recomputing through the same kernel)
    for d, text in zip(pdf["doc_id"], pdf["text"]):
        assert got[d] == TS.simhash64_py(text), d
    # and the batch kernel agrees with itself python-side
    exp = TS.simhash64_udf.func(pdf["text"])
    for d, e in zip(pdf["doc_id"], exp):
        assert got[d] == e
    # identical texts → identical signatures; hamming(sig, sig) == 0
    df2 = sub.withColumn("sh", TS.simhash64_udf(F.col("text")))
    ham = df2.alias("a").join(df2.alias("b"),
                              F.col("a.doc_id") == F.col("b.doc_id")) \
        .select(TS.simhash_hamming(F.col("a.sh"), F.col("b.sh")).alias("h"))
    assert ham.agg(F.max("h")).collect()[0][0] == 0


def test_html_extraction_real_decode(spark):
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "html": [b"<html><body><p>hello <b>world</b></p></body></html>",
                 None,
                 "<div>unicode \xe9l\xe9phant</div>".encode()],
    })
    df = spark.createDataFrame(pdf, schema="doc_id long, html binary")
    out = {r["doc_id"]: r["extracted_text"]
           for r in MM.html_to_text(df).collect()}
    assert out[0] == "hello world"
    assert out[1] == ""
    assert out[2] == "unicode éléphant"


def test_multimodal_feature_plumbing(spark):
    pdf = pd.DataFrame({"doc_id": [0, 1],
                        "payload": [b"\x01\x02\x03\x04" * 64, None]})
    df = spark.createDataFrame(pdf, schema="doc_id long, payload binary")
    rows = {r["doc_id"]: r["features"]
            for r in MM.image_feature_frame(df, "doc_id", "payload",
                                            dim=16).collect()}
    assert len(rows[0]) == 16
    assert abs(float(np.linalg.norm(rows[0])) - 1.0) < 1e-5
    assert all(v == 0.0 for v in rows[1])
    with pytest.raises(NotImplementedError):
        MM.decode_image_stub(b"\x00")


def test_quality_score_orders_sanely(spark):
    pdf = pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["The quick brown fox jumps over the lazy dog and keeps "
                 "running through the field for a while longer.",
                 "@@@@ ---- !!!! 1234 %%%% ^^^^ &&&& #### $$$$ @@@@"],
    })
    df = spark.createDataFrame(pdf, schema="doc_id long, text string")
    out = {r["doc_id"]: r["quality_score"]
           for r in TS.quality_features(df).collect()}
    assert out[0] > out[1]
    # clean prose maxes the rubric; symbol soup loses the punct- and
    # stopword-ratio components (keeps length/word-len/digit → 0.6)
    assert out[0] > 0.8 and out[1] <= 0.6


def test_lang_id_votes(spark):
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["the cat and the dog of the house is in that garden",
                 "el perro y la casa de los gatos en un lugar",
                 "zzz qqq xxx"],
    })
    df = spark.createDataFrame(pdf, schema="doc_id long, text string")
    out = {r["doc_id"]: r["lang_pred"]
           for r in TS.lang_id(df).collect()}
    assert out[0] == "en" and out[1] == "es" and out[2] == "und"


def test_ivf_persisted_recall_and_no_query_time_fit(spark, small_pages,
                                                    tmp_path, monkeypatch):
    """PERSISTED IVF path (ivf_build → IvfIndex.load → ivf_topk): mean
    recall ≥ 0.9 vs the exact scan for top-20 pools (per-query floor 0.8 —
    the KMeans quantizer is seed-deterministic but partitioning-
    sensitive), the query-time scan is PARTITION-PRUNED to the probe
    batch's nprobe clusters, and NO KMeans fit happens at query time."""
    from review_recommender_spark.index.tableio import TableIO
    from review_recommender_spark.ops.similarity import (
        IvfIndex, brute_force_cosine_topk, ivf_build, ivf_topk)
    from review_recommender_spark.query.encoder import (embed_documents,
                                                        encode_text)
    from tests.test_plans import _plan

    emb = (embed_documents(small_pages.select("doc_id", "text"))
           .select(F.col("doc_id").alias("vec_id"), "embedding").cache())
    emb.count()
    io = TableIO(str(tmp_path / "ivf"))
    built = ivf_build(emb, io, n_clusters=16)
    emb.unpersist()
    # reload from disk — query path must not depend on the build's session
    # state (centroids + id/vec col names come from the snapshot manifest)
    ivf = IvfIndex.load(spark, io)
    assert ivf.n_clusters == 16 and ivf.id_col == "vec_id"
    assert np.allclose(ivf.centroids, built.centroids)

    # no KMeans fit at query time: poison the fit seam for the whole query
    import pyspark.ml.clustering as pmc
    monkeypatch.setattr(
        pmc.KMeans, "fit",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("KMeans.fit called at query time")))

    queries = ["wireless bluetooth headphones", "yellow cat socks",
               "organic green tea", "usb charging cable long"]
    probes = spark.createDataFrame(
        [(qi, encode_text(q).tolist()) for qi, q in enumerate(queries)],
        "probe_id int, probe_vec array<float>")
    exact = brute_force_cosine_topk(
        spark.read.parquet(io.path("ivf_assignments"))
        .select("vec_id", "embedding"), probes, k=20).toPandas()
    res = ivf_topk(spark, ivf, probes, k=20, nprobe=8)
    approx = res.toPandas()

    # partition pruning gate: the assignments scan carries a literal
    # ivf_cluster filter that prunes directories (≤ nprobe·Q of 16)
    plan = _plan(res)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ivf_cluster" in m.group(1), plan
    pruned_clusters = ivf.probe_clusters(
        encode_text(queries[0]), nprobe=8)
    one_probe = ivf.assignments(spark, pruned_clusters)
    got_clusters = {r["ivf_cluster"]
                    for r in one_probe.select("ivf_cluster")
                    .distinct().collect()}
    assert got_clusters <= set(pruned_clusters)
    assert len(got_clusters) < ivf.n_clusters  # strictly pruned

    recalls = []
    for pid in range(len(queries)):
        e = set(exact[exact["probe_id"] == pid]["vec_id"])
        a = set(approx[approx["probe_id"] == pid]["vec_id"])
        recalls.append(len(e & a) / len(e))
    assert float(np.mean(recalls)) >= 0.9, recalls
    assert min(recalls) >= 0.8, recalls


def test_ivf_probe_id_type_preserved(spark, small_pages, tmp_path):
    """Probe ids keep their caller type through the IVF path (round-2
    ADVICE: a hardcoded 'probe_id int' schema broke long ids)."""
    from review_recommender_spark.index.tableio import TableIO
    from review_recommender_spark.ops.similarity import ivf_build, ivf_topk
    from review_recommender_spark.query.encoder import (embed_documents,
                                                        encode_text)
    emb = (embed_documents(small_pages.select("doc_id", "text").limit(200))
           .select(F.col("doc_id").alias("vec_id"), "embedding"))
    io = TableIO(str(tmp_path / "ivf"))
    ivf = ivf_build(emb, io, n_clusters=4)
    big_id = 5_000_000_000  # beyond int32
    probes = spark.createDataFrame(
        [(big_id, encode_text("wireless headphones").tolist())],
        "probe_id long, probe_vec array<float>")
    out = ivf_topk(spark, ivf, probes, k=5, nprobe=2).toPandas()
    assert len(out) == 5
    assert set(out["probe_id"]) == {big_id}


def test_hybrid_dense_mode_ivf(spark, small_pages, small_index, tmp_path,
                               monkeypatch):
    """hybrid_search_batch(dense_mode='ivf') consumes the PERSISTED index
    (no quantizer fit at query time) and its top-k substantially overlaps
    the exact-scan pipeline; without an IvfIndex the mode refuses."""
    from review_recommender_spark.corpus.pages import page_meta_cols
    from review_recommender_spark.index.tableio import TableIO
    from review_recommender_spark.ops.similarity import ivf_build
    from review_recommender_spark.query.encoder import embed_documents
    from review_recommender_spark.query.search import hybrid_search_batch
    emb = (embed_documents(small_pages.select("doc_id", "text"))
           .select("doc_id", "embedding").cache())
    emb.count()
    ivf = ivf_build(emb, TableIO(str(tmp_path / "ivf")), id_col="doc_id",
                    n_clusters=16)
    meta = (small_pages.select("doc_id", F.col("text").alias("agg_text"))
            .join(page_meta_cols(small_pages.select("doc_id")), "doc_id"))
    queries = ["wireless bluetooth headphones"]
    exact = hybrid_search_batch(spark, small_index, emb, meta, queries,
                                k=10).toPandas()

    import pyspark.ml.clustering as pmc
    monkeypatch.setattr(
        pmc.KMeans, "fit",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("KMeans.fit called at query time")))
    with pytest.raises(ValueError, match="ivf_build"):
        hybrid_search_batch(spark, small_index, emb, meta, queries,
                            k=10, dense_mode="ivf")
    ivf_res = hybrid_search_batch(spark, small_index, emb, meta, queries,
                                  k=10, dense_mode="ivf",
                                  ivf=ivf).toPandas()
    emb.unpersist()
    assert len(ivf_res) == 10
    overlap = len(set(exact["doc_id"]) & set(ivf_res["doc_id"])) / 10
    assert overlap >= 0.7, (overlap, sorted(ivf_res["doc_id"]))


def test_hybrid_served_bm25_parity(spark, small_pages, small_index,
                                   monkeypatch):
    """hybrid_search_batch routes its BM25 stage through the zero-shuffle
    serving layout when the index is warm; results must be BIT-IDENTICAL
    to the cold (posting-join) path — same docs, ranks, and scores — on
    both layouts a warm keeps: the driver copy, and the executor shards
    (warmed with ``_DRIVER_SERVING_BYTES_MAX`` forced to 0)."""
    import dataclasses

    from review_recommender_spark.corpus.pages import page_meta_cols
    from review_recommender_spark.index import build
    from review_recommender_spark.query.encoder import embed_documents
    from review_recommender_spark.query.search import hybrid_search_batch

    emb = (embed_documents(small_pages.select("doc_id", "text"))
           .select("doc_id", "embedding").cache())
    emb.count()
    meta = (small_pages.select("doc_id", F.col("text").alias("agg_text"))
            .join(page_meta_cols(small_pages.select("doc_id")), "doc_id"))
    queries = ["wireless bluetooth headphones", "yellow cat socks"]

    def ranked(idx):
        return (hybrid_search_batch(spark, idx, emb, meta, queries, k=10)
                .toPandas().sort_values(["query_id", "rank"])
                .reset_index(drop=True))

    spark.catalog.clearCache()
    cold_idx = dataclasses.replace(small_index, _cached=None)
    assert not cold_idx.is_warm()
    cold = ranked(cold_idx)
    try:
        for budget, layout in ((build._DRIVER_SERVING_BYTES_MAX, "driver"),
                               (0, "executor")):
            warm_idx = dataclasses.replace(small_index, _cached=None)
            with monkeypatch.context() as m:
                m.setattr(build, "_DRIVER_SERVING_BYTES_MAX", budget)
                warm_idx.warm(spark)
            assert warm_idx.is_warm()
            assert (warm_idx.serving_df() is None) == (layout == "driver")
            try:
                warm = ranked(warm_idx)
            finally:
                warm_idx.unwarm()
            assert list(cold["doc_id"]) == list(warm["doc_id"]), layout
            for col in ["_final", "_bm25", "_dense", "_rerank", "_prior",
                        "_gate"]:
                assert (cold[col].to_numpy()
                        == warm[col].to_numpy()).all(), (layout, col)
    finally:
        emb.unpersist()
        spark.catalog.clearCache()


def test_served_batch_cold_fallback(spark, small_index):
    """Calling the served-batch scorer on a COLD index must degrade to
    the join path (same values), not raise — a misrouted caller gets a
    slower answer, never an AssertionError."""
    import dataclasses

    from review_recommender_spark.query.search import (bm25_scores_batch,
                                                       bm25_scores_batch_served)

    cold_idx = dataclasses.replace(small_index, _cached=None)
    assert not cold_idx.is_warm()
    queries = ["wireless bluetooth headphones", "yellow cat socks"]
    got = (bm25_scores_batch_served(spark, cold_idx, queries)
           .toPandas().sort_values(["query_id", "doc_id"])
           .reset_index(drop=True))
    want = (bm25_scores_batch(spark, cold_idx, queries)
            .toPandas().sort_values(["query_id", "doc_id"])
            .reset_index(drop=True))
    assert len(got) == len(want) > 0
    assert (got["doc_id"].to_numpy() == want["doc_id"].to_numpy()).all()
    assert (got["_bm25_raw"].to_numpy()
            == want["_bm25_raw"].to_numpy()).all()


def test_embed_model_seam_lazy_singleton_and_batching(spark, small_pages,
                                                      tmp_path):
    """The M1 model seam: a heavyweight model object must load AT MOST
    ONCE per python worker process (reference lazy global _ST,
    app/test.py:146; nlp/11:46-47), encode in caller-controlled batches
    (batch=64 here, nlp/11:20 uses 256), and produce the same vectors as
    the default path."""
    import collections
    import os

    from review_recommender_spark.query.encoder import embed_documents

    # defined in-function so cloudpickle ships them by VALUE (test modules
    # are not importable on spark workers)
    class _RecordingModel:
        def __init__(self, marker_dir):
            self.marker_dir = marker_dir

        def encode(self, texts):
            import os as _os
            import uuid
            from review_recommender_spark.query.encoder import encode_batch
            with open(_os.path.join(
                    self.marker_dir,
                    f"batch-{len(texts)}-{uuid.uuid4().hex}"), "w"):
                pass
            return encode_batch(list(texts))

    class _CountingFactory:
        def __init__(self, marker_dir):
            self.marker_dir = marker_dir

        def __call__(self):
            import os as _os
            import uuid
            with open(_os.path.join(
                    self.marker_dir,
                    f"init-{_os.getpid()}-{uuid.uuid4().hex}"), "w"):
                pass
            return _RecordingModel(self.marker_dir)

    marker_dir = str(tmp_path / "markers")
    os.makedirs(marker_dir)
    out = embed_documents(small_pages.select("doc_id", "text"),
                          batch_size=64,
                          model_factory=_CountingFactory(marker_dir))
    got = {r["doc_id"]: r["embedding"] for r in
           out.select("doc_id", "embedding").collect()}
    exp = {r["doc_id"]: r["embedding"] for r in
           embed_documents(small_pages.select("doc_id", "text"))
           .select("doc_id", "embedding").collect()}
    assert got == exp

    markers = os.listdir(marker_dir)
    inits = [m for m in markers if m.startswith("init-")]
    batches = [int(m.split("-")[1]) for m in markers
               if m.startswith("batch-")]
    # one init per worker PROCESS, never per task/batch
    per_pid = collections.Counter(m.split("-")[1] for m in inits)
    assert inits and max(per_pid.values()) == 1, per_pid
    # batching honored: no encode call exceeds batch_size, rows add up
    assert batches and max(batches) <= 64
    assert sum(batches) == small_pages.count()
