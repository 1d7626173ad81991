"""Physical-plan quality gates: partition pruning, filter pushdown, and
broadcast joins must actually appear in the optimized plans — the
properties that make the design hold at 100 TB."""

import io
import re

import pytest
from pyspark.sql import functions as F

from review_recommender_spark.query import bm25
from review_recommender_spark.query.bm25 import (_query_blocks,
                                                 bm25_topk_exact)


def _plan(df, mode="formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def test_postings_scan_partition_pruned(spark, small_index):
    """Querying 2 terms must prune postings directories by term_bucket and
    push the term filter into the parquet scan. (Use an unwarmed view of
    the index: a warm cache swaps the scan for InMemoryTableScan, which
    has no partition filters — another test may have warmed the shared
    fixture — and Spark's CacheManager substitutes cached plans by plan
    equality, so the session cache must be cleared, not just our handle.)"""
    import dataclasses
    spark.catalog.clearCache()
    cold = dataclasses.replace(small_index, _cached=None)
    blocks = _query_blocks(spark, cold, ["wireless", "sound"])
    plan = _plan(blocks)
    assert "PartitionFilters" in plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "term_bucket" in m.group(1), plan
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "term" in pushed.group(1), plan


def test_postings_scan_reads_no_dead_columns(spark, small_index):
    """Column pruning: a df-only projection must not read posting bytes."""
    df = (small_index.postings(spark)
          .filter(F.col("term") == "wireless")
          .select("term", "n"))
    plan = _plan(df)
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "doc_bytes" not in m.group(1), plan


def test_topk_is_take_ordered(spark, small_index, monkeypatch):
    """orderBy + limit must plan TakeOrderedAndProject (distributed partial
    top-k), never a global sort. The gather budget is forced to 0 so the
    exact route runs its Spark plan rather than the exact_gathered tier."""
    monkeypatch.setattr(bm25, "_PRUNED_LOCAL_BLOCKS_MAX", 0)
    df = bm25_topk_exact(spark, small_index, "wireless sound quality", k=10)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_term_stats_scan_partition_pruned(spark, small_index):
    stats = (small_index.term_stats(spark)
             .filter((F.col("term_bucket") == 3)
                     & (F.col("term") == "wireless")))
    plan = _plan(stats)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "term_bucket" in m.group(1), plan


def test_docs_filter_pushdown(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = docs.filter(F.col("doc_id") < 100).select("doc_id", "n_chars")
    plan = _plan(df)
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "doc_id" in pushed.group(1), plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "text" not in m.group(1), plan


def test_head_term_skew_bounded(spark):
    """North rule: 'skewed head terms are salted'. The mechanism is the
    Stage C shuffle key — hashing on (term, range_id) splits a head term's
    postings across reducers by doc-range. With a term in 50% of all docs,
    no reducer may hold more than 2× the median row count; the same rows
    hashed on term ALONE must show the skew (proving the pair is what
    fixes it)."""
    import dataclasses

    import numpy as np
    import pandas as pd
    from review_recommender_spark.config import EngineConfig
    from review_recommender_spark.index.build import _doc_rows, _tokens_df
    from review_recommender_spark.oracle.stage_c_raw import _occurrence_rows

    n = 4096
    texts = ["hot" if i % 2 == 0 else f"cold{i} filler{i}"
             for i in range(n)]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(n), "text": texts}),
        "doc_id long, text string")
    cfg = EngineConfig()
    cfg = dataclasses.replace(
        cfg, index=dataclasses.replace(cfg.index, range_shift=6))
    tf = _occurrence_rows(_doc_rows(_tokens_df(docs, cfg, "doc_id", "text")))
    tfp = tf.withColumn("range_id", F.shiftright(F.col("doc_id"),
                                                 cfg.index.range_shift))

    def partition_counts(df):
        pdf = (df.select(F.spark_partition_id().alias("p"))
               .groupBy("p").count().toPandas())
        return pdf["count"].to_numpy()

    pair = partition_counts(tfp.repartition(32, "term", "range_id"))
    assert pair.max() <= 2 * np.median(pair), pair.tolist()

    solo = partition_counts(tfp.repartition(32, "term"))
    assert solo.max() > 2 * np.median(solo), solo.tolist()


def test_served_bm25_stage_is_shuffle_free(spark, small_index, monkeypatch):
    """The executor serving layout's whole point: a served BM25 batch
    stage is ONE map stage over the cached shards — its physical plan
    must read them (InMemoryTableScan) and contain no shuffle exchange
    above them and no join. The index is warmed with the driver budget
    forced to 0, so the warm keeps the executor layout."""
    import dataclasses

    from review_recommender_spark.index import build
    from review_recommender_spark.query.search import bm25_scores_batch_served

    spark.catalog.clearCache()
    idx = dataclasses.replace(small_index, _cached=None)
    monkeypatch.setattr(build, "_DRIVER_SERVING_BYTES_MAX", 0)
    idx.warm(spark)
    try:
        df = bm25_scores_batch_served(spark, idx,
                                      ["wireless sound", "yellow cat"])
        plan = _plan(df)
        # the warm layout itself was built with one repartition; the query
        # plan on top must add NO exchange and NO join. InMemoryTableScan
        # reads the cached shards; everything above it is mapInPandas.
        assert "InMemoryTableScan" in plan, plan
        above_cache = plan.split("InMemoryTableScan")[0]
        assert "Exchange" not in above_cache, plan
        assert "Join" not in above_cache, plan
        assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan
    finally:
        idx.unwarm()
        spark.catalog.clearCache()


def test_local_tf_doc_stats_read_is_column_pruned(spark, small_pages,
                                                  tmp_path):
    """The Stage A checkpoint (format v4) is one packed row per doc
    (doc_id, dl, toks), so Stage B's doc_stats read must reach the
    parquet scan with a ReadSchema of ONLY the two scalar columns — the
    toks column (≈ all of the checkpoint's bytes) never read."""
    import dataclasses

    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.index.build import build_index
    from review_recommender_spark.index.tableio import TableIO

    cfg = EngineConfig(bm25=bm25_north())
    cfg = dataclasses.replace(
        cfg, index=dataclasses.replace(cfg.index, range_shift=6,
                                       term_buckets=8))
    io = TableIO(str(tmp_path / "idx"))
    build_index(spark, small_pages.limit(200), io, cfg)
    local_tf = io.read(spark, "local_tf")
    df = local_tf.select("doc_id", F.col("dl").alias("doc_len"))
    plan = _plan(df)
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m, plan
    assert "doc_id" in m.group(1) and "dl" in m.group(1), plan
    assert "toks" not in m.group(1), plan
