"""Capture ``explain("formatted")`` for the round-7 touched query paths.

Usage: python scripts/capture_plans.py <out_dir> [n_docs]

Builds a small index (default 8k docs) + embeddings, then writes one
``<name>.txt`` per query path. Run once on the round-start tree
(``*_before``) and once on the optimized tree (``*_after``) so plan
claims in OPTIMIZATION_r07.md are checkable without running Spark.
"""

from __future__ import annotations

import contextlib
import os
import sys
import tempfile


def main() -> None:
    out_dir = sys.argv[1]
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 8000
    os.makedirs(out_dir, exist_ok=True)

    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.corpus.pages import (GOLDEN_PHRASES,
                                                       page_meta_cols,
                                                       pages_df)
    from review_recommender_spark.index.build import build_index
    from review_recommender_spark.index.tableio import TableIO
    from review_recommender_spark.query import bm25
    from review_recommender_spark.query.bm25 import (bm25_topk_exact,
                                                     bm25_topk_pruned,
                                                     bm25_topk_served,
                                                     bm25_topk_served_batch)
    from review_recommender_spark.query.encoder import embed_documents
    from review_recommender_spark.query.search import hybrid_search_batch
    from review_recommender_spark.session import get_spark
    from pyspark.sql import functions as F
    import dataclasses

    spark = get_spark("plans", cores=8, shuffle_partitions=8)
    tmp = tempfile.mkdtemp(prefix="rrs_plans_")
    q = GOLDEN_PHRASES[0]

    def dump(name: str, df) -> None:
        import io
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {name}")

    @contextlib.contextmanager
    def spark_exact():
        """Force the exact route onto its Spark plan for the block."""
        old = bm25._PRUNED_LOCAL_BLOCKS_MAX
        bm25._PRUNED_LOCAL_BLOCKS_MAX = 0
        try:
            yield
        finally:
            bm25._PRUNED_LOCAL_BLOCKS_MAX = old

    try:
        cfg = EngineConfig(bm25=bm25_north())
        # small ranges so the pruned path ENGAGES at this corpus size
        cfg = dataclasses.replace(
            cfg, index=dataclasses.replace(cfg.index, range_shift=7))
        docs = pages_df(spark, n_docs, partitions=16)
        docs.write.mode("overwrite").parquet(os.path.join(tmp, "c"))
        docs = spark.read.parquet(os.path.join(tmp, "c"))
        idx = build_index(spark, docs, TableIO(os.path.join(tmp, "idx")),
                          cfg, n_chunks=1)

        # the exact route's Spark plan: with the gather budget at 0 it
        # does not take the exact_gathered tier (a LocalTableScan of
        # the ≤ k result rows)
        with spark_exact():
            dump("bm25_exact_cold", bm25_topk_exact(spark, idx, q, k=10))
        # every pruned tier executes eagerly, so this plan is a local
        # relation holding the ≤ k result rows
        dump("bm25_pruned", bm25_topk_pruned(spark, idx, q, k=10,
                                             min_ranges_to_prune=1))
        idx.warm(spark)
        with spark_exact():
            dump("bm25_exact_warm", bm25_topk_exact(spark, idx, q, k=10))
        dump("bm25_served", bm25_topk_served(spark, idx, q, k=10))
        dump("bm25_served_batch",
             bm25_topk_served_batch(spark, idx, list(GOLDEN_PHRASES),
                                    k=10))
        dump("bm25_pruned_warm", bm25_topk_pruned(spark, idx, q, k=10,
                                                  min_ranges_to_prune=1))

        emb = (embed_documents(docs.select("doc_id", "text"))
               .select("doc_id", "embedding"))
        emb.write.mode("overwrite").parquet(os.path.join(tmp, "emb"))
        emb = spark.read.parquet(os.path.join(tmp, "emb"))
        meta = (docs.select("doc_id", F.col("text").alias("agg_text"))
                .join(page_meta_cols(docs.select("doc_id")), "doc_id"))
        dump("hybrid_batch",
             hybrid_search_batch(spark, idx, emb, meta,
                                 list(GOLDEN_PHRASES), k=10))
        idx.unwarm()
    finally:
        spark.stop()
        import shutil
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    main()
