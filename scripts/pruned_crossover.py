"""Demonstrate the block-max pruned path's crossover vs the exact path
at many-range scale (VERDICT r4 item 4).

At the default bench geometry (800k docs, range_shift=13 → ~98 ranges)
pruning never engages below ``min_ranges_to_prune`` and has never beaten
the exact path in a recorded bench. This script builds the SAME corpus
with a finer range grid (range_shift=8 → ~3.1k ranges at 800k docs — the
regime the pruned path is written for, standing in for 10^8 ranges at
10^12 docs), then times exact vs pruned per golden query and counts the
posting blocks each path decoded (Spark accumulators inside the decode
kernel). Rank-identity is asserted per query.

Two corpora, because block-max effectiveness is a property of the DATA:

  uniform (default)  — the bench's synthetic pages. Every range contains
      near-max-tf postings of every golden term, so the summed per-term
      range bounds never drop below θ: pruning engages, skips nothing,
      and the machinery (range bounds + fine-prune pass) is pure
      overhead.
      This is the honest adversarial case for any WAND-family method.
  skewed (SPARK_GRAFT_CROSSOVER_SKEW=1) — the query term's tf is 10 in
      8 hot ranges and 1 (in short docs) everywhere else: the Zipf-like
      shape real text has. The hot ranges, visited first, establish a
      θ no cold range's bound can reach, so ~99.7% of blocks are never
      decoded.

Usage: python scripts/pruned_crossover.py
Env: SPARK_GRAFT_BENCH_DOCS (default 800000), SPARK_GRAFT_CPUS (8),
     SPARK_GRAFT_RANGE_SHIFT (8), SPARK_GRAFT_CROSSOVER_SKEW (0).
Never run concurrently with other Spark sessions (contended numbers lie).
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "800000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    shift = int(os.environ.get("SPARK_GRAFT_RANGE_SHIFT", "8"))

    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.corpus.pages import GOLDEN_PHRASES, pages_df
    from review_recommender_spark.index.build import build_index
    from review_recommender_spark.index.tableio import TableIO
    from review_recommender_spark.query.bm25 import (bm25_topk_exact,
                                                     bm25_topk_pruned)
    from review_recommender_spark.session import get_spark

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    if shm:
        os.environ.setdefault("SPARK_LOCAL_DIRS",
                              os.path.join(shm, "rrs_spark_local"))
    spark = get_spark("pruned-crossover", cores=cpus,
                      shuffle_partitions=max(cpus, 8))
    tmp = tempfile.mkdtemp(prefix="rrs_crossover_", dir=shm)
    try:
        from pyspark.sql import functions as F

        skew = os.environ.get("SPARK_GRAFT_CROSSOVER_SKEW", "0") == "1"
        cfg = EngineConfig(bm25=bm25_north())
        cfg = dataclasses.replace(
            cfg, index=dataclasses.replace(cfg.index, range_shift=shift))
        corpus_path = os.path.join(tmp, "corpus")
        if skew:
            hot_docs = 8 << shift  # 8 hot ranges
            base = spark.range(n_docs).select(
                F.col("id").alias("doc_id"))
            filler = F.concat_ws(
                " ", F.lit("page body text"),
                F.concat(F.lit("w"), (F.col("doc_id") % 50000)))
            hot = F.concat_ws(
                " ", *([F.lit("signal")] * 10), filler, filler, filler)
            cold = F.concat_ws(" ", F.lit("signal"), filler)
            base.select(
                "doc_id",
                F.when(F.col("doc_id") < hot_docs, hot).otherwise(cold)
                .alias("text")) \
                .repartition(max(32, cpus * 2)) \
                .write.mode("overwrite").parquet(corpus_path)
            queries = ["signal"] * 3  # repeats = repeat-measure the shape
        else:
            pages_df(spark, n_docs, partitions=max(32, cpus * 2)) \
                .write.mode("overwrite").parquet(corpus_path)
            queries = list(GOLDEN_PHRASES)
        docs = spark.read.parquet(corpus_path)
        t0 = time.perf_counter()
        idx = build_index(spark, docs, TableIO(os.path.join(tmp, "idx")),
                          cfg, n_chunks=1,
                          shuffle_partitions=max(32, cpus * 2))
        build_sec = round(time.perf_counter() - t0, 3)
        n_ranges = idx.n_docs >> shift
        print(f"built {n_docs} docs, range_shift={shift} → ~{n_ranges} "
              f"ranges, {build_sec}s", flush=True)

        # one warmup action per path (codegen JIT + python worker spawn)
        bm25_topk_exact(spark, idx, queries[0], k=10).collect()
        bm25_topk_pruned(spark, idx, queries[0], k=10).collect()

        rows = []
        for qi, q in enumerate(queries):
            se: dict = {}
            t0 = time.perf_counter()
            exact = bm25_topk_exact(spark, idx, q, k=10,
                                    stats=se).collect()
            t_exact = time.perf_counter() - t0
            sp: dict = {}
            t0 = time.perf_counter()
            pruned = bm25_topk_pruned(spark, idx, q, k=10,
                                      stats=sp).collect()
            t_pruned = time.perf_counter() - t0
            assert [r["doc_id"] for r in pruned] == \
                [r["doc_id"] for r in exact], f"rank mismatch on {q!r}"
            rows.append({
                "query": qi,
                "exact_sec": round(t_exact, 3),
                "pruned_sec": round(t_pruned, 3),
                "exact_blocks": se["decoded_blocks"].value,
                "pruned_blocks": sp["decoded_blocks"].value,
                "pruning_engaged": sp.get("pruning_engaged"),
            })
            print(json.dumps(rows[-1]), flush=True)

        import numpy as np
        summary = {
            "metric": "pruned_vs_exact_crossover",
            "corpus": "skewed" if skew else "uniform",
            "n_docs": n_docs, "range_shift": shift, "n_ranges": n_ranges,
            "cpus": cpus, "build_sec": build_sec,
            "exact_p50_sec": round(float(np.median(
                [r["exact_sec"] for r in rows])), 3),
            "pruned_p50_sec": round(float(np.median(
                [r["pruned_sec"] for r in rows])), 3),
            "exact_blocks_total": sum(r["exact_blocks"] for r in rows),
            "pruned_blocks_total": sum(r["pruned_blocks"] for r in rows),
            "rank_identical": True,
        }
        summary["block_reduction"] = round(
            summary["exact_blocks_total"]
            / max(summary["pruned_blocks_total"], 1), 2)
        print(json.dumps(summary))
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
        local_dirs = os.environ.get("SPARK_LOCAL_DIRS", "")
        if local_dirs.startswith("/dev/shm/"):
            shutil.rmtree(local_dirs, ignore_errors=True)


if __name__ == "__main__":
    main()
