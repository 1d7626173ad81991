"""Measurement-only side benchmarks (guide §1: measure first).

``bench.py`` is the driver's FROZEN harness; this file holds the
round-7 optimization evidence that does not belong there:

  * per-stage index-build breakdown (Stage A/B/C/D wall seconds),
  * isolated query-path timings with repeats (exact / pruned / served /
    served-batch / hybrid) on the default and bursty corpora,
  * noop-sink isolation for un-timed transformations (guide §1.4).

Usage:
    python bench_extra.py [phase,phase,...]      (default: all)
Phases: build, queries, bursty, hybrid
Output: one JSON line per phase on stdout.
Spark runs on ``session.default_cores()`` cores (``SPARK_GRAFT_CPUS``,
else the CPUs this process may run on).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np


def _p50(xs):
    return round(float(np.percentile(xs, 50)), 3)


def main() -> None:
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "120000"))
    phases = (sys.argv[1].split(",") if len(sys.argv) > 1
              else ["build", "queries", "bursty", "hybrid"])
    reps = int(os.environ.get("SPARK_GRAFT_EXTRA_REPS", "3"))

    import dataclasses

    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.corpus.pages import (bursty_queries,
                                                       page_meta_cols,
                                                       pages_df,
                                                       GOLDEN_PHRASES)
    from review_recommender_spark.index.build import build_index
    from review_recommender_spark.index.tableio import TableIO
    from review_recommender_spark.query.bm25 import (bm25_topk_exact,
                                                     bm25_topk_pruned,
                                                     bm25_topk_served,
                                                     bm25_topk_served_batch)
    from review_recommender_spark.query.encoder import embed_documents
    from review_recommender_spark.query.search import hybrid_search_batch
    from review_recommender_spark.session import default_cores, get_spark
    from pyspark.sql import functions as F

    cpus = default_cores()

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    if shm:
        os.environ.setdefault(
            "SPARK_LOCAL_DIRS",
            os.path.join(shm, f"rrs_extra_local_{os.getpid()}"))
    spark = get_spark("bench_extra", cores=cpus,
                      shuffle_partitions=max(cpus, 8))
    tmp = tempfile.mkdtemp(prefix="rrs_extra_", dir=shm)
    try:
        cfg = EngineConfig(bm25=bm25_north())
        sc = spark.sparkContext

        # ---------- corpus (shared by all phases) ----------
        parts = max(32, cpus * 2)
        cpath = os.path.join(tmp, "corpus")
        sc.setJobDescription("extra: corpus gen")
        t0 = time.perf_counter()
        pages_df(spark, n_docs, partitions=parts) \
            .write.mode("overwrite").parquet(cpath)
        corpus_gen_s = round(time.perf_counter() - t0, 3)
        docs = spark.read.parquet(cpath)

        idx = None
        if "build" in phases or "queries" in phases or "hybrid" in phases:
            # warmup build (JIT) then timed builds with stage breakdown
            sc.setJobDescription("extra: warmup build 5k")
            t0 = time.perf_counter()
            build_index(spark, docs.limit(5000),
                        TableIO(os.path.join(tmp, "warm")), cfg, n_chunks=1)
            warm_s = round(time.perf_counter() - t0, 3)
            out = {"phase": "build", "corpus_gen_s": corpus_gen_s,
                   "warmup_5k_s": warm_s, "reps": []}
            for r in range(max(1, reps - 1)):
                st: dict = {}
                sc.setJobDescription(f"extra: timed build rep{r}")
                t0 = time.perf_counter()
                idx = build_index(
                    spark, docs, TableIO(os.path.join(tmp, f"idx{r}")),
                    cfg, n_chunks=1,
                    shuffle_partitions=max(32, cpus * 2),
                    stage_timings=st)
                st["total"] = round(time.perf_counter() - t0, 3)
                out["reps"].append(st)
            if "build" in phases:
                print(json.dumps(out), flush=True)

        if "queries" in phases and idx is not None:
            res: dict = {"phase": "queries"}
            idx.warm(spark)
            bm25_topk_served(spark, idx, GOLDEN_PHRASES[0], k=10).collect()
            for name, fn in [
                ("served", lambda q: bm25_topk_served(
                    spark, idx, q, k=10).collect()),
                ("exact_warmidf", lambda q: bm25_topk_exact(
                    spark, idx, q, k=10).collect()),
                ("pruned_default", lambda q: bm25_topk_pruned(
                    spark, idx, q, k=10).collect()),
            ]:
                lat = []
                for rep in range(reps):
                    for q in GOLDEN_PHRASES[:5]:
                        sc.setJobDescription(f"extra: {name} {q[:20]}")
                        t0 = time.perf_counter()
                        fn(q)
                        lat.append(time.perf_counter() - t0)
                res[f"{name}_p50_s"] = _p50(lat)
            lat = []
            for rep in range(reps):
                sc.setJobDescription("extra: served batch10")
                t0 = time.perf_counter()
                bm25_topk_served_batch(spark, idx, list(GOLDEN_PHRASES),
                                       k=10).collect()
                lat.append(time.perf_counter() - t0)
            res["served_batch10_p50_s"] = _p50(lat)
            idx.unwarm()
            spark.catalog.clearCache()
            # cold exact (no warm idf cache): the declared-query shape
            lat = []
            for rep in range(reps):
                for q in GOLDEN_PHRASES[:3]:
                    sc.setJobDescription("extra: exact cold")
                    t0 = time.perf_counter()
                    bm25_topk_exact(spark, idx, q, k=10).collect()
                    lat.append(time.perf_counter() - t0)
            res["exact_cold_p50_s"] = _p50(lat)
            print(json.dumps(res), flush=True)

        if "bursty" in phases:
            bcfg = dataclasses.replace(
                cfg, index=dataclasses.replace(cfg.index, range_shift=9))
            bpath = os.path.join(tmp, "bcorpus")
            sc.setJobDescription("extra: bursty corpus gen")
            t0 = time.perf_counter()
            pages_df(spark, n_docs, partitions=parts, bursty=True,
                     plant=False, topics=max(512, n_docs // 60)) \
                .write.mode("overwrite").parquet(bpath)
            bgen = round(time.perf_counter() - t0, 3)
            bdocs = spark.read.parquet(bpath)
            sc.setJobDescription("extra: bursty build")
            t0 = time.perf_counter()
            bidx = build_index(spark, bdocs,
                               TableIO(os.path.join(tmp, "bidx")), bcfg,
                               n_chunks=1,
                               shuffle_partitions=max(32, cpus * 2))
            bbuild = round(time.perf_counter() - t0, 3)
            bq = bursty_queries()
            bidx.warm(spark, serving_shards=4)
            bm25_topk_served(spark, bidx, bq[0], k=10).collect()
            bm25_topk_served_batch(spark, bidx, bq[:1], k=10).collect()
            res = {"phase": "bursty", "corpus_gen_s": bgen,
                   "build_s": bbuild}
            for name, kw in [("skip", {}), ("noskip", {"block_skip": False})]:
                lat = []
                for rep in range(reps):
                    sc.setJobDescription(f"extra: bursty batch {name}")
                    t0 = time.perf_counter()
                    bm25_topk_served_batch(spark, bidx, bq, k=10,
                                           **kw).collect()
                    lat.append(time.perf_counter() - t0)
                res[f"served_batch10_{name}_p50_s"] = _p50(lat)
            e_lat, p_lat = [], []
            e_blocks = p_blocks = 0
            for rep in range(reps):
                for q in bq[:3]:
                    st_e: dict = {}
                    sc.setJobDescription("extra: bursty exact")
                    t0 = time.perf_counter()
                    e = bm25_topk_exact(spark, bidx, q, k=10,
                                        stats=st_e).collect()
                    e_lat.append(time.perf_counter() - t0)
                    st_p: dict = {}
                    sc.setJobDescription("extra: bursty pruned")
                    t0 = time.perf_counter()
                    p = bm25_topk_pruned(spark, bidx, q, k=10,
                                         min_ranges_to_prune=64,
                                         stats=st_p).collect()
                    p_lat.append(time.perf_counter() - t0)
                    assert [r["doc_id"] for r in e] \
                        == [r["doc_id"] for r in p], q
                    if rep == 0:
                        e_blocks += st_e["decoded_blocks"].value
                        p_blocks += st_p["decoded_blocks"].value
            res["exact_p50_s"] = _p50(e_lat)
            res["pruned_p50_s"] = _p50(p_lat)
            res["exact_blocks"] = e_blocks
            res["pruned_blocks"] = p_blocks
            bidx.unwarm()
            spark.catalog.clearCache()
            print(json.dumps(res), flush=True)

        if "scale" in phases:
            # sf1-equivalent tier (VERDICT r6 #4): ~10× the bench corpus,
            # bursty/topical shape — the regime where block-max pruning
            # must beat the exact cold path in WALL time, not just decode
            # counts. Evidence for OPTIMIZATION_r07.md; not in frozen
            # bench.py.
            n_scale = int(os.environ.get("SPARK_GRAFT_EXTRA_SCALE_DOCS",
                                         "1200000"))
            scfg = dataclasses.replace(
                cfg, index=dataclasses.replace(cfg.index, range_shift=9))
            spath = os.path.join(tmp, "scorpus")
            sc.setJobDescription("extra: scale corpus gen")
            t0 = time.perf_counter()
            pages_df(spark, n_scale, partitions=parts, bursty=True,
                     plant=False, topics=max(512, n_scale // 60)) \
                .write.mode("overwrite").parquet(spath)
            sgen = round(time.perf_counter() - t0, 3)
            sdocs = spark.read.parquet(spath)
            st: dict = {}
            sc.setJobDescription("extra: scale build")
            t0 = time.perf_counter()
            sidx = build_index(spark, sdocs,
                               TableIO(os.path.join(tmp, "sidx")), scfg,
                               n_chunks=1,
                               shuffle_partitions=max(32, cpus * 2),
                               stage_timings=st)
            sbuild = round(time.perf_counter() - t0, 3)
            res = {"phase": "scale", "n_docs": n_scale,
                   "corpus_gen_s": sgen, "build_s": sbuild,
                   "build_docs_per_sec": round(n_scale / sbuild, 1),
                   "build_stages": st,
                   "n_ranges": max(1, n_scale >> scfg.index.range_shift)}
            bq = bursty_queries()
            e_lat, p_lat = [], []
            e_blocks = p_blocks = 0
            for rep in range(reps):
                for q in bq[:3]:
                    st_e: dict = {}
                    sc.setJobDescription("extra: scale exact")
                    t0 = time.perf_counter()
                    e = bm25_topk_exact(spark, sidx, q, k=10,
                                        stats=st_e).collect()
                    e_lat.append(time.perf_counter() - t0)
                    st_p: dict = {}
                    sc.setJobDescription("extra: scale pruned")
                    t0 = time.perf_counter()
                    p = bm25_topk_pruned(spark, sidx, q, k=10,
                                         min_ranges_to_prune=64,
                                         stats=st_p).collect()
                    p_lat.append(time.perf_counter() - t0)
                    assert [r["doc_id"] for r in e] \
                        == [r["doc_id"] for r in p], q
                    if rep == 0:
                        e_blocks += st_e["decoded_blocks"].value
                        p_blocks += st_p["decoded_blocks"].value
            res["exact_p50_s"] = _p50(e_lat)
            res["pruned_p50_s"] = _p50(p_lat)
            res["exact_blocks"] = e_blocks
            res["pruned_blocks"] = p_blocks
            # warm serving at scale
            sidx.warm(spark, serving_shards=8)
            bm25_topk_served(spark, sidx, bq[0], k=10).collect()
            lat = []
            for rep in range(reps):
                for q in bq[:5]:
                    sc.setJobDescription("extra: scale served")
                    t0 = time.perf_counter()
                    bm25_topk_served(spark, sidx, q, k=10).collect()
                    lat.append(time.perf_counter() - t0)
            res["served_p50_s"] = _p50(lat)
            skip_stats: dict = {}
            bm25_topk_served_batch(spark, sidx, bq[:1], k=10).collect()
            t0 = time.perf_counter()
            bm25_topk_served_batch(spark, sidx, bq, k=10,
                                   stats=skip_stats).collect()
            res["served_batch10_s"] = round(time.perf_counter() - t0, 3)
            res["served_skip_ratio"] = round(
                1.0 - skip_stats["decoded_blocks"].value
                / max(skip_stats["total_blocks"].value, 1), 4)
            # skip-on vs skip-off WALL at this tier (r6 VERDICT #1
            # done-bar: the decode saving must convert to wall time at
            # an honest scale)
            on_lat, off_lat = [], []
            for rep in range(reps):
                sc.setJobDescription("extra: scale batch skip on")
                t0 = time.perf_counter()
                bm25_topk_served_batch(spark, sidx, bq, k=10).collect()
                on_lat.append(time.perf_counter() - t0)
                sc.setJobDescription("extra: scale batch skip off")
                t0 = time.perf_counter()
                bm25_topk_served_batch(spark, sidx, bq, k=10,
                                       block_skip=False).collect()
                off_lat.append(time.perf_counter() - t0)
            res["served_batch10_skip_p50_s"] = _p50(on_lat)
            res["served_batch10_noskip_p50_s"] = _p50(off_lat)
            sidx.unwarm()
            spark.catalog.clearCache()
            print(json.dumps(res), flush=True)

        if "hybrid" in phases and idx is not None:
            sc.setJobDescription("extra: embed build")
            t0 = time.perf_counter()
            emb = (embed_documents(docs.select("doc_id", "text"))
                   .select("doc_id", "embedding"))
            emb.write.mode("overwrite").parquet(os.path.join(tmp, "emb"))
            embed_s = round(time.perf_counter() - t0, 3)
            emb = spark.read.parquet(os.path.join(tmp, "emb"))
            meta = (docs.select("doc_id", F.col("text").alias("agg_text"))
                    .join(page_meta_cols(docs.select("doc_id")), "doc_id"))
            idx.warm(spark)
            sc.setJobDescription("extra: hybrid warmup")
            t0 = time.perf_counter()
            hybrid_search_batch(spark, idx, emb, meta,
                                [GOLDEN_PHRASES[0]], k=10).count()
            hwarm = round(time.perf_counter() - t0, 3)
            lat = []
            for rep in range(reps + 2):
                sc.setJobDescription(f"extra: hybrid batch10 rep{rep}")
                t0 = time.perf_counter()
                hybrid_search_batch(spark, idx, emb, meta,
                                    list(GOLDEN_PHRASES), k=10).count()
                lat.append(round(time.perf_counter() - t0, 3))
            idx.unwarm()
            print(json.dumps({"phase": "hybrid", "embed_s": embed_s,
                              "warmup_s": hwarm, "samples": lat,
                              "p50_s": _p50(lat)}), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
        ld = os.environ.get("SPARK_LOCAL_DIRS", "")
        if ld.startswith("/dev/shm/"):
            shutil.rmtree(ld, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
