"""At-scale rank-identity sweep: all golden queries through every BM25
query path on one large corpus, asserting BITWISE-identical top-k.

Paths: exact (single-action posting join), pruned (forced block-max),
served on its driver tier (the in-process kernel over the driver copy
of the serving layout, held here whatever its size) with and WITHOUT
block-max skipping, served on its executor tier (per-shard kernel over
the cached shards, driver budget forced to 0), and served-batch (the
zero-shuffle batch stage hybrid uses — new in round 3). The r2 evidence
tied exact ≡ the BM25Okapi-formula numpy oracle at 800k docs; this
script ties every engine path to exact at the same scale, so the whole
family stays anchored to the oracle.

Usage: python scripts/at_scale_identity.py [n_docs] (default 800000)
Prints one JSON line: {"n_docs":..., "paths":..., "bitwise_ok":...}
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 800_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    if shm:
        os.environ.setdefault("SPARK_LOCAL_DIRS",
                              os.path.join(shm, "rrs_id_local"))

    from pyspark.sql import functions as F

    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.corpus.pages import GOLDEN_PHRASES, pages_df
    from review_recommender_spark.index.build import build_index
    from review_recommender_spark.index.tableio import TableIO
    from review_recommender_spark.query import bm25
    from review_recommender_spark.query.bm25 import (bm25_topk_exact,
                                                     bm25_topk_pruned,
                                                     bm25_topk_served)
    from review_recommender_spark.query.search import bm25_scores_batch_served
    from review_recommender_spark.session import get_spark

    @contextlib.contextmanager
    def driver_budget(nbytes):
        old = bm25._DRIVER_SERVING_BYTES_MAX
        bm25._DRIVER_SERVING_BYTES_MAX = nbytes
        try:
            yield
        finally:
            bm25._DRIVER_SERVING_BYTES_MAX = old

    # every full warm below keeps the driver copy, so the served driver
    # tier is checked at this scale too; executor-tier calls force 0
    bm25._DRIVER_SERVING_BYTES_MAX = 1 << 62
    spark = get_spark("at-scale-id", cores=cpus,
                      shuffle_partitions=max(cpus, 8))
    tmp = tempfile.mkdtemp(prefix="rrs_id_", dir=shm)
    k = 10
    try:
        corpus = os.path.join(tmp, "corpus")
        pages_df(spark, n_docs, partitions=max(32, cpus * 2)) \
            .write.mode("overwrite").parquet(corpus)
        docs = spark.read.parquet(corpus)
        cfg = EngineConfig(bm25=bm25_north())
        idx = build_index(spark, docs, TableIO(os.path.join(tmp, "idx")),
                          cfg, shuffle_partitions=max(32, cpus * 2))
        idx.warm(spark)

        # served-batch: one stage for all queries; per-query top-k via the
        # same (score desc, doc_id asc) order as the single-query paths
        batch = bm25_scores_batch_served(spark, idx, list(GOLDEN_PHRASES))
        batch_top = {}
        for qi in range(len(GOLDEN_PHRASES)):
            rows = (batch.filter(F.col("query_id") == qi)
                    .orderBy(F.desc("_bm25_raw"), F.asc("doc_id"))
                    .limit(k).collect())
            batch_top[qi] = [(r["doc_id"], r["_bm25_raw"]) for r in rows]

        ok = True
        per_query = []
        for qi, q in enumerate(GOLDEN_PHRASES):
            exact = [(r["doc_id"], r["score"]) for r in
                     bm25_topk_exact(spark, idx, q, k=k).collect()]
            pruned = [(r["doc_id"], r["score"]) for r in
                      bm25_topk_pruned(spark, idx, q, k=k,
                                       min_ranges_to_prune=1).collect()]
            served = [(r["doc_id"], r["score"]) for r in
                      bm25_topk_served(spark, idx, q, k=k).collect()]
            served_ns = [(r["doc_id"], r["score"]) for r in
                         bm25_topk_served(spark, idx, q, k=k,
                                          block_skip=False).collect()]
            with driver_budget(0):
                served_ex = [(r["doc_id"], r["score"]) for r in
                             bm25_topk_served(spark, idx, q, k=k).collect()]
            same = (exact == pruned == served == served_ns == served_ex
                    == batch_top[qi])
            per_query.append(same)
            ok &= same
            print(f"q{qi}: {'BITWISE-IDENTICAL' if same else 'MISMATCH'}",
                  flush=True)
            if not same:
                print("  exact :", exact)
                print("  pruned:", pruned)
                print("  served:", served)
                print("  served(executor):", served_ex)
                print("  batch :", batch_top[qi])

        # sixth path (round 6): PARTIAL warm — every other doc-range
        # resident, the rest served by the cold on-disk union. The
        # head-shard strategy the memory envelope prescribes at 10^9+
        # docs must stay bitwise at scale, not just in the unit gate.
        all_ranges = sorted(r["range_id"] for r in idx.postings(spark)
                            .select("range_id").distinct().collect())
        idx.warm(spark, ranges=all_ranges[::2])
        partial_ok = True
        for qi, q in enumerate(GOLDEN_PHRASES):
            got = [(r["doc_id"], r["score"]) for r in
                   bm25_topk_served(spark, idx, q, k=k).collect()]
            same = got == batch_top[qi]
            partial_ok &= same
            if not same:
                print(f"q{qi} partial-warm MISMATCH:", got)
        print(f"partial-warm ({len(all_ranges[::2])}/{len(all_ranges)} "
              f"ranges resident): "
              f"{'BITWISE-IDENTICAL' if partial_ok else 'MISMATCH'}",
              flush=True)
        ok &= partial_ok

        # seventh path family (round 6b): BOOLEAN constraints at scale —
        # conjunctive (min_match=2) and exclusion (must-not a head word)
        # through served-mask vs exact-join routes, bitwise per query.
        from review_recommender_spark.query.bm25 import term_docs
        idx.warm(spark)
        bool_ok = True
        for qi, q in enumerate(GOLDEN_PHRASES[:3]):
            # exclude the docs containing the query's own first word —
            # guaranteed to bite (it removes strong candidates)
            ex = term_docs(spark, idx, q.split()[0].lower())
            for kw in ({"min_match": 2}, {"exclude_docs": ex},
                       {"min_match": 2, "exclude_docs": ex}):
                e = [(r["doc_id"], r["score"]) for r in
                     bm25_topk_exact(spark, idx, q, k=k, **kw).collect()]
                s = [(r["doc_id"], r["score"]) for r in
                     bm25_topk_served(spark, idx, q, k=k, **kw).collect()]
                same = e == s
                bool_ok &= same
                if not same:
                    print(f"q{qi} boolean {sorted(kw)} MISMATCH:", e, s)
        print(f"boolean (min_match / exclude / both, 3 queries): "
              f"{'BITWISE-IDENTICAL' if bool_ok else 'MISMATCH'}",
              flush=True)
        ok &= bool_ok

        # eighth path family (round 6c): search-after PAGING at scale —
        # page 2 via the page-1 cursor must equal rows k+1..2k of the
        # one-shot 2k ranking, and the served cursor route must match
        # the exact cursor route bitwise (θ seeded post-cursor).
        page_ok = True
        for qi, q in enumerate(GOLDEN_PHRASES[:3]):
            two = [(r["doc_id"], r["score"]) for r in
                   bm25_topk_exact(spark, idx, q, k=2 * k).collect()]
            cur = (two[k - 1][1], two[k - 1][0])
            pe = [(r["doc_id"], r["score"]) for r in
                  bm25_topk_exact(spark, idx, q, k=k,
                                  after=cur).collect()]
            ps = [(r["doc_id"], r["score"]) for r in
                  bm25_topk_served(spark, idx, q, k=k,
                                   after=cur).collect()]
            same = pe == ps == two[k:]
            page_ok &= same
            if not same:
                print(f"q{qi} paging MISMATCH:", pe, ps, two[k:])
        print(f"paging (cursor page-2 exact/served vs 2k slice, "
              f"3 queries): "
              f"{'BITWISE-IDENTICAL' if page_ok else 'MISMATCH'}",
              flush=True)
        ok &= page_ok
        print(json.dumps({
            "n_docs": n_docs,
            "paths": ["exact", "pruned", "served(block-skip)",
                      "served(no-skip)", "served(executor)", "served_batch",
                      "served(partial-warm)", "boolean(served-vs-exact)",
                      "paging(cursor-vs-slice)"],
            "queries": len(GOLDEN_PHRASES),
            "bitwise_identical": sum(per_query),
            "partial_warm_ok": partial_ok,
            "boolean_ok": bool_ok,
            "paging_ok": page_ok,
            "bitwise_ok": ok,
        }))
        sys.exit(0 if ok else 1)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
        local_dirs = os.environ.get("SPARK_LOCAL_DIRS", "")
        if local_dirs.startswith("/dev/shm/"):
            shutil.rmtree(local_dirs, ignore_errors=True)


if __name__ == "__main__":
    main()
