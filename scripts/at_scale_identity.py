"""At-scale rank-identity sweep: all golden queries through every BM25
query path on one large corpus, asserting BITWISE-identical top-k.

Paths: exact on each of its two tiers — exact_gathered (the exact plan
carried out on the driver over the gathered blocks; the route's tier is
printed per query, as a query over the gather budgets takes the Spark
plan) and exact(spark) (the single-action posting join, gather budget
forced to 0) — pruned (forced block-max) on each of its two tiers —
gathered (the kernel on the driver over the fetched blocks) and
distributed (the kernel's local top-k per range-sharded task, then one
merge; gather budget forced to 0) — served on its driver tier (the
in-process kernel over the driver copy of the serving layout, held here
whatever its size) with and WITHOUT block-max skipping, served on its
executor tier (per-shard kernel over the cached shards, on a second
handle warmed with the driver budget forced to 0), and served-batch (the
zero-shuffle batch scores hybrid uses). The r2 evidence tied exact ≡ the BM25Okapi-formula numpy oracle
at 800k docs; this script ties every engine path to exact at the same
scale, so the whole family stays anchored to the oracle.

For each golden query it also prints what the gathered tier read on the
driver: the block rows and encoded bytes it gathered (``stats``
``gathered_rows`` / ``gathered_bytes``), and the postings Parquet row
groups its bucket + term filter keeps, with their compressed bytes in
the columns read, and what the distributed tier cost: its median wall
time over three calls, collect included, and its ``decoded_blocks``.

Usage: python scripts/at_scale_identity.py [n_docs] (default 800000)
Prints one JSON line: {"n_docs":..., "paths":..., "bitwise_ok":...}
Spark runs on ``session.default_cores()`` cores (``SPARK_GRAFT_CPUS``,
else the CPUs this process may run on). The corpus and index go to a
fresh ``tempfile.mkdtemp()`` directory (set ``TMPDIR`` to move it);
Spark's scratch space follows the caller's ``SPARK_LOCAL_DIRS``.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 800_000

    from pyspark.sql import functions as F

    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.corpus.pages import GOLDEN_PHRASES, pages_df
    from review_recommender_spark.index import build
    from review_recommender_spark.index.build import (_KERNEL_COLS, POSTINGS,
                                                      build_index,
                                                      term_bucket_py)
    from review_recommender_spark.index.tableio import TableIO
    from review_recommender_spark.query import bm25
    from review_recommender_spark.query.bm25 import (bm25_topk_exact,
                                                     bm25_topk_pruned,
                                                     bm25_topk_served,
                                                     query_term_idf)
    from review_recommender_spark.query.search import bm25_scores_batch_served
    from review_recommender_spark.session import default_cores, get_spark

    @contextlib.contextmanager
    def forced(module, name, value):
        """Set one of ``module``'s tier budgets for the block's calls."""
        old = getattr(module, name)
        setattr(module, name, value)
        try:
            yield
        finally:
            setattr(module, name, old)

    def row_groups_read(idx, terms):
        """(row groups, compressed bytes of the gathered columns) that
        the gathered tier's filter keeps in the postings Parquet."""
        import pyarrow.dataset as pa_ds
        flt = (pa_ds.field("term_bucket").isin(sorted(
            {term_bucket_py(t, idx.cfg.index.term_buckets) for t in terms}))
            & pa_ds.field("term").isin(terms))
        ds = pa_ds.dataset(idx.io.path(POSTINGS), format="parquet",
                           partitioning="hive")
        groups = nbytes = 0
        for frag in ds.get_fragments(filter=flt):
            md = frag.metadata
            cols = [j for j in range(md.num_columns)
                    if md.schema.column(j).name in _KERNEL_COLS]
            for part in frag.split_by_row_group(flt, schema=ds.schema):
                for rg in part.row_groups:
                    groups += 1
                    nbytes += sum(md.row_group(rg.id).column(j)
                                  .total_compressed_size for j in cols)
        return groups, nbytes

    # every full warm below keeps the driver copy, so the served driver
    # tier is checked at this scale too; the executor-tier handle is
    # warmed with the budget forced to 0
    build._DRIVER_SERVING_BYTES_MAX = 1 << 62
    cpus = default_cores()
    spark = get_spark("at-scale-id", cores=cpus,
                      shuffle_partitions=max(cpus, 8))
    tmp = tempfile.mkdtemp(prefix="rrs_id_")
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
        ex_idx = dataclasses.replace(idx, _cached=None)
        with forced(build, "_DRIVER_SERVING_BYTES_MAX", 0):
            ex_idx.warm(spark)
        assert ex_idx.serving_df() is not None

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
            exact_stats: dict = {}
            exact = [(r["doc_id"], r["score"]) for r in
                     bm25_topk_exact(spark, idx, q, k=k,
                                     stats=exact_stats).collect()]
            with forced(bm25, "_PRUNED_LOCAL_BLOCKS_MAX", 0):
                exact_spark = [(r["doc_id"], r["score"]) for r in
                               bm25_topk_exact(spark, idx, q, k=k).collect()]

            def pruned_rows(stats=None):
                return [(r["doc_id"], r["score"]) for r in
                        bm25_topk_pruned(spark, idx, q, k=k, stats=stats,
                                         min_ranges_to_prune=1).collect()]
            gathered: dict = {}
            pruned = pruned_rows(gathered)
            groups, group_bytes = row_groups_read(
                idx, sorted(query_term_idf(spark, idx, q)))
            print(f"q{qi}: exact tier={exact_stats['tier']} "
                  f"pruned tier={gathered.get('tier')} "
                  f"gathered_rows={gathered.get('gathered_rows')} "
                  f"gathered_bytes={gathered.get('gathered_bytes')} "
                  f"row_groups={groups} row_group_bytes={group_bytes}",
                  flush=True)
            walls, dist_runs = [], []
            with forced(bm25, "_PRUNED_LOCAL_BLOCKS_MAX", 0):
                for _ in range(3):
                    dist: dict = {}
                    t0 = time.perf_counter()
                    dist_runs.append(pruned_rows(dist))
                    walls.append(time.perf_counter() - t0)
            pruned_dist = dist_runs[0]
            print(f"q{qi}: distributed tier={dist['tier']} "
                  f"wall_ms={1000 * sorted(walls)[1]:.1f} "
                  f"decoded_blocks={dist['decoded_blocks'].value}",
                  flush=True)
            served = [(r["doc_id"], r["score"]) for r in
                      bm25_topk_served(spark, idx, q, k=k).collect()]
            served_ns = [(r["doc_id"], r["score"]) for r in
                         bm25_topk_served(spark, idx, q, k=k,
                                          block_skip=False).collect()]
            ex_stats: dict = {}
            served_ex = [(r["doc_id"], r["score"]) for r in
                         bm25_topk_served(spark, ex_idx, q, k=k,
                                          stats=ex_stats).collect()]
            assert ex_stats["tier"] == "executor", ex_stats["tier"]
            same = (exact == exact_spark == pruned == pruned_dist
                    == served == served_ns == served_ex
                    == batch_top[qi]
                    and dist_runs.count(pruned_dist) == len(dist_runs))
            per_query.append(same)
            ok &= same
            print(f"q{qi}: {'BITWISE-IDENTICAL' if same else 'MISMATCH'}",
                  flush=True)
            if not same:
                print("  exact :", exact)
                print("  exact(spark):", exact_spark)
                print("  pruned:", pruned)
                print("  pruned(distributed):", pruned_dist)
                print("  served:", served)
                print("  served(executor):", served_ex)
                print("  batch :", batch_top[qi])

        # sixth path (round 6): PARTIAL warm — every other doc-range
        # resident, the rest served by the cold on-disk union. The
        # head-shard strategy the memory envelope prescribes at 10^9+
        # docs must stay bitwise at scale, not just in the unit gate.
        ex_idx.unwarm()
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
            "paths": ["exact", "exact(spark)", "pruned(gathered)",
                      "pruned(distributed)",
                      "served(block-skip)", "served(no-skip)",
                      "served(executor)", "served_batch",
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


if __name__ == "__main__":
    main()
