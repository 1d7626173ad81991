"""The timed process of one benchmark run (started by ``run.py``).

    python3 perfbench/worker.py --workload serve --seed 1 --seconds 6 \
        --trace 0 --corpus <parquet dir> --work <scratch dir> \
        --trace-dir <span dir> --out <json>

Phases, in order:

1. Set-up, timed as ``setup_s``: start the Spark session and open the
   corpus once, then build the index (and ``warm()`` it for ``serve``)
   ``SETUP_REPS`` times into fresh directories. ``setup_s`` is the
   session start plus the median build (+ warm) time; the first build
   pays JIT and Python-worker start. Identical builds must write the
   same index bytes.
2. Warm-up: the workload's count of untimed requests from a seeded set
   disjoint from the timed one.
3. Timed window: one closed-loop client sends the next request only
   after the previous reply, until ``--seconds`` of request time have
   passed. Each reply gets a cheap order check.
4. Output checks, untimed: sampled requests (every request of a traced
   ``cold`` run) are re-run through ``bm25_topk_exact`` with the same modifiers and
   must match bit for bit on doc ids and scores.
5. With ``--trace 1`` only: every other timed request runs inside
   spans whose Spark jobs are read back per request (the others give
   the tracing overhead). Then per-layer probes split the paths into
   their public calls, with ``stats=`` block counters: served top-k and
   the hybrid search stages on the warm index, idf, pruned and exact
   top-k on the on-disk one, and the Spark floor costs.

Writes one JSON object to ``--out``; ``run.py`` prints the result.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

from pools import request_pools
from procs import session_procs
from tracing import Tracer
from workloads import DOCS, WORKLOADS

K = 10
SETUP_REPS = 2
CHECK_SAMPLES = 2
PROBE_QUERIES = 2
FLOOR_REPS = 5
MIN_RANGES_TO_PRUNE = 64  # as bench.py calls bm25_topk_pruned
FILTER_KEEP = 5  # the filter_docs subset keeps 1 doc in 5


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tree_bytes(root: str) -> int:
    """Bytes of the parquet data files under ``root``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files
               if f.endswith(".parquet"))


def copy_gbps(mb: int = 64, reps: int = 7) -> float:
    """Host memory copy bandwidth, GB copied per second (median)."""
    a = np.ones(mb * 2**20 // 8)
    b = np.empty_like(a)
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        np.copyto(b, a)
        ts.append(time.perf_counter() - t)
    return a.nbytes / median(ts) / 1e9


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def session_rss_mb() -> dict[str, float]:
    """RSS of this process's session, split into driver (its peak),
    JVM and Python workers."""
    me = os.getpid()
    out = {"driver_hwm": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid, comm in session_procs(os.getsid(0)):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f
                              if line.startswith(("VmRSS", "VmHWM")))
        except OSError:
            continue
        if "VmRSS" not in status:
            continue
        rss = int(status["VmRSS"].split()[0]) / 1024
        if pid == me:
            out["driver_hwm"] = int(status["VmHWM"].split()[0]) / 1024
        elif comm == "java":
            out["jvm"] += rss
        else:
            out["workers"] += rss
    return out


def rows_of(df) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def ordered(rows, after=None) -> bool:
    """Scores non-increasing, doc ids ascending on ties, no duplicate,
    at most K rows, and every row strictly after the cursor."""
    keys = [(-s, d) for d, s in rows]
    if keys != sorted(keys) or len({d for d, _ in rows}) != len(rows):
        return False
    if after is not None and any((-s, d) <= (-after[0], after[1])
                                 for d, s in rows):
        return False
    return len(rows) <= K


class Bench:
    def __init__(self, args):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.metrics: dict[str, tuple[float, str]] = {}
        self.failed = 0
        self.correct = True

    # -- set-up -----------------------------------------------------
    def setup(self) -> None:
        from review_recommender_spark.config import EngineConfig, bm25_north
        from review_recommender_spark.index.build import build_index
        from review_recommender_spark.index.tableio import TableIO
        from review_recommender_spark.session import get_spark

        a = self.args
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{a.workload}", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # initial heap = the pinned maximum, so that the JVM's
            # footprint does not follow the GC's heap-growth timing
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_DRIVER_MEM']}"})
        self.docs = self.spark.read.parquet(a.corpus)
        self.session_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, bool(a.trace))
        cfg = EngineConfig(bm25=bm25_north())
        if self.spec["range_shift"] is not None:
            cfg = dataclasses.replace(cfg, index=dataclasses.replace(
                cfg.index, range_shift=self.spec["range_shift"]))
        self.reps = []
        for r in range(SETUP_REPS):
            root = os.path.join(a.work, f"index-{r}")
            stages: dict = {}
            with self.tracer.span("build_index"):
                t = time.perf_counter()
                idx = build_index(self.spark, self.docs, TableIO(root), cfg,
                                  stage_timings=stages)
                build_s = time.perf_counter() - t
            warm_s = self.warm(idx) if self.spec["warm"] else 0.0
            self.reps.append({"build_s": build_s, "warm_s": warm_s,
                              "stages": stages, "bytes": tree_bytes(root)})
            if r < SETUP_REPS - 1:
                idx.unwarm()
                shutil.rmtree(root)
        if len({r["bytes"] for r in self.reps}) != 1:
            print("index bytes differ between identical builds",
                  file=sys.stderr)
            self.correct = False
        self.idx = idx
        self.setup_s = self.session_s + median(
            [r["build_s"] + r["warm_s"] for r in self.reps])

    def warm(self, idx) -> float:
        with self.tracer.span("warm"):
            t = time.perf_counter()
            idx.warm(self.spark)
            dt = time.perf_counter() - t
        storage = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.cache_mb = sum(s.memSize() for s in storage) / 2**20
        self.idf_terms = len(idx.idf_lookup() or ())
        return dt

    # -- requests ---------------------------------------------------
    def modifiers(self, req) -> dict:
        mod = req["mod"]
        if mod == "min_match_all":
            return {"min_match": "all"}
        if mod == "filter":
            return {"filter_docs": self.filter_docs}
        if mod == "after" and req.get("after") is not None:
            return {"after": req["after"]}
        return {}

    def prepare(self, req) -> None:
        """Untimed: a page-2 request needs page 1's last row."""
        from review_recommender_spark.query.bm25 import bm25_topk_served
        if req["mod"] == "after" and "after" not in req:
            page1 = rows_of(bm25_topk_served(self.spark, self.idx, req["q"],
                                             k=K))
            req["after"] = (page1[-1][1], page1[-1][0]) if page1 else None

    def request(self, req) -> list[tuple[int, float]]:
        from review_recommender_spark.query.bm25 import (bm25_topk_pruned,
                                                         bm25_topk_served)
        tr = self.tracer
        if self.args.workload == "serve":
            with tr.span("bm25_topk_served.call"):
                df = bm25_topk_served(self.spark, self.idx, req["q"], k=K,
                                      **self.modifiers(req))
        else:
            with tr.span("bm25_topk_pruned.call"):
                df = bm25_topk_pruned(self.spark, self.idx, req["q"], k=K,
                                      min_ranges_to_prune=MIN_RANGES_TO_PRUNE)
        with tr.span("collect"):
            return rows_of(df)

    def exact(self, req) -> list[tuple[int, float]]:
        from review_recommender_spark.query.bm25 import bm25_topk_exact
        return rows_of(bm25_topk_exact(self.spark, self.idx, req["q"], k=K,
                                       **self.modifiers(req)))

    def warmup(self, reqs) -> None:
        t = time.perf_counter()
        for req in reqs:
            self.prepare(req)
            self.request(req)
        self.warmup_s = time.perf_counter() - t

    def window(self, pool) -> None:
        """Closed loop, one client, until --seconds of request time.
        Traced runs alternate traced and untraced requests."""
        tr = self.tracer
        self.done: list[tuple[dict, list]] = []
        self.lat_ms: list[float] = []
        self.lat_traced_ms: list[float] = []
        self.attempted = 0
        busy = 0.0
        while busy < self.args.seconds:
            req = next(pool)
            self.prepare(req)
            traced = bool(self.args.trace) and self.attempted % 2 == 0
            tr.enabled = traced
            t = time.perf_counter()
            try:
                with tr.span("request", req=self.attempted):
                    rows = self.request(req)
            except Exception:  # a failed request counts, the loop goes on
                traceback.print_exc()
                rows = None
            dt = time.perf_counter() - t
            tr.enabled = bool(self.args.trace)
            busy += dt
            self.attempted += 1
            if rows is None or not ordered(rows, req.get("after")):
                self.failed += 1
                continue
            (self.lat_traced_ms if traced else self.lat_ms).append(dt * 1e3)
            self.done.append((req, rows))
        self.busy_s = busy

    def check(self) -> None:
        """Untimed bitwise comparison with the exact route."""
        done = self.done
        if not (self.args.trace and self.args.workload == "cold"):
            rng = random.Random(f"check-{self.args.seed}")
            done = rng.sample(done, min(CHECK_SAMPLES, len(done)))
        for req, rows in done:
            if self.exact(req) != rows:
                print(f"mismatch with bm25_topk_exact: {req}", file=sys.stderr)
                self.failed += 1

    # -- per-layer probes (traced runs only) -------------------------
    def timed_ms(self, name: str, fn):
        with self.tracer.span(name):
            t = time.perf_counter()
            out = fn()
            return out, (time.perf_counter() - t) * 1e3

    def probe_floors(self) -> None:
        from pyspark.sql import functions as F
        spark = self.spark
        par = spark.sparkContext.defaultParallelism
        rng_df = spark.range(0, 4096, numPartitions=par).cache()
        rng_df.count()

        def ident(it):
            yield from it
        job, py = [], []
        for _ in range(FLOOR_REPS):
            job.append(self.timed_ms(
                "floor.job", lambda: spark.range(1).agg(F.count("*"))
                .collect())[1])
            py.append(self.timed_ms(
                "floor.pytask", lambda: rng_df.mapInPandas(
                    ident, rng_df.schema).agg(F.count("*")).collect())[1])
        rng_df.unpersist()
        self.put("spark.floor_job_ms", median(job), "ms")
        self.put("spark.floor_pytask_ms", median(py), "ms")

    def probe_warm(self, queries) -> None:
        """Served top-k and the hybrid stages on the warm index."""
        from pyspark.sql import functions as F

        from review_recommender_spark.corpus.pages import page_meta_cols
        from review_recommender_spark.query.bm25 import bm25_topk_served
        from review_recommender_spark.query.encoder import (
            cross_encoder_score, embed_documents)
        from review_recommender_spark.query.search import (
            bm25_scores_batch_served, dense_topk_batch, hybrid_search)
        from review_recommender_spark.query.secondpass import score_pool
        spark, idx = self.spark, self.idx
        call, coll, dec, tot = [], [], 0, 0
        for q in queries:
            st: dict = {}
            df, ms = self.timed_ms("bm25_topk_served.call", lambda: (
                bm25_topk_served(spark, idx, q, k=K, stats=st)))
            call.append(ms)
            coll.append(self.timed_ms("collect", lambda: rows_of(df))[1])
            dec += st["decoded_blocks"].value
            tot += st["total_blocks"].value
        self.put("served.call_ms", median(call), "ms")
        self.put("served.collect_ms", median(coll), "ms")
        self.put("served.blocks_decoded_per_req", dec / len(queries),
                 "count")
        self.put("served.block_skip_ratio", 1 - dec / max(tot, 1), "ratio")

        path = os.path.join(self.args.work, "embeddings")

        def embed():
            embed_documents(self.docs.select("doc_id", "text")) \
                .select("doc_id", "embedding").write.parquet(path)
        self.put("embed.s", self.timed_ms("embed_documents", embed)[1] / 1e3,
                 "s")
        emb = spark.read.parquet(path)
        meta = (self.docs.select("doc_id", F.col("text").alias("agg_text"))
                .join(page_meta_cols(self.docs.select("doc_id")), "doc_id"))
        sp = idx.cfg.second_pass
        pool_n = max(K, sp.rerank_k, sp.pool_floor)
        dense_ms, bm25_ms, second_ms = [], [], []
        for q in queries:
            dense, ms = self.timed_ms("dense_topk_batch", lambda: (
                dense_topk_batch(spark, emb, [q], pool_n).toPandas()))
            dense_ms.append(ms)
            bm25, ms = self.timed_ms("bm25_scores_batch_served", lambda: (
                bm25_scores_batch_served(spark, idx, [q]).toPandas()))
            bm25_ms.append(ms)
            ids = [int(d) for d in dense["doc_id"]]
            pool = (dense.merge(bm25, on=["query_id", "doc_id"], how="left")
                    .fillna({"_bm25_raw": 0.0})
                    .merge(meta.where(F.col("doc_id").isin(ids)).toPandas(),
                           on="doc_id")
                    .sort_values(["_dense", "doc_id"], ascending=[False, True],
                                 kind="stable").reset_index(drop=True))
            pool["_dense"] = pool["_dense"].astype(np.float64)
            _, ms = self.timed_ms("score_pool", lambda: score_pool(
                pool, q, sp, rerank_fn=cross_encoder_score, k=K))
            second_ms.append(ms)
        # the whole pipeline once: rows ranked 1..k by non-increasing _final
        q = queries[0]
        rows, ms = self.timed_ms("hybrid_search", lambda: (
            hybrid_search(spark, idx, emb, meta, q, k=K).collect()))
        finals = [r["_final"] for r in rows]
        if [r["rank"] for r in rows] != list(range(1, K + 1)) or \
                finals != sorted(finals, reverse=True):
            print(f"hybrid_search order check failed: {q}", file=sys.stderr)
            self.correct = False
        self.put("dense.ms", median(dense_ms), "ms")
        self.put("bm25_scores.ms", median(bm25_ms), "ms")
        self.put("secondpass.ms", median(second_ms), "ms")
        self.put("hybrid.call_ms", ms, "ms")

    def probe_disk(self, queries) -> None:
        """idf lookup, pruned and exact top-k on the on-disk index."""
        from review_recommender_spark.query.bm25 import (bm25_topk_exact,
                                                         bm25_topk_pruned,
                                                         query_term_idf)
        spark, idx = self.spark, self.idx
        idf, call, coll, exact = [], [], [], []
        p_dec = e_dec = 0
        for q in queries:
            idf.append(self.timed_ms("query_term_idf", lambda: (
                query_term_idf(spark, idx, q)))[1])
            st: dict = {}
            df, ms = self.timed_ms("bm25_topk_pruned.call", lambda: (
                bm25_topk_pruned(spark, idx, q, k=K, stats=st,
                                 min_ranges_to_prune=MIN_RANGES_TO_PRUNE)))
            call.append(ms)
            pruned, ms = self.timed_ms("collect", lambda: rows_of(df))
            coll.append(ms)
            p_dec += st["decoded_blocks"].value
            st = {}
            ref, ms = self.timed_ms("bm25_topk_exact", lambda: rows_of(
                bm25_topk_exact(spark, idx, q, k=K, stats=st)))
            exact.append(ms)
            e_dec += st["decoded_blocks"].value
            if pruned != ref:
                print(f"pruned != exact: {q}", file=sys.stderr)
                self.correct = False
        n = len(queries)
        self.put("idf.ms", median(idf), "ms")
        self.put("pruned.call_ms", median(call), "ms")
        self.put("pruned.collect_ms", median(coll), "ms")
        self.put("exact.ms", median(exact), "ms")
        self.put("pruned.blocks_decoded_per_req", p_dec / n, "count")
        self.put("exact.blocks_decoded_per_req", e_dec / n, "count")
        self.put("pruned.decode_ratio", p_dec / max(e_dec, 1), "ratio")

    def probe_build(self) -> None:
        from pyspark.sql import functions as F

        from review_recommender_spark.index.build import POSTINGS
        reps = self.reps
        build_s = median([r["build_s"] for r in reps])
        self.put("session.start_s", self.session_s, "s")
        self.put("build.s", build_s, "s")
        for st in "abcd":
            self.put(f"build.stage_{st}_s",
                     median([r["stages"][f"stage_{st}"] for r in reps]), "s")
        self.put("build.docs_per_s", DOCS / build_s, "docs/s")
        n_post = self.idx.postings(self.spark).agg(F.sum("n")).first()[0]
        self.put("index.bytes_per_posting",
                 tree_bytes(self.idx.io.path(POSTINGS)) / n_post, "B")

    # -- results ----------------------------------------------------
    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def per_request_spark(self) -> None:
        tr = self.tracer
        tr.spark_metrics()
        reqs = list(tr.per_request().values())
        if not reqs:
            return
        mean = {k: sum(r[k] for r in reqs) / len(reqs) for k in reqs[0]}
        self.put("spark.jobs_per_req", mean["jobs"], "count")
        self.put("spark.stages_per_req", mean["stages"], "count")
        self.put("spark.tasks_per_req", mean["tasks"], "count")
        self.put("spark.task_run_ms_per_req", mean["task_run_ms"], "ms")
        self.put("spark.task_cpu_ms_per_req", mean["task_cpu_ms"], "ms")
        self.put("spark.task_wait_ms_per_req",
                 mean["task_run_ms"] - mean["task_cpu_ms"], "ms")
        self.put("spark.result_bytes_per_req", mean["result_bytes"], "B")
        self.put("spark.shuffle_bytes_per_req", mean["shuffle_bytes"], "B")
        self.put("spark.input_bytes_per_req", mean["input_bytes"], "B")

    def run(self) -> dict:
        a = self.args
        cpu0 = cpu_times()
        gbps0 = copy_gbps() if a.trace else 0.0
        self.setup()
        from pyspark.sql import functions as F
        self.filter_docs = (
            self.spark.range(0, self.idx.n_docs)
            .where(F.pmod(F.xxhash64("id", F.lit(a.seed)), F.lit(FILTER_KEEP))
                   == 0)
            .select(F.col("id").alias("doc_id")))
        serving_since = time.monotonic()
        warm_reqs, pool = request_pools(a.workload, a.seed,
                                        self.spec["warmup"])
        self.warmup(warm_reqs)
        t = time.perf_counter()
        self.window(pool)
        window_s = time.perf_counter() - t
        rss = session_rss_mb()
        t = time.perf_counter()
        self.check()
        check_s = time.perf_counter() - t
        lat = self.lat_ms + self.lat_traced_ms
        if not lat:
            raise RuntimeError("no request completed in the timed window")
        if a.trace:
            self.per_request_spark()
            queries = [req["q"] for req, _ in self.done[:PROBE_QUERIES]]
            if not self.spec["warm"]:
                self.put("warm.s", self.warm(self.idx), "s")
            else:
                self.put("warm.s", median([r["warm_s"] for r in self.reps]),
                         "s")
            self.put("warm.cache_mb", self.cache_mb, "MB")
            self.put("warm.idf_terms", self.idf_terms, "count")
            self.probe_warm(queries)
            self.idx.unwarm()
            self.probe_disk(queries)
            self.probe_floors()
            self.probe_build()
            cpu1 = cpu_times()
            total = sum(cpu1) - sum(cpu0)
            self.put("proc.driver_hwm_mb", rss["driver_hwm"], "MB")
            self.put("proc.jvm_rss_mb", rss["jvm"], "MB")
            self.put("proc.workers_rss_mb", rss["workers"], "MB")
            self.put("host.copy_gbps_start", gbps0, "GB/s")
            self.put("host.copy_gbps_end", copy_gbps(), "GB/s")
            self.put("host.steal_pct",
                     100 * (cpu1[7] - cpu0[7]) / max(total, 1), "%")
            self.put("bench.warmup_s", self.warmup_s, "s")
            if self.lat_ms and self.lat_traced_ms:
                self.put("bench.trace_overhead_pct",
                         100 * (median(self.lat_traced_ms)
                                / median(self.lat_ms) - 1), "%")
            self.tracer.write(os.path.join(
                a.trace_dir, f"spans-{a.workload}-seed{a.seed}.json"))
        else:
            self.put("p50_ms", median(lat), "ms")
            self.put("qps", len(lat) / self.busy_s, "1/s")
            self.put("setup_s", self.setup_s, "s")
            self.put("index_mb", self.reps[-1]["bytes"] / 2**20, "MB")
        return {
            "correct": self.correct and self.failed == 0,
            "attempted": self.attempted, "failed": self.failed,
            "serving_since": serving_since,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in self.metrics.items()},
            "info": {"samples": len(lat), "warmup": len(warm_reqs),
                     "setup_reps": [round(r["build_s"] + r["warm_s"], 3)
                                    for r in self.reps],
                     "index_bytes": [r["bytes"] for r in self.reps],
                     "session_s": round(self.session_s, 3),
                     "warmup_s": round(self.warmup_s, 3),
                     "window_s": round(window_s, 3),
                     "check_s": round(check_s, 3),
                     "lat_ms": [round(x, 1) for x in lat]},
        }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    bench = Bench(args)
    try:
        result = bench.run()
    finally:
        if hasattr(bench, "spark"):
            bench.spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
