"""Distributed inverted-index build.

Replaces the reference's in-RAM index (a pickled token corpus re-scanned by
``BM25Okapi`` on every process start — nlp/12_product_prep.py:85-89,
app/test.py:147-157) with a persisted, compressed, term-partitioned index
built in ONE large shuffle:

  Stage A (map-only, chunked, resumable, pure JVM / whole-stage codegen):
      pages → K1 tokenize → ``local_tf`` table with ONE ROW PER DOC
      (doc_id, dl, toks array). Packing the token array instead of
      exploding to occurrence rows (format v3) shrinks the checkpoint's
      row count ~avgdl× — doc_id/dl are stored once per doc instead of
      once per token — and lets Stage B read just the two scalar columns
      under parquet column pruning (the toks column chunks are never
      touched; plan-gated in tests/test_plans.py). Zero-token docs are a
      row like any other, so they reach doc_stats/avgdl with no sentinel
      machinery (BM25Okapi counts them). No Python worker touches the
      scan stage; tf materializes later as run-lengths inside the encode
      kernel. This is the "per-partition inverted index" checkpoint: each
      chunk commits a manifest and a re-run skips completed chunks.

  Stage B (map-only): doc_stats (doc_id, doc_len) + corpus_stats
      (n_docs, avgdl, total_tokens) from the (doc_id, dl) columns only.

  Stage C (THE shuffle): packed checkpoint rows go STRAIGHT into the
      map-side combine (``_pack_partials_arrow`` via mapInArrow — r7: no
      JVM explode, no occurrence-row Arrow transfer); each scan task
      sorts its occurrences by (term, range_id, doc_id) in numpy,
      run-length-collapses them into postings and emits ONE partial row
      per (term, range_id) — range_id = doc_id >> range_shift. Partials
      are hash-partitioned by the *pair* (term, range_id): the skew
      treatment the north rule calls "salting head terms" — a head
      term's postings are split across reducers by doc-range, so no
      reducer ever holds more than one range (≤ 2^range_shift docs) of
      any term, while each (term, range) group stays whole on one
      reducer. The reduce side merges pre-sorted partials and
      bulk-encodes 128-posting delta+varint blocks with block-max
      metadata (index/codec.py) — three varint passes per batch, no
      per-block Python calls. Blocks are written partitioned by
      ``term_bucket = crc32(term) % term_buckets`` for directory-level
      pruning of query terms (crc32 is computable identically
      driver-side).

  Stage D (tiny): term_stats (term, df, idf) from block metadata — df is
      the sum of block posting counts, so no second pass over tf rows; the
      BM25Okapi negative-idf fixup (ε·mean raw idf over the vocabulary,
      SURVEY.md §2.12) is one scalar aggregate.

Every table commit carries lineage + row/term-count metrics in its snapshot
manifest (index/tableio.py).
"""

from __future__ import annotations

import hashlib
import os
import zlib
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..functions.tokenize import (STOP_INDEX, TOKEN_RE, make_tokenize_k1_udf,
                                  tokenize_k1_col)
from .tableio import ChunkedWriter, TableIO, config_fingerprint

LOCAL_TF = "local_tf"
# bump when the local_tf checkpoint schema changes — stale checkpoints from
# an older format must not be resumed (v2 = occurrence rows, no tf column;
# v3 = occurrence rows partitioned by is_sentinel; v4 = one PACKED row
# per doc (doc_id, dl, toks) — Stage C packs straight from the packed rows)
LOCAL_TF_FORMAT_VERSION = 4
DOC_STATS = "doc_stats"
CORPUS_STATS = "corpus_stats"
TERM_STATS = "term_stats"
POSTINGS = "postings"

BLOCK_SCHEMA = ("term string, range_id long, block_id int, n int, "
                "first_doc_id long, last_doc_id long, max_tf int, min_dl int, "
                "doc_bytes binary, tf_bytes binary, dl_bytes binary")


def term_bucket_py(term: str, n_buckets: int) -> int:
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def term_bucket_col(col, n_buckets: int):
    return F.crc32(col) % n_buckets


def _doc_rows(tokens_df: DataFrame) -> DataFrame:
    """(doc_id, toks) → ONE packed checkpoint row per doc
    (doc_id, dl, toks). Format v4: the split into per-term postings
    happens at Stage C read time (``_pack_partials_arrow``), not here, so
    the checkpoint stores doc_id/dl once per doc instead of once per
    token and Stage B's doc_stats read touches only the two scalar
    columns under parquet column pruning. A zero-token doc is a normal
    row with dl=0 and toks=[], so it reaches doc_stats/avgdl with no
    sentinel rows (BM25Okapi counts such docs — reference fillna('') at
    nlp/10_product_prep.py:37).

    Pure JVM (whole-stage codegen, no Python worker).
    """
    return tokens_df.select(
        "doc_id",
        F.size("toks").cast("int").alias("dl"),
        "toks",
    )


def _tokens_df(docs: DataFrame, cfg: EngineConfig, doc_id_col: str,
               text_col: str) -> DataFrame:
    cap = cfg.index.token_cap
    # NULL text must tokenize to [] (a zero-token doc), not drop the doc:
    # BM25Okapi counts such docs in n_docs/avgdl (reference fillna('') at
    # nlp/10_product_prep.py:37). Without the coalesce, the JVM tokenizer
    # yields a NULL toks array, corrupting the doc's checkpoint row
    # (dl would be NULL/-1 instead of 0) and shifting every idf.
    base = docs.select(F.col(doc_id_col).alias("doc_id"),
                       F.coalesce(F.col(text_col), F.lit("")).alias("text"))
    if cfg.index.tokenizer_impl == "arrow":
        return base.select("doc_id",
                           make_tokenize_k1_udf(cap)("text").alias("toks"))
    return base.select("doc_id", tokenize_k1_col(F.col("text"), cap).alias("toks"))


def _blocks_from_postings(tcol, rcol, doc_ids, tfs, dls, change,
                          block_size: int) -> pd.DataFrame:
    """Sorted postings (+ ``change`` marking each (term, range) group
    start) → encoded posting-block rows. Shared by the packed merge
    kernel and the raw-occurrence oracle (``oracle/stage_c_raw.py``) so
    both Stage C plans build byte-identical blocks from identical
    posting streams."""
    import numpy as np

    from .codec import encode_blocks_bulk

    cols = ["term", "range_id", "block_id", "n", "first_doc_id",
            "last_doc_id", "max_tf", "min_dl", "doc_bytes", "tf_bytes",
            "dl_bytes"]
    # per-posting index within its group → block starts, vectorized
    n = len(doc_ids)
    idx = np.arange(n, dtype=np.int64)
    group_id = np.cumsum(change) - 1
    group_start = idx[change][group_id]
    rel = idx - group_start
    is_block_start = (rel % block_size) == 0
    bs = np.flatnonzero(is_block_start)
    bend = np.append(bs[1:], n)
    db, tb, lb = encode_blocks_bulk(doc_ids, tfs, dls, bs)
    return pd.DataFrame({
        "term": tcol[bs],
        "range_id": rcol[bs],
        "block_id": (rel[bs] // block_size).astype(np.int32),
        "n": (bend - bs).astype(np.int32),
        "first_doc_id": doc_ids[bs],
        "last_doc_id": doc_ids[bend - 1],
        "max_tf": np.maximum.reduceat(tfs, bs).astype(np.int32),
        "min_dl": np.minimum.reduceat(dls, bs).astype(np.int32),
        "doc_bytes": db,
        "tf_bytes": tb,
        "dl_bytes": lb,
    }, columns=cols)


PARTIAL_SCHEMA = ("term string, range_id long, n int, doc_arr binary, "
                  "tf_arr binary, dl_arr binary")


def _pack_partials_arrow(cfg: EngineConfig, chunk_tokens: int = 2_000_000):
    """Map-side combine for Stage C reading the PACKED checkpoint rows
    directly (``mapInArrow`` over (doc_id, dl, toks)). The r1-r6 path
    exploded to occurrence rows in the JVM first, which duplicated
    doc_id/dl per token across the Arrow boundary and paid a 5.6M-row
    transfer at bench scale; reading the packed rows moves the same
    string payload with ~50× fewer rows and replaces ``pd.factorize``
    with Arrow's C++ ``dictionary_encode``. Measured 3.7× on the map
    stage; the partial CONTENT is identical (same lexsort + run-length
    collapse), so the merged postings stay byte-identical
    (tests/test_determinism.py::test_stage_c_modes_byte_identical)."""
    shift = cfg.index.range_shift

    def pack(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        def flush(batches: list) -> "pa.RecordBatch | None":
            doc = np.concatenate([b.column(0).to_numpy(
                zero_copy_only=False) for b in batches])
            dl_doc = np.concatenate([b.column(1).to_numpy(
                zero_copy_only=False) for b in batches]).astype(np.int32)
            toks = pa.chunked_array([b.column(2) for b in batches]) \
                .combine_chunks()
            offs = toks.offsets.to_numpy(zero_copy_only=False)
            counts = np.diff(offs)
            m = int(counts.sum())
            if m == 0:
                return None
            dic = pc.dictionary_encode(toks.values)
            codes = dic.indices.to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            uniq = np.asarray(dic.dictionary.to_pandas(), dtype=object)
            d = np.repeat(doc, counts)
            r = d >> shift
            dl = np.repeat(dl_doc, counts)
            order = np.lexsort((d, r, codes))
            codes, r, d, dl = codes[order], r[order], d[order], dl[order]
            change = np.empty(m, dtype=bool)
            change[0] = True
            change[1:] = ((codes[1:] != codes[:-1]) | (r[1:] != r[:-1])
                          | (d[1:] != d[:-1]))
            runs = np.flatnonzero(change)
            doc_ids = d[runs]
            tfs = np.diff(np.append(runs, m)).astype(np.int32)
            dls = dl[runs]
            gcodes, granges = codes[runs], r[runs]
            gchange = np.empty(len(runs), dtype=bool)
            gchange[0] = True
            gchange[1:] = ((gcodes[1:] != gcodes[:-1])
                           | (granges[1:] != granges[:-1]))
            gs = np.flatnonzero(gchange)
            ge = np.append(gs[1:], len(runs))
            return pa.record_batch([
                pa.array(uniq[gcodes[gs]], type=pa.string()),
                pa.array(granges[gs], type=pa.int64()),
                pa.array((ge - gs).astype(np.int32), type=pa.int32()),
                pa.array([doc_ids[a:b].tobytes() for a, b in zip(gs, ge)],
                         type=pa.binary()),
                pa.array([tfs[a:b].tobytes() for a, b in zip(gs, ge)],
                         type=pa.binary()),
                pa.array([dls[a:b].tobytes() for a, b in zip(gs, ge)],
                         type=pa.binary()),
            ], names=["term", "range_id", "n",
                      "doc_arr", "tf_arr", "dl_arr"])

        bufs: list = []
        ntok = 0
        for b in it:
            if b.num_rows == 0:
                continue
            bufs.append(b)
            ntok += len(b.column(2).flatten())
            if ntok >= chunk_tokens:
                out = flush(bufs)
                if out is not None:
                    yield out
                bufs, ntok = [], 0
        if bufs:
            out = flush(bufs)
            if out is not None:
                yield out

    return pack


def _merge_encode_partials(cfg: EngineConfig):
    """REDUCE side of the packed Stage C: partial rows arrive hash-
    partitioned by (term, range_id) and JVM-sorted on those keys; each
    group's partials are unpacked, globally doc-sorted, duplicate docs
    (runs split at map-side chunk flushes) tf-summed, and block-encoded
    via the SAME ``_blocks_from_postings`` as the raw oracle. Output is
    byte-identical to the raw oracle (pytest-gated): doc_ids are unique
    per group after the re-sum, so the merged posting stream is fully
    determined by content, independent of partial arrival order. The
    whole merge is vectorized across ALL groups of a batch (one
    frombuffer per column + one lexsort) — no per-group Python loop."""
    block_size = cfg.index.block_size

    def merge(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        pending: pd.DataFrame | None = None

        def merge_groups(pdf: pd.DataFrame, flush_all: bool
                         ) -> tuple[pd.DataFrame | None, pd.DataFrame | None]:
            if len(pdf) == 0:
                return None, None
            tcol = pdf["term"].to_numpy()
            rcol = pdf["range_id"].to_numpy()
            change = np.empty(len(pdf), dtype=bool)
            change[0] = True
            change[1:] = (tcol[1:] != tcol[:-1]) | (rcol[1:] != rcol[:-1])
            remainder = None
            if not flush_all:
                last_start = int(np.flatnonzero(change)[-1])
                remainder = pdf.iloc[last_start:]
                pdf = pdf.iloc[:last_start]
                if len(pdf) == 0:
                    return remainder, None
                tcol, rcol, change = (tcol[:last_start], rcol[:last_start],
                                      change[:last_start])
            counts = pdf["n"].to_numpy(dtype=np.int64)
            docs = np.frombuffer(b"".join(pdf["doc_arr"]), dtype=np.int64)
            tfs = np.frombuffer(b"".join(pdf["tf_arr"]),
                                dtype=np.int32).astype(np.int64)
            dls = np.frombuffer(b"".join(pdf["dl_arr"]),
                                dtype=np.int32).astype(np.int64)
            row_gid = np.cumsum(change) - 1          # group id per partial
            gid = np.repeat(row_gid, counts)          # ... per posting
            order = np.lexsort((docs, gid))
            gid, docs = gid[order], docs[order]
            tfs, dls = tfs[order], dls[order]
            # re-sum tf of duplicate (group, doc) postings (map-side chunk
            # splits); dl is per-doc so any duplicate carries the same dl
            pchange = np.empty(len(docs), dtype=bool)
            pchange[0] = True
            pchange[1:] = (gid[1:] != gid[:-1]) | (docs[1:] != docs[:-1])
            runs = np.flatnonzero(pchange)
            doc_ids = docs[runs]
            tf_sum = np.add.reduceat(tfs, runs)
            dl_first = dls[runs]
            post_gid = gid[runs]
            gchange = np.empty(len(runs), dtype=bool)
            gchange[0] = True
            gchange[1:] = post_gid[1:] != post_gid[:-1]
            # per-posting term/range via the group-leading partial row
            # (group order within the batch follows the JVM (term, range)
            # sort, so block output order is deterministic)
            lead = np.flatnonzero(change)
            out = _blocks_from_postings(
                tcol[lead][post_gid], rcol[lead][post_gid],
                doc_ids, tf_sum, dl_first, gchange, block_size)
            return remainder, out

        for pdf in it:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            pending, out = merge_groups(pdf, flush_all=False)
            if out is not None and len(out):
                yield out
        if pending is not None and len(pending):
            _, out = merge_groups(pending, flush_all=True)
            if out is not None and len(out):
                yield out

    return merge


def _stage_c_blocks(local_tf: DataFrame, cfg: EngineConfig,
                    shuffle_partitions: int) -> DataFrame:
    """Stage C's plan: the packed checkpoint rows → encoded posting
    blocks (``BLOCK_SCHEMA``), through one (term, range_id) shuffle.

    Map-side combine: pack per-(term, range) posting arrays BEFORE the
    exchange (north rule: per-partition indexes merged shuffle-side); the
    shuffle then moves ~50-100× fewer rows and the reducer merges
    pre-sorted partials instead of sorting raw occurrences. r7: the pack
    kernel reads the PACKED checkpoint rows via mapInArrow (no JVM
    explode, no occurrence-row Arrow transfer — see
    ``_pack_partials_arrow``). ``oracle/stage_c_raw.py`` holds the
    raw-occurrence plan with the same signature, which builds
    byte-identical blocks (tests/test_determinism.py)."""
    partials = (local_tf.select("doc_id", "dl", "toks")
                .mapInArrow(_pack_partials_arrow(cfg),
                            schema=PARTIAL_SCHEMA))
    return (partials.repartition(shuffle_partitions, "term", "range_id")
            .sortWithinPartitions("term", "range_id")
            .mapInPandas(_merge_encode_partials(cfg), schema=BLOCK_SCHEMA))


def _encoded_bytes():
    """A block row's encoded posting payload (its three varint
    columns) — the byte measure warm budgets are stated in."""
    return (F.octet_length("doc_bytes") + F.octet_length("tf_bytes")
            + F.octet_length("dl_bytes"))


@dataclass(frozen=True)
class _DriverServing:
    table: "pa.Table"  # noqa: F821 — serving rows sorted by term
    terms: np.ndarray  # the distinct terms, ascending
    bounds: np.ndarray  # term i's rows are [bounds[i], bounds[i + 1])
    nbytes: int  # encoded posting bytes (``_encoded_bytes`` summed)


@dataclass
class InvertedIndex:
    io: TableIO
    cfg: EngineConfig
    n_docs: int
    avgdl: float
    vocab_size: int
    _cached: dict = None  # type: ignore[assignment]

    def postings(self, spark: SparkSession) -> DataFrame:
        if self._cached and POSTINGS in self._cached:
            return self._cached[POSTINGS]
        return self.io.read(spark, POSTINGS)

    def term_stats(self, spark: SparkSession) -> DataFrame:
        if self._cached and TERM_STATS in self._cached:
            return self._cached[TERM_STATS]
        return self.io.read(spark, TERM_STATS)

    def warm(self, spark: SparkSession, serving_shards: int | None = None,
             idf_cache_max: int = 2_000_000,
             ranges=None, max_bytes: int | None = None) -> "InvertedIndex":
        """Pin postings + term_stats in executor memory for a query-serving
        session (the moral equivalent of the reference's st.cache_resource
        artifact memoization, app_product_search.py:53-119).

        Also builds the low-latency serving state:
          * ``_serving`` — the postings re-sharded by ``range_id`` (doc
            ranges) into ``serving_shards`` shards (default: one per
            executor slot, ``defaultParallelism``), the document-sharded
            layout search engines serve from: every doc's complete
            postings live in ONE shard, so a query is a single map stage
            (each shard computes its exact local top-k) plus a k×shards
            merge — no shuffle, no join.
          * ``_driver_serving`` — on a FULL warm whose encoded posting
            bytes fit ``query.bm25._DRIVER_SERVING_BYTES_MAX``, a driver
            copy of that layout (one Arrow table sorted by term):
            ``bm25_topk_served`` then slices the query terms' rows and
            runs the same kernel in-process — zero Spark jobs. Partial
            warms never keep one; ``unwarm`` releases it.
          * ``_idf`` — driver-side {term: idf} when the vocabulary is
            driver-sized (≤ idf_cache_max), so per-query weights cost zero
            Spark jobs. Larger vocabularies fall back to a bucket-pruned
            lookup job per query batch.

        MEMORY ENVELOPE (what "warm at 10^12 docs" costs, arithmetic a
        reader can check): the serving layout caches the ENCODED posting
        blocks — measured 2.41 bytes/posting (delta+varint, BENCH) plus
        ~1 byte/posting of block metadata/row overhead at the measured
        ~1k-posting mean block size. A web corpus averages ~400 postings
        (distinct K1 terms) per doc, so:
          postings/doc · bytes/posting ≈ 400 · 3.5 ≈ 1.4 KB/doc warm.
          10^9 docs  →  ~1.4 TB  → 47 executors at 30 GiB cache each.
          10^12 docs →  ~1.4 PB  → needs ~47k such executors: warm-ALL is
          a fleet decision, not a default — at that scale you warm the
          head shards (Zipf: the hot 10% of ranges serve most queries)
          and leave the tail on the on-disk pruned path
          (``bm25_topk_pruned``), which needs NO resident postings.
          Within a warm shard, queries do NOT decode every resident
          block: the served kernel block-max-skips ranges whose bound
          cannot beat the shard-local top-k
          (``query.bm25._served_local_topk``), so a head-term query at
          10^9 docs decodes only the ranges that can compete, not the
          term's whole resident posting list.
        The driver idf cache is ~60 B/term (str + float in a dict): the
        default ``idf_cache_max`` = 2M terms ≈ 120 MB driver RSS; larger
        vocabularies auto-fall-back to per-batch lookup jobs.

        ``ranges`` (optional iterable of range_ids): PARTIAL warm — pin
        only those doc-ranges' postings in the serving layout (the
        head-shard strategy the envelope above prescribes at 10^9+ docs:
        warm the hot ranges, leave the tail on disk). Served queries
        stay RESULT-IDENTICAL: every served path unions an exact-scored
        on-disk pass over the cold ranges (``query.bm25``'s
        ``_cold_scores_batch``), so partial warm trades latency on cold
        docs for memory, never correctness
        (tests/test_wand.py::test_partial_warm_bitwise_identical). With
        ``ranges`` given, the full postings table is NOT cached (that
        memory saving is the point); exact/pruned paths read it on disk
        as usual.

        ``max_bytes`` (optional int): BUDGETED partial warm — pick the
        resident range set automatically so its encoded posting payload
        fits the budget, then warm exactly like ``ranges=``. Selection is
        greedy by descending per-range posting bytes (with explicit
        range_id tie-break): without query logs the engine cannot know
        which ranges are traffic-hot, and posting mass is the defensible
        prior — the densest ranges hold the most scoreable (term, doc)
        pairs per query, so each warmed byte removes the most cold-path
        decode work. An operator WITH query logs should pass ``ranges=``
        (the two are mutually exclusive). A budget smaller than the
        smallest range warms nothing — still result-identical, every
        range served by the cold on-disk pass. Sizing uses the same
        driver-side per-range aggregate a fleet controller would read
        from table statistics: one column-pruned Spark job over the
        three encoded byte columns, no decode."""
        if ranges is not None and max_bytes is not None:
            raise ValueError(
                "warm(): pass ranges= (explicit hot set) OR max_bytes= "
                "(budgeted auto-pick), not both")
        if max_bytes is not None:
            if max_bytes < 0:
                raise ValueError("warm(): max_bytes must be >= 0")
            sizes = (self.io.read(spark, POSTINGS)
                     .groupBy("range_id")
                     .agg(F.sum(_encoded_bytes()).alias("bytes"))
                     .collect())
            picked, spent = [], 0
            for row in sorted(sizes,
                              key=lambda r: (-r["bytes"], r["range_id"])):
                if spent + row["bytes"] <= max_bytes:
                    picked.append(row["range_id"])
                    spent += row["bytes"]
            ranges = picked
        if self._cached:
            for df in self._cached.values():
                if hasattr(df, "unpersist"):
                    df.unpersist()
        term_stats = self.io.read(spark, TERM_STATS).cache()
        cached: dict = {TERM_STATS: term_stats}
        posts_src = self.io.read(spark, POSTINGS)
        if ranges is not None:
            warm_ranges = frozenset(int(r) for r in ranges)
            cached["_warm_ranges"] = warm_ranges
            posts_src = posts_src.filter(
                F.col("range_id").isin([int(r) for r in warm_ranges])
                if warm_ranges else F.lit(False))
        else:
            posts_src = posts_src.cache()
            cached[POSTINGS] = posts_src
        if serving_shards is None:
            # one shard per executor slot: a served query's per-shard work
            # is tiny, so every extra wave of Python tasks is pure
            # scheduling cost (~0.35 s a wave at local[4]); top-k is
            # bitwise-identical at any shard count
            serving_shards = spark.sparkContext.defaultParallelism
        serving = (posts_src.repartition(serving_shards, "range_id")
                   .select("term", "range_id", "n", "first_doc_id",
                           "last_doc_id", "max_tf", "min_dl",
                           "doc_bytes", "tf_bytes", "dl_bytes")
                   .cache())
        cached["_serving"] = serving
        object.__setattr__(self, "_cached", cached)
        for df in cached.values():
            if hasattr(df, "count"):
                df.count()
        if ranges is None:
            self._keep_driver_serving(serving)
        if self.vocab_size <= idf_cache_max:
            idf = {r["term"]: r["idf"]
                   for r in term_stats.select("term", "idf").collect()}
            cached["_idf"] = idf
        return self

    def is_warm(self) -> bool:
        """True when the doc-sharded serving layout + driver idf cache are
        resident (``warm`` ran) — query paths can then skip the term_stats
        join and shuffle-free their BM25 stage."""
        return bool(self._cached and "_serving" in self._cached
                    and "_idf" in self._cached)

    def unwarm(self) -> None:
        """Release every warm cache (postings/term_stats/serving layout +
        driver idf map). Call when a serving session ends so the executor
        memory returns to the pool — e.g. between bench phases, where a
        lingering 120k-doc serving layout would distort later timings."""
        if self._cached:
            for df in self._cached.values():
                if hasattr(df, "unpersist"):
                    df.unpersist()
        object.__setattr__(self, "_cached", None)

    def serving_df(self, spark: SparkSession) -> DataFrame:
        if not (self._cached and "_serving" in self._cached):
            self.warm(spark)
        return self._cached["_serving"]

    def _keep_driver_serving(self, serving: DataFrame) -> None:
        """Hold a driver copy of a FULL serving layout when its encoded
        bytes fit ``query.bm25._DRIVER_SERVING_BYTES_MAX``: one Arrow
        table sorted by term, plus the term run boundaries
        ``serving_rows`` searches. Costs two JVM-only jobs over the
        cached layout (the byte sum, then the Arrow collect)."""
        from ..query.bm25 import _DRIVER_SERVING_BYTES_MAX
        nbytes = serving.agg(F.sum(_encoded_bytes())).first()[0] or 0
        if nbytes > _DRIVER_SERVING_BYTES_MAX:
            return
        import pyarrow.compute as pc
        table = serving.toArrow().sort_by(
            [("term", "ascending"), ("range_id", "ascending"),
             ("first_doc_id", "ascending")])
        runs = pc.run_end_encode(table.column("term").combine_chunks())
        self._cached["_driver_serving"] = _DriverServing(
            table, runs.values.to_numpy(zero_copy_only=False),
            np.concatenate([[0], runs.run_ends.to_numpy()]), nbytes)

    def serving_rows(self, terms: list[str],
                     max_bytes: int) -> pd.DataFrame | None:
        """The serving-layout block rows of ``terms`` (sorted, unique)
        as ONE pandas frame, sliced from the driver copy a full ``warm``
        keeps — or None when no driver copy is resident or its encoded
        bytes exceed ``max_bytes`` (the executor layout then serves)."""
        ds = self._cached.get("_driver_serving") if self._cached else None
        if ds is None or ds.nbytes > max_bytes:
            return None
        pos = np.searchsorted(ds.terms, terms)
        rows = [np.arange(ds.bounds[p], ds.bounds[p + 1])
                for p, t in zip(pos, terms)
                if p < len(ds.terms) and ds.terms[p] == t]
        return ds.table.take(
            np.concatenate(rows) if rows else np.empty(0, np.int64)
        ).to_pandas()

    def idf_lookup(self) -> dict | None:
        """Driver-side idf map from warm state (None if not cached)."""
        if self._cached and "_idf" in self._cached:
            return self._cached["_idf"]
        return None

    def warm_ranges(self) -> frozenset | None:
        """The resident range_id set of a PARTIAL warm, or None when the
        whole postings table is warm (or nothing is). Served query paths
        use this to route cold ranges through the on-disk exact pass."""
        if self._cached and "_warm_ranges" in self._cached:
            return self._cached["_warm_ranges"]
        return None

    def doc_stats(self, spark: SparkSession) -> DataFrame:
        return self.io.read(spark, DOC_STATS)

    @classmethod
    def load(cls, spark: SparkSession, io: TableIO,
             cfg: EngineConfig) -> "InvertedIndex":
        row = io.read(spark, CORPUS_STATS).collect()[0]
        return cls(io=io, cfg=cfg, n_docs=row["n_docs"], avgdl=row["avgdl"],
                   vocab_size=row["vocab_size"])


def _file_chunk_groups(path: str, n_chunks: int
                       ) -> tuple[list[list[str]], str]:
    """Deterministic file→chunk assignment over a parquet directory, plus
    a digest of the file listing (name + size) so resume invalidates when
    the input changed. Round-robin over the sorted listing keeps chunks
    byte-balanced for uniformly-sized input files (the usual case for a
    table written by a previous Spark job)."""
    import pyarrow.dataset as pa_ds
    ds = pa_ds.dataset(path, format="parquet")
    files = sorted(ds.files)
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        h.update(str(os.path.getsize(f)).encode())
    return [files[i::n_chunks] for i in range(n_chunks)], h.hexdigest()[:16]


def build_index(spark: SparkSession, docs: DataFrame | str, io: TableIO,
                cfg: EngineConfig | None = None, *, doc_id_col: str = "doc_id",
                text_col: str = "text", n_chunks: int = 1,
                resume: bool = True, shuffle_partitions: int | None = None,
                input_fingerprint: str | None = None,
                stage_timings: dict | None = None) -> InvertedIndex:
    """``docs`` may be a DataFrame or a parquet directory path. PASS THE
    PATH for chunked builds: each Stage A chunk then reads only its own
    slice of the input files (scan-aligned resume — total input read is
    ONE pass regardless of n_chunks). With a DataFrame and n_chunks > 1
    the fallback is a pmod(doc_id) filter, which costs a full input scan
    PER CHUNK because pmod is not pushable — fine at test scale, a
    scale-killer on the 100-TB table the checkpointing exists for."""
    cfg = cfg or EngineConfig()
    import time as _time
    _t = {"_last": _time.perf_counter()}

    def _mark(stage: str) -> None:
        # per-stage wall seconds when the caller wants them (guide §1:
        # measure first) — a plain dict fill, zero cost otherwise
        if stage_timings is not None:
            now = _time.perf_counter()
            stage_timings[stage] = round(now - _t["_last"], 3)
            _t["_last"] = now

    docs_path = docs if isinstance(docs, str) else None
    file_groups: list[list[str]] | None = None
    files_digest = None
    if docs_path is not None:
        if n_chunks > 1:
            file_groups, files_digest = _file_chunk_groups(docs_path,
                                                           n_chunks)
        docs = spark.read.parquet(docs_path)
    fp_kwargs = dict(
        format_version=LOCAL_TF_FORMAT_VERSION,
        tokenizer="simple_en_v1", cap=cfg.index.token_cap,
        block=cfg.index.block_size, shift=cfg.index.range_shift,
        n_chunks=n_chunks)
    if files_digest is not None:
        fp_kwargs["files"] = files_digest
    fp = input_fingerprint or config_fingerprint(**fp_kwargs)

    # ---- Stage A: chunked, resumable local_tf ----
    writer = ChunkedWriter(io=io, name=LOCAL_TF, n_chunks=n_chunks,
                           input_fingerprint=fp)
    writer.clean_stale()
    pending = writer.pending_chunks() if resume else list(range(n_chunks))
    for i in pending:
        if file_groups is not None:
            grp = file_groups[i]
            chunk = (spark.read.schema(docs.schema).parquet(*grp) if grp
                     else spark.createDataFrame([], docs.schema))
        elif n_chunks == 1:
            chunk = docs
        else:
            chunk = docs.filter(
                F.pmod(F.col(doc_id_col), F.lit(n_chunks)) == i)
        # Parallelize NARROW inputs (guide §6.1): a table written by a
        # few writers arrives in a few scan partitions and would
        # tokenize on that many cores (the driver's sf documents table
        # ships as 2 files — Stage A then used 2 of 32 slots). One
        # round-robin repartition of the raw rows fixes the width;
        # postings are content-determined, so output bytes are
        # unchanged (partitioning-invariance is test-gated).
        width = spark.sparkContext.defaultParallelism
        if chunk.rdd.getNumPartitions() < width:
            chunk = chunk.repartition(width)
        tf_df = _doc_rows(_tokens_df(chunk, cfg, doc_id_col, text_col))
        writer.write_chunk(tf_df, i)
    writer.finalize(lineage={"stage": "A", "source": "docs"},
                    metrics={})
    _mark("stage_a")

    local_tf = io.read(spark, LOCAL_TF)

    # ---- Stage B: doc_stats + corpus scalars (map-only + tiny agg) ----
    # the checkpoint is one packed row per doc, so this read touches only
    # the doc_id/dl column chunks under parquet column pruning — the toks
    # column (≈ all of the checkpoint's bytes) is never read (plan-gated)
    doc_stats = local_tf.select("doc_id", F.col("dl").alias("doc_len"))
    io.write(doc_stats, DOC_STATS,
             lineage={"parent": io.current_snapshot(LOCAL_TF)["snapshot_id"]},
             metrics={})
    n_docs, total_tokens, avgdl = _doc_scalars(spark, io, cfg)
    _mark("stage_b")

    # ---- Stage C: the (term, range) shuffle → encoded posting blocks ----
    if shuffle_partitions is None:
        shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    encoded = _stage_c_blocks(local_tf, cfg, shuffle_partitions)
    encoded = encoded.withColumn(
        "term_bucket", term_bucket_col(F.col("term"),
                                       cfg.index.term_buckets))
    # co-locate each bucket on one writer task (second shuffle, but of the
    # already-encoded compact blocks): 1 file per bucket dir instead of
    # tasks × buckets small files
    encoded = encoded.repartition(cfg.index.term_buckets, "term_bucket")
    io.write(encoded, POSTINGS, partition_by=["term_bucket"],
             lineage={"parent": io.current_snapshot(LOCAL_TF)["snapshot_id"],
                      "shuffle_partitions": shuffle_partitions},
             metrics={})
    _mark("stage_c")

    out = _write_stats_tables(spark, io, cfg, n_docs, avgdl, total_tokens)
    _mark("stage_d")
    return out


def _doc_scalars(spark: SparkSession, io: TableIO,
                 cfg: EngineConfig) -> tuple[int, int, float]:
    """(n_docs, total_tokens, avgdl) from io's DOC_STATS — WITHOUT a
    Spark job where possible: n_docs from parquet footers (metadata-only
    at any scale); total_tokens via a driver-side pyarrow column read
    while doc_stats is driver-sized, else one Spark agg. STRICT footer
    read: n_docs drives idf and avgdl, so a footer-read failure must
    raise, not silently yield 0 (→ garbage idf, avgdl=0)."""
    from .tableio import parquet_row_count_strict
    n_docs = parquet_row_count_strict(io.path(DOC_STATS))
    if n_docs <= cfg.index.driver_pull_max_docs:
        import pyarrow.dataset as pa_ds
        tbl = pa_ds.dataset(io.path(DOC_STATS), format="parquet") \
            .to_table(columns=["doc_len"])
        total_tokens = int(tbl["doc_len"].to_numpy().sum()) if n_docs else 0
    else:
        total_tokens = io.read(spark, DOC_STATS).agg(
            F.sum("doc_len")).collect()[0][0] or 0
    avgdl = (total_tokens / n_docs) if n_docs else 0.0
    return n_docs, total_tokens, avgdl


def _write_stats_tables(spark: SparkSession, io: TableIO, cfg: EngineConfig,
                        n_docs: int, avgdl: float,
                        total_tokens: int) -> InvertedIndex:
    """Stage D + corpus_stats over io's already-written POSTINGS table;
    shared by the full build and the delta merge (both need term_stats
    recomputed globally — df changes for touched terms and idf depends on
    the NEW n_docs for every term, but the input is block METADATA, so
    this stays tiny at any corpus size)."""
    blocks = io.read(spark, POSTINGS)
    df_per_term = blocks.groupBy("term").agg(F.sum("n").alias("df"))
    # log(N - df + 0.5) - log(df + 0.5), kept as a difference of logs (not a
    # log of ratio) to match BM25Okapi's floating-point path exactly.
    raw_idf = df_per_term.withColumn(
        "idf_raw",
        F.log(F.lit(float(n_docs)) - F.col("df") + 0.5)
        - F.log(F.col("df") + 0.5))
    # BM25Okapi's ε-fixup needs the vocabulary-wide mean raw idf; the
    # aggregate rides the SAME action as the write (broadcast scalar
    # subquery), avoiding a separate collect job.
    vocab_scalars = F.broadcast(raw_idf.agg(
        F.avg("idf_raw").alias("__avg_idf"),
        F.count("*").alias("__vocab")))
    term_stats = (raw_idf.crossJoin(vocab_scalars)
                  .withColumn(
                      "idf",
                      F.when(F.col("idf_raw") < 0,
                             F.lit(cfg.bm25.epsilon) * F.col("__avg_idf"))
                      .otherwise(F.col("idf_raw")))
                  .withColumn("term_bucket",
                              term_bucket_col(F.col("term"),
                                              cfg.index.term_buckets))
                  .drop("__avg_idf", "__vocab"))
    term_stats = term_stats.repartition(cfg.index.term_buckets, "term_bucket")
    (term_stats.write.mode("overwrite").partitionBy("term_bucket")
     .parquet(io.path(TERM_STATS)))
    # vocab scalars for corpus_stats: parquet footer row counts are free at
    # any scale; the mean raw idf is read driver-side while the vocabulary
    # is driver-sized, else via one Spark aggregate
    import numpy as np
    import pyarrow.dataset as pa_ds
    ts_ds = pa_ds.dataset(io.path(TERM_STATS), format="parquet",
                          partitioning="hive")
    vocab_size = sum(f.metadata.num_rows
                     for f in ts_ds.get_fragments())
    if vocab_size <= cfg.index.driver_pull_max_terms:
        idf_raw_col = ts_ds.to_table(columns=["idf_raw"])["idf_raw"]
        avg_idf = float(np.mean(idf_raw_col.to_numpy())) if vocab_size else 0.0
    else:
        avg_idf = io.read(spark, TERM_STATS).agg(
            F.avg("idf_raw")).collect()[0][0] or 0.0
    io.commit_snapshot(
        TERM_STATS,
        lineage={"parent": io.current_snapshot(POSTINGS)["snapshot_id"],
                 "epsilon": cfg.bm25.epsilon},
        metrics={"vocab_size": int(vocab_size), "avg_idf": avg_idf})

    # one row — write directly with pyarrow on the driver (a Spark job for
    # a single row costs 1-2s of pure scheduling overhead)
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(io.path(CORPUS_STATS), exist_ok=True)
    pq.write_table(
        pa.table({"n_docs": [int(n_docs)], "avgdl": [float(avgdl)],
                  "total_tokens": [int(total_tokens)],
                  "vocab_size": [int(vocab_size)],
                  "avg_idf": [float(avg_idf)]}),
        os.path.join(io.path(CORPUS_STATS), "part-00000.parquet"))
    io.commit_snapshot(
        CORPUS_STATS,
        lineage={"parent": io.current_snapshot(TERM_STATS)["snapshot_id"]},
        metrics={"n_docs": int(n_docs), "vocab_size": int(vocab_size)})

    return InvertedIndex(io=io, cfg=cfg, n_docs=int(n_docs),
                         avgdl=float(avgdl), vocab_size=int(vocab_size))


def _blocks_to_partials(purge_ids=None):
    """Inverse of the Stage C encode for merge purposes: decode persisted
    posting-block rows back into ``PARTIAL_SCHEMA`` rows (one partial per
    block — ``_merge_encode_partials`` accepts any partial granularity
    and re-sorts/re-encodes per (term, range) group).

    BULK-vectorized like the encode side: ONE varint decode over each
    concatenated column buffer per chunk, with per-block doc-id
    reconstruction as a group-wise cumsum (each block's first delta is
    its absolute doc id) — no per-block Python decode calls, so a delta
    merge touching millions of groups stays numpy-bound. Chunked at
    ~2k block rows: the vectorized decode's intermediates are sized by
    the chunk's posting count, and keeping them ~1-2 MB keeps every pass
    in cache-hot, already-faulted pages (one whole-batch decode was
    measured SLOWER than per-block here — dominated by first-touch page
    faults on tens of MB of fresh intermediates, not by compute).

    ``purge_ids`` (optional sorted int64 np.ndarray): postings of these
    doc_ids are DROPPED during the decode — the delete/upsert half of
    incremental maintenance. Ships in the task closure; bounded by the
    operator's epoch-size cost model (a purge too big to broadcast
    should be a rebuild)."""
    import numpy as np

    purge = (np.asarray(purge_ids, dtype=np.int64)
             if purge_ids is not None else None)
    chunk_rows = 2048

    def unpack(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for big in it:
            for lo in range(0, len(big), chunk_rows):
                pdf = big.iloc[lo:lo + chunk_rows]
                out = _unpack_chunk(pdf)
                if out is not None:
                    yield out

    def _unpack_chunk(pdf: pd.DataFrame) -> pd.DataFrame | None:
        from .codec import decode_blocks_bulk

        if not len(pdf):
            return None
        ns = pdf["n"].to_numpy(dtype=np.int64)
        docs, tfs, dls = decode_blocks_bulk(
            ns, pdf["doc_bytes"], pdf["tf_bytes"], pdf["dl_bytes"])
        tfs, dls = tfs.astype(np.int32), dls.astype(np.int32)
        if purge is not None and len(purge):
            gid = np.repeat(np.arange(len(ns)), ns)
            keep = ~np.isin(docs, purge)
            docs, tfs, dls = docs[keep], tfs[keep], dls[keep]
            ns = np.bincount(gid[keep], minlength=len(ns)) \
                .astype(np.int64)
        ends = np.cumsum(ns)
        bstarts = ends - ns
        sel = np.flatnonzero(ns > 0)
        if not len(sel):
            return None
        return pd.DataFrame({
            "term": pdf["term"].to_numpy()[sel],
            "range_id": pdf["range_id"].to_numpy()[sel],
            "n": ns[sel].astype(np.int32),
            "doc_arr": [docs[bstarts[i]:ends[i]].tobytes()
                        for i in sel],
            "tf_arr": [tfs[bstarts[i]:ends[i]].tobytes()
                       for i in sel],
            "dl_arr": [dls[bstarts[i]:ends[i]].tobytes()
                       for i in sel],
        })

    return unpack


DELTA_LOCAL_TF = "delta_local_tf"
DELTA_PARTIALS = "delta_partials"


def delta_merge_index(spark: SparkSession, main: InvertedIndex,
                      delta_docs: DataFrame | str, out_io: TableIO, *,
                      doc_id_col: str = "doc_id", text_col: str = "text",
                      shuffle_partitions: int | None = None,
                      assert_new_docs: bool = True,
                      mode: str = "insert",
                      delete_doc_ids=None,
                      keep_staging: bool = False,
                      positions: bool | str = "auto") -> InvertedIndex:
    """Incremental index maintenance: merge an epoch of NEW documents
    (e.g. the staging table ``streaming.ingest.stage_for_indexing``
    appends to — the Spark-native analogue of the reference's resume
    shard append, nlp/11_build_product_embeddings.py:127-167) into an
    existing index WITHOUT re-running Stage A/C over the main corpus.

    Cost model — O(delta + touched groups), not O(corpus):
      1. Stage A runs over the DELTA only (tokenize → occurrence rows →
         map-side packed partials, the same ``_pack_partials_arrow``
         kernel as a full build).
      2. The delta's distinct (term, range_id) keys mark the TOUCHED
         posting groups. With monotonically increasing doc_ids an
         epoch's ranges are almost entirely new, so the touched set is
         ~|delta vocab| keys — broadcastable for epoch-sized deltas
         (a backfill that rewrites most ranges should rebuild instead).
      3. Touched main blocks are decoded back into partials
         (``_blocks_to_partials``) and merged with the delta partials by
         the SAME shuffle-side kernel as the packed build
         (``_merge_encode_partials``) — so a touched group's blocks are
         byte-identical to a from-scratch build over corpus+delta
         (encoding is content-determined per group).
      4. Untouched blocks pass through unchanged. (This plain-parquet
         layer rewrites their bytes into the new snapshot's directory;
         an Iceberg runtime would re-reference the untouched data files
         metadata-only. The COMPUTE saved — tokenizing and shuffling the
         main corpus — is the scale win either way.)
      5. term_stats + corpus scalars are recomputed globally from block
         metadata (idf depends on the new n_docs for EVERY term) — tiny
         at any scale, shared ``_write_stats_tables``.

    Byte-identity with a from-scratch rebuild over corpus+delta is
    pytest-gated (tests/test_streaming.py::test_delta_merge_*). The new
    index is written to ``out_io`` with lineage pointing at the parent
    index's snapshot ids (the child-snapshot contract).

    ``mode``:
      * ``"insert"`` (default) — every delta doc_id must be NEW. The
        merge kernel SUMS tf of duplicate (term, range, doc) postings,
        which is only correct for disjoint doc_ids; ``assert_new_docs``
        keeps the guard (one broadcast-semi-join count over doc_stats).
      * ``"upsert"`` — delta doc_ids may already exist in the main index
        (a re-crawled url with new text): the old version's postings are
        PURGED from the touched groups during the main-block decode and
        its doc_stats row replaced, i.e. re-index = delete + insert —
        the Spark analogue of the reference re-running a shard for
        changed inputs (nlp/11_build_product_embeddings.py:127-167).

    ``delete_doc_ids`` (iterable of ints or a 1-column DataFrame):
    tombstones — removed from postings and doc_stats with NO
    replacement (corpus stats shrink; idf/avgdl recompute globally).
    Combinable with either mode; deleting a doc that is also in the
    delta is rejected as ambiguous. The purge set (upsert replacements +
    deletes) is collected driver-side and shipped in the decode task
    closure — epoch-sized by the same cost model as the touched-group
    broadcast (a purge too large for that should be a rebuild).

    ``keep_staging``: the DELTA_LOCAL_TF / DELTA_PARTIALS staging tables
    are dropped after the merged POSTINGS commit (they are not part of
    the index table contract); pass True to keep them for debugging.

    ``positions``: incremental maintenance of the OPTIONAL positional
    table (index/positions.py). ``"auto"`` (default) merges it when the
    main root has one; ``True`` requires it; ``False`` skips. The merge
    mirrors the postings path exactly — delta-only posexplode + packed
    partials, touched groups (delta keys ∪ purge-covering block
    intervals) decoded with the purge applied, shuffle-side re-encode,
    untouched blocks passed through — and is byte-identical to
    ``build_positions`` over the merged corpus
    (tests/test_positions.py::test_delta_merge_positions_byte_identical)."""
    import numpy as np

    if mode not in ("insert", "upsert"):
        raise ValueError(f"delta_merge_index: unknown mode {mode!r}")
    cfg = main.cfg
    if isinstance(delta_docs, str):
        delta_docs = spark.read.parquet(delta_docs)
    if shuffle_partitions is None:
        shuffle_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions"))
    parent_posts = main.io.current_snapshot(POSTINGS) or {}
    parent_ds = main.io.current_snapshot(DOC_STATS) or {}

    # ---- Stage A (delta only): packed per-doc rows, staged ----
    tf_df = _doc_rows(_tokens_df(delta_docs, cfg, doc_id_col, text_col))
    out_io.write(tf_df, DELTA_LOCAL_TF,
                 lineage={"stage": "A-delta",
                          "parent_postings": parent_posts.get("snapshot_id")},
                 metrics={})
    from .tableio import parquet_row_count
    if parquet_row_count(out_io.path(DELTA_LOCAL_TF)):
        dtf = out_io.read(spark, DELTA_LOCAL_TF)
    else:
        # delete-only merge: an empty staged parquet dir may carry no
        # schema-bearing files, so substitute an in-memory empty frame
        dtf = spark.createDataFrame(
            [], "doc_id long, dl int, toks array<string>")
    d_ds = dtf.select("doc_id", "dl")

    main_ds = main.doc_stats(spark)
    # duplicate doc_ids WITHIN the delta double-count tf in any mode
    dup = (d_ds.groupBy("doc_id").count().filter(F.col("count") > 1)
           .limit(1).count())
    if dup:
        raise ValueError(
            "delta_merge_index: delta contains duplicate doc_ids — "
            "deduplicate the epoch (keep the latest crawl per doc) first")

    delete_ids = np.asarray(
        sorted(delete_doc_ids.toPandas().iloc[:, 0].astype("int64"))
        if isinstance(delete_doc_ids, DataFrame)
        else sorted(delete_doc_ids or []), dtype=np.int64)
    if len(delete_ids):
        clash = (d_ds.filter(F.col("doc_id").isin(
            [int(x) for x in delete_ids])).limit(1).count())
        if clash:
            raise ValueError(
                "delta_merge_index: a doc_id appears in both the delta "
                "and delete_doc_ids — ambiguous; upsert it instead")
        # deleting a doc the index never had is a no-op (Iceberg DELETE
        # semantics); restrict to existing ids so the purge stays exact
        existing = main_ds.filter(F.col("doc_id").isin(
            [int(x) for x in delete_ids])).select("doc_id").collect()
        delete_ids = np.asarray(sorted(r["doc_id"] for r in existing),
                                dtype=np.int64)

    if mode == "upsert":
        replaced = (main_ds.join(F.broadcast(d_ds.select("doc_id")),
                                 "doc_id", "left_semi")
                    .select("doc_id").collect())
        replaced_ids = np.asarray(sorted(r["doc_id"] for r in replaced),
                                  dtype=np.int64)
    else:
        replaced_ids = np.zeros(0, dtype=np.int64)
        if assert_new_docs:
            overlap = (main_ds.join(
                F.broadcast(d_ds.select("doc_id")), "doc_id", "left_semi")
                .limit(1).count())
            if overlap:
                raise ValueError(
                    "delta_merge_index: delta contains doc_ids already in "
                    "the main index — tf would be double-counted; "
                    "re-index existing docs with mode='upsert'")
    purge_ids = np.union1d(replaced_ids, delete_ids)

    # ---- merged doc_stats (+ corpus scalars from its footers) ----
    survivors = main_ds
    if len(purge_ids):
        survivors = main_ds.join(
            F.broadcast(spark.createDataFrame(
                [(int(x),) for x in purge_ids], "doc_id long")),
            "doc_id", "left_anti")
    merged_ds = survivors.unionByName(
        d_ds.select("doc_id", F.col("dl").alias("doc_len")))
    out_io.write(merged_ds, DOC_STATS,
                 lineage={"parent": parent_ds.get("snapshot_id"),
                          "mode": "delta_merge"},
                 metrics={"purged": int(len(purge_ids))})
    n_docs, total_tokens, avgdl = _doc_scalars(spark, out_io, cfg)

    # ---- Stage C (delta only): map-side packed partials, staged ----
    out_io.write(dtf.select("doc_id", "dl", "toks")
                 .mapInArrow(_pack_partials_arrow(cfg),
                             schema=PARTIAL_SCHEMA),
                 DELTA_PARTIALS,
                 lineage={"stage": "C-delta"}, metrics={})
    dp = out_io.read(spark, DELTA_PARTIALS)

    # ---- split main postings by touched (term, range) keys ----
    # touched = delta groups ∪ every group whose block INTERVAL contains
    # a purged doc (we cannot know a purged doc's terms without its old
    # text, but its postings can only live in blocks whose
    # [first_doc_id, last_doc_id] covers it within its range)
    mp = main.postings(spark)
    touched_keys = dp.select("term", "range_id")
    if len(purge_ids):
        pr = spark.createDataFrame(
            [(int(x), int(x) >> cfg.index.range_shift) for x in purge_ids],
            "p_doc long, p_range long")
        purge_touched = (mp.join(
            F.broadcast(pr),
            (F.col("range_id") == F.col("p_range"))
            & (F.col("p_doc") >= F.col("first_doc_id"))
            & (F.col("p_doc") <= F.col("last_doc_id")),
            "left_semi").select("term", "range_id"))
        touched_keys = touched_keys.unionByName(purge_touched)
    touched = F.broadcast(touched_keys.distinct())
    untouched = mp.join(touched, ["term", "range_id"], "left_anti")
    touched_main = mp.join(touched, ["term", "range_id"], "left_semi")

    # ---- merge touched groups through the shared shuffle-side kernel ----
    main_parts = (touched_main
                  .select("term", "range_id", "n", "doc_bytes", "tf_bytes",
                          "dl_bytes")
                  .mapInPandas(
                      _blocks_to_partials(
                          purge_ids if len(purge_ids) else None),
                      schema=PARTIAL_SCHEMA))
    merged_blocks = (main_parts.unionByName(dp)
                     .repartition(shuffle_partitions, "term", "range_id")
                     .sortWithinPartitions("term", "range_id")
                     .mapInPandas(_merge_encode_partials(cfg),
                                  schema=BLOCK_SCHEMA))
    block_cols = [c.split(" ")[0] for c in BLOCK_SCHEMA.split(", ")]
    new_posts = (untouched.select(*block_cols)
                 .unionByName(merged_blocks)
                 .withColumn("term_bucket",
                             term_bucket_col(F.col("term"),
                                             cfg.index.term_buckets))
                 .repartition(cfg.index.term_buckets, "term_bucket"))
    out_io.write(new_posts, POSTINGS, partition_by=["term_bucket"],
                 lineage={"parent": parent_posts.get("snapshot_id"),
                          "mode": "delta_merge",
                          "purged": int(len(purge_ids)),
                          "shuffle_partitions": shuffle_partitions},
                 metrics={})

    # ---- optional: merge the positional table the same way ----
    from .positions import POSITIONS as POS_TABLE
    if positions == "auto":
        do_pos = main.io.exists(POS_TABLE)
    elif positions:
        if not main.io.exists(POS_TABLE):
            raise FileNotFoundError(
                f"delta_merge_index(positions=True): main root has no "
                f"{POS_TABLE} table; run build_positions first")
        do_pos = True
    else:
        do_pos = False
    if do_pos:
        from .positions import (POS_BLOCK_SCHEMA, POS_PARTIAL_SCHEMA,
                                _merge_encode_pos_partials,
                                _pack_pos_partials_arrow,
                                _pos_blocks_to_partials)
        parent_pos = main.io.current_snapshot(POS_TABLE) or {}
        d_pos = (dtf.select("doc_id", "toks")
                 .mapInArrow(
                     _pack_pos_partials_arrow(cfg.index.range_shift),
                     schema=POS_PARTIAL_SCHEMA))
        mpos = main.io.read(spark, POS_TABLE)
        # touched keys: the delta's (term, range) groups are identical to
        # the postings merge's (same occurrence rows); the purge cover is
        # recomputed against THIS table's block intervals (block sizing
        # differs between the two tables)
        touched_pos = dp.select("term", "range_id")
        if len(purge_ids):
            prp = spark.createDataFrame(
                [(int(x), int(x) >> cfg.index.range_shift)
                 for x in purge_ids],
                "p_doc long, p_range long")
            touched_pos = touched_pos.unionByName(
                mpos.join(F.broadcast(prp),
                          (F.col("range_id") == F.col("p_range"))
                          & (F.col("p_doc") >= F.col("first_doc_id"))
                          & (F.col("p_doc") <= F.col("last_doc_id")),
                          "left_semi").select("term", "range_id"))
        touched_pos_b = F.broadcast(touched_pos.distinct())
        unt_pos = mpos.join(touched_pos_b, ["term", "range_id"],
                            "left_anti")
        m_parts = (mpos.join(touched_pos_b, ["term", "range_id"],
                             "left_semi")
                   .select("term", "range_id", "n", "doc_bytes",
                           "cnt_bytes", "pos_bytes")
                   .mapInPandas(
                       _pos_blocks_to_partials(
                           purge_ids if len(purge_ids) else None),
                       schema=POS_PARTIAL_SCHEMA))
        merged_pos = (m_parts.unionByName(d_pos)
                      .repartition(shuffle_partitions, "term", "range_id")
                      .sortWithinPartitions("term", "range_id")
                      .mapInPandas(
                          _merge_encode_pos_partials(cfg.index.block_size),
                          schema=POS_BLOCK_SCHEMA))
        pos_cols = [c.split(" ")[0] for c in POS_BLOCK_SCHEMA.split(", ")]
        new_pos = (unt_pos.select(*pos_cols)
                   .unionByName(merged_pos)
                   .withColumn("term_bucket",
                               term_bucket_col(F.col("term"),
                                               cfg.index.term_buckets))
                   .repartition(cfg.index.term_buckets, "term_bucket"))
        out_io.write(new_pos, POS_TABLE, partition_by=["term_bucket"],
                     lineage={"parent": parent_pos.get("snapshot_id"),
                              "mode": "delta_merge",
                              "purged": int(len(purge_ids)),
                              "shuffle_partitions": shuffle_partitions},
                     metrics={})

    if not keep_staging:
        out_io.drop(DELTA_LOCAL_TF)
        out_io.drop(DELTA_PARTIALS)

    return _write_stats_tables(spark, out_io, cfg, n_docs, avgdl,
                               total_tokens)
