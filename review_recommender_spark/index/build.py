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

  Stage C (THE shuffle): the (term, range_id) BLOCK PIPELINE turns the
      packed checkpoint rows into encoded block rows; range_id = doc_id
      >> range_shift. It is one pipeline with two payload specs
      (``BlockSpec``): POSTINGS (per doc: tf + dl) and the optional
      POSITIONS table (per doc: a position count + the positions;
      index/positions.py). Its parts:
        * pack (map side, ``_pack_partials`` via mapInArrow — no JVM
          explode, no occurrence-row Arrow transfer): each scan task
          sorts its occurrences by (term, range_id, doc_id) in numpy,
          run-length-collapses them to one entry per doc and emits ONE
          partial row per (term, range_id);
        * shuffle: partials are hash-partitioned by the *pair* (term,
          range_id) — the skew treatment the north rule calls "salting
          head terms": a head term is split across reducers by
          doc-range, so no reducer holds more than one range (≤
          2^range_shift docs) of any term, while each group stays whole;
        * merge (reduce side, ``_merge_encode``): pre-sorted partials
          are merged per group (split docs re-merged) and bulk-encoded
          into ≤ 128-doc delta+varint blocks (index/codec.py, three
          varint passes per batch, no per-block Python calls) — postings
          blocks also carry the block-max bounds max_tf / min_dl;
        * write (``_write_blocks``): blocks partitioned by ``term_bucket
          = crc32(term) % term_buckets`` for directory-level pruning of
          query terms (crc32 is computable identically driver-side);
        * unpack (``_blocks_to_partials``): encoded blocks back into
          partials, purging deleted docs — the delta merge's way into
          the same merge kernel.

  Stage D (tiny): term_stats (term, df, idf) from block metadata — df is
      the sum of block posting counts, so no second pass over tf rows;
      ``okapi_idf`` (shared with the BM25F stats) applies the BM25Okapi
      negative-idf fixup (ε·mean raw idf over the vocabulary, SURVEY.md
      §2.12) as one scalar aggregate.

``delta_merge_index`` runs the same pipeline incrementally: pack over
the delta only, then one merge loop over the block tables.

Every table commit carries lineage + row/term-count metrics in its snapshot
manifest (index/tableio.py).
"""

from __future__ import annotations

import hashlib
import os
import zlib
from dataclasses import dataclass
from functools import lru_cache
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..functions.tokenize import (STOP_INDEX, TOKEN_RE, make_tokenize_k1_udf,
                                  tokenize_k1_col)
from .codec import decode_blocks_bulk, encode_blocks_bulk
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
POSITIONS = "positions"
BM25F_STATS = "bm25f_stats"   # query/bm25f.py's fielded idf table


def term_bucket_py(term: str, n_buckets: int) -> int:
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def term_bucket_col(col, n_buckets: int):
    return F.crc32(col) % n_buckets


def term_bucketed(df: DataFrame, n_buckets: int) -> DataFrame:
    """``df`` with its ``term_bucket`` column, one partition per bucket
    (a partitioned write then leaves one file per bucket directory)."""
    return (df.withColumn("term_bucket", term_bucket_col(F.col("term"),
                                                         n_buckets))
            .repartition(n_buckets, "term_bucket"))


def okapi_idf(df_per_term: DataFrame, n_docs: int,
              epsilon: float) -> DataFrame:
    """(term, df) → (term, df, idf_raw, idf) exactly as BM25Okapi computes
    them: idf_raw = log(N - df + 0.5) - log(df + 0.5), kept a difference
    of logs (not the log of a ratio) to match its floating-point path,
    and a negative idf_raw replaced by ε · the vocabulary's mean idf_raw
    (SURVEY.md §2.12). The mean is a broadcast scalar subquery, so it
    rides the same action as the caller's write (no separate job)."""
    raw = df_per_term.withColumn(
        "idf_raw",
        F.log(F.lit(float(n_docs)) - F.col("df") + 0.5)
        - F.log(F.col("df") + 0.5))
    avg = F.broadcast(raw.agg(F.avg("idf_raw").alias("__avg_idf")))
    return (raw.crossJoin(avg)
            .withColumn("idf", F.when(F.col("idf_raw") < 0,
                                      F.lit(epsilon) * F.col("__avg_idf"))
                        .otherwise(F.col("idf_raw")))
            .drop("__avg_idf"))


def _doc_rows(tokens_df: DataFrame) -> DataFrame:
    """(doc_id, toks) → ONE packed checkpoint row per doc
    (doc_id, dl, toks). Format v4: the split into per-term postings
    happens at Stage C read time (``_pack_partials``), not here, so
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


@dataclass(frozen=True)
class BlockSpec:
    """The per-doc payload of one (term, range_id) block table — the only
    thing the POSTINGS and POSITIONS tables differ in. Every doc of a
    group carries an occurrence ``count`` (a posting's tf, a doc's
    position count) plus a ``payload``: one value per doc (``dl``), or,
    when ``positional``, one per occurrence (``pos``, the token offsets).
    Postings blocks also keep the block-max bounds max_tf and min_dl."""
    table: str
    count: str
    payload: str
    positional: bool

    @property
    def bytes_cols(self) -> list[str]:
        return ["doc_bytes", f"{self.count}_bytes", f"{self.payload}_bytes"]

    @property
    def partial_schema(self) -> str:
        return (f"term string, range_id long, n int, doc_arr binary, "
                f"{self.count}_arr binary, {self.payload}_arr binary")

    @property
    def block_schema(self) -> str:
        bounds = "" if self.positional else "max_tf int, min_dl int, "
        return ("term string, range_id long, block_id int, n int, "
                "first_doc_id long, last_doc_id long, " + bounds
                + ", ".join(f"{c} binary" for c in self.bytes_cols))

    @property
    def block_cols(self) -> list[str]:
        return [c.split(" ")[0] for c in self.block_schema.split(", ")]


POSTINGS_BLOCKS = BlockSpec(POSTINGS, "tf", "dl", positional=False)
POSITIONS_BLOCKS = BlockSpec(POSITIONS, "cnt", "pos", positional=True)
BLOCK_SCHEMA = POSTINGS_BLOCKS.block_schema
# term_stats rows as ``okapi_idf`` writes them
TERM_STATS_SCHEMA = "term string, df long, idf_raw double, idf double"
# the block columns every scoring kernel reads, in the serving layouts'
# order
_KERNEL_COLS = ["term", "range_id", "n", "first_doc_id", "last_doc_id",
                "max_tf", "min_dl", "doc_bytes", "tf_bytes", "dl_bytes"]
# A FULL warm keeps a driver copy of the serving layout, read straight
# from the postings Parquet, while its encoded posting bytes stay within
# this budget (~26M postings at the measured 2.41 B/posting, plus ~30 B
# per block row of term and metadata); every served request then answers
# in-process with zero Spark jobs. The envelope class of the warm idf
# cache (~120 MB at its 2M-term cap). Over budget, warm builds the
# executor serving layout instead.
_DRIVER_SERVING_BYTES_MAX = 64 << 20
# the read schema of each term-bucketed table: its data columns, then the
# term_bucket partition column, as ``spark.read.parquet`` infers them.
# Passing it skips Spark's schema-inference job on every read.
_READ_SCHEMAS = {POSTINGS: BLOCK_SCHEMA + ", term_bucket int",
                 TERM_STATS: TERM_STATS_SCHEMA + ", term_bucket int",
                 POSITIONS: POSITIONS_BLOCKS.block_schema
                 + ", term_bucket int",
                 # okapi_idf rows, bucketed like term_stats
                 BM25F_STATS: TERM_STATS_SCHEMA + ", term_bucket int"}


def read_bucketed(spark: SparkSession, io: TableIO, name: str) -> DataFrame:
    """The term-bucketed table ``name`` (POSTINGS, TERM_STATS, POSITIONS
    or BM25F_STATS) as a DataFrame read with its known schema — no
    inference job."""
    return spark.read.schema(_READ_SCHEMAS[name]).parquet(io.path(name))


@lru_cache(maxsize=None)
def _arrow_schema(ddl: str) -> "pa.Schema":  # noqa: F821
    """The Arrow schema of the DDL ``ddl``, as Spark converts it."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType
    return to_arrow_schema(StructType.fromDDL(ddl))


def _slices(arr: np.ndarray, lo, hi) -> list[bytes]:
    return [arr[a:b].tobytes() for a, b in zip(lo, hi)]


def _encode_groups(spec: BlockSpec, block_size: int, tcol, rcol, doc_ids,
                   counts, payload, change) -> pd.DataFrame:
    """Doc-sorted per-doc entries (+ ``change`` marking each (term, range)
    group start) → encoded block rows of ``spec.block_schema``, ≤
    ``block_size`` docs a block, no block spanning two groups. Shared by
    the merge kernel and the raw-occurrence oracle
    (``oracle/stage_c_raw.py``), so both Stage C plans build
    byte-identical blocks from identical posting streams."""
    n = len(doc_ids)
    idx = np.arange(n, dtype=np.int64)
    rel = idx - idx[change][np.cumsum(change) - 1]   # offset in group
    bs = np.flatnonzero((rel % block_size) == 0)
    bend = np.append(bs[1:], n)
    cols = {"term": tcol[bs], "range_id": rcol[bs],
            "block_id": (rel[bs] // block_size).astype(np.int32),
            "n": (bend - bs).astype(np.int32),
            "first_doc_id": doc_ids[bs], "last_doc_id": doc_ids[bend - 1]}
    if not spec.positional:
        cols["max_tf"] = np.maximum.reduceat(counts, bs).astype(np.int32)
        cols["min_dl"] = np.minimum.reduceat(payload, bs).astype(np.int32)
    cols.update(zip(spec.bytes_cols, encode_blocks_bulk(
        doc_ids, counts, payload, bs, spec.positional)))
    return pd.DataFrame(cols)


def _pack_partials(spec: BlockSpec, cfg: EngineConfig,
                   chunk_tokens: int = 2_000_000):
    """Map side of every block-table build: ``mapInArrow`` over packed
    checkpoint rows (doc_id, dl, toks) → ONE partial row per (term,
    range_id) for each chunk of ~``chunk_tokens`` tokens. A chunk's
    occurrences are dictionary-encoded (Arrow C++), sorted in numpy by
    (term, range_id, doc_id), positional specs also by position, and
    run-length-collapsed to one entry per doc: its occurrence count plus
    the payload (the doc's dl, or its offsets into its kept-token list).
    Reading the packed rows moves ~50× fewer rows across the Arrow
    boundary than the exploded r1-r6 plan (measured 3.7× on the map
    stage). A doc never spans two chunks, and the merge kernel does not
    depend on partial granularity anyway."""
    shift = cfg.index.range_shift

    def pack(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import pyarrow as pa
        import pyarrow.compute as pc

        def flush(batches: list) -> "pa.RecordBatch | None":
            doc = np.concatenate([b.column(0).to_numpy(
                zero_copy_only=False) for b in batches])
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
            if spec.positional:
                x = (np.arange(m, dtype=np.int64)
                     - np.repeat(offs[:-1], counts)).astype(np.int32)
                order = np.lexsort((x, d, r, codes))
            else:
                x = np.repeat(np.concatenate([b.column(1).to_numpy(
                    zero_copy_only=False) for b in batches])
                    .astype(np.int32), counts)
                order = np.lexsort((d, r, codes))
            codes, r, d, x = codes[order], r[order], d[order], x[order]
            change = np.empty(m, dtype=bool)
            change[0] = True
            change[1:] = ((codes[1:] != codes[:-1]) | (r[1:] != r[:-1])
                          | (d[1:] != d[:-1]))
            runs = np.flatnonzero(change)
            run_end = np.append(runs, m)
            gcodes, granges = codes[runs], r[runs]
            gchange = np.empty(len(runs), dtype=bool)
            gchange[0] = True
            gchange[1:] = ((gcodes[1:] != gcodes[:-1])
                           | (granges[1:] != granges[:-1]))
            gs = np.flatnonzero(gchange)
            ge = np.append(gs[1:], len(runs))
            payload, plo, phi = ((x, run_end[gs], run_end[ge])
                                 if spec.positional else (x[runs], gs, ge))
            return pa.record_batch([
                pa.array(uniq[gcodes[gs]], type=pa.string()),
                pa.array(granges[gs], type=pa.int64()),
                pa.array((ge - gs).astype(np.int32), type=pa.int32()),
                pa.array(_slices(d[runs], gs, ge), type=pa.binary()),
                pa.array(_slices(np.diff(run_end).astype(np.int32), gs, ge),
                         type=pa.binary()),
                pa.array(_slices(payload, plo, phi), type=pa.binary()),
            ], names=["term", "range_id", "n", "doc_arr",
                      f"{spec.count}_arr", f"{spec.payload}_arr"])

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


def _merge_encode(spec: BlockSpec, cfg: EngineConfig):
    """Shuffle side of every block-table build: partial rows arrive hash-
    partitioned by (term, range_id) and JVM-sorted on those keys. Each
    batch's complete groups (the last one is held back, it may continue
    in the next batch) are merged at once — one frombuffer per column,
    one lexsort, no per-group Python loop: entries are sorted by (group,
    doc), a doc split across partials is re-merged (tf summed; its
    positions re-sorted — the positional sort runs per occurrence), and
    the groups are block-encoded by ``_encode_groups``. doc_ids are
    unique per group after the merge, so the output is fully determined
    by content, independent of partial granularity and arrival order."""
    block_size = cfg.index.block_size

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
        gid = np.repeat(np.cumsum(change) - 1,       # group id per doc
                        pdf["n"].to_numpy(dtype=np.int64))
        docs = np.frombuffer(b"".join(pdf["doc_arr"]), dtype=np.int64)
        cnt, x = (np.frombuffer(b"".join(pdf[c]), dtype=np.int32)
                  .astype(np.int64)
                  for c in (f"{spec.count}_arr", f"{spec.payload}_arr"))
        if spec.positional:
            gid, docs = np.repeat(gid, cnt), np.repeat(docs, cnt)
            order = np.lexsort((x, docs, gid))
        else:
            order = np.lexsort((docs, gid))
            cnt = cnt[order]
        gid, docs, x = gid[order], docs[order], x[order]
        dchange = np.empty(len(docs), dtype=bool)
        dchange[0] = True
        dchange[1:] = (gid[1:] != gid[:-1]) | (docs[1:] != docs[:-1])
        runs = np.flatnonzero(dchange)
        if spec.positional:
            cnt = np.diff(np.append(runs, len(docs)))
        else:
            # dl is per doc: any duplicate of a split doc carries it
            cnt, x = np.add.reduceat(cnt, runs), x[runs]
        post_gid = gid[runs]
        gchange = np.empty(len(runs), dtype=bool)
        gchange[0] = True
        gchange[1:] = post_gid[1:] != post_gid[:-1]
        # term/range per doc via the group-leading partial row (group order
        # follows the JVM (term, range) sort: deterministic block order)
        lead = np.flatnonzero(change)
        return remainder, _encode_groups(
            spec, block_size, tcol[lead][post_gid], rcol[lead][post_gid],
            docs[runs], cnt, x, gchange)

    def merge(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None
        for pdf in it:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
            pending, out = merge_groups(pdf, flush_all=False)
            if out is not None and len(out):
                yield out
        if pending is not None and len(pending):
            _, out = merge_groups(pending, flush_all=True)
            if out is not None and len(out):
                yield out

    return merge


def _blocks_to_partials(spec: BlockSpec, purge_ids=None):
    """Encoded block rows → partial rows (one per block; the merge kernel
    takes any partial granularity), for the delta merge. One varint pass
    per column per chunk of ~2k block rows: the decode's intermediates
    stay ~1-2 MB, in cache-hot, already-faulted pages (one whole-batch
    decode measured SLOWER than per-block, dominated by first-touch page
    faults, not compute).

    ``purge_ids`` (optional sorted int64 array): these docs' entries are
    DROPPED during the decode — the delete/upsert half of incremental
    maintenance. Ships in the task closure; bounded by the epoch-size
    cost model (a purge too big to broadcast should be a rebuild)."""
    purge = (np.asarray(purge_ids, dtype=np.int64)
             if purge_ids is not None else None)
    chunk_rows = 2048

    def unpack_chunk(pdf: pd.DataFrame) -> pd.DataFrame | None:
        ns = pdf["n"].to_numpy(dtype=np.int64)
        docs, cnt, x = decode_blocks_bulk(
            ns, *(pdf[c] for c in spec.bytes_cols), spec.positional)
        cnt, x = cnt.astype(np.int32), x.astype(np.int32)
        if purge is not None and len(purge):
            keep = ~np.isin(docs, purge)
            x = x[np.repeat(keep, cnt) if spec.positional else keep]
            ns = np.bincount(np.repeat(np.arange(len(ns)), ns)[keep],
                             minlength=len(ns)).astype(np.int64)
            docs, cnt = docs[keep], cnt[keep]
        ends = np.cumsum(ns)
        starts = ends - ns
        sel = np.flatnonzero(ns > 0)
        if not len(sel):
            return None
        # each doc's payload offset: one value a doc, or its cnt positions
        xoff = np.arange(len(docs) + 1)
        if spec.positional:
            xoff = np.append(0, np.cumsum(cnt))
        return pd.DataFrame({
            "term": pdf["term"].to_numpy()[sel],
            "range_id": pdf["range_id"].to_numpy()[sel],
            "n": ns[sel].astype(np.int32),
            "doc_arr": _slices(docs, starts[sel], ends[sel]),
            f"{spec.count}_arr": _slices(cnt, starts[sel], ends[sel]),
            f"{spec.payload}_arr": _slices(x, xoff[starts[sel]],
                                           xoff[ends[sel]]),
        })

    def unpack(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for big in it:
            for lo in range(0, len(big), chunk_rows):
                out = unpack_chunk(big.iloc[lo:lo + chunk_rows])
                if out is not None:
                    yield out

    return unpack


def _pack(local_tf: DataFrame, spec: BlockSpec, cfg: EngineConfig
          ) -> DataFrame:
    return (local_tf.select("doc_id", "dl", "toks")
            .mapInArrow(_pack_partials(spec, cfg),
                        schema=spec.partial_schema))


def _merge_blocks(partials: DataFrame, spec: BlockSpec, cfg: EngineConfig,
                  shuffle_partitions: int) -> DataFrame:
    """Partial rows → encoded block rows through the one (term, range_id)
    shuffle: hashing on the PAIR splits a head term's entries across
    reducers by doc-range, while each group stays whole on one reducer."""
    return (partials.repartition(shuffle_partitions, "term", "range_id")
            .sortWithinPartitions("term", "range_id")
            .mapInPandas(_merge_encode(spec, cfg),
                         schema=spec.block_schema))


def _stage_c_blocks(local_tf: DataFrame, cfg: EngineConfig,
                    shuffle_partitions: int,
                    spec: BlockSpec = POSTINGS_BLOCKS) -> DataFrame:
    """Stage C's plan: packed checkpoint rows → encoded blocks of
    ``spec``. ``oracle/stage_c_raw.py`` holds the raw-occurrence postings
    plan with the same signature, which builds byte-identical blocks
    (tests/test_determinism.py)."""
    return _merge_blocks(_pack(local_tf, spec, cfg), spec, cfg,
                         shuffle_partitions)


def _write_blocks(io: TableIO, spec: BlockSpec, blocks: DataFrame,
                  cfg: EngineConfig, lineage: dict) -> None:
    """Commit a block table partitioned by ``term_bucket``, one writer
    task (one file) per bucket directory."""
    io.write(term_bucketed(blocks, cfg.index.term_buckets), spec.table,
             partition_by=["term_bucket"], lineage=lineage, metrics={})


@dataclass(frozen=True)
class _DriverServing:
    table: "pa.Table"  # noqa: F821 — serving rows sorted by term
    terms: np.ndarray  # the distinct terms, ascending
    bounds: np.ndarray  # term i's rows are [bounds[i], bounds[i + 1])

    @classmethod
    def of(cls, table: "pa.Table") -> "_DriverServing":  # noqa: F821
        """``table``'s rows sorted by (term, range_id, first_doc_id),
        with the term run boundaries ``InvertedIndex.serving_rows``
        searches."""
        import pyarrow.compute as pc
        table = table.sort_by([("term", "ascending"),
                               ("range_id", "ascending"),
                               ("first_doc_id", "ascending")])
        runs = pc.run_end_encode(table.column("term").combine_chunks())
        return cls(table, runs.values.to_numpy(zero_copy_only=False),
                   np.concatenate([[0], runs.run_ends.to_numpy()]))


@dataclass
class InvertedIndex:
    io: TableIO
    cfg: EngineConfig
    n_docs: int
    avgdl: float
    vocab_size: int
    _cached: dict = None  # type: ignore[assignment]

    def postings(self, spark: SparkSession) -> DataFrame:
        return read_bucketed(spark, self.io, POSTINGS)

    def term_stats(self, spark: SparkSession) -> DataFrame:
        return read_bucketed(spark, self.io, TERM_STATS)

    def scan(self, name: str, terms=None,
             columns: list[str] | None = None) -> "pa_ds.Scanner":  # noqa: F821
        """The driver-side reader of the on-disk POSTINGS or TERM_STATS
        table: a pyarrow scanner over the files of its hive
        ``term_bucket`` directories — only those ``terms`` hash to
        (``term_bucket_py``), restricted to their rows, or every
        directory and row when ``terms`` is None — projected to
        ``columns``. A bucket with no directory holds no rows. Zero Spark
        jobs. The directories are listed afresh on every call, so a
        rebuilt or merged root is never read stale."""
        import glob

        import pyarrow.dataset as pa_ds
        root = self.io.path(name)
        if terms is not None:
            terms = sorted(set(terms))
        buckets = ["*"] if terms is None else sorted(
            {term_bucket_py(t, self.cfg.index.term_buckets) for t in terms})
        # "*" skips dot-files (Spark's .crc checksums), as pyarrow's own
        # discovery does
        files = sorted(f for b in buckets for f in glob.glob(
            os.path.join(root, f"term_bucket={b}", "*")))
        ds = pa_ds.dataset(files, schema=_arrow_schema(_READ_SCHEMAS[name]),
                           format="parquet", partitioning="hive",
                           partition_base_dir=root)
        return ds.scanner(columns=columns, filter=None if terms is None
                          else pa_ds.field("term").isin(terms))

    def read_blocks(self, terms, max_rows: int | None, max_bytes: int
                    ) -> tuple["pa.Table | None", int, int]:  # noqa: F821
        """The ``_KERNEL_COLS`` of the postings block rows of ``terms``
        (every term when None), read straight from Parquet on the driver
        (``scan``) — zero Spark jobs — with the block rows and encoded
        posting bytes read. Batches stream in until the rows exceed
        ``max_rows`` (None: no row cap) or the encoded bytes exceed
        ``max_bytes``; then the read stops and the table is None."""
        import pyarrow as pa
        import pyarrow.compute as pc
        scanner = self.scan(POSTINGS, terms, _KERNEL_COLS)
        batches, rows, nbytes = [], 0, 0
        for batch in scanner.to_batches():
            batches.append(batch)
            rows += batch.num_rows
            nbytes += sum(pc.sum(pc.binary_length(batch.column(c))).as_py()
                          or 0 for c in POSTINGS_BLOCKS.bytes_cols)
            if nbytes > max_bytes or (max_rows is not None
                                      and rows > max_rows):
                return None, rows, nbytes
        return (pa.Table.from_batches(batches, scanner.projected_schema),
                rows, nbytes)

    def warm(self, spark: SparkSession, serving_shards: int | None = None,
             idf_cache_max: int = 2_000_000,
             ranges=None, max_bytes: int | None = None) -> "InvertedIndex":
        """Build the query-serving state of a session (the moral
        equivalent of the reference's st.cache_resource artifact
        memoization, app_product_search.py:53-119). A warm keeps exactly
        ONE serving layout of the postings, which every served entry
        point (``query.bm25``: single requests, batches, hybrid's scores)
        answers from:

          * ``_driver_serving`` — a FULL warm whose encoded posting bytes
            fit ``_DRIVER_SERVING_BYTES_MAX`` keeps a driver copy: the
            ``_KERNEL_COLS`` block rows read straight from the postings
            Parquet (``read_blocks``), one Arrow table sorted by term.
            Served requests slice the query terms' rows out of it and run
            the kernel in-process. Zero Spark jobs to build, nothing
            cached in Spark.
          * ``_serving`` — otherwise (over that budget, or a partial
            warm): the postings re-sharded by ``range_id`` (doc ranges)
            into ``serving_shards`` cached shards (default: one per
            executor slot, ``defaultParallelism``), the document-sharded
            layout search engines serve from: every doc's complete
            postings live in ONE shard, so a query is a single map stage
            (each shard computes its exact local top-k) plus a k×shards
            merge — no shuffle, no join.
          * ``_idf`` — driver-side {term: idf} when the vocabulary is
            driver-sized (≤ idf_cache_max), read straight from the
            term_stats Parquet (``scan``), so per-query weights cost no
            lookup at all. Larger vocabularies fall back to a per-batch
            bucket-pruned read of the query terms' rows (also no job).

        The postings and term_stats tables themselves stay on disk:
        ``postings()`` and ``term_stats()`` read them.

        MEMORY ENVELOPE of the executor layout (what "warm at 10^12 docs"
        costs, arithmetic a reader can check): it caches the ENCODED
        posting blocks — measured 2.41 bytes/posting (delta+varint,
        BENCH) plus ~1 byte/posting of block metadata/row overhead at the
        measured ~1k-posting mean block size. A web corpus averages ~400
        postings (distinct K1 terms) per doc, so:
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
        The driver copy is bounded by ``_DRIVER_SERVING_BYTES_MAX``. The
        driver idf cache is ~60 B/term (str + float in a dict): the
        default ``idf_cache_max`` = 2M terms ≈ 120 MB driver RSS; larger
        vocabularies auto-fall-back to per-batch term reads.

        ``ranges`` (optional iterable of range_ids): PARTIAL warm — pin
        only those doc-ranges' postings in the executor layout (the
        head-shard strategy the envelope above prescribes at 10^9+ docs:
        warm the hot ranges, leave the tail on disk). Served queries
        stay RESULT-IDENTICAL: every served path unions an exact-scored
        on-disk pass over the cold ranges (``query.bm25``'s
        ``_cold_scores_batch``), so partial warm trades latency on cold
        docs for memory, never correctness
        (tests/test_wand.py::test_partial_warm_bitwise_identical).

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
            # the encoded posting payload, the measure of both budgets
            sizes = (read_bucketed(spark, self.io, POSTINGS)
                     .groupBy("range_id")
                     .agg(F.sum(sum(F.octet_length(c) for c in
                                    POSTINGS_BLOCKS.bytes_cols))
                          .alias("bytes"))
                     .collect())
            picked, spent = [], 0
            for row in sorted(sizes,
                              key=lambda r: (-r["bytes"], r["range_id"])):
                if spent + row["bytes"] <= max_bytes:
                    picked.append(row["range_id"])
                    spent += row["bytes"]
            ranges = picked
        self.unwarm()
        cached: dict = {}
        table = None if ranges is not None else self.read_blocks(
            None, None, _DRIVER_SERVING_BYTES_MAX)[0]
        if table is not None:
            cached["_driver_serving"] = _DriverServing.of(table)
        else:
            posts = read_bucketed(spark, self.io, POSTINGS)
            if ranges is not None:
                warm_ranges = frozenset(int(r) for r in ranges)
                cached["_warm_ranges"] = warm_ranges
                posts = posts.filter(F.col("range_id").isin(
                    sorted(warm_ranges)) if warm_ranges else F.lit(False))
            if serving_shards is None:
                # one shard per executor slot: a served query's per-shard
                # work is tiny, so every extra wave of Python tasks is
                # pure scheduling cost (~0.35 s a wave at local[4]);
                # top-k is bitwise-identical at any shard count
                serving_shards = spark.sparkContext.defaultParallelism
            cached["_serving"] = (posts.repartition(serving_shards,
                                                    "range_id")
                                  .select(*_KERNEL_COLS).cache())
            cached["_serving"].count()
        if self.vocab_size <= idf_cache_max:
            tbl = self.scan(TERM_STATS, columns=["term", "idf"]).to_table()
            cached["_idf"] = dict(zip(tbl["term"].to_pylist(),
                                      tbl["idf"].to_pylist()))
        object.__setattr__(self, "_cached", cached)
        return self

    def has_serving_layout(self) -> bool:
        """True when ``warm`` left a serving layout resident: the driver
        copy or the executor shards."""
        return bool(self._cached and ("_driver_serving" in self._cached
                                      or "_serving" in self._cached))

    def is_warm(self) -> bool:
        """True when a serving layout + the driver idf cache are
        resident (``warm`` ran) — query paths can then skip the
        term_stats join and answer on a served tier."""
        return self.has_serving_layout() and "_idf" in self._cached

    def unwarm(self) -> None:
        """Release every warm cache (serving layout, positions layout,
        driver idf map). Call when a serving session ends so the memory
        returns to the pool — e.g. between bench phases, where a
        lingering 120k-doc serving layout would distort later timings."""
        if self._cached:
            for df in self._cached.values():
                if hasattr(df, "unpersist"):
                    df.unpersist()
        object.__setattr__(self, "_cached", None)

    def serving_df(self) -> DataFrame | None:
        """The executor serving layout, or None when ``warm`` kept none."""
        return (self._cached or {}).get("_serving")

    def serving_rows(self, terms: list[str]) -> pd.DataFrame | None:
        """The serving-layout block rows of ``terms`` (sorted, unique)
        as ONE pandas frame, sliced from the driver copy a full ``warm``
        keeps — or None when no driver copy is resident."""
        ds = self._cached.get("_driver_serving") if self._cached else None
        if ds is None:
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
        # the one row _write_stats_tables wrote with pyarrow, read back
        # the same way: no Spark job
        import pyarrow.parquet as pq
        row = pq.read_table(io.path(CORPUS_STATS)).to_pylist()[0]
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
    _write_blocks(io, POSTINGS_BLOCKS,
                  _stage_c_blocks(local_tf, cfg, shuffle_partitions), cfg,
                  {"parent": io.current_snapshot(LOCAL_TF)["snapshot_id"],
                   "shuffle_partitions": shuffle_partitions})
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
    df_per_term = (read_bucketed(spark, io, POSTINGS)
                   .groupBy("term").agg(F.sum("n").alias("df")))
    term_stats = term_bucketed(
        okapi_idf(df_per_term, n_docs, cfg.bm25.epsilon),
        cfg.index.term_buckets)
    (term_stats.write.mode("overwrite").partitionBy("term_bucket")
     .parquet(io.path(TERM_STATS)))
    # vocab scalars for corpus_stats: parquet footer row counts are free at
    # any scale; the mean raw idf is read driver-side while the vocabulary
    # is driver-sized, else via one Spark aggregate
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


DELTA_LOCAL_TF = "delta_local_tf"
DELTA_PARTIALS = "delta_partials"


def delta_merge_index(spark: SparkSession, main: InvertedIndex,
                      delta_docs: DataFrame | str, out_io: TableIO, *,
                      doc_id_col: str = "doc_id", text_col: str = "text",
                      shuffle_partitions: int | None = None,
                      mode: str = "insert",
                      delete_doc_ids=None) -> InvertedIndex:
    """Incremental index maintenance: merge an epoch of NEW documents
    (e.g. the staging table ``streaming.ingest.stage_for_indexing``
    appends to — the Spark-native analogue of the reference's resume
    shard append, nlp/11_build_product_embeddings.py:127-167) into an
    existing index WITHOUT re-running Stage A/C over the main corpus.

    Cost model — O(delta + touched groups), not O(corpus):
      1. Stage A runs over the DELTA only; its postings partials (the
         build's pack kernel) are staged, and their (term, range_id)
         keys mark the TOUCHED groups. With monotonically increasing
         doc_ids an epoch's ranges are almost entirely new, so the
         touched set is ~|delta vocab| keys — broadcastable for
         epoch-sized deltas (a backfill that rewrites most ranges should
         rebuild instead).
      2. ONE loop over the block tables — POSTINGS always, POSITIONS
         when the main root has them: a block whose [first_doc_id,
         last_doc_id] interval covers a purged doc touches its group too
         (a purged doc's old terms are unknown, its entries can only
         live there); touched main blocks are decoded back into partials
         with the purge applied and merged with the delta's partials by
         the build's shuffle-side kernel — so every touched group is
         byte-identical to a from-scratch build over the merged corpus
         (encoding is content-determined per group); untouched blocks
         pass through unchanged. (This plain-parquet layer rewrites
         their bytes into the new snapshot's directory; an Iceberg
         runtime would re-reference the untouched data files
         metadata-only. The COMPUTE saved — tokenizing and shuffling the
         main corpus — is the scale win either way.)
      3. term_stats + corpus scalars are recomputed globally from block
         metadata (idf depends on the new n_docs for EVERY term) — tiny
         at any scale, shared ``_write_stats_tables``.

    Byte-identity with a from-scratch rebuild (and ``build_positions``)
    over corpus+delta is pytest-gated (tests/test_streaming.py,
    tests/test_positions.py). The new index is written to ``out_io``
    with lineage pointing at the parent index's snapshot ids (the
    child-snapshot contract); the staging tables are dropped.

    ``mode``:
      * ``"insert"`` (default) — every delta doc_id must be NEW: the
        merge kernel SUMS tf of duplicate (term, range, doc) postings,
        which is only correct for disjoint doc_ids, so an overlap raises
        (one broadcast-semi-join count over doc_stats).
      * ``"upsert"`` — delta doc_ids may already exist in the main index
        (a re-crawled url with new text): the old version's entries are
        PURGED from the touched groups during the main-block decode and
        its doc_stats row replaced, i.e. re-index = delete + insert —
        the Spark analogue of the reference re-running a shard for
        changed inputs (nlp/11_build_product_embeddings.py:127-167).

    ``delete_doc_ids`` (iterable of ints or a 1-column DataFrame):
    tombstones — removed from every block table and doc_stats with NO
    replacement (corpus stats shrink; idf/avgdl recompute globally).
    Combinable with either mode; deleting a doc that is also in the
    delta is rejected as ambiguous. The purge set (upsert replacements +
    deletes) is collected driver-side and shipped in the decode task
    closure — epoch-sized by the same cost model as the touched-group
    broadcast (a purge too large for that should be a rebuild)."""
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

    # ---- Stage C (delta only): postings partials, staged ----
    out_io.write(_pack(dtf, POSTINGS_BLOCKS, cfg), DELTA_PARTIALS,
                 lineage={"stage": "C-delta"}, metrics={})
    dp = out_io.read(spark, DELTA_PARTIALS)
    tables = [(POSTINGS_BLOCKS, dp)]
    if main.io.exists(POSITIONS):
        tables.append((POSITIONS_BLOCKS, _pack(dtf, POSITIONS_BLOCKS, cfg)))
    purged = None
    if len(purge_ids):
        purged = F.broadcast(spark.createDataFrame(
            [(int(x), int(x) >> cfg.index.range_shift) for x in purge_ids],
            "p_doc long, p_range long"))

    # ---- one merge loop over the block tables ----
    for spec, delta_parts in tables:
        blocks = main.io.read(spark, spec.table)
        touched = dp.select("term", "range_id")
        if purged is not None:
            touched = touched.unionByName(blocks.join(
                purged, (F.col("range_id") == F.col("p_range"))
                & (F.col("p_doc") >= F.col("first_doc_id"))
                & (F.col("p_doc") <= F.col("last_doc_id")),
                "left_semi").select("term", "range_id"))
        touched = F.broadcast(touched.distinct())
        main_parts = (blocks.join(touched, ["term", "range_id"], "left_semi")
                      .select("term", "range_id", "n", *spec.bytes_cols)
                      .mapInPandas(_blocks_to_partials(
                          spec, purge_ids if len(purge_ids) else None),
                          schema=spec.partial_schema))
        merged = _merge_blocks(main_parts.unionByName(delta_parts), spec,
                               cfg, shuffle_partitions)
        untouched = blocks.join(touched, ["term", "range_id"], "left_anti")
        _write_blocks(
            out_io, spec,
            untouched.select(*spec.block_cols).unionByName(merged), cfg,
            {"parent": (main.io.current_snapshot(spec.table) or {})
             .get("snapshot_id"),
             "mode": "delta_merge", "purged": int(len(purge_ids)),
             "shuffle_partitions": shuffle_partitions})

    out_io.drop(DELTA_LOCAL_TF)
    out_io.drop(DELTA_PARTIALS)
    return _write_stats_tables(spark, out_io, cfg, n_docs, avgdl,
                               total_tokens)
