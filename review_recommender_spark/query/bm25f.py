"""BM25F — fielded ranking over per-field inverted indexes.

Web pages are not flat bags of words: a hit in the title/anchor field
means more than one in the body. BM25F (Zaragoza et al., CIKM 2004 — the
standard fielded extension of BM25) combines per-field term frequencies
BEFORE saturation:

    tf~_{t,d,f} = tf_{t,d,f} / B_f,   B_f = 1 − b_f + b_f·dl_{d,f}/avgdl_f
    w_{t,d}     = Σ_f  weight_f · tf~_{t,d,f}
    score(d)    = Σ_t  idf_t · w_{t,d}·(k1+1) / (k1 + w_{t,d})

The crucial property (and why this is NOT a weighted sum of per-field
BM25 scores): saturation applies to the COMBINED evidence, so two weak
fields reinforce instead of each saturating alone. With a single field at
weight 1 and b_f = b the formula reduces algebraically to plain BM25
(idf·tf·(k1+1)/(tf + k1·B)) — gated in tests/test_bm25f.py.

idf uses DOCUMENT-level df (term present in ANY field) with the same
BM25Okapi ε-fixup float path as the main build (index/build.py::
_write_stats_tables — difference of logs, ε·mean-raw-idf for negatives),
precomputed ONCE at build time by ``build_fielded_stats`` from the field
indexes' Stage A checkpoints (no re-tokenize; the union-distinct over
(term, doc) is one shuffle) into a term_bucket-partitioned stats table
with the same pruning surface as TERM_STATS.

Scale shape of ``bm25f_topk``: one bucket+term-pruned block scan per
field (the exact-BM25 plan, ×|fields|), Arrow-batch decode to per-(doc,
term, field) normalized tfs, ONE (doc, term)-keyed combine (fields fold
in declared order via a literal field map — deterministic float order),
a broadcast idf join, and the shared query-token-order fold + top-k. No
driver loops; field count is a small constant (2-4 in practice).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..functions.tokenize import tokenize_k2_py
from ..index.build import (LOCAL_TF, InvertedIndex, term_bucket_col,
                           term_bucket_py)
from ..index.codec import decode_block
from ..index.tableio import TableIO
from .bm25 import (RESULT_SCHEMA, _fold_scores, _qtf, _query_blocks,
                   local_result)

BM25F_STATS = "bm25f_stats"


@dataclass(frozen=True)
class Bm25fField:
    """One ranked field: its own inverted index (any ``build_index``
    output — fields are just corpora), its evidence weight, and its
    length-normalization strength b_f."""
    index: InvertedIndex
    weight: float = 1.0
    b: float = 0.75


def build_fielded_stats(spark: SparkSession, field_ios: list[TableIO],
                        out_io: TableIO,
                        cfg: EngineConfig | None = None) -> None:
    """Document-level (term, df, idf) across fields: df counts docs where
    the term occurs in ANY field (≠ Σ per-field dfs — overlap), from the
    field indexes' LOCAL_TF checkpoints (already tokenized; one
    explode + union + distinct + count shuffle, no corpus re-read).
    idf replicates the main build's BM25Okapi ε-fixup float path.
    N = the first field's doc count (fields are built over the SAME doc
    set; a fielded build that drops docs per field would bias idf)."""
    cfg = cfg or EngineConfig()
    occ = None
    n_docs = None
    for io in field_ios:
        tf = io.read(spark, LOCAL_TF)
        if n_docs is None:
            n_docs = tf.count()
        part = tf.select("doc_id", F.explode("toks").alias("term")) \
            .distinct()
        occ = part if occ is None else occ.unionByName(part)
    df_per_term = (occ.distinct()
                   .groupBy("term").agg(F.count("*").alias("df")))
    raw_idf = df_per_term.withColumn(
        "idf_raw",
        F.log(F.lit(float(n_docs)) - F.col("df") + 0.5)
        - F.log(F.col("df") + 0.5))
    vocab_scalars = F.broadcast(raw_idf.agg(
        F.avg("idf_raw").alias("__avg_idf")))
    stats = (raw_idf.crossJoin(vocab_scalars)
             .withColumn(
                 "idf",
                 F.when(F.col("idf_raw") < 0,
                        F.lit(cfg.bm25.epsilon) * F.col("__avg_idf"))
                 .otherwise(F.col("idf_raw")))
             .withColumn("term_bucket",
                         term_bucket_col(F.col("term"),
                                         cfg.index.term_buckets))
             .drop("__avg_idf")
             .repartition(cfg.index.term_buckets, "term_bucket"))
    out_io.write(stats, BM25F_STATS, partition_by=["term_bucket"],
                 lineage={"fields": [io.root for io in field_ios],
                          "epsilon": cfg.bm25.epsilon},
                 metrics={"n_docs": int(n_docs)})


def _field_tfn_partials(spark: SparkSession, field: Bm25fField, fid: int,
                        terms: list[str]) -> DataFrame:
    """One field's per-(doc, term) normalized tf (tf/B_f) for the query
    terms — bucket+term-pruned block scan + Arrow decode, the exact-path
    plan with a different per-posting expression."""
    b, avgdl = field.b, field.index.avgdl
    blocks = _query_blocks(spark, field.index, terms)

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in it:
            if not len(pdf):
                continue
            ts, docs, tfns = [], [], []
            for term, n, db, tb, lb in zip(pdf["term"], pdf["n"],
                                           pdf["doc_bytes"],
                                           pdf["tf_bytes"],
                                           pdf["dl_bytes"]):
                d, t, ln = decode_block(bytes(db), bytes(tb), bytes(lb),
                                        int(n))
                tf = t.astype(np.float64)
                tfn = tf / (1 - b + b * ln.astype(np.float64) / avgdl)
                ts.extend([term] * len(d))
                docs.append(d)
                tfns.append(tfn)
            yield pd.DataFrame({"term": ts,
                                "doc_id": np.concatenate(docs),
                                "fid": np.full(sum(map(len, docs)), fid,
                                               dtype=np.int32),
                                "tfn": np.concatenate(tfns)})

    return blocks.mapInPandas(
        kernel, schema="term string, doc_id long, fid int, tfn double")


def bm25f_topk(spark: SparkSession, fields: list[Bm25fField],
               stats_io: TableIO, query: str, k: int = 10,
               k1: float | None = None) -> DataFrame:
    """Fielded BM25F top-k (see module docstring for the formula and the
    plan shape). ``stats_io`` holds the ``build_fielded_stats`` output;
    ``k1`` defaults to the first field's configured k1."""
    if not fields:
        raise ValueError("bm25f_topk needs at least one field")
    if k1 is None:
        k1 = fields[0].index.cfg.bm25.k1
    qtf = _qtf(query)
    if not qtf:
        return local_result(spark)
    token_seq = tokenize_k2_py(query)
    terms = sorted(qtf)
    cfg0 = fields[0].index.cfg
    buckets = sorted({term_bucket_py(t, cfg0.index.term_buckets)
                      for t in terms})
    idf = (stats_io.read(spark, BM25F_STATS)
           .filter(F.col("term_bucket").isin(buckets)
                   & F.col("term").isin(terms))
           .select("term", "idf"))
    parts = None
    for fid, fld in enumerate(fields):
        p = _field_tfn_partials(spark, fld, fid, terms)
        parts = p if parts is None else parts.unionByName(p)
    # combine fields per (doc, term): literal fid→tfn map, folded in
    # DECLARED field order (w0·tfn0 + w1·tfn1 + … — fixed float order,
    # independent of partition arrival)
    g = parts.groupBy("doc_id", "term").agg(
        F.map_from_entries(F.collect_list(F.struct("fid", "tfn")))
        .alias("__fm"))
    w = F.lit(0.0)
    for fid, fld in enumerate(fields):
        w = w + F.lit(float(fld.weight)) * F.coalesce(
            F.element_at(F.col("__fm"), F.lit(fid)), F.lit(0.0))
    combined = g.select("doc_id", "term", w.alias("__w"))
    partials = (combined.join(F.broadcast(idf), "term")
                .select("doc_id", "term",
                        (F.col("idf") * F.col("__w") * (k1 + 1)
                         / (k1 + F.col("__w"))).alias("score")))
    return (_fold_scores(partials, token_seq, ["doc_id"])
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k))


def dismax_topk(spark: SparkSession, fields: list[Bm25fField],
                query: str, k: int = 10,
                tie_breaker: float = 0.0) -> DataFrame:
    """Disjunction-max ("best_fields") cross-field ranking — the OTHER
    standard multi-field combiner (Lucene DisjunctionMaxQuery /
    Elasticsearch multi_match best_fields): each field is scored as an
    INDEPENDENT plain-BM25 query against its own index (own df/idf/
    avgdl — unlike BM25F's document-level idf and pre-saturation
    combine), then per doc

        score = max_f s_f + tie_breaker · Σ_{f ≠ argmax} s_f

    ``tie_breaker=0`` is pure best-field (reduces to plain BM25 on a
    single field — gated); ``1`` degrades to the naive sum. Field
    ``weight`` multiplies that field's score before the max.

    Plan shape: one bucket+term-pruned scan + fold per field (the exact
    plan ×|fields|), one (doc)-keyed combine via a literal fid→score
    map (greatest/sum in declared field order — deterministic float
    expressions), one top-k. No driver loops."""
    if not fields:
        raise ValueError("dismax_topk needs at least one field")
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError("tie_breaker must be in [0, 1]")
    from .bm25 import _score_blocks_closure, query_term_idf
    token_seq = tokenize_k2_py(query)
    if not token_seq:
        return local_result(spark)
    per_field = None
    for fid, fld in enumerate(fields):
        idf = query_term_idf(spark, fld.index, query)
        blocks = _query_blocks(spark, fld.index, sorted(idf))
        partials = _score_blocks_closure(blocks, fld.index, idf)
        scored = _fold_scores(partials, token_seq, ["doc_id"]) \
            .select("doc_id",
                    F.lit(fid).alias("fid"),
                    (F.col("score") * float(fld.weight)).alias("fs"))
        per_field = scored if per_field is None \
            else per_field.unionByName(scored)
    g = per_field.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("fid", "fs")))
        .alias("__sm"))
    cols = [F.coalesce(F.element_at(F.col("__sm"), F.lit(fid)),
                       F.lit(0.0)) for fid in range(len(fields))]
    best = cols[0] if len(cols) == 1 else F.greatest(*cols)
    total = cols[0]
    for c in cols[1:]:
        total = total + c
    score = best + F.lit(float(tie_breaker)) * (total - best)
    return (g.select("doc_id", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k))
