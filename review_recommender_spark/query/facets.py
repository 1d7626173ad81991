"""Faceted search — metadata value counts over a boolean match set.

The aggregation half of a search results page ("lang: en (1.2M) · es
(40k) …"): count matching documents per metadata value, for the FULL
match set, not just the visible top-k. Composes the DSL's match
machinery with a plain semi-join + groupBy — all JVM, one shuffle keyed
by the facet column, match sets bounded by the query terms' dfs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize_k1_py, tokenize_k2_py
from ..index.build import InvertedIndex
from .bm25 import local_result, term_docs
from .parser import parse_query


def dsl_match_docs(spark: SparkSession, index: InvertedIndex,
                   query: str, phrase_cap: int = 1_000_000) -> DataFrame:
    """ALL doc_ids matching a DSL query's boolean semantics (matching ≥ 1
    ranking term, containing every required term and phrase, containing
    no excluded term) — the set a facet panel or a result count
    describes. Built entirely from posting/position decodes: the
    disjunctive base is the union of the ranking terms' posting docs
    (each bounded by its df), constraints are the same semi/anti joins
    ``dsl_search`` uses."""
    from .parser import query_expansions, ranking_tokens
    pq = parse_query(query)
    exp = query_expansions(spark, index, pq)
    pre, _fuz = exp
    base = None
    for t in sorted(set(ranking_tokens(spark, index, pq,
                                       expansions=exp))):
        td = term_docs(spark, index, t)
        base = td if base is None else base.unionByName(td)
    if base is None:
        return local_result(spark, schema="doc_id long")
    base = base.distinct()
    for t in [tok for w in pq.required for tok in tokenize_k1_py(w)]:
        base = base.join(term_docs(spark, index, t), "doc_id", "left_semi")
    for p in pq.required_wildcards:
        grp = None
        for t in pre[p]:
            td = term_docs(spark, index, t)
            grp = td if grp is None else grp.unionByName(td)
        if grp is None:
            return local_result(spark, schema="doc_id long")
        base = base.join(grp.distinct(), "doc_id", "left_semi")
    if pq.phrases:
        from ..index.positions import phrase_match
        for p in pq.phrases:
            base = base.join(
                phrase_match(spark, index, p, k=phrase_cap)
                .select("doc_id"), "doc_id", "left_semi")
    if pq.near:
        from ..index.positions import near_match
        for p, win in pq.near:
            base = base.join(
                near_match(spark, index, p, win, k=phrase_cap)
                .select("doc_id"), "doc_id", "left_semi")
    for t in [tok for w in pq.excluded for tok in tokenize_k1_py(w)] \
            + [t for p in pq.excluded_wildcards for t in pre[p]]:
        base = base.join(term_docs(spark, index, t), "doc_id", "left_anti")
    return base


def dsl_match_count(spark: SparkSession, index: InvertedIndex,
                    query: str, phrase_cap: int = 1_000_000) -> DataFrame:
    """Total-hits count for a DSL query ("about N results"): one row
    (n_hits bigint) counting the FULL boolean match set — the number a
    result page's header and its pagination are driven by. Same cost
    shape as a facet panel: posting/position decodes bounded by the
    query terms' dfs, one global count — never a corpus scan."""
    return (dsl_match_docs(spark, index, query, phrase_cap=phrase_cap)
            .agg(F.count("*").alias("n_hits")))


def facet_counts(match_docs: DataFrame, meta: DataFrame, col: str,
                 k: int = 50) -> DataFrame:
    """(value, n_docs) for the top-``k`` values of ``meta.col`` over the
    match set, ordered (n_docs desc, value asc). ``meta`` is any
    DataFrame with (doc_id, col) — typically the pushed-down metadata
    scan; the semi-join keeps only matched docs before the count."""
    return (meta.select("doc_id", F.col(col).alias("value"))
            .join(match_docs.select("doc_id"), "doc_id", "left_semi")
            .groupBy("value").agg(F.count("*").alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc("value"))
            .limit(k))


def facet_stats(match_docs: DataFrame, meta: DataFrame, key_col: str,
                val_col: str, k: int = 50) -> DataFrame:
    """Numeric aggregation panel per facet value over the match set —
    the `stats` sub-aggregation of a search engine: for the top-``k``
    values of ``meta.key_col``, (value, n_docs, min/max/avg/sum of
    ``meta.val_col``), ordered (n_docs DESC, value ASC). Same cost
    shape as ``facet_counts``: one semi-join bounded by the match set,
    one facet-keyed shuffle with map-side partial aggregation —
    never a corpus scan."""
    return (meta.select("doc_id", F.col(key_col).alias("value"),
                        F.col(val_col).cast("double").alias("__v"))
            .join(match_docs.select("doc_id"), "doc_id", "left_semi")
            .groupBy("value")
            .agg(F.count("*").alias("n_docs"),
                 F.min("__v").alias("val_min"),
                 F.max("__v").alias("val_max"),
                 F.round(F.avg("__v"), 6).alias("val_avg"),
                 F.round(F.sum("__v"), 6).alias("val_sum"))
            .orderBy(F.desc("n_docs"), F.asc("value"))
            .limit(k))


def histogram(match_docs: DataFrame, meta: DataFrame, col: str,
              interval: float, k: int = 1000) -> DataFrame:
    """Histogram aggregation over the match set: bucket =
    floor(col / interval) · interval (the Elasticsearch `histogram`
    contract, empty buckets omitted), (bucket, n_docs) ordered by
    bucket ASC. One semi-join + one bucket-keyed groupBy."""
    if interval <= 0:
        raise ValueError("interval must be > 0")
    bucket = (F.floor(F.col(col).cast("double") / F.lit(float(interval)))
              * F.lit(float(interval)))
    return (meta.select("doc_id", bucket.alias("bucket"))
            .join(match_docs.select("doc_id"), "doc_id", "left_semi")
            .groupBy("bucket").agg(F.count("*").alias("n_docs"))
            .orderBy(F.asc("bucket"))
            .limit(k))


def top_hits_per_facet(scored: DataFrame, meta: DataFrame, key_col: str,
                       n: int = 3, k_values: int = 50) -> DataFrame:
    """The `top_hits` sub-aggregation: for each facet value, the top
    ``n`` scored documents (rank by score DESC, doc_id ASC — the
    engine's total result order). ``scored`` is any (doc_id, score)
    frame (a match set's full ranking or a top-k). One join + one
    window partitioned BY FACET VALUE — the partition count is the
    value cardinality, so the shuffle is facet-keyed, never
    corpus-keyed. Returns (value, rank, doc_id, score)."""
    from pyspark.sql import Window
    w = Window.partitionBy("value").orderBy(F.desc("score"),
                                            F.asc("doc_id"))
    vals = (meta.select("doc_id", F.col(key_col).alias("value"))
            .join(scored.select("doc_id", "score"), "doc_id"))
    ranked = (vals.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= n))
    keep = (ranked.groupBy("value").agg(F.count("*").alias("__n"))
            .orderBy(F.desc("__n"), F.asc("value")).limit(k_values)
            .select("value"))
    return (ranked.join(F.broadcast(keep), "value")
            .select("value", "rank", "doc_id", "score")
            .orderBy(F.asc("value"), F.asc("rank")))


def collapse_topk(scored: DataFrame, meta: DataFrame, key_col: str,
                  k: int = 10) -> DataFrame:
    """Field collapsing (the ES `collapse` / web-search dedupe-by-site
    contract): keep only the single best result per ``meta.key_col``
    value (score DESC, doc_id ASC), then the global top-``k`` of the
    collapsed set in the same order. Docs with a NULL key each form
    their own group (never collapsed together). Returns
    (doc_id, score, value).

    One join + one key-partitioned window + top-k — the window shuffle
    is collapse-keyed (site count), never corpus-keyed."""
    from pyspark.sql import Window
    key = F.coalesce(F.col(key_col).cast("string"),
                     F.concat(F.lit("__null_"), F.col("doc_id")))
    vals = (meta.select("doc_id", key.alias("value"))
            .join(scored.select("doc_id", "score"), "doc_id"))
    w = Window.partitionBy("value").orderBy(F.desc("score"),
                                            F.asc("doc_id"))
    return (vals.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .select("doc_id", "score", "value")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k))


def significant_terms(spark: SparkSession, index: InvertedIndex,
                      match_docs: DataFrame, k: int = 20,
                      min_doc_count: int = 3) -> DataFrame:
    """Significant-terms aggregation (the ES panel answering "what is
    UNUSUAL about these results?"): for every index term, compare its
    rate in the match set (foreground) against the whole corpus
    (background) and keep the top ``k`` by the JLH score

        fg = fg_count / n_matched,  bg = df / n_docs
        jlh = (fg − bg) · (fg / bg)

    (absolute lift × relative lift — Elasticsearch's default heuristic).
    Returns (term, fg_count, df, jlh) ordered (jlh DESC, term ASC);
    terms seen in fewer than ``min_doc_count`` matched docs are dropped
    (noise floor).

    Plan shape: one semi-join of the Stage A checkpoint (one packed row
    per doc) against the match set — so the explode is bounded by the
    MATCHED docs' tokens, not the corpus — then a term-keyed count with
    map-side partials, a broadcast-able join against vocab-sized
    term_stats, and a top-k. The checkpoint scan itself is corpus-wide
    (every doc's row is tested against the semi-join), which is the
    honest cost of this aggregation in any engine; it column-prunes to
    (doc_id, toks) and never touches postings or raw text."""
    from ..index.build import LOCAL_TF
    n_docs = index.n_docs
    m = match_docs.select("doc_id")
    fg_total = m.count()
    if fg_total == 0:
        return spark.createDataFrame(
            [], "term string, fg_count long, df long, jlh double")
    toks = (index.io.read(spark, LOCAL_TF).select("doc_id", "toks")
            .join(m, "doc_id", "left_semi")
            .select(F.explode(F.array_distinct("toks")).alias("term")))
    fg = toks.groupBy("term").agg(F.count("*").alias("fg_count")) \
        .filter(F.col("fg_count") >= min_doc_count)
    stats = index.term_stats(spark).select("term", "df")
    fg_rate = F.col("fg_count") / F.lit(float(fg_total))
    bg_rate = F.col("df") / F.lit(float(n_docs))
    jlh = (fg_rate - bg_rate) * (fg_rate / bg_rate)
    return (fg.join(stats, "term")
            .select("term", "fg_count", "df",
                    F.round(jlh, 6).alias("jlh"))
            .orderBy(F.desc("jlh"), F.asc("term"))
            .limit(k))
