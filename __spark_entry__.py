"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship BM25 top-k over the sf0.001 documents
table through the real distributed index. ``queries()`` exposes one entry
per implemented operator family from SURVEY.md §2 (plus the training-data
ops: dedup / similarity / text stats / multimodal); ``oracle_sql()`` gives
the DuckDB-ANSI equivalent for everything SQL-expressible. Entries without
an oracle (LSH ANN, simhash, fake-feature plumbing) are rows-only by design
and carry pytest parity/recall tests instead (tests/test_ops.py).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable
from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from review_recommender_spark.config import EngineConfig, bm25_north
from review_recommender_spark.functions.tokenize import (k1_sql_duckdb,
                                                         tokenize_k1_col,
                                                         tokenize_k1_py,
                                                         tokenize_k2_py)
from review_recommender_spark.index.build import build_index, InvertedIndex
from review_recommender_spark.index.codec import decode_block
from review_recommender_spark.index.tableio import TableIO
from review_recommender_spark.query.bm25 import bm25_topk_exact
from review_recommender_spark.ops import dedup as D
from review_recommender_spark.ops import similarity as S
from review_recommender_spark.ops import textstats as TS
from review_recommender_spark.ops import multimodal as MM
from review_recommender_spark.etl import pipeline as ETL

# ---------------------------------------------------------------- helpers

_INDEX_CACHE: dict[str, InvertedIndex] = {}
# per-process caches: embedding DataFrames, review tables, and the
# persisted IvfIndex (hence object, not DataFrame)
_EMB_CACHE: dict[str, object] = {}

BM25_QUERY = "spark shuffle join performance scan"
BM25_K = 20
HYBRID_QUERIES = ("spark shuffle join performance scan",
                  "fast key order sort merge")
PROBE_TERMS = ["spark", "scan", "merge"]


def _t(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(_t(sf_dir, name))


def _doc_index(spark: SparkSession, sf_dir: str) -> InvertedIndex:
    """Build (once per sf_dir per process) the real inverted index over the
    documents table — ft_* entries all read from it."""
    if sf_dir not in _INDEX_CACHE:
        docs = _load(spark, sf_dir, "documents")
        root = os.path.join(tempfile.gettempdir(),
                            "rrs_entry_idx_" + sf_dir.strip("/").replace("/", "_"))
        cfg = EngineConfig(bm25=bm25_north())
        _INDEX_CACHE[sf_dir] = build_index(
            spark, docs, TableIO(root), cfg,
            doc_id_col="doc_id", text_col="text", n_chunks=1)
    return _INDEX_CACHE[sf_dir]


# ------------------------------------------------------- fulltext entries

def q_ft_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _doc_index(spark, sf_dir)
    return idx.doc_stats(spark).select("doc_id", "doc_len")


def q_ft_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _doc_index(spark, sf_dir)
    return (idx.io.read(spark, "corpus_stats")
            .select("n_docs", "total_tokens",
                    F.round("avgdl", 6).alias("avgdl"), "vocab_size"))


def q_ft_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _doc_index(spark, sf_dir)
    return (idx.term_stats(spark)
            .orderBy(F.desc("df"), F.asc("term"))
            .select("term", "df").limit(100))


def q_ft_term_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _doc_index(spark, sf_dir)
    return (idx.term_stats(spark).filter(F.col("df") >= 50)
            .select("term", "df", F.round("idf", 6).alias("idf")))


def q_ft_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _doc_index(spark, sf_dir)
    blocks = idx.postings(spark).filter(F.col("term").isin(PROBE_TERMS))

    def explode_blocks(it):
        import pandas as pd
        for pdf in it:
            rows = {"term": [], "doc_id": [], "tf": []}
            for term, n, db, tb, lb in zip(pdf["term"], pdf["n"],
                                           pdf["doc_bytes"], pdf["tf_bytes"],
                                           pdf["dl_bytes"]):
                d, t, _ = decode_block(bytes(db), bytes(tb), bytes(lb), int(n))
                rows["term"].extend([term] * len(d))
                rows["doc_id"].extend(d.tolist())
                rows["tf"].extend(t.tolist())
            yield pd.DataFrame(rows)

    return blocks.mapInPandas(explode_blocks,
                              schema="term string, doc_id long, tf long")


def q_ft_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _doc_index(spark, sf_dir)
    res = bm25_topk_exact(spark, idx, BM25_QUERY, k=BM25_K)
    return (res.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")))


PHRASE_QUERY = "part filter"
_POSITIONS_BUILT: set[str] = set()


def q_ft_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHRASE query over the positional postings table
    (index/positions.py): documents containing the exact consecutive
    K1-token sequence, with occurrence counts — the classic
    positional-index capability. The positions table is built once per
    sf_dir from the index's Stage A checkpoint (no re-tokenize); the
    DuckDB oracle recomputes the counts via token shingles."""
    from review_recommender_spark.index.positions import (build_positions,
                                                          phrase_match)
    idx = _doc_index(spark, sf_dir)
    if sf_dir not in _POSITIONS_BUILT:
        build_positions(spark, idx.io, idx.cfg)
        _POSITIONS_BUILT.add(sf_dir)
    return (phrase_match(spark, idx, PHRASE_QUERY, k=100)
            .orderBy(F.desc("n_occ"), F.asc("doc_id")))


BM25F_QUERY = "dup table scan"
BM25F_TITLE_LEN = 4
BM25F_WEIGHTS = (2.0, 1.0)
_BM25F_CACHE: dict = {}


def _bm25f_setup(spark: SparkSession, sf_dir: str):
    """Title/body field indexes + combined doc-level stats over the
    documents table (title = first 4 K1 tokens, body = the rest — field
    text derived from the SAME JVM tokenizer the indexes use, so
    join-with-space re-tokenizes identically)."""
    if sf_dir in _BM25F_CACHE:
        return _BM25F_CACHE[sf_dir]
    from review_recommender_spark.functions.tokenize import tokenize_k1_col
    from review_recommender_spark.query.bm25f import build_fielded_stats
    docs = _load(spark, sf_dir, "documents")
    k1toks = tokenize_k1_col(F.col("text"))
    fields_df = docs.select(
        "doc_id",
        F.array_join(F.slice(k1toks, 1, BM25F_TITLE_LEN), " ")
        .alias("title"),
        F.array_join(F.slice(k1toks, BM25F_TITLE_LEN + 1, 1_000_000), " ")
        .alias("body"))
    cfg = EngineConfig(bm25=bm25_north())
    base = os.path.join(tempfile.gettempdir(),
                        "rrs_entry_bm25f_" + sf_dir.strip("/")
                        .replace("/", "_"))
    idxs, ios = [], []
    for col in ("title", "body"):
        io = TableIO(os.path.join(base, col))
        idxs.append(build_index(
            spark, fields_df.select("doc_id", F.col(col).alias("text")),
            io, cfg, doc_id_col="doc_id", text_col="text", n_chunks=1))
        ios.append(io)
    sio = TableIO(os.path.join(base, "stats"))
    build_fielded_stats(spark, ios, sio, cfg)
    _BM25F_CACHE[sf_dir] = (idxs, sio)
    return _BM25F_CACHE[sf_dir]


def q_ft_bm25f_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25F fielded ranking (query/bm25f.py): per-field normalized tfs
    combined BEFORE saturation (title weight 2×), idf from doc-level df
    (term in ANY field) with the engine's ε-fixup — the standard fielded
    extension a web engine ranks title/anchor vs body with. The DuckDB
    twin recomputes both fields, the combined w, and the idf from the
    raw documents table."""
    from review_recommender_spark.query.bm25f import Bm25fField, bm25f_topk
    (ftitle, fbody), sio = _bm25f_setup(spark, sf_dir)
    res = bm25f_topk(
        spark,
        [Bm25fField(ftitle, BM25F_WEIGHTS[0], 0.75),
         Bm25fField(fbody, BM25F_WEIGHTS[1], 0.75)],
        sio, BM25F_QUERY, k=BM25_K)
    return (res.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")))


DSL_QUERY = 'scan "part filter" -vector'


def q_ft_dsl_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-box DSL (query/parser.py): free terms rank, the quoted
    phrase is a positional MUST (phrase_match semi-join), '-vector' is a
    MUST NOT (posting-docs anti-join) — all compiled onto the gated
    engine primitives with BM25 scores unchanged. The DuckDB twin ranks
    the same word sequence and applies both constraints as predicates
    over the retokenized documents."""
    from review_recommender_spark.index.positions import build_positions
    from review_recommender_spark.query.parser import dsl_search
    idx = _doc_index(spark, sf_dir)
    if sf_dir not in _POSITIONS_BUILT:
        build_positions(spark, idx.io, idx.cfg)
        _POSITIONS_BUILT.add(sf_dir)
    res = dsl_search(spark, idx, DSL_QUERY, k=BM25_K)
    return (res.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")))


def q_ft_dsl_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted search (query/facets.py): language counts over the FULL
    boolean match set of the DSL query (≥1 ranking term, exact phrase
    present, no excluded term) — the result-page facet panel, computed
    from posting/position decodes + one facet-keyed groupBy. The DuckDB
    twin recounts the match set from the retokenized documents."""
    from review_recommender_spark.index.positions import build_positions
    from review_recommender_spark.query.facets import (dsl_match_docs,
                                                       facet_counts)
    idx = _doc_index(spark, sf_dir)
    if sf_dir not in _POSITIONS_BUILT:
        build_positions(spark, idx.io, idx.cfg)
        _POSITIONS_BUILT.add(sf_dir)
    match = dsl_match_docs(spark, idx, DSL_QUERY)
    meta = _load(spark, sf_dir, "documents").select("doc_id", "lang")
    return facet_counts(match, meta, "lang", k=50)


CONJ_MIN_MATCH = 3


SNIPPET_WINDOW = 16
# mixes the one rare positive-idf term of the sf corpus with common ones
# so the top-k doc set has real multi-term windows (nd 1..5, nh up to ~7
# at sf0.01) — a trivial corpus would make the span search vacuous
SNIPPET_QUERY = "dup table scan value window"


def q_ft_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snippet extraction over the positional index
    (query/snippets.py::snippet_spans): for the BM25 top-k result set,
    the best ``window``-token span per doc — max distinct query terms,
    then max hits, then smallest start — with the hit offsets inside it,
    computed ENTIRELY from the positions table (no corpus re-read). The
    DuckDB twin recomputes spans by retokenizing the documents and
    brute-forcing hit-anchored windows in SQL."""
    from review_recommender_spark.index.positions import build_positions
    from review_recommender_spark.query.snippets import snippet_spans
    idx = _doc_index(spark, sf_dir)
    if sf_dir not in _POSITIONS_BUILT:
        build_positions(spark, idx.io, idx.cfg)
        _POSITIONS_BUILT.add(sf_dir)
    top = bm25_topk_exact(spark, idx, SNIPPET_QUERY, k=BM25_K)
    return (snippet_spans(spark, idx, SNIPPET_QUERY, top.select("doc_id"),
                          window=SNIPPET_WINDOW)
            .orderBy("doc_id"))


def q_ft_bm25_topk_conjunctive(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Minimum-should-match retrieval (exact path): true BM25 top-k of
    the docs matching ≥ 3 distinct query terms — the constraint is a
    map-size filter inside the query-order fold
    (query/bm25.py::_fold_scores min_match=), applied BEFORE top-k so an
    under-matched doc never occupies a slot. Scores bitwise-unchanged;
    the DuckDB twin is a HAVING over the distinct matched-term count."""
    idx = _doc_index(spark, sf_dir)
    res = bm25_topk_exact(spark, idx, BM25_QUERY, k=BM25_K,
                          min_match=CONJ_MIN_MATCH)
    return (res.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")))


def q_ft_bm25_topk_conjunctive_served(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Minimum-should-match on the zero-shuffle SERVED path: the
    per-range distinct matched-term mask runs inside the shard-local
    top-k kernel (θ = k-th best QUALIFYING score; block-max skipping
    stays rank-safe — query/bm25.py::_served_local_topk min_matches=),
    bitwise-identical to the exact route (tests/test_conjunctive.py),
    so the same DuckDB recomputation gates both plans."""
    idx = _doc_index(spark, sf_dir)
    if not idx.is_warm():
        idx.warm(spark)
    from review_recommender_spark.query.bm25 import bm25_topk_served
    res = bm25_topk_served(spark, idx, BM25_QUERY, k=BM25_K,
                           min_match=CONJ_MIN_MATCH)
    return (res.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")))


def q_ft_bm25_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED retrieval (exact path): true BM25 top-k of the lang='en'
    slice of the corpus — the predicate is applied BEFORE top-k via a
    LEFT SEMI join of score partials against the pushed-down metadata
    scan (query/bm25.py::_apply_doc_filter)."""
    idx = _doc_index(spark, sf_dir)
    fd = _load(spark, sf_dir, "documents") \
        .filter(F.col("lang") == "en").select("doc_id")
    res = bm25_topk_exact(spark, idx, BM25_QUERY, k=BM25_K, filter_docs=fd)
    return (res.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")))


def q_ft_bm25_topk_filtered_served(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """FILTERED retrieval on the zero-shuffle SERVED path: the filter
    survivor set ships to the shards as a sorted doc_id mask inside the
    local-top-k kernel (query/bm25.py::_served_local_topk allowed=),
    bitwise-identical to the exact semi-join route
    (tests/test_filtered.py) — so the same DuckDB recomputation gates
    both plans."""
    idx = _doc_index(spark, sf_dir)
    if not idx.is_warm():
        idx.warm(spark)
    fd = _load(spark, sf_dir, "documents") \
        .filter(F.col("lang") == "en").select("doc_id")
    from review_recommender_spark.query.bm25 import bm25_topk_served
    res = bm25_topk_served(spark, idx, BM25_QUERY, k=BM25_K,
                           filter_docs=fd)
    return (res.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")))


def q_ft_bm25_topk_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING path under the driver's oracle: warm doc-sharded
    layout, both queries answered in one map stage
    (``bm25_topk_served_batch``). Scores are bitwise-equal to the exact
    path (tests/test_wand.py), so the same DuckDB BM25 recomputation
    gates this plan — zero shuffle, driver-cached idf — not just the
    cold join plan that ``ft_bm25_topk`` runs."""
    from review_recommender_spark.query.bm25 import bm25_topk_served_batch
    idx = _doc_index(spark, sf_dir)
    if not idx.is_warm():
        idx.warm(spark)
    res = bm25_topk_served_batch(spark, idx, list(HYBRID_QUERIES), k=BM25_K)
    return res.select("query_id", "doc_id",
                      F.round("score", 4).alias("score"))


# ----------------------------------------------------- expansion entries
# query/expand.py — the Lucene-rewrite layer: prefix / fuzzy patterns
# expand against the index VOCABULARY (term-sorted dictionary scan,
# never a postings or corpus scan) into bounded term lists that rank
# through the unchanged BM25 paths.
PREFIX_PAT = "s"
PREFIX_CAP = 4          # < the matching vocab size → exercises the
                        # df-top rewrite bound, not just the filter
FUZZY_WORD = "spart"    # Levenshtein-1 of both 'spark' and 'part'
MLT_DOC_ID = 42
MLT_MAX_TERMS = 8
DSL_WILD_QUERY = "join merg~ +s* -dup"
# static per-doc boost (function-score): deterministic, derived from the
# table itself so the DuckDB twin recomputes it exactly
BOOST_SQL = "0.5 + (doc_id % 5) * 0.25"
_DICT_BUILT: set[str] = set()


def _dict_index(spark: SparkSession, sf_dir: str):
    from review_recommender_spark.query.expand import build_term_dictionary
    idx = _doc_index(spark, sf_dir)
    if sf_dir not in _DICT_BUILT:
        build_term_dictionary(spark, idx)
        _DICT_BUILT.add(sf_dir)
    return idx


def q_ft_prefix_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'s*' → the top-``PREFIX_CAP`` vocabulary completions by (df DESC,
    term ASC) — Lucene's TOP_TERMS prefix rewrite over the term-sorted
    dictionary (range predicate → parquet min/max file skipping). The
    rewrite order is part of the contract, so it is materialized as a
    rank column; the DuckDB twin recomputes df from retokenization."""
    from review_recommender_spark.query.expand import prefix_terms
    idx = _dict_index(spark, sf_dir)
    terms = prefix_terms(spark, idx, PREFIX_PAT, max_terms=PREFIX_CAP)
    w = Window.orderBy(F.desc("df"), F.asc("term"))
    return terms.withColumn("rank", F.row_number().over(w)) \
        .select("rank", "term", "df")


def q_ft_fuzzy_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'spart~' → vocabulary terms within Levenshtein 1, ordered
    (distance ASC, df DESC, term ASC) — the fuzzy rewrite. Length
    pre-prune + JVM levenshtein on the dictionary scan; DuckDB twin uses
    its own levenshtein over the retokenized vocabulary."""
    from review_recommender_spark.query.expand import fuzzy_terms
    idx = _dict_index(spark, sf_dir)
    terms = fuzzy_terms(spark, idx, FUZZY_WORD, max_dist=1, max_terms=8)
    w = Window.orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
    return terms.withColumn("rank", F.row_number().over(w)) \
        .select("rank", "term", F.col("dist").cast("long").alias("dist"))


def q_ft_mlt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-like-this: point-read doc 42's text (pushed-down equality
    predicate), select its top-8 terms by tf·idf (the engine's exact
    ε-fixup idf), rank them as a verbatim term sequence through exact
    BM25 with the source doc excluded before top-k — Lucene MoreLikeThis
    re-expressed on the DataFrame paths (query/expand.py)."""
    from review_recommender_spark.query.expand import more_like_this_doc
    idx = _doc_index(spark, sf_dir)
    docs = _load(spark, sf_dir, "documents")
    res = more_like_this_doc(spark, idx, docs, MLT_DOC_ID,
                             max_terms=MLT_MAX_TERMS, k=BM25_K)
    return (res.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")))


def q_ft_dsl_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSL with expansion: 'join merg~ +s* -dup' — the s-prefix
    expansions and the 'merg' fuzzy neighbours join the scoring sequence
    (df-top / distance order, duplicates accumulate qtf), '+s*' is an OR
    constraint (doc must contain ANY expansion), '-dup' an anti-join.
    The DuckDB twin rebuilds the same expansion lists from retokenized
    df and scores the merged term multiset."""
    from review_recommender_spark.query.parser import dsl_search
    idx = _dict_index(spark, sf_dir)
    res = dsl_search(spark, idx, DSL_WILD_QUERY, k=BM25_K)
    return (res.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")))


def q_ft_dsl_match_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-hits count ('about N results') for the wildcard DSL query:
    one row counting the FULL boolean match set — posting decodes
    bounded by the query terms' dfs, one global count, never a corpus
    scan (query/facets.py::dsl_match_count)."""
    from review_recommender_spark.query.facets import dsl_match_count
    idx = _dict_index(spark, sf_dir)
    return dsl_match_count(spark, idx, DSL_WILD_QUERY)


def q_ft_bm25_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-after pagination: page 2 of the headline query via the
    previous page's (unrounded score, doc_id) cursor — O(page) deep
    paging, applied before top-k on every path (query/bm25.py::
    _apply_after). The DuckDB twin is the full ranking OFFSET k: the
    cursor page must equal the contiguous slice."""
    idx = _doc_index(spark, sf_dir)
    page1 = bm25_topk_exact(spark, idx, BM25_QUERY, k=BM25_K).collect()
    if not page1:
        return spark.createDataFrame([], "doc_id long, score double")
    cursor = (page1[-1]["score"], page1[-1]["doc_id"])
    res = bm25_topk_exact(spark, idx, BM25_QUERY, k=BM25_K, after=cursor)
    return (res.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")))


def q_ft_collapse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field collapsing: the single best result per source (the
    dedupe-by-site contract), then the global top-k of the collapsed
    set — one collapse-keyed window over the full ranking
    (query/facets.py::collapse_topk)."""
    from review_recommender_spark.query.facets import collapse_topk
    idx = _doc_index(spark, sf_dir)
    scored = bm25_topk_exact(spark, idx, BM25_QUERY, k=10 ** 6)
    meta = _load(spark, sf_dir, "documents").select("doc_id", "source")
    res = collapse_topk(scored, meta, "source", k=BM25_K)
    return res.select("doc_id", F.round("score", 4).alias("score"),
                      "value")


def q_ft_term_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-vectors point read for doc 7: (term, tf, positions) from
    the Stage A checkpoint with doc_id pushdown — O(1) row groups
    (query/bm25.py::term_vectors). Positions joined to a string so the
    hash compare is representation-stable; the DuckDB twin retokenizes
    the doc."""
    from review_recommender_spark.query.bm25 import term_vectors
    idx = _doc_index(spark, sf_dir)
    res = term_vectors(spark, idx, EXPLAIN_DOC_ID)
    return res.select("term", "tf",
                      F.array_join("positions", ",").alias("positions"))


SPELL_QUERY = "spark joinn scann batc performance"


def q_ft_spell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did-you-mean: per query token ABSENT from the vocabulary, the
    best Levenshtein-1 correction in (distance, df DESC, term) order —
    or null when hopeless ('performance' has no vocab neighbour at any
    sf). One bounded dictionary scan per distinct unknown token
    (query/expand.py::suggest_corrections); the DuckDB twin uses a
    correlated levenshtein subquery over the retokenized vocabulary."""
    from review_recommender_spark.query.expand import suggest_corrections
    idx = _dict_index(spark, sf_dir)
    sugg = suggest_corrections(spark, idx, SPELL_QUERY)
    return spark.createDataFrame(
        [(s["pos"], s["token"], s["suggestion"]) for s in sugg],
        "pos int, token string, suggestion string")


HIST_INTERVAL = 100.0


def q_ft_facet_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-facet numeric stats over the DSL match set (the `stats`
    sub-aggregation): for each lang, n_docs + min/max/avg/sum of
    n_chars — one semi-join + one facet-keyed groupBy with map-side
    partials (query/facets.py::facet_stats)."""
    from review_recommender_spark.index.positions import build_positions
    from review_recommender_spark.query.facets import (dsl_match_docs,
                                                       facet_stats)
    idx = _doc_index(spark, sf_dir)
    if sf_dir not in _POSITIONS_BUILT:
        build_positions(spark, idx.io, idx.cfg)
        _POSITIONS_BUILT.add(sf_dir)
    match = dsl_match_docs(spark, idx, DSL_QUERY)
    meta = _load(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "n_chars")
    return facet_stats(match, meta, "lang", "n_chars", k=50)


def q_ft_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram aggregation over the DSL match set: n_chars bucketed
    at width 100 (floor(x/w)·w, empty buckets omitted — the ES
    `histogram` contract), (bucket, n_docs) ascending
    (query/facets.py::histogram)."""
    from review_recommender_spark.index.positions import build_positions
    from review_recommender_spark.query.facets import (dsl_match_docs,
                                                       histogram)
    idx = _doc_index(spark, sf_dir)
    if sf_dir not in _POSITIONS_BUILT:
        build_positions(spark, idx.io, idx.cfg)
        _POSITIONS_BUILT.add(sf_dir)
    match = dsl_match_docs(spark, idx, DSL_QUERY)
    meta = _load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return histogram(match, meta, "n_chars", HIST_INTERVAL)


def q_ft_top_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`top_hits` sub-aggregation: per lang, the 2 best-scoring docs of
    the headline query's FULL ranking (rank by score DESC, doc_id ASC —
    the engine's total order), facet-keyed window shuffle
    (query/facets.py::top_hits_per_facet)."""
    from review_recommender_spark.query.facets import top_hits_per_facet
    idx = _doc_index(spark, sf_dir)
    scored = bm25_topk_exact(spark, idx, BM25_QUERY, k=10 ** 6)
    meta = _load(spark, sf_dir, "documents").select("doc_id", "lang")
    res = top_hits_per_facet(scored, meta, "lang", n=2)
    return res.select("value", "rank", "doc_id",
                      F.round("score", 4).alias("score"))


PERC_RULES = [
    (1, "scan join"),
    (2, "+dup -vector"),
    (3, '"part filter"'),
    (4, "table -scan"),
    (5, "+scan +join +part"),
    (6, 'vector "part filter" -dup'),
]


PERC_DOC_ID = 357


def q_ft_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation (reverse search): which stored DSL rules does doc 357
    trigger — the rules table scans map-only with the doc's token set
    as a literal, pure JVM array predicates, corpus never touched
    (query/percolate.py). The DuckDB twin evaluates the same pre-parsed
    rules against the retokenized doc."""
    from review_recommender_spark.query.percolate import (parse_queries_df,
                                                          percolate)
    docs = _load(spark, sf_dir, "documents")
    text = docs.filter(F.col("doc_id") == PERC_DOC_ID) \
        .select("text").collect()[0]["text"]
    qdf = parse_queries_df(spark, PERC_RULES)
    return percolate(spark, qdf, text)


SIGTERM_FG = "dup"


def q_ft_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Significant-terms panel over the docs containing 'dup' (the
    corpus' rare topical term): JLH = (fg−bg)·(fg/bg) vs the whole
    corpus, noise floor 2 docs — "what is unusual about these results"
    (query/facets.py::significant_terms). The DuckDB twin recomputes
    fg/df rates from retokenization."""
    from review_recommender_spark.query.bm25 import term_docs
    from review_recommender_spark.query.facets import significant_terms
    idx = _doc_index(spark, sf_dir)
    match = term_docs(spark, idx, SIGTERM_FG)
    return significant_terms(spark, idx, match, k=15, min_doc_count=2)


DISMAX_TIE = 0.3


def q_ft_dismax_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dis-max ("best_fields") cross-field ranking over the SAME
    title/body field indexes as ft_bm25f_topk: each field scored as an
    independent plain-BM25 query (own df/idf/avgdl), combined per doc
    as max + tie·rest (query/bm25f.py::dismax_topk) — the other
    standard multi-field combiner next to BM25F's pre-saturation sum.
    The DuckDB twin recomputes both per-field rankings and the max."""
    from review_recommender_spark.query.bm25f import (Bm25fField,
                                                      dismax_topk)
    idxs, _sio = _bm25f_setup(spark, sf_dir)
    flds = [Bm25fField(idxs[0], weight=BM25F_WEIGHTS[0]),
            Bm25fField(idxs[1], weight=BM25F_WEIGHTS[1])]
    res = dismax_topk(spark, flds, BM25F_QUERY, k=BM25_K,
                      tie_breaker=DISMAX_TIE)
    return (res.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")))


_DV_BUILT: set[str] = set()


def q_ft_topk_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result-page rendering: the BM25 top-k joined with display
    metadata point-fetched from the id-sorted doc-values sidecar
    (index/docvalues.py) — an IN-list pushdown reading O(k) row groups,
    never a corpus scan (the reference re-reads its corpus pickle,
    app/test.py:74-78). The DuckDB twin joins the ranking CTE with the
    documents metadata directly."""
    from review_recommender_spark.index.docvalues import (build_doc_values,
                                                          fetch_doc_values)
    idx = _doc_index(spark, sf_dir)
    if sf_dir not in _DV_BUILT:
        docs = _load(spark, sf_dir, "documents")
        build_doc_values(spark, idx, docs, ["lang", "source", "n_chars"])
        _DV_BUILT.add(sf_dir)
    top = bm25_topk_exact(spark, idx, BM25_QUERY, k=BM25_K)
    rows = top.collect()
    meta = fetch_doc_values(spark, idx, [r["doc_id"] for r in rows])
    return (top.join(meta, "doc_id")
            .select("doc_id", F.round("score", 4).alias("score"),
                    "lang", "source", "n_chars")
            .orderBy(F.desc("score"), F.asc("doc_id")))


NEAR_PHRASE = "dup scan"
NEAR_WINDOW = 12


def q_ft_near_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity ("sloppy phrase") match: docs where 'dup' and 'scan'
    co-occur within a 12-token window, with the exact minimal span —
    the `"a b"~N` relaxation of the exact phrase (index/positions.py::
    near_match; optimal sliding window over packed (doc,pos) keys, one
    range-keyed shuffle). The DuckDB twin recomputes min |p_a − p_b|
    from retokenized positions."""
    from review_recommender_spark.index.positions import (build_positions,
                                                          near_match)
    idx = _doc_index(spark, sf_dir)
    if sf_dir not in _POSITIONS_BUILT:
        build_positions(spark, idx.io, idx.cfg)
        _POSITIONS_BUILT.add(sf_dir)
    return near_match(spark, idx, NEAR_PHRASE, NEAR_WINDOW, k=100)


EXPLAIN_DOC_ID = 7


def q_ft_explain_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score explanation (the `_explain` surface): one row per matched
    query term for (BM25_QUERY, doc 7) with tf/dl/idf inputs and the
    term's contribution — the scan is bucket+term-pruned AND
    interval-pruned to the ≤1 block per term covering the doc
    (query/bm25.py::explain_score). The DuckDB twin recomputes every
    column from retokenization."""
    from review_recommender_spark.query.bm25 import explain_score
    idx = _doc_index(spark, sf_dir)
    res = explain_score(spark, idx, BM25_QUERY, EXPLAIN_DOC_ID)
    return res.select("term", "qtf", "tf", "dl",
                      F.round("idf", 6).alias("idf"),
                      F.round("contribution", 6).alias("contribution"))


def q_ft_bm25_boosted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function-score retrieval: BM25 × a static per-doc boost column
    (recency/quality-prior shape), applied after the fold and BEFORE
    top-k so the boost genuinely reorders the ranking
    (query/bm25.py::_exact_topk boost_docs). Boost derives deterministically
    from doc_id so the DuckDB twin multiplies the same factor."""
    idx = _doc_index(spark, sf_dir)
    docs = _load(spark, sf_dir, "documents")
    boost = docs.select("doc_id", F.expr(BOOST_SQL).alias("boost"))
    res = bm25_topk_exact(spark, idx, BM25_QUERY, k=BM25_K,
                          boost_docs=boost)
    return (res.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")))


# ------------------------------------------------------ relational entries

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _load(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.count("*").alias("count_order")))


def q_top3_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_quantity"), F.desc("l_extendedprice"), F.asc("l_linenumber"))
    return (li.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("l_orderkey", "l_linenumber", "l_quantity", "rn"))


def q_customer_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders")
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_custkey", "c_name")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_spent")))


def q_semi_join_high_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _load(spark, sf_dir, "lineitem")
    o = _load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (li.join(o.select("o_orderkey"),
                    li.l_orderkey == o.o_orderkey, "left_semi")
            .groupBy("l_orderkey")
            .agg(F.count("*").alias("n_items"),
                 F.round(F.sum("l_extendedprice"), 2).alias("order_revenue")))


def q_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _load(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 250000)
    recent = o.filter(F.col("o_orderdate") >= "1997-06-01")
    merged = ETL.union_dedup_by_id([hi, recent], "o_orderkey")
    return merged.groupBy("o_orderstatus").agg(F.count("*").alias("n"))


def q_minmax_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _load(spark, sf_dir, "part")
    w = Window.partitionBy()
    lo, hi = F.min("p_retailprice").over(w), F.max("p_retailprice").over(w)
    norm = F.when(hi - lo < 1e-12, F.lit(0.0)).otherwise(
        (F.col("p_retailprice") - lo) / (hi - lo))
    return p.select("p_partkey", F.round(norm, 6).alias("price_norm"))


def q_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load(spark, sf_dir, "events")
    return (e.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("value"), 4).alias("avg_value")))


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load(spark, sf_dir, "events")
    return (e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: new session when gap from previous event > 30 min."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(us).over(w)
    new_sess = F.when(prev.isNull() | ((us - prev) > 1800 * 1_000_000), 1) \
        .otherwise(0)
    return (e.withColumn("new_sess", new_sess)
            .groupBy("user_id")
            .agg(F.sum("new_sess").alias("n_sessions"),
                 F.count("*").alias("n_events")))


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 20)
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, 0))
    return o.select("o_custkey", "o_orderkey",
                    F.round(F.sum("o_totalprice").over(w), 2)
                    .alias("running_total"))


def q_stable_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 stable-id hash: sha256("text|ts|key")[:32] (etl/02:12-14)."""
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    sid = F.sha2(F.concat_ws("|", F.col("text"), F.col("source"),
                             F.col("doc_id").cast("string")), 256).substr(1, 32)
    return d.select("doc_id", sid.alias("stable_id"))


def q_recency_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — events within 24h of the max timestamp. The cutoff rides the
    same action as a broadcast scalar subquery (no driver collect job)."""
    e = _load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = e.agg((F.max(us) - 86400 * 1_000_000).alias("__cut"))
    return (e.join(F.broadcast(cut))
            .filter(us >= F.col("__cut"))
            .groupBy("event_type").agg(F.count("*").alias("n")))


# --------------------------------------------------- text-analysis entries

def q_txt_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents")
    return TS.quality_features(d).select(
        "doc_id", "n_words", "punct_ratio", "stop_ratio", "quality_score")


def q_txt_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents")
    return TS.lang_id(d).select("doc_id", "lang_pred")


def q_txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents")
    return TS.fingerprint(d).select("doc_id", "fingerprint")


def q_txt_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TS.whitespace_token_count(F.col("text")).alias("ws_tokens"),
        TS.regex_token_count(F.col("text")).alias("re_tokens"))


# ----------------------------------------------------- dedup / similarity

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: duplicate the first 50 docs under shifted ids, dedup by
    fingerprint keeping min id — survivors must be the originals."""
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (d.filter(F.col("doc_id") < 50)
            .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    uni = d.unionByName(dups)
    fp = TS.fingerprint(uni)
    kept = D.exact_dedup_by_fingerprint(fp, "doc_id", "fingerprint")
    return kept.agg(F.count("*").alias("n_survivors"),
                    F.sum((F.col("doc_id") >= 1_000_000).cast("int"))
                    .alias("n_shifted_kept"))


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (_load(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
         .select("doc_id",
                 D.token_shingles(tokenize_k1_col(F.col("text")), 3)
                 .alias("shingles")))
    return D.ngram_jaccard_pairs(d, "doc_id", "shingles", threshold=0.0)


def q_dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (_load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
         .select("doc_id",
                 D.token_shingles(tokenize_k1_col(F.col("text")), 3)
                 .alias("shingles")))
    return D.minhash_signatures(d, "doc_id", "shingles", k=8)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs from banded minhash signatures (self-dup
    planted by unioning shifted copies of 20 docs). Oracle-verified: the
    band join keys on the band VALUES, which is plain SQL equality."""
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (d.filter(F.col("doc_id") < 20)
            .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    uni = d.unionByName(dups).select(
        "doc_id", D.token_shingles(tokenize_k1_col(F.col("text")), 3)
        .alias("shingles"))
    sigs = D.minhash_signatures(uni, "doc_id", "shingles", k=16)
    return D.minhash_lsh_candidates(sigs, bands=4, rows_per_band=4)


def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    probes = (emb.filter(F.col("vec_id").isin(0, 1, 2))
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").alias("probe_vec")))
    return (S.brute_force_cosine_topk(emb, probes, k=5)
            .select("probe_id", "vec_id", "cosine", "rank"))


LSH_ANN_PLANES = 30
LSH_ANN_BANDS = 10


def q_sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN, SQL-oracled: the seeded hyperplanes are emitted
    as SQL literal constants (like minhash params), so DuckDB recomputes
    the band signatures, bucket join, and exact rescoring. Tuned to mean
    recall ≥0.9 vs brute force (pytest gate); on this near-random
    synthetic embedding table that recall costs ~75% candidate fraction —
    the honest LSH floor for unstructured vectors (see ops/similarity.py
    docstring; IVF is the production pruning path)."""
    emb = _load(spark, sf_dir, "embeddings")
    probes = (emb.filter(F.col("vec_id").isin(0, 1, 2))
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").alias("probe_vec")))
    return (S.lsh_cosine_topk(emb, probes, k=5, dim=64,
                              n_planes=LSH_ANN_PLANES, bands=LSH_ANN_BANDS)
            .select("probe_id", "vec_id", "cosine", "rank"))


def q_sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF via the PERSISTED index path (build-once ``ivf_build`` →
    ``ivf_topk``; no quantizer fit at query time). Driver-verified with
    the brute-force cosine SQL oracle by probing ALL clusters: at
    nprobe = n_clusters IVF is exact by construction, so the oracle
    checks the whole machinery — persisted partitioned assignments scan,
    driver-side centroid routing, arrow rescoring kernel, rank window —
    against an independent SQL recomputation. The ANN-specific behavior
    (partition pruning at nprobe < n, recall ≥0.9, KMeans.fit poisoned
    at query time) is pytest-gated in tests/test_ops.py, where cluster
    assignments can be inspected rather than SQL-derived."""
    from review_recommender_spark.index.tableio import TableIO
    emb = _load(spark, sf_dir, "embeddings")
    probes = (emb.filter(F.col("vec_id").isin(0, 1, 2))
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").alias("probe_vec")))
    ikey = sf_dir + "::ivf"
    if ikey not in _EMB_CACHE:
        # per-(sf_dir, pid) root: stable across calls WITHIN the process
        # (build-once via _EMB_CACHE, no mkdtemp leak per call) but not
        # shared across processes — two concurrent drivers on the same
        # sf_dir must not race one root's overwrite and serve a torn index
        root = os.path.join(
            tempfile.gettempdir(),
            "rrs_entry_ivf_%s_%d" % (sf_dir.strip("/").replace("/", "_"),
                                     os.getpid()))
        _EMB_CACHE[ikey] = S.ivf_build(emb, TableIO(root), n_clusters=8)
    ivf = _EMB_CACHE[ikey]
    return (S.ivf_topk(spark, ivf, probes, k=5, nprobe=8)
            .select("probe_id", "vec_id", "cosine", "rank"))


# ----------------------------------------------------------- multimodal

def q_mm_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (_load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
         .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload")))
    return (MM.media_metadata(d, "doc_id", "payload", "text/plain")
            .select("doc_id", "media_type", "n_bytes", "checksum"))


def q_mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary → fixed-dim feature plumbing (deterministic float64 fake
    kernel; real decode is stubbed — see ops/multimodal.py). Emitted as
    (doc_id, dim, value) rows — scalar columns the driver can sort/hash.
    SQL-oracled: DuckDB recomputes chunk-mean features from hex(blob)
    bytes with the same exact integer-sum/len + L2-normalize arithmetic."""
    d = (_load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
         .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload")))
    feats = MM.image_feature_frame(d, "doc_id", "payload", dim=16)
    return feats.select(
        "doc_id", F.posexplode("features").alias("dim", "value")
    ).select("doc_id", "dim", F.round("value", 6).alias("value"))


def q_txt_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit simhash signatures (md5-based token hash → the full simhash
    is DuckDB-expressible; python scalar parity also in pytest)."""
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select("doc_id", TS.simhash64_udf(F.col("text")).alias("simhash"))


# ----------------------------------------------- additional §2 operators

def q_spam_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 spam predicate — url-count + promo clauses (the repeat-char
    backreference clause is Java-regex-only; DuckDB's RE2 has no backrefs,
    so it is excluded from THIS oracle pair and covered byte-exactly in
    tests/test_normalize.py)."""
    d = _load(spark, sf_dir, "documents")
    url_count = F.size(F.regexp_extract_all(
        F.col("text"), F.lit(r"(?i)https?://\S+|www\.\S+"), 0))
    promo = F.col("text").rlike(
        r"(?i)(discount code|use code|sponsored|i received this.*free)")
    return d.select("doc_id", url_count.alias("n_urls"),
                    ((url_count >= 2) | promo).alias("spammy"))


def q_outer_join_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — outer join + compose-coalesce (nlp/12:119-141 pattern)."""
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    return (n.join(r, n.n_regionkey == r.r_regionkey, "outer")
            .select(F.coalesce(F.col("n_name"), F.lit("UNKNOWN"))
                    .alias("nation"),
                    F.coalesce(F.col("r_name"), F.lit("UNKNOWN"))
                    .alias("region")))


def q_argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — per-group argmax with first-max-wins tie-break (numpy argmax
    keeps the first maximum; app/test.py:211-215)."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"),
                                              F.asc("event_id"))
    return (e.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", "event_id", "value", "event_type"))


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 — TF-IDF top terms per group (cluster naming), over source
    groups of the documents table."""
    from review_recommender_spark.ops.clustering import tfidf_top_terms
    d = (_load(spark, sf_dir, "documents")
         .select("source", tokenize_k1_col(F.col("text")).alias("toks")))
    return tfidf_top_terms(d, "source", "toks", top_n=5)


def q_ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 KMeans over the embeddings table, verified on INVARIANTS
    (cluster ids are seed-deterministic but not SQL-derivable, so the
    oracle checks what SQL can check): exactly k non-empty clusters,
    every row assigned, and within-cluster SS strictly below the total SS
    around the global mean (the k=1 'clustering'; any non-degenerate k=8
    fit must beat it — per-cluster means minimize within-cluster SS).
    WSS/TSS are computed in-plan via posexplode → per-(cluster, dim)
    means → squared residual sums: pure JVM aggregations, no UDF."""
    from review_recommender_spark.ops.clustering import kmeans_clusters
    emb = _load(spark, sf_dir, "embeddings")
    out = kmeans_clusters(emb, "embedding", k=8, seed=42).cache()
    dims = out.select("cluster",
                      F.posexplode("embedding").alias("pos", "val"))
    cmean = dims.groupBy("cluster", "pos").agg(F.avg("val").alias("cmu"))
    gmean = dims.groupBy("pos").agg(F.avg("val").alias("gmu"))
    resid = (dims.join(cmean, ["cluster", "pos"]).join(gmean, "pos")
             .agg(F.sum((F.col("val") - F.col("cmu")) ** 2).alias("wss"),
                  F.sum((F.col("val") - F.col("gmu")) ** 2).alias("tss")))
    sizes = out.agg(F.countDistinct("cluster").alias("k_clusters"),
                    F.count("*").alias("n_assigned"))
    res = (sizes.crossJoin(resid)  # both sides are 1-row scalar frames
           .select("k_clusters", "n_assigned",
                   (F.col("wss") < F.col("tss")).alias("wss_lt_tss")))
    # materialize the 1-row scalar result NOW so the cached
    # exploded-embedding lineage can be released before the next entry
    # runs (a lingering cache distorts later bench phases the same way
    # InvertedIndex.unwarm() exists to prevent)
    row = res.collect()
    out.unpersist()
    return spark.createDataFrame(row, res.schema)


def q_hybrid_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship hybrid pipeline (dense hash-encoder pool +
    corpus-global BM25 + applyInPandas second-pass fusion) over the
    documents table. Driver-verified on RANK IDENTITY: the oracle SQL is
    a VALUES literal of (query_id, doc_id, rank) computed at call time by
    the INDEPENDENT single-process numpy oracle
    (oracle/search_oracle.py::hybrid_search_oracle — matmul + lexsort +
    BM25Okapi-replica + shared fusion kernel; the reference analogue is
    its end-to-end run_search integration test, tests/test_integration
    .py:16-84). Scores are float32 along the distributed path and carry
    ~1e-5 relative noise vs the float64 oracle, so they are deliberately
    NOT part of the hashed contract (a rounded score column would flake
    on rounding-boundary straddles); score-level parity is enforced at
    rtol=1e-5 by tests/test_secondpass.py."""
    from review_recommender_spark.query.encoder import embed_documents
    from review_recommender_spark.query.search import hybrid_search_batch

    idx = _doc_index(spark, sf_dir)
    docs = _load(spark, sf_dir, "documents")
    # embeddings + review embeddings persist per process (the engine
    # analogue of reading a persisted embeddings table instead of
    # re-embedding the corpus per query batch)
    if sf_dir not in _EMB_CACHE:
        _EMB_CACHE[sf_dir] = (embed_documents(docs.select("doc_id", "text"))
                              .select("doc_id", "embedding").cache())
    emb = _EMB_CACHE[sf_dir]
    meta = docs.select(
        "doc_id", F.col("text").alias("agg_text"),
        (F.col("doc_id") % 97).alias("n_reviews"),
        (1.0 + (F.col("doc_id") % 40) / 10.0).alias("avg_stars"))
    # synthetic review-level table (2 deterministic variants per doc) so the
    # R6 best-review signal is exercised end-to-end (app/test.py:181-215)
    base = docs.select("doc_id", "text")
    r1 = base.select("doc_id", (F.col("doc_id") * 2).alias("review_id"),
                     F.substring("text", 1, 120).alias("text"),
                     ((F.col("doc_id") % 5) + 1).cast("double").alias("stars"))
    r2 = base.select("doc_id", (F.col("doc_id") * 2 + 1).alias("review_id"),
                     F.substring("text", 60, 180).alias("text"),
                     ((F.col("doc_id") % 3) + 2).cast("double").alias("stars"))
    rkey = sf_dir + "::reviews"
    if rkey not in _EMB_CACHE:
        _EMB_CACHE[rkey] = embed_documents(r1.unionByName(r2)).cache()
    reviews = _EMB_CACHE[rkey]
    return (hybrid_search_batch(spark, idx, emb, meta,
                                list(HYBRID_QUERIES), k=10,
                                reviews_emb=reviews)
            .select("query_id", "doc_id", "rank"))


def q_joinability_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — data-quality joinability probe: sampled left join, fraction of
    matched keys must clear a threshold (test.py:209-217 pattern)."""
    # deterministic sample: first line of each order (a bare LIMIT draws
    # different rows in Spark vs DuckDB)
    li = _load(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    o = _load(spark, sf_dir, "orders")
    joined = li.join(o, li.l_orderkey == o.o_orderkey, "left")
    return joined.agg(
        F.count("*").alias("n"),
        F.round(F.avg(F.col("o_orderkey").isNotNull().cast("double")), 6)
        .alias("match_rate"))


def q_recent_vs_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — recent-vs-prior trend as two conditional aggregates (no self
    join; the Spark-first rewrite of _archive/07_aspect_metrics.py:44-46).
    Window = last 3 days relative to max(ts)."""
    e = _load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = e.agg((F.max(us) - 3 * 86400 * 1_000_000).alias("__cut"))
    recent = F.when(us >= F.col("__cut"), 1).otherwise(0)
    return (e.join(F.broadcast(cut))  # scalar cutoff, same action
            .groupBy("event_type")
            .agg(F.sum(recent).alias("n_recent"),
                 F.sum(1 - recent).alias("n_prior"),
                 F.round(F.avg(F.when(us >= F.col("__cut"), F.col("value"))),
                         4).alias("avg_value_recent")))


# ------------------------------------------------------ document build

def q_docbuild_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference nlp/10 document build (KPIs + ranked top-N ordered
    concat) driven over the events table shaped as reviews."""
    e = _load(spark, sf_dir, "events")
    reviews = e.select(
        F.col("event_id").cast("string").alias("id"),
        F.col("user_id").cast("string").alias("sku"),
        F.col("ts"),
        (F.floor("value").cast("int") % 5 + 1).alias("stars"),
        F.concat_ws(" ", "event_type", "props",
                    F.col("value").cast("string")).alias("text"))
    docs = ETL.build_documents(reviews, key="sku", max_per_key=5)
    return docs.select("sku", "n_reviews", "avg_stars", "last_ts", "agg_text")


def q_normalize_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed etl/02 ingest over two reference-shaped sources built
    from the events table: source 'alpha' is SNAP-shaped (reviewText /
    overall / asin / unixReviewTime / reviewerID, some ids blank to
    exercise the stable-id fallback), source 'beta' is kaggle-shaped
    (content / rating / product_id / string date / review_id) with ids
    overlapping alpha's to exercise first-source-wins dedup."""
    e = _load(spark, sf_dir, "events")
    secs = F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                   / 1_000_000).cast("long")
    alpha = e.select(
        F.concat_ws(" ", F.lit("review"), "event_type", "props")
        .alias("reviewText"),
        (F.col("event_id") % 6).cast("int").alias("overall"),
        F.col("user_id").cast("string").alias("asin"),
        secs.alias("unixReviewTime"),
        F.when(F.col("event_id") % 5 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("a"), F.col("event_id").cast("string")))
        .alias("reviewerID"))
    beta = e.filter(F.col("event_id") % 2 == 0).select(
        F.concat_ws(" ", F.lit("opinion"), "props", "event_type")
        .alias("content"),
        ((F.col("event_id") + 2) % 6).cast("int").alias("rating"),
        F.concat(F.lit("P"), F.col("user_id").cast("string"))
        .alias("product_id"),
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd HH:mm:ss")
        .alias("date"),
        F.when(F.col("event_id") % 4 == 0,
               F.concat(F.lit("a"), F.col("event_id").cast("string")))
        .otherwise(F.concat(F.lit("b"), F.col("event_id").cast("string")))
        .alias("review_id"))
    merged = ETL.normalize_merge([("alpha", alpha), ("beta", beta)])
    return merged.select("id", "sku", "ts", "stars", "source",
                         F.length("text").alias("text_len"))


# ---------------------------------------------------------------- contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 over sf0.001 documents via the real index."""
    return q_ft_bm25_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "ft_doc_stats": q_ft_doc_stats,
        "ft_corpus_stats": q_ft_corpus_stats,
        "ft_term_df": q_ft_term_df,
        "ft_term_idf": q_ft_term_idf,
        "ft_postings": q_ft_postings,
        "ft_bm25_topk": q_ft_bm25_topk,
        "ft_bm25_topk_served": q_ft_bm25_topk_served,
        "ft_bm25_topk_conjunctive": q_ft_bm25_topk_conjunctive,
        "ft_bm25_topk_conjunctive_served": q_ft_bm25_topk_conjunctive_served,
        "ft_bm25_topk_filtered": q_ft_bm25_topk_filtered,
        "ft_bm25_topk_filtered_served": q_ft_bm25_topk_filtered_served,
        "ft_phrase_match": q_ft_phrase_match,
        "ft_snippets": q_ft_snippets,
        "ft_bm25f_topk": q_ft_bm25f_topk,
        "ft_dsl_search": q_ft_dsl_search,
        "ft_dsl_facets": q_ft_dsl_facets,
        "ft_prefix_expand": q_ft_prefix_expand,
        "ft_fuzzy_expand": q_ft_fuzzy_expand,
        "ft_mlt_topk": q_ft_mlt_topk,
        "ft_dsl_wildcard": q_ft_dsl_wildcard,
        "ft_dsl_match_count": q_ft_dsl_match_count,
        "ft_bm25_boosted": q_ft_bm25_boosted,
        "ft_bm25_page2": q_ft_bm25_page2,
        "ft_explain_score": q_ft_explain_score,
        "ft_near_match": q_ft_near_match,
        "ft_topk_render": q_ft_topk_render,
        "ft_dismax_topk": q_ft_dismax_topk,
        "ft_facet_stats": q_ft_facet_stats,
        "ft_histogram": q_ft_histogram,
        "ft_top_hits": q_ft_top_hits,
        "ft_spell_suggest": q_ft_spell_suggest,
        "ft_term_vectors": q_ft_term_vectors,
        "ft_collapse_topk": q_ft_collapse_topk,
        "ft_significant_terms": q_ft_significant_terms,
        "ft_percolate": q_ft_percolate,
        "tpch_q1": q_tpch_q1,
        "top3_lineitems": q_top3_lineitems,
        "customer_order_totals": q_customer_order_totals,
        "semi_join_high_value": q_semi_join_high_value,
        "union_dedup": q_union_dedup,
        "minmax_price": q_minmax_price,
        "events_by_type": q_events_by_type,
        "events_hourly": q_events_hourly,
        "sessionize": q_sessionize,
        "running_total": q_running_total,
        "stable_id": q_stable_id,
        "recency_filter": q_recency_filter,
        "txt_quality": q_txt_quality,
        "txt_lang_id": q_txt_lang_id,
        "txt_fingerprint": q_txt_fingerprint,
        "txt_token_count": q_txt_token_count,
        "txt_simhash": q_txt_simhash,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_minhash_sig": q_dedup_minhash_sig,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "sim_cosine_topk": q_sim_cosine_topk,
        "sim_lsh_ann": q_sim_lsh_ann,
        "sim_ivf_ann": q_sim_ivf_ann,
        "mm_media_meta": q_mm_media_meta,
        "mm_image_features": q_mm_image_features,
        "docbuild_products": q_docbuild_products,
        "normalize_merge": q_normalize_merge,
        "spam_flags": q_spam_flags,
        "outer_join_coalesce": q_outer_join_coalesce,
        "argmax_per_group": q_argmax_per_group,
        "tfidf_top_terms": q_tfidf_top_terms,
        "ml_kmeans": q_ml_kmeans,
        "joinability_probe": q_joinability_probe,
        "recent_vs_prior": q_recent_vs_prior,
        "hybrid_search_topk": q_hybrid_search_topk,
    }


# ------------------------------------------------------------- oracle SQL

K1SQL = k1_sql_duckdb("text")

_FT_BASE = f"""
WITH toks AS (SELECT doc_id, {K1SQL} AS toks FROM documents),
doclen AS (SELECT doc_id, len(toks) AS dl FROM toks),
stats AS (SELECT count(*) AS n, sum(dl)::double / count(*) AS avgdl,
                 sum(dl)::bigint AS total FROM doclen),
tf AS (SELECT doc_id, unnest(toks) AS term FROM toks),
tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY doc_id, term),
dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
idf_raw AS (SELECT term, df,
                   ln((SELECT n FROM stats) - df + 0.5) - ln(df + 0.5) AS raw
            FROM dfc),
avgidf AS (SELECT avg(raw) AS av FROM idf_raw),
idf AS (SELECT term, df,
               CASE WHEN raw < 0 THEN 0.25 * (SELECT av FROM avgidf)
                    ELSE raw END AS idf
        FROM idf_raw)
"""


def _explain_sql(query: str, k1: float, b: float, doc_id: int) -> str:
    """SQL twin of ``query.bm25.explain_score``: per matched query term,
    the doc's tf/dl, the ε-fixup idf, and idf·qtf·unit."""
    qtf = Counter(tokenize_k2_py(query))
    vals = ", ".join(f"('{t}', {n})" for t, n in sorted(qtf.items()))
    return f"""{_FT_BASE},
q(term, qtf) AS (VALUES {vals})
SELECT tfc.term, q.qtf, tfc.tf, doclen.dl,
       round(idf.idf, 6) AS idf,
       round(idf.idf * q.qtf * tfc.tf * ({k1} + 1)
             / (tfc.tf + {k1} * (1 - {b} + {b} * doclen.dl
                                 / (SELECT avgdl FROM stats))), 6)
       AS contribution
FROM q JOIN idf USING (term) JOIN tfc USING (term)
       JOIN doclen ON tfc.doc_id = doclen.doc_id
WHERE tfc.doc_id = {doc_id}
ORDER BY contribution DESC, tfc.term"""


def _dismax_sql(query: str, k1: float, b: float, k: int,
                title_len: int, w0: float, w1: float, tie: float) -> str:
    """SQL twin of ``query.bm25f.dismax_topk`` over the title/body
    split: each field an INDEPENDENT plain BM25 (own df / ε-fixup idf /
    avgdl over ALL docs), per-doc max + tie·other (2-field identity:
    sum − max = min)."""
    qtf = Counter(tokenize_k2_py(query))
    vals = ", ".join(f"('{t}', {n})" for t, n in sorted(qtf.items()))

    def fld(fid: int, sl: str) -> str:
        return f"""
t{fid} AS (SELECT doc_id, {sl} AS t FROM dtoks),
dl{fid} AS (SELECT doc_id, len(t) AS dl FROM t{fid}),
st{fid} AS (SELECT sum(dl)::double / (SELECT n FROM nn) AS avgdl
            FROM dl{fid}),
tf{fid} AS (SELECT doc_id, term, count(*) AS tf FROM
            (SELECT doc_id, unnest(t) AS term FROM t{fid})
            GROUP BY doc_id, term),
df{fid} AS (SELECT term, count(*) AS df FROM tf{fid} GROUP BY term),
ir{fid} AS (SELECT term, ln((SELECT n FROM nn) - df + 0.5)
                         - ln(df + 0.5) AS raw FROM df{fid}),
av{fid} AS (SELECT avg(raw) AS av FROM ir{fid}),
idf{fid} AS (SELECT term, CASE WHEN raw < 0
                               THEN 0.25 * (SELECT av FROM av{fid})
                               ELSE raw END AS idf FROM ir{fid}),
s{fid} AS (SELECT tf{fid}.doc_id,
                  sum(idf{fid}.idf * q.qtf * tf{fid}.tf * ({k1} + 1)
                      / (tf{fid}.tf + {k1} * (1 - {b} + {b} * dl{fid}.dl
                         / (SELECT avgdl FROM st{fid})))) AS s
           FROM q JOIN idf{fid} USING (term) JOIN tf{fid} USING (term)
                  JOIN dl{fid} ON tf{fid}.doc_id = dl{fid}.doc_id
           GROUP BY tf{fid}.doc_id)"""

    return f"""
WITH dtoks AS (SELECT doc_id, {K1SQL} AS toks FROM documents),
nn AS (SELECT count(*) AS n FROM documents),
q(term, qtf) AS (VALUES {vals}),{fld(0, f"list_slice(toks, 1, {title_len})")},{fld(1, f"list_slice(toks, {title_len} + 1, 100000000)")},
m AS (SELECT coalesce(s0.doc_id, s1.doc_id) AS doc_id,
             {w0} * coalesce(s0.s, 0) AS a,
             {w1} * coalesce(s1.s, 0) AS bb
      FROM s0 FULL OUTER JOIN s1 ON s0.doc_id = s1.doc_id)
SELECT doc_id, round(greatest(a, bb) + {tie} * least(a, bb), 4) AS score
FROM m
ORDER BY greatest(a, bb) + {tie} * least(a, bb) DESC, doc_id
LIMIT {k}"""


def _percolate_sql(doc_id: int) -> str:
    """SQL twin of ``query.percolate.percolate`` over the PERC_RULES
    literal (pre-parsed with the same tokenizers at import time)."""
    from review_recommender_spark.query.parser import parse_query
    rows = []
    for qid, q in PERC_RULES:
        pq = parse_query(q)

        def lst(xs):
            return ("[" + ", ".join("'" + x.replace("'", "''") + "'"
                                    for x in xs) + "]::VARCHAR[]")
        rows.append(
            f"({qid}, "
            f"{lst(tokenize_k2_py(' '.join(pq.free)))}, "
            f"{lst([t for w in pq.required for t in tokenize_k1_py(w)])}, "
            f"{lst([t for w in pq.excluded for t in tokenize_k1_py(w)])}, "
            f"{lst([' '.join(tokenize_k1_py(p)) for p in pq.phrases])})")
    vals = ",\n       ".join(rows)
    return f"""
WITH d AS (SELECT {K1SQL} AS toks FROM documents WHERE doc_id = {doc_id}),
ds AS (SELECT list_distinct(toks) AS tset,
              ' ' || array_to_string(toks, ' ') || ' ' AS stream FROM d),
q(query_id, ranking, required, excluded, phrases) AS (VALUES
       {vals})
SELECT query_id,
       len(list_intersect(ranking, tset))::BIGINT AS n_ranking_hits
FROM q CROSS JOIN ds
WHERE (len(list_intersect(ranking, tset)) > 0
       OR (len(ranking) = 0
           AND (len(phrases) > 0 OR len(required) > 0)))
  AND len(list_filter(required,
          t -> NOT list_contains(tset, t))) = 0
  AND len(list_filter(excluded,
          t -> list_contains(tset, t))) = 0
  AND len(list_filter(phrases,
          p -> NOT contains(stream, ' ' || p || ' '))) = 0
ORDER BY n_ranking_hits DESC, query_id"""


def _bm25_sql(query: str, k1: float, b: float, k: int,
              doc_where: str | None = None,
              min_match: int | None = None,
              boost_expr: str | None = None) -> str:
    """``doc_where`` (optional SQL predicate over the documents table):
    filtered retrieval — scores are restricted to matching docs BEFORE
    the LIMIT, mirroring the engine's before-top-k filter contract.
    ``min_match``: minimum-should-match — a HAVING over the per-doc
    distinct matched-term count, the SQL twin of the engine's
    before-top-k conjunctive constraint. ``boost_expr`` (optional SQL
    expression over doc_id): static per-doc score multiplier applied
    after the fold, before top-k — the engine's boost_docs contract."""
    qtf = Counter(tokenize_k2_py(query))
    vals = ", ".join(f"('{t}', {n})" for t, n in sorted(qtf.items()))
    flt = (f"WHERE doc_id IN (SELECT doc_id FROM documents "
           f"WHERE {doc_where}) " if doc_where else "")
    having = (f"HAVING count(DISTINCT tfc.term) >= {min_match}"
              if min_match is not None and min_match > 1 else "")
    sexpr = f"s * ({boost_expr})" if boost_expr else "s"
    return f"""{_FT_BASE},
q(term, qtf) AS (VALUES {vals}),
scores AS (
  SELECT tfc.doc_id,
         sum(idf.idf * q.qtf * tfc.tf * ({k1} + 1)
             / (tfc.tf + {k1} * (1 - {b} + {b} * doclen.dl
                                 / (SELECT avgdl FROM stats)))) AS s
  FROM q JOIN idf USING (term) JOIN tfc USING (term)
         JOIN doclen ON tfc.doc_id = doclen.doc_id
  GROUP BY tfc.doc_id {having})
SELECT doc_id, round({sexpr}, 4) AS score FROM scores {flt}
ORDER BY {sexpr} DESC, doc_id LIMIT {k}"""


def _phrase_sql(phrase: str, k: int) -> str:
    """SQL twin of ``index.positions.phrase_match``: K1-tokenize every doc
    (same chain as the engine's Stage A), slide an n-gram window, count
    exact consecutive matches per doc. Same (n_occ desc, doc_id asc)
    order, same LIMIT."""
    from review_recommender_spark.functions.tokenize import tokenize_k1_py
    ptoks = tokenize_k1_py(phrase)
    n = len(ptoks)
    lit = " ".join(ptoks).replace("'", "''")
    return f"""
WITH toks AS (SELECT doc_id, {K1SQL} AS toks FROM documents),
grams AS (SELECT doc_id,
                 unnest(list_transform(
                     generate_series(1, greatest(len(toks) - {n - 1}, 0)),
                     i -> array_to_string(list_slice(toks, i, i + {n - 1}),
                                          ' '))) AS gram
          FROM toks)
SELECT doc_id, count(*)::BIGINT AS n_occ FROM grams
WHERE gram = '{lit}'
GROUP BY doc_id ORDER BY n_occ DESC, doc_id LIMIT {k}"""


def _bm25f_sql(query: str, k1: float, b: float, k: int,
               title_len: int, w0: float, w1: float) -> str:
    """SQL twin of ``query.bm25f.bm25f_topk`` over the title/body split:
    per-field tf and dl from token slices, per-field avgdl, doc-level df
    (ANY field) with the ε-fixup idf, w = w0·tf0/B0 + w1·tf1/B1, score =
    Σ idf·qtf·w·(k1+1)/(k1+w)."""
    qtf = Counter(tokenize_k2_py(query))
    vals = ", ".join(f"('{t}', {n})" for t, n in sorted(qtf.items()))
    return f"""
WITH dtoks AS (SELECT doc_id, {K1SQL} AS toks FROM documents),
nn AS (SELECT count(*) AS n FROM dtoks),
fld AS (
  SELECT doc_id, 0 AS fid, list_slice(toks, 1, {title_len}) AS t
  FROM dtoks
  UNION ALL
  SELECT doc_id, 1 AS fid, list_slice(toks, {title_len} + 1, len(toks)) AS t
  FROM dtoks),
occ AS (SELECT doc_id, fid, unnest(t) AS term FROM fld),
tfc AS (SELECT doc_id, fid, term, count(*)::DOUBLE AS tf
        FROM occ GROUP BY doc_id, fid, term),
dl AS (SELECT doc_id, fid, len(t)::DOUBLE AS dl FROM fld),
av AS (SELECT fid, avg(dl) AS avgdl FROM dl GROUP BY fid),
dfc AS (SELECT term, count(DISTINCT doc_id) AS df FROM occ GROUP BY term),
idf_raw AS (SELECT term,
                   ln((SELECT n FROM nn) - df + 0.5) - ln(df + 0.5) AS raw
            FROM dfc),
avgidf AS (SELECT avg(raw) AS avr FROM idf_raw),
idf AS (SELECT term,
               CASE WHEN raw < 0 THEN 0.25 * (SELECT avr FROM avgidf)
                    ELSE raw END AS idf
        FROM idf_raw),
q(term, qtf) AS (VALUES {vals}),
tfn AS (SELECT tfc.doc_id, tfc.term, tfc.fid,
               tfc.tf / (1 - {b} + {b} * dl.dl / av.avgdl) AS tfn
        FROM tfc JOIN dl ON tfc.doc_id = dl.doc_id AND tfc.fid = dl.fid
                 JOIN av ON tfc.fid = av.fid),
w AS (SELECT doc_id, term,
             sum(CASE WHEN fid = 0 THEN {w0} ELSE {w1} END * tfn) AS w
      FROM tfn GROUP BY doc_id, term),
scores AS (SELECT w.doc_id,
                  sum(idf.idf * q.qtf * w.w * ({k1} + 1)
                      / ({k1} + w.w)) AS s
           FROM q JOIN idf USING (term) JOIN w USING (term)
           GROUP BY w.doc_id)
SELECT doc_id, round(s, 4) AS score FROM scores
ORDER BY s DESC, doc_id LIMIT {k}"""


def _snippet_sql(query: str, k1: float, b: float, k: int,
                 window: int) -> str:
    """SQL twin of ``query.snippets.snippet_spans`` over the BM25 top-k
    doc set: recompute the top-k (same CTEs as ``_bm25_sql``), retokenize
    those docs, enumerate hit-anchored ``window``-token spans via a
    hits×hits self-join (bounded: k docs × query-term occurrences), and
    pick per doc the (distinct desc, hits desc, start asc) winner."""
    qtf = Counter(tokenize_k2_py(query))
    vals = ", ".join(f"('{t}', {n})" for t, n in sorted(qtf.items()))
    return f"""{_FT_BASE},
q(term, qtf) AS (VALUES {vals}),
scores AS (
  SELECT tfc.doc_id,
         sum(idf.idf * q.qtf * tfc.tf * ({k1} + 1)
             / (tfc.tf + {k1} * (1 - {b} + {b} * doclen.dl
                                 / (SELECT avgdl FROM stats)))) AS s
  FROM q JOIN idf USING (term) JOIN tfc USING (term)
         JOIN doclen ON tfc.doc_id = doclen.doc_id
  GROUP BY tfc.doc_id),
docset AS (SELECT doc_id FROM scores ORDER BY s DESC, doc_id LIMIT {k}),
dtoks AS (SELECT doc_id, {K1SQL} AS toks FROM documents
          WHERE doc_id IN (SELECT doc_id FROM docset)),
hits AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
         FROM (SELECT doc_id, toks,
                      unnest(generate_series(1, len(toks))) AS i
               FROM dtoks)
         WHERE toks[i] IN (SELECT term FROM q)),
wins AS (SELECT a.doc_id, a.pos AS s,
                count(DISTINCT h.tok) AS nd, count(*) AS nh,
                array_to_string(list_sort(array_agg(h.pos)), ',') AS hp
         FROM hits a JOIN hits h ON a.doc_id = h.doc_id
              AND h.pos >= a.pos AND h.pos < a.pos + {window}
         GROUP BY a.doc_id, a.pos),
best AS (SELECT doc_id, s, nd, nh, hp,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY nd DESC, nh DESC, s ASC) AS rn
         FROM wins)
SELECT doc_id, s::BIGINT AS snippet_start, nd::BIGINT AS n_distinct,
       nh::BIGINT AS n_hits, hp AS hit_pos
FROM best WHERE rn = 1 ORDER BY doc_id"""


_LANG_HITS = {
    lang: ("len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), "
           f"t -> t IN ({', '.join(repr(w) for w in ws)})))")
    for lang, ws in TS.LANG_STOPWORDS.items()
}

_MINHASH_SHINGLES = (
    f"list_transform(generate_series(1, greatest(len({K1SQL}) - 2, 0)), "
    f"i -> array_to_string(list_slice({K1SQL}, i, i + 2), ' '))")


def _minhash_lsh_sql(k: int = 16, bands: int = 4, rows_per_band: int = 4,
                     dup_below: int = 20) -> str:
    params = D.minhash_params(k)
    aggs = ", ".join(
        f"min(({a} * h + {b}) % {D.MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(params))
    band_conds = " OR ".join(
        "(" + " AND ".join(
            f"a.mh_{band * rows_per_band + r} = b.mh_{band * rows_per_band + r}"
            for r in range(rows_per_band)) + ")"
        for band in range(bands))
    return f"""
WITH uni AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < {dup_below}),
sh AS (SELECT doc_id AS mh_id, unnest({_MINHASH_SHINGLES}) AS shingle
       FROM uni),
hashed AS (SELECT mh_id,
                  ('0x' || substr(md5(shingle), 1, 8))::bigint
                  % {D.MINHASH_PRIME} AS h
           FROM sh),
sigs AS (SELECT mh_id, {aggs} FROM hashed GROUP BY mh_id)
SELECT DISTINCT a.mh_id AS id_a, b.mh_id AS id_b
FROM sigs a JOIN sigs b ON a.mh_id < b.mh_id
WHERE {band_conds}"""


def _lsh_ann_sql(n_planes: int, bands: int, k: int, dim: int = 64) -> str:
    """SQL twin of ``S.lsh_cosine_topk``: the seed-deterministic
    hyperplanes become literal (plane, idx, coef) VALUES rows; band
    signatures, the any-band bucket join, and double-precision exact
    rescoring are then plain SQL. Spark's fold and SQL's sum add the 64
    double products in different orders, so a dot within ~1ulp of zero
    could flip a signature bit — negligible for O(1)-magnitude dots."""
    planes = S.hyperplanes(dim, n_planes)
    per_band = n_planes // bands
    vals = ", ".join(
        f"({p}, {i + 1}, {float(planes[p, i])!r})"
        for p in range(n_planes) for i in range(dim))
    return f"""
WITH planes_t(p, i, c) AS (VALUES {vals}),
ev AS (SELECT vec_id, embedding::double[] AS e FROM embeddings),
dots AS (
  SELECT v.vec_id, pl.p, sum(v.e[pl.i] * pl.c) AS dot
  FROM ev v CROSS JOIN planes_t pl
  GROUP BY v.vec_id, pl.p),
sigs AS (
  SELECT vec_id, p // {per_band} AS band,
         sum(CASE WHEN dot > 0 THEN (1 << (p % {per_band})) ELSE 0 END)
         AS sig
  FROM dots GROUP BY vec_id, p // {per_band}),
cand AS (
  SELECT DISTINCT pr.vec_id AS probe_id, v.vec_id
  FROM sigs v JOIN sigs pr ON v.band = pr.band AND v.sig = pr.sig
  WHERE pr.vec_id IN (0, 1, 2)),
scored AS (
  SELECT c.probe_id, c.vec_id,
         round(
           (SELECT sum(x * y) FROM (SELECT unnest(e.embedding::double[]) AS x,
                                           unnest(p.embedding::double[]) AS y))
           / greatest(
               sqrt((SELECT sum(x * x)
                     FROM (SELECT unnest(e.embedding::double[]) AS x)))
               * sqrt((SELECT sum(y * y)
                       FROM (SELECT unnest(p.embedding::double[]) AS y))),
               1e-12), 6) AS cosine
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN embeddings p ON p.vec_id = c.probe_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                  ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
SELECT probe_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}"""


def _minhash_sql(k: int, max_id: int) -> str:
    params = D.minhash_params(k)
    aggs = ", ".join(
        f"min(({a} * h + {b}) % {D.MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(params))
    return f"""
WITH sh AS (SELECT doc_id AS mh_id, unnest({_MINHASH_SHINGLES}) AS shingle
            FROM documents WHERE doc_id < {max_id}),
hashed AS (SELECT mh_id,
                  ('0x' || substr(md5(shingle), 1, 8))::bigint
                  % {D.MINHASH_PRIME} AS h
           FROM sh)
SELECT mh_id, {aggs} FROM hashed GROUP BY mh_id"""


def _hybrid_oracle_sql(sf_dir: str | None = None) -> str:
    """Driver-verifiable oracle for ``hybrid_search_topk``: runs the
    INDEPENDENT single-process numpy oracle (matmul + lexsort pool +
    BM25Okapi-replica + the shared fusion kernel,
    oracle/search_oracle.py) over the same documents table and synthetic
    reviews the Spark entry builds, and emits the expected
    (query_id, doc_id, rank) rows as a VALUES literal DuckDB can run.
    This verifies the DISTRIBUTED orchestration (Arrow preselect, posting
    joins, bestrev argmax, applyInPandas grouping) against a straight-line
    pandas composition — the failure class a distributed rewrite actually
    risks. Rank identity only; float32 scores carry ~1e-5 noise vs the
    float64 oracle and are gated at rtol=1e-5 in pytest instead (see
    q_hybrid_search_topk docstring).

    Rank-flake margin (audited): the smallest adjacent _final gap in the
    top-12 of any (sf0.001, sf0.01) × query combination is 2.6e-4 —
    ~26× the cross-path score noise — so engine-vs-oracle rank disagreement
    would need a score divergence far outside the pytest-gated envelope.
    If corpora ever change, re-run that margin sweep before trusting a
    mismatch report."""
    import numpy as np
    import pandas as pd

    from review_recommender_spark.config import cli_profile
    from review_recommender_spark.oracle.search_oracle import \
        hybrid_search_oracle
    from review_recommender_spark.query.encoder import encode_batch

    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                                      "/root/testdata/sf0.01")
    if sf_dir in _HYBRID_ORACLE_CACHE:
        return _HYBRID_ORACLE_CACHE[sf_dir]
    docs = (pd.read_parquet(_t(sf_dir, "documents"),
                            columns=["doc_id", "text"])
            .sort_values("doc_id").reset_index(drop=True))
    ids = docs["doc_id"].to_numpy()
    texts = docs["text"].fillna("").tolist()
    meta = pd.DataFrame({
        "doc_id": ids,
        "n_reviews": ids % 97,
        "avg_stars": 1.0 + (ids % 40) / 10.0,
    })
    # same 2 deterministic review variants per doc as the Spark entry
    # (Spark substring(text, 60, 180) is 1-based → text[59:59+180])
    rev_rows = []
    for doc_id, text in zip(ids, texts):
        rev_rows.append((int(doc_id), int(doc_id) * 2, text[:120],
                         float(doc_id % 5 + 1)))
        rev_rows.append((int(doc_id), int(doc_id) * 2 + 1, text[59:239],
                         float(doc_id % 3 + 2)))
    reviews = pd.DataFrame(rev_rows,
                           columns=["doc_id", "review_id", "text", "stars"])
    rvecs = encode_batch(reviews["text"].tolist())
    reviews["embedding"] = [np.asarray(v) for v in rvecs]

    vals = []
    for qi, q in enumerate(HYBRID_QUERIES):
        top = hybrid_search_oracle(texts, meta, q, cli_profile(),
                                   bm25_north(), k=10, reviews=reviews)
        for rank, doc_id in enumerate(top["doc_id"].tolist(), start=1):
            vals.append(f"({qi}, {int(doc_id)}, {rank})")
    sql = ("SELECT * FROM (VALUES " + ", ".join(vals)
           + ") AS t(query_id, doc_id, rank) ORDER BY query_id, rank")
    _HYBRID_ORACLE_CACHE[sf_dir] = sql
    return sql


# the hybrid oracle is the one oracle_sql() entry that COMPUTES (reads
# the documents parquet + runs the numpy oracle) instead of formatting a
# string; memoized per sf_dir so repeated oracle_sql() calls pay it once
_HYBRID_ORACLE_CACHE: dict[str, str] = {}


def oracle_sql() -> dict[str, str]:
    ws_count = ("CASE WHEN trim(text) = '' THEN 0 ELSE "
                "len(regexp_split_to_array(trim(text), '\\s+')) END")
    en = ", ".join(repr(w) for w in TS.LANG_STOPWORDS["en"])
    quality = f"""
WITH feat AS (
  SELECT doc_id,
         length(text) AS n_chars,
         {ws_count} AS n_words,
         len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
         len(regexp_extract_all(text, '[0-9]')) AS n_digit,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         t -> t IN ({en}))) AS stop_hits
  FROM documents)
SELECT doc_id, n_words,
       round(n_punct::double / greatest(n_chars, 1), 6) AS punct_ratio,
       round(stop_hits::double / greatest(n_words, 1), 6) AS stop_ratio,
       round(0.3 * (n_chars BETWEEN 10 AND 100000)::int
           + 0.2 * (n_chars::double / greatest(n_words, 1) BETWEEN 3 AND 12)::int
           + 0.2 * (n_punct::double / greatest(n_chars, 1) < 0.2)::int
           + 0.1 * (n_digit::double / greatest(n_chars, 1) < 0.3)::int
           + 0.2 * least(stop_hits::double / greatest(n_words, 1) * 5, 1.0),
           6) AS quality_score
FROM feat"""

    langs = sorted(TS.LANG_STOPWORDS)
    lang_case = " ".join(
        f"WHEN {_LANG_HITS[lang]} = best THEN '{lang}'" for lang in langs)
    lang_sql = f"""
WITH h AS (SELECT doc_id, text,
                  greatest({', '.join(_LANG_HITS[lang] for lang in langs)})
                  AS best
           FROM documents)
SELECT doc_id, CASE WHEN best = 0 THEN 'und' {lang_case} ELSE 'und' END
       AS lang_pred FROM h"""

    jacc_shingles = ("list_distinct(list_transform("
                     f"generate_series(1, greatest(len({K1SQL}) - 2, 0)), "
                     f"i -> array_to_string(list_slice({K1SQL}, i, i + 2), ' ')))")

    out = {
        "ft_doc_stats": f"SELECT doc_id, len({K1SQL}) AS doc_len FROM documents",
        "ft_corpus_stats": _FT_BASE + """
SELECT (SELECT n FROM stats) AS n_docs,
       (SELECT total FROM stats) AS total_tokens,
       round((SELECT avgdl FROM stats), 6) AS avgdl,
       (SELECT count(*) FROM dfc) AS vocab_size""",
        "ft_term_df": _FT_BASE + """
SELECT term, df FROM dfc ORDER BY df DESC, term LIMIT 100""",
        "ft_term_idf": _FT_BASE + """
SELECT term, df, round(idf, 6) AS idf FROM idf WHERE df >= 50""",
        "ft_postings": _FT_BASE + f"""
SELECT term, doc_id, tf FROM tfc
WHERE term IN ({', '.join(repr(t) for t in PROBE_TERMS)})""",
        "ft_bm25_topk": _bm25_sql(BM25_QUERY, 1.2, 0.75, BM25_K),
        "ft_bm25_topk_conjunctive": _bm25_sql(
            BM25_QUERY, 1.2, 0.75, BM25_K, min_match=CONJ_MIN_MATCH),
        "ft_bm25_topk_conjunctive_served": _bm25_sql(
            BM25_QUERY, 1.2, 0.75, BM25_K, min_match=CONJ_MIN_MATCH),
        "ft_bm25_topk_filtered": _bm25_sql(BM25_QUERY, 1.2, 0.75, BM25_K,
                                           doc_where="lang = 'en'"),
        "ft_phrase_match": _phrase_sql(PHRASE_QUERY, 100),
        "ft_snippets": _snippet_sql(SNIPPET_QUERY, 1.2, 0.75, BM25_K,
                                    SNIPPET_WINDOW),
        "ft_bm25f_topk": _bm25f_sql(BM25F_QUERY, 1.2, 0.75, BM25_K,
                                    BM25F_TITLE_LEN, *BM25F_WEIGHTS),
        # DSL 'scan "part filter" -vector': rank the word sequence, MUST
        # contain the consecutive phrase, MUST NOT contain 'vector'
        "ft_dsl_search": _bm25_sql(
            "scan part filter", 1.2, 0.75, BM25_K,
            doc_where=(
                f"len(list_filter({K1SQL}, t -> t = 'vector')) = 0 "
                f"AND doc_id IN (SELECT doc_id FROM ("
                f"SELECT doc_id, unnest(list_transform("
                f"generate_series(1, greatest(len({K1SQL}) - 1, 0)), "
                f"i -> array_to_string(list_slice({K1SQL}, i, i + 1), ' ')"
                f")) AS gram FROM documents) WHERE gram = 'part filter')")),
        # facet panel over the same DSL match set: ≥1 ranking term,
        # phrase present, no 'vector' → counts per lang
        "ft_dsl_facets": f"""
WITH m AS (
  SELECT doc_id, lang FROM (SELECT doc_id, lang, {K1SQL} AS toks
                            FROM documents)
  WHERE len(list_filter(toks,
            t -> t IN ('scan', 'part', 'filter'))) > 0
    AND len(list_filter(toks, t -> t = 'vector')) = 0
    AND doc_id IN (SELECT doc_id FROM (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, greatest(len({K1SQL}) - 1, 0)),
        i -> array_to_string(list_slice({K1SQL}, i, i + 1), ' ')
      )) AS gram FROM documents) WHERE gram = 'part filter'))
SELECT lang AS value, count(*)::BIGINT AS n_docs FROM m
GROUP BY lang ORDER BY n_docs DESC, value LIMIT 50""",
        # 's*' prefix rewrite: df-top completions from the retokenized
        # vocabulary, rewrite order materialized as rank
        "ft_prefix_expand": _FT_BASE + f"""
SELECT row_number() OVER (ORDER BY df DESC, term) AS rank, term, df
FROM dfc WHERE term LIKE '{PREFIX_PAT}%'
ORDER BY df DESC, term LIMIT {PREFIX_CAP}""",
        # 'spart~' fuzzy rewrite: Levenshtein-1 vocabulary neighbours,
        # (distance, df DESC, term) order
        "ft_fuzzy_expand": _FT_BASE + f"""
SELECT row_number() OVER (ORDER BY levenshtein(term, '{FUZZY_WORD}'),
                          df DESC, term) AS rank,
       term, levenshtein(term, '{FUZZY_WORD}')::BIGINT AS dist
FROM dfc WHERE levenshtein(term, '{FUZZY_WORD}') <= 1
ORDER BY dist, df DESC, term LIMIT 8""",
        # more-like-this: doc 42's top-8 terms by tf·idf (engine idf,
        # ε-fixup included), each ranking once, source doc excluded
        "ft_mlt_topk": _FT_BASE + f""",
stf AS (SELECT term, count(*) AS tf FROM tf
        WHERE doc_id = {MLT_DOC_ID} GROUP BY term),
mlt AS (SELECT stf.term FROM stf JOIN idf USING (term)
        ORDER BY stf.tf * idf.idf DESC, stf.term LIMIT {MLT_MAX_TERMS}),
scores AS (
  SELECT tfc.doc_id,
         sum(idf.idf * tfc.tf * (1.2 + 1)
             / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * doclen.dl
                                / (SELECT avgdl FROM stats)))) AS s
  FROM mlt JOIN idf USING (term) JOIN tfc USING (term)
           JOIN doclen ON tfc.doc_id = doclen.doc_id
  WHERE tfc.doc_id <> {MLT_DOC_ID}
  GROUP BY tfc.doc_id)
SELECT doc_id, round(s, 4) AS score FROM scores
ORDER BY s DESC, doc_id LIMIT {BM25_K}""",
        # DSL 'join merg~ +s* -dup': expansions join the scoring
        # multiset; '+s*' = must contain ANY s-expansion, '-dup' = must
        # not contain 'dup'
        "ft_dsl_wildcard": _FT_BASE + f""",
exp AS (SELECT term FROM dfc WHERE term LIKE 's%'
        ORDER BY df DESC, term LIMIT 32),
fz AS (SELECT term FROM dfc WHERE levenshtein(term, 'merg') <= 1
       ORDER BY levenshtein(term, 'merg'), df DESC, term LIMIT 8),
q AS (SELECT term, count(*)::BIGINT AS qtf FROM (
        SELECT 'join' AS term UNION ALL
        SELECT term FROM exp UNION ALL
        SELECT term FROM fz) u GROUP BY term),
scores AS (
  SELECT tfc.doc_id,
         sum(idf.idf * q.qtf * tfc.tf * (1.2 + 1)
             / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * doclen.dl
                                / (SELECT avgdl FROM stats)))) AS s
  FROM q JOIN idf USING (term) JOIN tfc USING (term)
         JOIN doclen ON tfc.doc_id = doclen.doc_id
  GROUP BY tfc.doc_id)
SELECT doc_id, round(s, 4) AS score FROM scores
WHERE doc_id IN (SELECT DISTINCT tfc.doc_id FROM tfc JOIN exp USING (term))
  AND doc_id NOT IN (SELECT doc_id FROM tfc WHERE term = 'dup')
ORDER BY s DESC, doc_id LIMIT {BM25_K}""",
        # total-hits count over the same wildcard query's boolean match
        # set: any ranking term AND any s-expansion AND NOT 'dup'
        "ft_dsl_match_count": _FT_BASE + """,
exp AS (SELECT term FROM dfc WHERE term LIKE 's%'
        ORDER BY df DESC, term LIMIT 32),
fz AS (SELECT term FROM dfc WHERE levenshtein(term, 'merg') <= 1
       ORDER BY levenshtein(term, 'merg'), df DESC, term LIMIT 8),
qt AS (SELECT DISTINCT term FROM (
         SELECT 'join' AS term UNION ALL
         SELECT term FROM exp UNION ALL
         SELECT term FROM fz) u),
m AS (SELECT DISTINCT tfc.doc_id FROM tfc JOIN qt USING (term)
      WHERE tfc.doc_id IN (SELECT DISTINCT tfc.doc_id
                           FROM tfc JOIN exp USING (term))
        AND tfc.doc_id NOT IN (SELECT doc_id FROM tfc
                               WHERE term = 'dup'))
SELECT count(*)::BIGINT AS n_hits FROM m""",
        # percolation: stored rules triggered by doc 7
        "ft_percolate": _percolate_sql(PERC_DOC_ID),
        # significant terms vs corpus background for the 'dup' doc set
        "ft_significant_terms": _FT_BASE + f""",
fgset AS (SELECT DISTINCT doc_id FROM tfc WHERE term = '{SIGTERM_FG}'),
nfg AS (SELECT count(*) AS c FROM fgset),
fg AS (SELECT term, count(*) AS fg_count FROM tfc
       JOIN fgset USING (doc_id) GROUP BY term
       HAVING count(*) >= 2)
SELECT fg.term, fg.fg_count, dfc.df,
       round((fg.fg_count::double / (SELECT c FROM nfg)
              - dfc.df::double / (SELECT n FROM stats))
             * ((fg.fg_count::double / (SELECT c FROM nfg))
                / (dfc.df::double / (SELECT n FROM stats))), 6) AS jlh
FROM fg JOIN dfc USING (term)
ORDER BY jlh DESC, fg.term LIMIT 15""",
        # field collapsing: best doc per source, then global top-k
        "ft_collapse_topk": _bm25_sql(BM25_QUERY, 1.2, 0.75, 10 ** 9)
        .replace("SELECT doc_id, round(s, 4) AS score FROM scores ",
                 "SELECT doc_id, round(s, 4) AS score, value FROM ("
                 "SELECT doc_id, s, source AS value, "
                 "row_number() OVER (PARTITION BY source "
                 "ORDER BY s DESC, doc_id) AS r "
                 "FROM scores JOIN documents USING (doc_id)) WHERE r = 1 ")
        .replace("LIMIT 1000000000", f"LIMIT {BM25_K}"),
        # term vectors point read for doc 7
        "ft_term_vectors": f"""
WITH t AS (SELECT {K1SQL} AS toks FROM documents
           WHERE doc_id = {EXPLAIN_DOC_ID}),
p AS (SELECT unnest(toks) AS term,
             unnest(generate_series(1, len(toks))) AS pos FROM t)
SELECT term, count(*)::BIGINT AS tf,
       array_to_string(list_sort(list(pos - 1)), ',') AS positions
FROM p GROUP BY term ORDER BY term""",
        # did-you-mean per unknown query token
        "ft_spell_suggest": _FT_BASE + f""",
q(pos, tok) AS (VALUES {", ".join(f"({i}, '{t}')" for i, t in
                                  enumerate(tokenize_k2_py(SPELL_QUERY)))})
SELECT pos, tok AS token,
       (SELECT term FROM dfc WHERE levenshtein(term, tok) <= 1
        ORDER BY levenshtein(term, tok), df DESC, term LIMIT 1)
       AS suggestion
FROM q WHERE tok NOT IN (SELECT term FROM dfc) ORDER BY pos""",
        # per-lang numeric stats over the DSL match set
        "ft_facet_stats": f"""
WITH m AS (
  SELECT doc_id, lang, n_chars
  FROM (SELECT doc_id, lang, n_chars, {K1SQL} AS toks FROM documents)
  WHERE len(list_filter(toks,
            t -> t IN ('scan', 'part', 'filter'))) > 0
    AND len(list_filter(toks, t -> t = 'vector')) = 0
    AND doc_id IN (SELECT doc_id FROM (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, greatest(len({K1SQL}) - 1, 0)),
        i -> array_to_string(list_slice({K1SQL}, i, i + 1), ' ')
      )) AS gram FROM documents) WHERE gram = 'part filter'))
SELECT lang AS value, count(*)::BIGINT AS n_docs,
       min(n_chars)::double AS val_min, max(n_chars)::double AS val_max,
       round(avg(n_chars), 6) AS val_avg,
       round(sum(n_chars)::double, 6) AS val_sum
FROM m GROUP BY lang ORDER BY n_docs DESC, value LIMIT 50""",
        # n_chars histogram (width 100) over the DSL match set
        "ft_histogram": f"""
WITH m AS (
  SELECT doc_id, lang, n_chars
  FROM (SELECT doc_id, lang, n_chars, {K1SQL} AS toks FROM documents)
  WHERE len(list_filter(toks,
            t -> t IN ('scan', 'part', 'filter'))) > 0
    AND len(list_filter(toks, t -> t = 'vector')) = 0
    AND doc_id IN (SELECT doc_id FROM (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, greatest(len({K1SQL}) - 1, 0)),
        i -> array_to_string(list_slice({K1SQL}, i, i + 1), ' ')
      )) AS gram FROM documents) WHERE gram = 'part filter'))
SELECT floor(n_chars / {HIST_INTERVAL}) * {HIST_INTERVAL} AS bucket,
       count(*)::BIGINT AS n_docs
FROM m GROUP BY bucket ORDER BY bucket LIMIT 1000""",
        # per-lang top-2 of the headline query's full ranking
        "ft_top_hits": _bm25_sql(BM25_QUERY, 1.2, 0.75, 10 ** 9)
        .replace("SELECT doc_id, round(s, 4) AS score FROM scores ",
                 "SELECT value, rank, doc_id, score FROM ("
                 "SELECT lang AS value, doc_id, round(s, 4) AS score, "
                 "row_number() OVER (PARTITION BY lang "
                 "ORDER BY s DESC, doc_id) AS rank "
                 "FROM scores JOIN documents USING (doc_id)) "
                 "WHERE rank <= 2 ")
        .replace("ORDER BY s DESC, doc_id LIMIT 1000000000",
                 "ORDER BY value, rank"),
        # dis-max best-fields over the title/body split
        "ft_dismax_topk": _dismax_sql(BM25F_QUERY, 1.2, 0.75, BM25_K,
                                      BM25F_TITLE_LEN, *BM25F_WEIGHTS,
                                      DISMAX_TIE),
        # result rendering: top-k joined with doc-values metadata
        "ft_topk_render": _bm25_sql(BM25_QUERY, 1.2, 0.75, BM25_K)
        .replace("SELECT doc_id, round(s, 4) AS score FROM scores ",
                 "SELECT doc_id, round(s, 4) AS score, lang, source, "
                 "n_chars FROM scores JOIN documents USING (doc_id) "),
        # function-score: BM25 × (0.5 + doc_id%5 · 0.25) before top-k
        "ft_bm25_boosted": _bm25_sql(BM25_QUERY, 1.2, 0.75, BM25_K,
                                     boost_expr=BOOST_SQL),
        # search-after page 2 == rows k+1..2k of the full ranking
        "ft_bm25_page2": _bm25_sql(BM25_QUERY, 1.2, 0.75, BM25_K)
        .replace(f"LIMIT {BM25_K}", f"LIMIT {BM25_K} OFFSET {BM25_K}"),
        # per-term score explanation for (BM25_QUERY, doc 7)
        "ft_explain_score": _explain_sql(BM25_QUERY, 1.2, 0.75,
                                         EXPLAIN_DOC_ID),
        # proximity: min |p_dup − p_scan| per doc, window 12
        "ft_near_match": f"""
WITH toks AS (SELECT doc_id, {K1SQL} AS toks FROM documents),
pos AS (SELECT doc_id, unnest(toks) AS term,
               unnest(generate_series(1, len(toks))) AS p FROM toks),
a AS (SELECT doc_id, p FROM pos WHERE term = 'dup'),
b AS (SELECT doc_id, p FROM pos WHERE term = 'scan'),
m AS (SELECT a.doc_id, min(abs(a.p - b.p))::BIGINT AS min_span
      FROM a JOIN b USING (doc_id) GROUP BY a.doc_id)
SELECT doc_id, min_span FROM m WHERE min_span <= {NEAR_WINDOW}
ORDER BY min_span, doc_id LIMIT 100""",
        "ft_bm25_topk_filtered_served": _bm25_sql(
            BM25_QUERY, 1.2, 0.75, BM25_K, doc_where="lang = 'en'"),
        "ft_bm25_topk_served": " UNION ALL ".join(
            f"SELECT {qi} AS query_id, t.* "
            f"FROM ({_bm25_sql(q, 1.2, 0.75, BM25_K)}) t"
            for qi, q in enumerate(HYBRID_QUERIES)),
        # invariant oracle (cluster ids aren't SQL-derivable; see
        # q_ml_kmeans): k non-empty clusters, all rows assigned, WSS<TSS
        "ml_kmeans": """
SELECT 8::BIGINT AS k_clusters, count(*)::BIGINT AS n_assigned,
       true AS wss_lt_tss
FROM embeddings""",
        "tpch_q1": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus""",
        "top3_lineitems": """
SELECT l_orderkey, l_linenumber, l_quantity, rn FROM (
  SELECT l_orderkey, l_linenumber, l_quantity,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_quantity DESC, l_extendedprice DESC,
                                     l_linenumber) AS rn
  FROM lineitem WHERE l_orderkey < 100) t
WHERE rn <= 3""",
        "customer_order_totals": """
SELECT c_custkey, c_name, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_spent
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name""",
        "semi_join_high_value": """
SELECT l_orderkey, count(*) AS n_items,
       round(sum(l_extendedprice), 2) AS order_revenue
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_totalprice > 400000)
GROUP BY l_orderkey""",
        "union_dedup": """
SELECT o_orderstatus, count(*) AS n FROM (
  SELECT DISTINCT ON (o_orderkey) * FROM (
    SELECT * FROM orders WHERE o_totalprice > 250000
    UNION ALL
    SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1997-06-01') u
) d GROUP BY o_orderstatus""",
        "minmax_price": """
WITH s AS (SELECT min(p_retailprice) AS lo, max(p_retailprice) AS hi
           FROM part)
SELECT p_partkey,
       round(CASE WHEN hi - lo < 1e-12 THEN 0.0
                  ELSE (p_retailprice - lo) / (hi - lo) END, 6) AS price_norm
FROM part, s""",
        "events_by_type": """
SELECT event_type, count(*) AS n, round(avg(value), 4) AS avg_value
FROM events GROUP BY event_type""",
        "events_hourly": """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2""",
        "sessionize": """
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, sum(new_sess)::bigint AS n_sessions, count(*) AS n_events
FROM g GROUP BY user_id""",
        "running_total": """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
       AS running_total
FROM orders WHERE o_custkey < 20""",
        "stable_id": """
SELECT doc_id,
       substr(sha256(text || '|' || source || '|' || doc_id::varchar), 1, 32)
       AS stable_id
FROM documents WHERE doc_id < 500""",
        "recency_filter": """
SELECT event_type, count(*) AS n FROM events
WHERE epoch_us(ts) >= (SELECT max(epoch_us(ts)) FROM events) - 86400000000
GROUP BY event_type""",
        "txt_quality": quality,
        "txt_lang_id": lang_sql,
        "txt_simhash": f"""
WITH toks AS (SELECT doc_id, unnest({K1SQL}) AS t FROM documents
              WHERE doc_id < 200),
th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::ubigint AS h
       FROM toks),
bits AS (SELECT doc_id, b AS bit,
                sum(CASE WHEN (h >> b::ubigint) & 1 = 1 THEN 1 ELSE -1 END)
                AS vote
         FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
         GROUP BY doc_id, b),
sig AS (SELECT doc_id,
               sum(CASE WHEN vote > 0 THEN (1::hugeint << bit::hugeint)
                        ELSE 0::hugeint END) AS s
        FROM bits GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(CASE WHEN s >= 9223372036854775808::hugeint
                     THEN (s - 18446744073709551616::hugeint)::bigint
                     ELSE s::bigint END, 0) AS simhash
FROM documents d LEFT JOIN sig USING (doc_id) WHERE d.doc_id < 200""",
        "txt_fingerprint": """
SELECT doc_id,
       md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents""",
        "txt_token_count": f"""
SELECT doc_id, {ws_count} AS ws_tokens,
       len(regexp_extract_all(lower(text),
           '[a-z0-9]+(?:''[a-z0-9]+)?')) AS re_tokens
FROM documents""",
        "dedup_exact": """
WITH uni AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50),
fp AS (SELECT doc_id,
              md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f
       FROM uni),
kept AS (SELECT doc_id, row_number() OVER (PARTITION BY f ORDER BY doc_id)
                AS rn FROM fp)
SELECT count(*) AS n_survivors,
       sum((doc_id >= 1000000)::int)::bigint AS n_shifted_kept
FROM kept WHERE rn = 1""",
        "dedup_jaccard": f"""
WITH sh AS (SELECT doc_id, {jacc_shingles} AS s FROM documents
            WHERE doc_id < 40)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CASE WHEN len(list_distinct(a.s || b.s)) > 0
                  THEN len(list_intersect(a.s, b.s))::double
                       / len(list_distinct(a.s || b.s))
                  ELSE 0.0 END, 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id""",
        "dedup_minhash_sig": _minhash_sql(8, 100),
        "dedup_minhash_lsh": _minhash_lsh_sql(16, 4, 4, 20),
        "sim_cosine_topk": """
WITH probes AS (SELECT vec_id AS probe_id, embedding AS pv
                FROM embeddings WHERE vec_id IN (0, 1, 2)),
scored AS (
  -- double-precision dot/norms via positional unnest-zip
  -- (list_cosine_similarity/list_dot_product compute in float32)
  SELECT p.probe_id, e.vec_id,
         round(
           (SELECT sum(x * y) FROM (SELECT unnest(e.embedding::double[]) AS x,
                                           unnest(p.pv::double[]) AS y))
           / greatest(
               sqrt((SELECT sum(x * x)
                     FROM (SELECT unnest(e.embedding::double[]) AS x)))
               * sqrt((SELECT sum(y * y)
                       FROM (SELECT unnest(p.pv::double[]) AS y))),
               1e-12), 6) AS cosine
  FROM embeddings e CROSS JOIN probes p),
ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                   ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
SELECT probe_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5""",
        "sim_lsh_ann": _lsh_ann_sql(LSH_ANN_PLANES, LSH_ANN_BANDS, 5),
        # full-probe IVF is exact (see q_sim_ivf_ann): same brute-force
        # cosine recomputation as sim_cosine_topk, through the persisted
        # partitioned-index machinery on the Spark side
        "sim_ivf_ann": """
WITH probes AS (SELECT vec_id AS probe_id, embedding AS pv
                FROM embeddings WHERE vec_id IN (0, 1, 2)),
scored AS (
  SELECT p.probe_id, e.vec_id,
         round(
           (SELECT sum(x * y) FROM (SELECT unnest(e.embedding::double[]) AS x,
                                           unnest(p.pv::double[]) AS y))
           / greatest(
               sqrt((SELECT sum(x * x)
                     FROM (SELECT unnest(e.embedding::double[]) AS x)))
               * sqrt((SELECT sum(y * y)
                       FROM (SELECT unnest(p.pv::double[]) AS y))),
               1e-12), 6) AS cosine
  FROM embeddings e CROSS JOIN probes p),
ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                   ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
SELECT probe_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5""",
        "mm_media_meta": """
SELECT doc_id, 'text/plain' AS media_type,
       octet_length(encode(text)) AS n_bytes,
       ('0x' || substr(md5(text), 1, 8))::bigint AS checksum
FROM documents WHERE doc_id < 200""",
        # chunk-mean feature kernel recomputed from utf-8 bytes (hex(blob)
        # → per-byte ints). Chunk boundaries follow np.array_split: first
        # (l % dim) chunks get (l // dim + 1) bytes, the rest (l // dim);
        # means are exact integer-sum/len float64 divisions; the L2 norm's
        # sum-of-squares differs from numpy's pairwise order only at ~1ulp,
        # absorbed by round-6.
        "mm_image_features": """
WITH src AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS l
  FROM documents WHERE doc_id < 100),
bytes AS (
  SELECT doc_id, i, ('0x' || substr(hx, 2 * i + 1, 2))::int AS b,
         l // 16 AS base, l % 16 AS rem
  FROM src, unnest(generate_series(0, l - 1)) AS t(i)),
chunked AS (
  SELECT doc_id,
         CASE WHEN i < rem * (base + 1) THEN i // (base + 1)
              ELSE rem + (i - rem * (base + 1)) // base END AS dim,
         b
  FROM bytes),
feats AS (
  SELECT doc_id, dim, sum(b)::double / count(*) AS feat
  FROM chunked GROUP BY doc_id, dim),
allfeats AS (
  SELECT s.doc_id, d.dim, coalesce(f.feat, 0.0) AS feat
  FROM src s
  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS dim) d
  LEFT JOIN feats f ON f.doc_id = s.doc_id AND f.dim = d.dim),
norms AS (SELECT doc_id, sqrt(sum(feat * feat)) AS nrm
          FROM allfeats GROUP BY doc_id)
SELECT a.doc_id, a.dim,
       round(CASE WHEN n.nrm > 0 THEN a.feat / n.nrm ELSE a.feat END, 6)
       AS value
FROM allfeats a JOIN norms n USING (doc_id)""",
        "docbuild_products": """
WITH reviews AS (
  SELECT event_id::varchar AS id, user_id::varchar AS sku, ts,
         (floor(value)::int % 5 + 1) AS stars,
         concat_ws(' ', event_type, props, value::varchar) AS text
  FROM events),
clean AS (SELECT *, regexp_replace(trim(replace(replace(text, chr(13), ' '),
                    chr(10), ' ')), '\\s+', ' ', 'g') AS __clean
          FROM reviews),
flt AS (SELECT DISTINCT ON (sku, __clean) * FROM clean
        WHERE length(__clean) >= 10
        ORDER BY sku, __clean, id),
kpis AS (SELECT sku, count(id) AS n_reviews,
                round(avg(stars), 3) AS avg_stars, max(ts) AS last_ts
         FROM flt GROUP BY sku),
ranked AS (SELECT *, row_number() OVER (PARTITION BY sku
                 ORDER BY stars DESC NULLS LAST, ts DESC NULLS LAST, id)
                 AS __rank
           FROM flt),
agg AS (SELECT sku, string_agg(__clean, chr(32) || chr(10)
               ORDER BY __rank) AS agg_text
        FROM ranked WHERE __rank <= 5 GROUP BY sku)
SELECT k.sku, k.n_reviews, k.avg_stars, k.last_ts,
       coalesce(a.agg_text, '') AS agg_text
FROM kpis k LEFT JOIN agg a ON k.sku = a.sku""",
        "spam_flags": r"""
SELECT doc_id,
       len(regexp_extract_all(text, 'https?://\S+|www\.\S+', 0, 'i'))
       AS n_urls,
       (len(regexp_extract_all(text, 'https?://\S+|www\.\S+', 0, 'i')) >= 2
        OR regexp_matches(text,
           '(discount code|use code|sponsored|i received this.*free)', 'i'))
       AS spammy
FROM documents""",
        "outer_join_coalesce": """
SELECT coalesce(n_name, 'UNKNOWN') AS nation,
       coalesce(r_name, 'UNKNOWN') AS region
FROM nation FULL OUTER JOIN region ON n_regionkey = r_regionkey""",
        "argmax_per_group": """
SELECT user_id, event_id, value, event_type FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
            ORDER BY value DESC, event_id) AS rn
  FROM events) t
WHERE rn = 1""",
        "tfidf_top_terms": f"""
WITH toks AS (SELECT source AS grp, unnest({K1SQL}) AS term
              FROM documents),
tf AS (SELECT grp, term, count(*) AS tf FROM toks GROUP BY grp, term),
ng AS (SELECT count(DISTINCT grp) AS n FROM toks),
dfreq AS (SELECT term, count(*) AS df_groups FROM tf GROUP BY term),
scored AS (
  SELECT tf.grp, tf.term,
         round(tf.tf * ln((SELECT n FROM ng)::double / dfreq.df_groups), 6)
         AS tfidf
  FROM tf JOIN dfreq USING (term)),
ranked AS (SELECT *, row_number() OVER (PARTITION BY grp
                 ORDER BY tfidf DESC, term) AS rank
           FROM scored)
SELECT grp, term, tfidf, rank FROM ranked WHERE rank <= 5""",
        "normalize_merge": """
WITH secs AS (SELECT *, (epoch_us(ts) // 1000000)::bigint AS unix_s
              FROM events),
alpha_raw AS (
  SELECT concat_ws(' ', 'review', event_type, props) AS text0,
         (event_id % 6)::int AS stars0,
         user_id::varchar AS sku0,
         make_timestamp(unix_s * 1000000) AS ts0,
         CASE WHEN event_id % 5 = 0 THEN ''
              ELSE 'a' || event_id::varchar END AS rawid
  FROM secs),
beta_raw AS (
  SELECT concat_ws(' ', 'opinion', props, event_type) AS text0,
         ((event_id + 2) % 6)::int AS stars0,
         'P' || user_id::varchar AS sku0,
         CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS ts0,
         CASE WHEN event_id % 4 = 0 THEN 'a' || event_id::varchar
              ELSE 'b' || event_id::varchar END AS rawid
  FROM secs WHERE event_id % 2 = 0),
cleaned AS (
  SELECT * FROM (
    SELECT CASE WHEN trim(coalesce(rawid, '')) <> '' THEN rawid
                ELSE substr(sha256(concat_ws('|', coalesce(trim(text0), ''),
                     CASE WHEN ts0 IS NOT NULL
                          THEN strftime(ts0, '%Y-%m-%dT%H:%M:%S') || '+00:00'
                          ELSE '' END,
                     coalesce(sku0, ''))), 1, 32) END AS id,
           sku0 AS sku, ts0 AS ts, stars0 AS stars, trim(text0) AS text,
           src AS source, prio
    FROM (SELECT *, 'alpha' AS src, 0 AS prio FROM alpha_raw
          UNION ALL
          SELECT *, 'beta' AS src, 1 AS prio FROM beta_raw))
  WHERE stars BETWEEN 1 AND 5 AND length(text) >= 10),
within AS (
  SELECT * FROM cleaned
  QUALIFY row_number() OVER (PARTITION BY id, source
                             ORDER BY ts NULLS LAST, text) = 1),
final AS (
  SELECT * FROM within
  QUALIFY row_number() OVER (PARTITION BY id ORDER BY prio) = 1)
SELECT id, sku, ts, stars, source, length(text) AS text_len FROM final""",
        "joinability_probe": """
SELECT count(*) AS n,
       round(avg((o_orderkey IS NOT NULL)::int), 6) AS match_rate
FROM (SELECT * FROM lineitem WHERE l_linenumber = 1) li
LEFT JOIN orders ON li.l_orderkey = o_orderkey""",
        "recent_vs_prior": """
WITH c AS (SELECT max(epoch_us(ts)) - 3 * 86400000000 AS cutoff FROM events)
SELECT event_type,
       sum((epoch_us(ts) >= (SELECT cutoff FROM c))::int)::bigint
       AS n_recent,
       sum((epoch_us(ts) < (SELECT cutoff FROM c))::int)::bigint
       AS n_prior,
       round(avg(CASE WHEN epoch_us(ts) >= (SELECT cutoff FROM c)
                      THEN value END), 4) AS avg_value_recent
FROM events GROUP BY event_type""",
    }
    # the hybrid oracle COMPUTES (parquet read + numpy oracle, memoized
    # per sf_dir) rather than formatting a string; if the corpus dir is
    # missing or unreadable, degrade by omitting only this entry — the
    # driver then records hybrid as rows-only instead of every oracle
    # retrieval failing
    try:
        out["hybrid_search_topk"] = _hybrid_oracle_sql()
    except Exception as exc:  # noqa: BLE001
        import warnings
        warnings.warn("hybrid_search_topk oracle unavailable "
                      f"(corpus unreadable?): {exc!r}", stacklevel=2)
    return out
