"""Query expansion over the term dictionary — prefix, fuzzy, more-like-this.

The rewrite layer every full-text engine ships in front of its scorer
(Lucene's MultiTermQuery rewrites, Elasticsearch ``prefix`` / ``fuzzy`` /
``more_like_this``): a user-level pattern is expanded against the INDEX
VOCABULARY into a bounded list of concrete terms, which then rank through
the ordinary BM25 paths unchanged (``query/bm25.py`` accepts pre-tokenized
term sequences — QueryLike). The reference engine has no expansion surface
(its queries are literal strings fed to BM25Okapi, app/test.py:156); this
module is part of the at-scale web-search extension, like the DSL/facets.

Scale analysis (the part that matters at 10^12 docs):

  * Every expansion is a DICTIONARY scan, never a corpus or postings
    scan: candidate generation touches ``term_stats`` (vocab-sized —
    ~10^8 rows for web text, KBs per row-group column chunk), and the
    result is a driver-sized list capped at ``max_terms`` (the standard
    Lucene rewrite bound). The expanded query then costs exactly what a
    hand-written ``max_terms``-word query costs.
  * Prefix candidates prune to a TERM RANGE: ``build_term_dictionary``
    materializes the dictionary SORTED by term (repartitionByRange +
    sortWithinPartitions), so ``term >= p AND term < p+CHR_MAX`` skips
    whole files/row-groups via parquet min/max stats — the columnar
    moral of Lucene's FST term-index seek. Without the dictionary the
    same predicate still pushes down to the unsorted ``term_stats``
    scan (correct, just unpruned — tests gate the pushdown either way).
  * Fuzzy candidates pre-prune by LENGTH (edit distance d changes
    length by at most d) before the JVM ``levenshtein`` evaluates —
    no Python in the scan.
  * More-like-this never re-scans the source document's postings: the
    caller hands the document TEXT (a doc_id point-read with parquet
    predicate pushdown — O(1) row groups); term selection is a
    driver-side tf·idf top-m over the doc's own K1 tokens with idf from
    the warm cache or one bucket-pruned lookup.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize_k1_py
from ..index.build import TERM_STATS, InvertedIndex
from .bm25 import _term_stats_pruned, bm25_topk_exact, local_result

TERM_DICT = "term_dict"
# upper bound for a term-range prefix predicate: no indexed term contains
# this codepoint (tokenizer output is ASCII-ish web text), so
# term < prefix + _CHR_MAX closes the range [prefix, next-prefix)
_CHR_MAX = "\uffff"


def build_term_dictionary(spark: SparkSession,
                          index: InvertedIndex) -> None:
    """Materialize the TERM-SORTED dictionary next to the index: the same
    rows as ``term_stats`` (term, df, idf) but range-partitioned and
    sorted by ``term``, so parquet min/max column stats turn any term
    RANGE predicate (prefix match, dictionary seek) into file/row-group
    skipping. This is the columnar analogue of Lucene's sorted term
    dictionary + FST index; one extra vocab-sized sort at build time,
    read-only afterwards. Idempotent per index snapshot (overwrite)."""
    stats = index.term_stats(spark).select("term", "df", "idf")
    n_parts = max(1, index.cfg.index.term_buckets)
    ordered = (stats.repartitionByRange(n_parts, F.col("term"))
               .sortWithinPartitions("term"))
    index.io.write(ordered, TERM_DICT,
                   lineage={"derived_from": TERM_STATS})


def _dictionary(spark: SparkSession, index: InvertedIndex) -> DataFrame:
    """The sorted dictionary when built, else the raw term_stats scan
    (same columns, no range pruning — correctness identical)."""
    if index.io.exists(TERM_DICT):
        return index.io.read(spark, TERM_DICT)
    return index.term_stats(spark).select("term", "df", "idf")


def prefix_terms(spark: SparkSession, index: InvertedIndex, prefix: str,
                 max_terms: int = 32) -> DataFrame:
    """The ``prefix*`` expansion as a DataFrame (term, df) in rewrite
    order — see ``expand_prefix`` for the semantics."""
    if not prefix:
        raise ValueError("empty prefix")
    return (_dictionary(spark, index)
            .filter((F.col("term") >= prefix)
                    & (F.col("term") < prefix + _CHR_MAX))
            .orderBy(F.desc("df"), F.asc("term"))
            .select("term", "df").limit(max_terms))


def expand_prefix(spark: SparkSession, index: InvertedIndex, prefix: str,
                  max_terms: int = 32) -> list[str]:
    """``prefix*`` → the top ``max_terms`` matching vocabulary terms by
    (df DESC, term ASC) — the Lucene TOP_TERMS rewrite: keep the
    highest-document-frequency completions so a short prefix degrades to
    the most informative bounded disjunction instead of exploding.
    Deterministic (total order). Empty prefix is rejected — that is a
    dictionary dump, not a query."""
    rows = prefix_terms(spark, index, prefix, max_terms).collect()
    return [r["term"] for r in rows]


def fuzzy_terms(spark: SparkSession, index: InvertedIndex, word: str,
                max_dist: int = 1, max_terms: int = 8) -> DataFrame:
    """The ``word~`` expansion as a DataFrame (term, dist, df) in rewrite
    order — see ``expand_fuzzy`` for the semantics."""
    if not word:
        raise ValueError("empty fuzzy word")
    lo, hi = len(word) - max_dist, len(word) + max_dist
    return (_dictionary(spark, index)
            .filter(F.length("term").between(lo, hi))
            .withColumn("dist", F.levenshtein(F.col("term"), F.lit(word)))
            .filter(F.col("dist") <= max_dist)
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .select("term", "dist", "df").limit(max_terms))


def expand_fuzzy(spark: SparkSession, index: InvertedIndex, word: str,
                 max_dist: int = 1, max_terms: int = 8) -> list[str]:
    """``word~`` → vocabulary terms within Levenshtein ``max_dist``,
    ordered (distance ASC, df DESC, term ASC), capped at ``max_terms`` —
    the standard fuzzy-query rewrite (closest first, popular first).
    The dictionary scan pre-prunes on ``abs(len(term) - len(word)) <=
    max_dist`` (a pushed range predicate on a generated length column
    would need the dictionary to store it; the length() filter is still
    a JVM-side scan predicate), then evaluates the JVM ``levenshtein``
    only on the length-plausible slice."""
    rows = fuzzy_terms(spark, index, word, max_dist, max_terms).collect()
    return [r["term"] for r in rows]


def mlt_terms(spark: SparkSession, index: InvertedIndex, text: str,
              max_terms: int = 16) -> list[str]:
    """More-like-this term selection: the source text's top ``max_terms``
    K1 terms by tf·idf (tf from the INDEX tokenizer — the same counts the
    index holds for the doc; idf from the index stats), tie-broken by
    term ASC. This is the interesting-terms heuristic of Lucene's
    MoreLikeThis, with the engine's exact idf (ε-fixup included)."""
    tf = Counter(tokenize_k1_py(text))
    if not tf:
        return []
    idf_map = index.idf_lookup()
    if idf_map is None:
        rows = _term_stats_pruned(spark, index, sorted(tf)) \
            .select("term", "idf").collect()
        idf_map = {r["term"]: r["idf"] for r in rows}
    scored = [(t, tf[t] * idf_map[t]) for t in tf if t in idf_map]
    scored.sort(key=lambda x: (-x[1], x[0]))
    return [t for t, _ in scored[:max_terms]]


def more_like_this(spark: SparkSession, index: InvertedIndex, text: str,
                   exclude_doc_id: int | None = None,
                   max_terms: int = 16, k: int = 10) -> DataFrame:
    """Documents most similar to ``text`` under BM25 over its tf·idf-top
    interesting terms (each contributing ONCE, in selection order — the
    derived term list bypasses the K2 query stoplist by design:
    ``bm25.QueryLike``). ``exclude_doc_id`` drops the source document
    BEFORE top-k (the classic "similar pages" contract). The expanded
    query is bounded by ``max_terms`` regardless of document length, so
    the retrieval cost is that of a ``max_terms``-word query."""
    terms = mlt_terms(spark, index, text, max_terms=max_terms)
    if not terms:
        return local_result(spark)
    ex = None
    if exclude_doc_id is not None:
        # a JVM range, not a one-row Python list: its collect in
        # bm25_topk_served's mask fetch then starts no Python stage
        ex = spark.range(int(exclude_doc_id), int(exclude_doc_id) + 1) \
            .withColumnRenamed("id", "doc_id")
    if index.is_warm():
        # similar-pages at serving latency: the expanded term list rides
        # the zero-shuffle shard kernel, exclusion as a blocked mask
        # (bitwise-identical to the exact route — tests/test_expand.py)
        from .bm25 import bm25_topk_served
        return bm25_topk_served(spark, index, terms, k=k, exclude_docs=ex)
    return bm25_topk_exact(spark, index, terms, k=k, exclude_docs=ex)


def more_like_this_doc(spark: SparkSession, index: InvertedIndex,
                       docs: DataFrame, doc_id: int,
                       doc_id_col: str = "doc_id",
                       text_col: str = "text",
                       max_terms: int = 16, k: int = 10) -> DataFrame:
    """More-like-this by document id: point-read the source text from
    ``docs`` (one pushed-down equality predicate — parquet min/max stats
    make this O(1) row groups on an id-sorted corpus) and delegate to
    ``more_like_this`` with the source excluded."""
    rows = (docs.filter(F.col(doc_id_col) == int(doc_id))
            .select(F.col(text_col).alias("text")).limit(2).collect())
    if not rows:
        return local_result(spark)
    if len(rows) > 1:
        raise ValueError(f"doc_id {doc_id} is not unique in docs")
    return more_like_this(spark, index, rows[0]["text"] or "",
                          exclude_doc_id=doc_id,
                          max_terms=max_terms, k=k)


def suggest_corrections(spark: SparkSession, index: InvertedIndex,
                        query: str, max_dist: int = 1) -> list[dict]:
    """Did-you-mean: for each K2 query token ABSENT from the index
    vocabulary, the best fuzzy correction (distance ASC, df DESC, term
    ASC — the same rewrite order as ``expand_fuzzy``), or None if no
    vocabulary term is within ``max_dist``. Known tokens are never
    "corrected" (the Elasticsearch `suggest` missing-mode contract).
    Returns [{pos, token, suggestion}] in query order.

    Cost: one driver idf-cache lookup (or one bucket-pruned stats job)
    to split known/unknown, then ONE bounded dictionary scan per
    distinct unknown token — query-sized, never corpus-sized."""
    from ..functions.tokenize import tokenize_k2_py
    toks = tokenize_k2_py(query)
    if not toks:
        return []
    idf_map = index.idf_lookup()
    if idf_map is not None:
        known = {t for t in set(toks) if t in idf_map}
    else:
        rows = _term_stats_pruned(spark, index, sorted(set(toks))) \
            .select("term").collect()
        known = {r["term"] for r in rows}
    cache: dict[str, str | None] = {}
    out = []
    for pos, tok in enumerate(toks):
        if tok in known:
            continue
        if tok not in cache:
            best = expand_fuzzy(spark, index, tok, max_dist=max_dist,
                                max_terms=1)
            cache[tok] = best[0] if best else None
        out.append({"pos": pos, "token": tok,
                    "suggestion": cache[tok]})
    return out


def did_you_mean(spark: SparkSession, index: InvertedIndex,
                 query: str, max_dist: int = 1) -> str | None:
    """The corrected query string with every correctable unknown token
    replaced (uncorrectable ones kept verbatim), or None when nothing
    needed correcting — the one-line "did you mean ...?" banner."""
    sugg = suggest_corrections(spark, index, query, max_dist=max_dist)
    fixes = {s["pos"]: s["suggestion"] for s in sugg
             if s["suggestion"] is not None}
    if not fixes:
        return None
    from ..functions.tokenize import tokenize_k2_py
    toks = tokenize_k2_py(query)
    return " ".join(fixes.get(i, t) for i, t in enumerate(toks))
