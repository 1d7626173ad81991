"""Search-box query DSL — the boolean front end of the engine.

Grammar (the Lucene/web-search-box subset every full-text engine ships):

    free terms          rank disjunctively (plain BM25)
    +term               MUST contain the term (and it ranks)
    -term               MUST NOT contain the term
    "quoted phrase"     MUST contain the exact consecutive phrase
                        (positions table required; its words rank too)
    "a b"~N             PROXIMITY — MUST contain all the quoted words
                        within a token window: min_span ≤ N, unordered
                        (index/positions.py::near_match); words rank
    term*               PREFIX wildcard — expands against the index
                        vocabulary (query/expand.py, df-top rewrite) and
                        the expansions rank; +term* requires ANY
                        expansion (OR constraint), -term* excludes ALL
    term~               FUZZY — Levenshtein-1 vocabulary neighbours
                        rank (free position only)

Everything compiles onto engine primitives already gated elsewhere —
this module adds NO new scoring or matching semantics:

  * ranking text  = free + required + phrase words, scored by
    ``bm25_topk_exact`` exactly as a plain query (same fold, same idf);
  * each ``+term``   → ``term_docs`` semi-join (filtered retrieval);
  * each phrase      → ``phrase_match`` doc set, semi-joined;
  * each ``-term``   → ``term_docs`` anti-join (``exclude_docs``).

Constraint sets are intersected as chained LEFT SEMI joins before the
before-top-k filter, so the result is the true top-k of the boolean
match set with unchanged BM25 scores. Scale: every constraint set is
bounded by one term's df (or a phrase's hit count via the positional
kernel), never the corpus; the ranking scan itself stays the
bucket-pruned exact plan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..index.build import InvertedIndex
from .bm25 import bm25_topk_exact, local_result, term_docs

_PHRASE_RE = re.compile(r'"([^"]*)"(~(\d+))?')


@dataclass(frozen=True)
class ParsedQuery:
    free: list[str] = field(default_factory=list)
    required: list[str] = field(default_factory=list)
    excluded: list[str] = field(default_factory=list)
    phrases: list[str] = field(default_factory=list)
    # expansion positions (query/expand.py): prefixes stripped of their
    # trailing '*', fuzzy words stripped of '~' — all pre-normalized to
    # single index-token shape (see _pattern_word)
    wildcards: list[str] = field(default_factory=list)
    required_wildcards: list[str] = field(default_factory=list)
    excluded_wildcards: list[str] = field(default_factory=list)
    fuzzies: list[str] = field(default_factory=list)
    # proximity spans: ("a b", N) from '"a b"~N' — near constraint
    near: list[tuple[str, int]] = field(default_factory=list)

    @property
    def ranking_text(self) -> str:
        """What gets BM25-ranked BEFORE expansion: free + required +
        phrase words, in query order (the fold is order-sensitive, so
        this IS the spec). Expansion terms are appended by
        ``ranking_tokens`` — they bypass the K2 stoplist (they are
        already index terms)."""
        return " ".join(self.free + self.required
                        + [w for p in self.phrases for w in p.split()]
                        + [w for p, _n in self.near for w in p.split()])


def _pattern_word(word: str, free: list[str]) -> str | None:
    """Normalize a wildcard/fuzzy stem the way the index normalized its
    terms (lowercase, token alphabet): the LAST regex token is the
    pattern; any leading tokens ("wi-fi*") fall back to plain free
    terms. No stoplist — a pattern is not a term ("th*" is legal)."""
    from ..functions.tokenize import TOKEN_RE
    toks = TOKEN_RE.findall((word or "").lower())
    if not toks:
        return None
    free.extend(toks[:-1])
    return toks[-1]


def parse_query(s: str) -> ParsedQuery:
    """Split a search-box string into DSL parts. Quoted spans are
    extracted first (a '+'/'-' inside quotes is literal text); remaining
    whitespace-split tokens route on their leading sigil, then on a
    trailing '*' (prefix wildcard) or '~' (fuzzy — free position only;
    a sigiled '~' is treated as the literal word). A bare '+'/'-' or an
    empty quote is dropped."""
    phrases, near = [], []
    for body, tilde, win in _PHRASE_RE.findall(s):
        body = body.strip()
        if not body:
            continue
        if tilde:
            near.append((body, int(win)))
        else:
            phrases.append(body)
    rest = _PHRASE_RE.sub(" ", s)
    free, required, excluded = [], [], []
    wild, req_wild, exc_wild, fuzz = [], [], [], []
    for tok in rest.split():
        sigil, body = "", tok
        if tok[0] in "+-":
            sigil, body = tok[0], tok[1:]
        if not body:
            continue
        if body.endswith("*") and len(body) > 1:
            p = _pattern_word(body[:-1],
                              free if sigil == "" else
                              required if sigil == "+" else excluded)
            if p is not None:
                (wild if sigil == "" else
                 req_wild if sigil == "+" else exc_wild).append(p)
        elif body.endswith("~") and len(body) > 1 and sigil == "":
            p = _pattern_word(body[:-1], free)
            if p is not None:
                fuzz.append(p)
        elif sigil == "+":
            required.append(body)
        elif sigil == "-":
            excluded.append(body)
        else:
            free.append(body)
    return ParsedQuery(free=free, required=required, excluded=excluded,
                       phrases=phrases, wildcards=wild,
                       required_wildcards=req_wild,
                       excluded_wildcards=exc_wild, fuzzies=fuzz,
                       near=near)


def query_expansions(spark: SparkSession, index: InvertedIndex,
                     pq: ParsedQuery,
                     wildcard_max: int = 32,
                     fuzzy_max: int = 8) -> tuple[dict, dict]:
    """Resolve every distinct wildcard/fuzzy pattern of the query ONCE
    (one bounded dictionary scan each): ({prefix: [terms]},
    {word: [terms]}). ``ranking_tokens`` / ``dsl_search`` /
    ``dsl_match_docs`` all consume the same resolution, so a pattern
    used for both ranking and a constraint costs one job, not two."""
    from .expand import expand_fuzzy, expand_prefix
    pre = {p: expand_prefix(spark, index, p, max_terms=wildcard_max)
           for p in dict.fromkeys(pq.wildcards + pq.required_wildcards
                                  + pq.excluded_wildcards)}
    fuz = {w: expand_fuzzy(spark, index, w, max_terms=fuzzy_max)
           for w in dict.fromkeys(pq.fuzzies)}
    return pre, fuz


def ranking_tokens(spark: SparkSession, index: InvertedIndex,
                   pq: ParsedQuery,
                   wildcard_max: int = 32,
                   fuzzy_max: int = 8,
                   expansions: tuple[dict, dict] | None = None) -> list[str]:
    """The FINAL scoring token sequence: the K2-tokenized base ranking
    text, then expansion groups appended in a fixed documented order —
    free wildcards, required wildcards, fuzzies, each group's terms in
    expansion order (df-top / distance order, query/expand.py).
    Duplicates are kept (a term expanded twice scores twice — the fold
    is a token-sequence spec, and the DuckDB twin mirrors it by
    summing qtf per term)."""
    from ..functions.tokenize import tokenize_k2_py
    pre, fuz = expansions if expansions is not None else \
        query_expansions(spark, index, pq, wildcard_max, fuzzy_max)
    toks = tokenize_k2_py(pq.ranking_text) if pq.ranking_text else []
    for p in pq.wildcards + pq.required_wildcards:
        toks += pre[p]
    for w in pq.fuzzies:
        toks += fuz[w]
    return toks


def dsl_search(spark: SparkSession, index: InvertedIndex, query: str,
               k: int = 10,
               filter_docs: DataFrame | None = None,
               phrase_cap: int = 1_000_000) -> DataFrame:
    """Execute a DSL query string → (doc_id, score) top-k. ``filter_docs``
    composes an extra metadata filter (e.g. lang='en') with the boolean
    constraints. Phrases need the index root's positions table
    (``build_positions``); ``phrase_cap`` bounds how many phrase-matching
    docs are carried into the semi-join (top by occurrence count — a
    phrase matching more docs than this is effectively a ranking term)."""
    pq = parse_query(query)
    exp = query_expansions(spark, index, pq)
    ranking = ranking_tokens(spark, index, pq, expansions=exp)
    if not ranking:
        return local_result(spark)

    from ..functions.tokenize import tokenize_k1_py
    pre, _fuz = exp
    fd = filter_docs.select("doc_id") if filter_docs is not None else None
    # a sigiled word normalizes through the INDEX tokenizer ("+Wi-Fi" →
    # required tokens ['wi', 'fi']) so constraints match what was indexed
    for t in [tok for w in pq.required for tok in tokenize_k1_py(w)]:
        td = term_docs(spark, index, t)
        fd = td if fd is None else fd.join(td, "doc_id", "left_semi")
    # '+term*' is an OR constraint: the doc must contain ANY expansion —
    # the union is bounded by the expansions' summed dfs
    for p in pq.required_wildcards:
        grp = None
        for t in pre[p]:
            td = term_docs(spark, index, t)
            grp = td if grp is None else grp.unionByName(td)
        if grp is None:            # no vocabulary term matches → ∅
            return local_result(spark)
        grp = grp.distinct()
        fd = grp if fd is None else fd.join(grp, "doc_id", "left_semi")
    if pq.phrases:
        from ..index.positions import phrase_match
        for p in pq.phrases:
            pd_ = phrase_match(spark, index, p, k=phrase_cap) \
                .select("doc_id")
            fd = pd_ if fd is None else fd.join(pd_, "doc_id", "left_semi")
    if pq.near:
        from ..index.positions import near_match
        for p, win in pq.near:
            nd = near_match(spark, index, p, win, k=phrase_cap) \
                .select("doc_id")
            fd = nd if fd is None else fd.join(nd, "doc_id", "left_semi")

    ex = None
    for t in [tok for w in pq.excluded for tok in tokenize_k1_py(w)] \
            + [t for p in pq.excluded_wildcards for t in pre[p]]:
        td = term_docs(spark, index, t)
        ex = td if ex is None else ex.unionByName(td)

    if index.is_warm():
        # boolean queries at serving latency: constraints ship as sorted
        # allowed/blocked masks into the zero-shuffle shard kernel
        # (bitwise-identical to the exact route — tests/test_parser.py)
        from .bm25 import bm25_topk_served
        return bm25_topk_served(spark, index, ranking, k=k,
                                filter_docs=fd, exclude_docs=ex)
    return bm25_topk_exact(spark, index, ranking, k=k, filter_docs=fd,
                           exclude_docs=ex)
