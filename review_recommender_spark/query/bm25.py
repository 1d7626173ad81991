"""BM25 top-k query answering over the term-partitioned posting index.

Replaces the reference's full-corpus scan (``bm25.get_scores`` computes a
dense score for every document on every query — app/test.py:168-173, a scan
the comment at :169 wrongly claims is candidates-only; SURVEY.md quirk Q2)
with ONE exact top-k. Three public entry points ask for it by route —
``bm25_topk_exact``, ``bm25_topk_served`` and ``bm25_topk_pruned`` — and
one planner, ``_topk``, picks the physical tier that answers. Every tier
returns the same rows, bit for bit (tests/test_wand.py,
tests/test_degenerate.py), and the planner names the tier it took in
``stats["tier"]``:

  empty       : no known query term, ``k=0``, or a filter that admits no
                document — no rows, no scoring job.
  exact_gathered : the ``exact`` route (and a pruned request on fewer
                than ``min_ranges_to_prune`` ranges) when the query
                terms' blocks fit the gather budgets below and no
                ``boost_docs`` is given — the exact plan carried out on
                the driver over the blocks read straight from the
                postings Parquet (``_exact_gathered``): the plan's own
                per-posting map, the token-order fold, min_match, masks,
                cursor and top-k in numpy. Zero Spark jobs without
                filter/exclude sets; no block is skipped.
  exact       : ``_exact_topk`` — one Spark action over the bucket- and
                term-pruned posting blocks, kept as the engine's
                independent JVM reference. Those requests over a gather
                budget or with ``boost_docs``, and any request whose
                filter/exclude set exceeds ``_MASK_IDS_MAX`` ids (the
                masks would not fit).
  driver      : served, when ``warm`` kept the driver copy of the serving
                layout (a full warm within ``_DRIVER_SERVING_BYTES_MAX``)
                — the kernel in-process over the query terms' rows of
                that copy, zero Spark jobs. Batches
                (``bm25_topk_served_batch``) and hybrid's served scores
                answer the same way (``_served_scores``).
  executor    : served otherwise — one map stage over the doc-sharded
                serving layout and a k×shards merge; a partial warm
                unions the cold ranges' exact scores.
  gathered    : pruned, candidate blocks within ``_PRUNED_LOCAL_BLOCKS_MAX``
                rows and ``_PRUNED_LOCAL_BYTES_MAX`` encoded bytes — the
                blocks are read straight from the postings Parquet on the
                driver and the kernel runs there: zero Spark jobs.
  distributed : pruned, over a gather budget — the blocks re-sharded by
                range_id into doc-complete tasks, the kernel's local
                top-k per task, and a k × tasks merge: two Spark jobs.

The pruned tiers are block-max pruning at doc-range granularity:
per-block upper bounds come from (max_tf, min_dl) metadata — valid for
any (k1, b) — and ranges whose summed per-term bounds cannot beat the
k-th score are never decoded; inside a visited range, block-level
pruning (``_hot_block_mask``) skips blocks no doc can use. The served
tiers skip ranges the same way (``block_skip``). ``bm25_topk_served_batch``
answers many queries in one pass of the served kernel.

Shared by every tier:

  request : ``_request`` resolves tokens, idf (the warm cache, else a
            driver-side Parquet read — no job) and ``min_match`` once,
            and its ``_Request`` carries the rest — the filter/exclude
            masks, the ``stats=`` accumulators and the normalized
            ``after`` cursor.
  plan    : ``_exact_topk`` — blocks → closure scorer → filter/exclude →
            fold in QUERY TOKEN ORDER (bit-deterministic,
            ``_fold_scores_batch``) → boost → after → top-k: the exact
            tier. ``exact_gathered`` runs the same steps on the driver,
            over the same per-posting map (``_posting_partials``).
  kernel  : ``_served_local_topk`` — bulk decode, block-max skipping, the
            request's masks and a running top-k; every served and pruned
            tier runs it (and hybrid's served scores, unskipped and
            unbounded). The exact tiers never do: they are the reference
            the kernel is checked against.
  result  : ``local_result`` — every driver-side answer is a
            driver-resident DataFrame whose ``collect()``/``toPandas()``
            read its Arrow table in-process (no Py4J round trip); its
            LocalRelation is built only when something else needs it.

Rank-safety: skipping a range drops whole documents, never a single
term's contribution, and survivors are scored exactly with the same float
expression (``_bm25_unit``) and addition order as the exact plan.

Scoring formula per SURVEY.md §2.12 (BM25Okapi semantics): repeated query
tokens weight a term by its query multiplicity; unknown terms contribute 0.
"""

from __future__ import annotations

import weakref
from collections import Counter
from dataclasses import dataclass
from functools import cached_property
from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.types import StructType, _create_row

from ..functions.tokenize import tokenize_k2_py
from ..index.build import (_KERNEL_COLS, TERM_STATS, InvertedIndex,
                           _arrow_schema, term_bucket_py)
from ..index.codec import decode_blocks_bulk

RESULT_SCHEMA = "doc_id long, score double"
# the closure scorer's and the kernel's rows carry the query's batch slot
_BATCH_SCHEMA = "query_id int, " + RESULT_SCHEMA

# bm25_topk_pruned reads the still-encoded candidate blocks straight
# from the postings Parquet on the coordinator while they number at most
# this many rows (~50k blocks ≈ 6.4M postings ≈ 16 MB encoded + ~150 MB
# of transient decode arrays worst-case — driver-envelope class) ...
_PRUNED_LOCAL_BLOCKS_MAX = 50_000
# ... and their encoded posting bytes (doc_bytes + tf_bytes + dl_bytes)
# stay within this budget, the ~16 MB the row cap stands for. A query
# over either budget (head terms) stays distributed.
_PRUNED_LOCAL_BYTES_MAX = 16 << 20
# filter_docs/exclude_docs ship to the kernel as sorted id masks while
# each holds at most this many ids (5M int64 = 40 MB, the envelope class
# of the warm idf cache); a larger set sends the request to the exact
# tier's join plan.
_MASK_IDS_MAX = 5_000_000

# Every public query entry point accepts QueryLike: a search string (run
# through the K2 query tokenizer, the reference's asymmetric-stoplist
# path) OR an already-normalized INDEX-term sequence (list/tuple of K1
# terms, scored verbatim in the given order — the primitive the
# expansion layer builds on: prefix/fuzzy-expanded and more-like-this
# queries produce derived term lists that must NOT round-trip through
# the K2 stoplist, query/expand.py).
QueryLike = "str | list[str] | tuple[str, ...]"


class _DriverResult(ClassicDataFrame):
    """A driver-resident result (``local_result``): its rows live in an
    Arrow table on the driver. ``collect()`` and ``toPandas()`` answer
    from that table — the same Rows, Python values and pandas dtypes the
    JVM relation gives — with no Py4J round trip. Everything else (joins,
    unions, ``count``, ``explain``, plan inspection) goes through
    ``_jdf``, which builds the LocalRelation (``spark.createDataFrame``
    of the table) the first time something reads it."""

    def __new__(cls, *args):
        # the classic DataFrame's __new__ runs __init__(jdf, session)
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, table: pa.Table):
        self._session = spark
        self._sc = spark._sc
        self.is_cached = False
        self._support_repr_html = False
        self._table = table
        self._relation = None

    @cached_property
    def schema(self) -> StructType:
        # derived from the table as createDataFrame derives it
        from pyspark.sql.pandas.types import from_arrow_schema
        return from_arrow_schema(self._table.schema)

    @property
    def _jdf(self):
        if self._relation is None:
            self._relation = self._session.createDataFrame(self._table)._jdf
        return self._relation

    def collect(self) -> list[Row]:
        names = self.schema.names
        return [_create_row(names, values) for values in
                zip(*(c.to_pylist() for c in self._table.columns))]

    def _collect_as_arrow(self, split_batches: bool = False,
                          empty_list_if_zero_records: bool = True) -> list:
        # toPandas()/toArrow() convert these batches exactly as they
        # convert the ones the JVM streams back; like those, an empty
        # result has no batch unless toArrow() asks for one
        batches = self._table.to_batches()
        if batches or empty_list_if_zero_records:
            return batches
        return [pa.RecordBatch.from_pylist([], schema=self._table.schema)]


def local_result(spark: SparkSession, *columns,
                 schema: str = RESULT_SCHEMA) -> DataFrame:
    """A driver-side result — one sequence per field of the DDL
    ``schema`` (default (doc_id, score)), or none for an empty result —
    as a driver-resident DataFrame (``_DriverResult``): ``collect()`` and
    ``toPandas()`` read its Arrow table in-process, and any other use
    plans it as a LocalRelation, so no read of the result runs a Spark
    job. ``createDataFrame`` from a list or an empty pandas frame plans
    a LogicalRDD instead, whose collect runs a Python stage (~0.3 s,
    plus a second Python worker pool on first use)."""
    arrow = _arrow_schema(schema)
    return _DriverResult(spark, pa.table(
        [pa.array(c, f.type) for c, f in
         zip(columns or [()] * len(arrow), arrow)], schema=arrow))


def _tokens(query) -> list[str]:
    """QueryLike → the scoring token sequence (order preserved —
    ``_fold_scores_batch`` is order-sensitive by spec)."""
    if isinstance(query, str):
        return tokenize_k2_py(query)
    return list(query)


def _qtf(query) -> dict[str, int]:
    return dict(Counter(_tokens(query)))


def _resolve_min_match(token_seq: list[str],
                       min_match: int | str | None) -> int:
    """Minimum-should-match resolution: ``None`` → 1 (any term),
    ``"all"`` → the number of DISTINCT query tokens (conjunctive AND —
    counted over ALL tokens, known or not, so a query containing a term
    absent from the index can never be fully matched and returns empty,
    the standard conjunctive contract), an int → itself (must be ≥ 1).
    A doc qualifies iff it matches ≥ m distinct query terms; scores are
    untouched (the constraint shrinks the candidate set only), so
    conjunctive results stay bitwise-comparable across execution paths."""
    if min_match is None:
        return 1
    if min_match == "all":
        return max(1, len(set(token_seq)))
    m = int(min_match)
    if m < 1:
        raise ValueError(f"min_match must be >= 1 or 'all', got {min_match}")
    return m


def query_term_idf(spark: SparkSession, index: InvertedIndex,
                   query) -> dict[str, float]:
    """Driver-side {term: idf} for the query's unique known terms: the
    warm idf cache when resident, else the terms' term_stats rows read
    straight from Parquet (``InvertedIndex.scan``, bucket- and
    term-pruned). No Spark job either way."""
    qtf = _qtf(query)
    if not qtf:
        return {}
    idf_map = index.idf_lookup()
    if idf_map is not None:
        return {t: idf_map[t] for t in qtf if t in idf_map}
    tbl = index.scan(TERM_STATS, sorted(qtf), ["term", "idf"]).to_table()
    return dict(zip(tbl["term"].to_pylist(), tbl["idf"].to_pylist()))


def _query_blocks(spark: SparkSession, index: InvertedIndex,
                  terms: list[str]) -> DataFrame:
    buckets = sorted({term_bucket_py(t, index.cfg.index.term_buckets)
                      for t in terms})
    return (index.postings(spark)
            .filter(F.col("term_bucket").isin(buckets)
                    & F.col("term").isin(sorted(terms))))


def _bm25_unit(tf, dl, k1: float, b: float, avgdl: float):
    """The idf-free per-posting BM25 factor tf·(k1+1) / (tf +
    k1·(1 − b + b·dl/avgdl)), elementwise over numpy arrays. Every
    scorer multiplies it by the term weight in this exact float order,
    so partials are bitwise-identical across routes."""
    tf = tf.astype("float64")
    return tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl.astype("float64")
                                      / avgdl))


def _score_blocks_closure_batch(blocks: DataFrame, index: InvertedIndex,
                                qweights: list[dict],
                                acc_blocks=None) -> DataFrame:
    """Decode + score posting blocks → per-posting partial scores, one
    row per (query_id, doc, term), with each query's {term: weight} map
    CLOSURE-CAPTURED instead of broadcast-joined: the join's
    BroadcastExchange cost ~1.4 s per query at bench scale (measured r7
    — the dominant term of the exact path), while a few-entry dict rides
    the task closure for free. One bulk decode per Arrow batch serves
    every query: each query keeps the postings of ITS terms through one
    vectorized row mask. ``qweights[qi]`` is query qi's map (empty dict →
    the query emits nothing); ``blocks`` must be filtered to their terms.

    NOTE the weight is the SINGLE-occurrence idf, not idf·qtf: per-doc
    scores are assembled by folding over the query token SEQUENCE
    (repeats included) in the exact float-addition order BM25Okapi uses —
    see ``_fold_scores_batch``. Multiplying by qtf up front is
    mathematically equal but floating-point different, and last-ulp
    differences reorder score-tied documents between execution paths
    (caught at 800k docs)."""
    k1, b = index.cfg.bm25.k1, index.cfg.bm25.b
    avgdl = index.avgdl
    qws = [dict(w) for w in qweights]

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in it:
            if not len(pdf):
                continue
            if acc_blocks is not None:
                acc_blocks.add(len(pdf))
            for qi, tuniq, codes, docs, scores in _posting_partials(
                    pdf, qws, k1, b, avgdl):
                yield pd.DataFrame({
                    "query_id": np.full(len(docs), qi, dtype=np.int32),
                    "term": tuniq[codes], "doc_id": docs, "score": scores})

    return (blocks.select("term", "n", "doc_bytes", "tf_bytes",
                          "dl_bytes")
            .mapInPandas(score,
                         schema="query_id int, term string, "
                                + RESULT_SCHEMA))


def _posting_partials(pdf: pd.DataFrame, qws: list[dict], k1: float,
                      b: float, avgdl: float):
    """The exact plan's per-posting map over one frame of block rows:
    one bulk decode, then for each query qi with a posting here, yield
    (qi, tuniq, codes, doc_ids, scores) — one entry per posting of one of
    its terms, the term being ``tuniq[codes]`` and the score its
    single-occurrence weight × ``_bm25_unit``. The Spark map of
    ``_score_blocks_closure_batch`` and the driver's ``exact_gathered``
    tier both run it, so their partials are the same floats."""
    import numpy as np
    ns = pdf["n"].to_numpy(dtype=np.int64)
    docs, tf, dl = decode_blocks_bulk(
        ns, pdf["doc_bytes"], pdf["tf_bytes"], pdf["dl_bytes"])
    unit = _bm25_unit(tf, dl, k1, b, avgdl)
    tcodes, tuniq = pd.factorize(pdf["term"].to_numpy())
    codes = np.repeat(tcodes, ns)
    for qi, w in enumerate(qws):
        rows = np.array([t in w for t in tuniq], dtype=bool)[codes]
        if not rows.any():
            continue
        wts = np.array([w.get(t, 0.0) for t in tuniq])
        yield qi, tuniq, codes[rows], docs[rows], wts[codes[rows]] * unit[rows]


def _apply_after(scored: DataFrame, after) -> DataFrame:
    """Search-after pagination cursor: keep only docs STRICTLY after
    ``after = (score, doc_id)`` in the engine's total result order
    (score DESC, doc_id ASC). The cursor is the last row of the previous
    page (UNROUNDED score — scores are bitwise-identical across paths,
    so the float equality is well-defined), making deep paging O(page)
    instead of O(offset + page): no re-materialization of skipped rows,
    and under the served/pruned kernels θ becomes the k-th best
    POST-CURSOR score (rank-safe: dropping docs only lowers θ, and
    block bounds over all docs stay upper bounds — the same argument as
    ``filter_docs``/``exclude_docs``)."""
    if after is None:
        return scored
    s_a, d_a = float(after[0]), int(after[1])
    return scored.filter(
        (F.col("score") < F.lit(s_a))
        | ((F.col("score") == F.lit(s_a)) & (F.col("doc_id") > F.lit(d_a))))


def _fold_scores_batch(partials: DataFrame,
                       token_seqs: list[list[str]],
                       min_matches: list[int] | None = None) -> DataFrame:
    """Per-(query_id, doc_id) score = LEFT FOLD over THAT query's token
    sequence (repeats included) of the per-(query, doc, term) partials —
    the bit-exact float addition order of BM25Okapi's ``get_scores``
    (score += per token). Spark's sum() aggregate adds in
    partition-arrival order, which is nondeterministic; with
    mathematically-tied scores that noise reorders the tie-break between
    runs and between execution paths. The fold is pure JVM
    (map_from_entries + higher-order aggregate), each query's sequence
    dispatched by a literal query_id→tokens map; single-query callers
    pass a batch of one (query_id 0).

    ``min_matches`` (aligned with ``token_seqs``): per-query
    minimum-should-match — docs whose per-term map holds fewer than m
    distinct matched terms are dropped BEFORE the fold (the map's size IS
    the distinct matched-term count: partials arrive one row per (query,
    doc, term)). Zero extra passes over the data."""
    tok_map = F.create_map(*[
        x for qi, seq in enumerate(token_seqs)
        for x in (F.lit(qi), F.array(*[F.lit(t) for t in seq]))])
    g = partials.groupBy("query_id", "doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "score")))
        .alias("__pm"))
    if min_matches is not None and any(m > 1 for m in min_matches):
        mm_map = F.create_map(*[
            F.lit(x) for qi, m in enumerate(min_matches)
            for x in (qi, m)])
        g = g.filter(F.size("__pm")
                     >= F.element_at(mm_map, F.col("query_id")))
    folded = F.aggregate(
        F.element_at(tok_map, F.col("query_id")), F.lit(0.0),
        lambda acc, t: acc + F.coalesce(F.element_at(F.col("__pm"), t),
                                        F.lit(0.0)))
    return g.select("query_id", "doc_id", folded.alias("score"))


def _apply_doc_exclude(partials: DataFrame,
                       exclude_docs: DataFrame | None) -> DataFrame:
    """NEGATIVE filtered retrieval: drop documents present in
    ``exclude_docs`` (any DataFrame with a ``doc_id`` column) BEFORE
    top-k — the `-term` / must-not side of a boolean query. A LEFT ANTI
    join on the score partials: the exclusion set is typically another
    term's posting docs (bounded by that term's df), which Catalyst
    broadcasts when small; 'all docs except X' never materializes."""
    if exclude_docs is None:
        return partials
    return partials.join(exclude_docs.select("doc_id"), "doc_id",
                         "left_anti")


def _apply_doc_filter(partials: DataFrame,
                      filter_docs: DataFrame | None) -> DataFrame:
    """Restrict per-(doc, term) score partials to documents present in
    ``filter_docs`` (any DataFrame with a ``doc_id`` column — typically a
    metadata scan with the predicate pushed down to parquet, e.g.
    ``docs.filter(F.col("lang") == "en").select("doc_id")``).

    A LEFT SEMI join BEFORE the per-doc fold/top-k: filtered retrieval
    must drop excluded docs before they occupy top-k slots (post-filtering
    a top-k underfills the result), and filtering at partial granularity
    also shrinks the fold's groupBy input. Score values are untouched, so
    filtered results stay bitwise-comparable across execution paths.
    Catalyst broadcasts the filtered id side when it is small; a
    non-selective filter degrades to a doc_id-keyed shuffle join — the
    honest cost of filtering at 10^12 docs without a filter-aligned
    partition layout."""
    if filter_docs is None:
        return partials
    return partials.join(filter_docs.select("doc_id"), "doc_id",
                         "left_semi")


# filter DataFrame → {cap: (ids, too_big)} for a filter whose rows cannot
# change (``_rows_fixed``), or None for one collected on every request.
# Keyed by the caller's object (classic DataFrames hash by identity), so
# an entry lives exactly as long as the caller keeps the filter.
_MASKS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
# the only plan leaves whose rows are part of the plan itself
_FIXED_LEAVES = ("Range", "LocalRelation", "OneRowRelation")


def _collect_filter_ids(filter_docs: DataFrame | None, cap: int):
    """``(ids, too_big)``: the driver-side sorted unique doc_id array of
    ``filter_docs`` for the kernels' masks, or ``(None, True)`` when it
    holds more than ``cap`` ids (the caller then falls back to the
    join-based exact path, or raises); ``(None, False)`` for no filter.

    A filter whose rows cannot change (``_rows_fixed``) is collected once
    per DataFrame object and cap, so a repeated filter costs no Spark
    job; any other filter (a Parquet or catalog scan, whose files may
    change between requests) is collected on every call."""
    if filter_docs is None:
        return None, False
    if filter_docs not in _MASKS:
        _MASKS[filter_docs] = {} if _rows_fixed(filter_docs) else None
    memo = _MASKS[filter_docs]
    if memo is None:
        return _read_filter_ids(filter_docs, cap)
    if cap not in memo:
        memo[cap] = _read_filter_ids(filter_docs, cap)
    return memo[cap]


def _rows_fixed(df: DataFrame) -> bool:
    """True when ``df`` gives the same rows on every evaluation: a
    driver-resident result, or an analyzed plan whose leaf plans are all
    ``_FIXED_LEAVES``, which is deterministic, whose leaf expressions are
    attributes and literals (``current_timestamp()`` is deterministic to
    Spark but a leaf of neither kind) and which holds no user-defined
    function (its deterministic flag is a promise, not a fact) and no
    subquery. Walks the plan over Py4J, leaves first so that a scan is
    turned down in a few calls; the caller runs it once per DataFrame
    object."""
    if isinstance(df, _DriverResult):
        return True
    plan = df._jdf.queryExecution().analyzed()

    def seq(s) -> list:
        return [s.apply(i) for i in range(s.length())]

    if any(p.nodeName() not in _FIXED_LEAVES
           for p in seq(plan.collectLeaves())) or not plan.deterministic():
        return False
    forbidden = [df.sparkSession._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions." + name)
        for name in ("UserDefinedExpression", "PlanExpression")]

    def fixed_expr(e) -> bool:
        if any(c.isInstance(e) for c in forbidden):
            return False
        kids = seq(e.children())
        if not kids:
            return e.nodeName() in ("AttributeReference", "Literal")
        return all(fixed_expr(c) for c in kids)

    def fixed_plan(p) -> bool:
        return (all(fixed_expr(e) for e in seq(p.expressions()))
                and all(fixed_plan(c) for c in seq(p.children())))

    return fixed_plan(plan)


def _read_filter_ids(filter_docs: DataFrame, cap: int):
    """One collect of ``_collect_filter_ids``. A driver-resident result
    is read from its Arrow ``doc_id`` column in-process. Any other
    filter is read as Arrow with at most cap+1 raw rows (bounding driver
    memory: at the default cap, 5M ids = 40 MB int64, the envelope of
    the warm idf cache) and deduplicated on the driver; only when the
    raw rows exceed ``cap`` does a ``distinct`` probe decide whether the
    unique ids do too."""
    import numpy as np
    if isinstance(filter_docs, _DriverResult):
        col = filter_docs._table.column("doc_id")
    else:
        doc_ids = filter_docs.select("doc_id")
        col = doc_ids.limit(cap + 1).toArrow().column("doc_id")
        if len(col) > cap:
            col = (doc_ids.distinct().limit(cap + 1).toArrow()
                   .column("doc_id"))
    ids = np.unique(col.drop_null().to_numpy().astype(np.int64))
    if len(ids) > cap:
        return None, True          # too big to ship — fall back
    ids.flags.writeable = False    # shared by every request of a memo
    return ids, False


@dataclass
class _Request:
    """One top-k request as every route sees it (built by ``_request``).
    ``token_seqs`` holds one scoring sequence per query — ``[]`` for a
    query with no term in the vocabulary (``token_seq`` is the first).
    ``idf`` maps every known term of every query to its
    single-occurrence idf."""
    token_seqs: list
    idf: dict
    min_matches: list
    k: int | None
    filter_docs: DataFrame | None = None
    exclude_docs: DataFrame | None = None
    boost_docs: DataFrame | None = None
    after: tuple | None = None
    stats: dict | None = None
    allowed: object = None        # sorted filter ids, see collect_masks
    blocked: object = None        # sorted exclude ids
    acc_decoded: object = None    # stats= accumulators, see track
    acc_total: object = None

    @property
    def token_seq(self) -> list[str]:
        return self.token_seqs[0]

    @property
    def empty(self) -> bool:
        """No known query term, or k=0: every route returns no rows."""
        return not self.idf or self.k == 0

    def collect_masks(self) -> bool:
        """Collect ``filter_docs``/``exclude_docs`` as the kernel's sorted
        id masks (``_collect_filter_ids``: no Spark job for a
        driver-resident result or a repeated filter whose rows cannot
        change, one JVM-only collect otherwise). False as soon as one
        survivor set exceeds ``_MASK_IDS_MAX`` — the join-based exact
        plan then answers, so the other set is never collected."""
        self.allowed, too_big = _collect_filter_ids(self.filter_docs,
                                                    _MASK_IDS_MAX)
        if too_big:
            return False
        self.blocked, too_big = _collect_filter_ids(self.exclude_docs,
                                                    _MASK_IDS_MAX)
        return not too_big

    @property
    def filtered_out(self) -> bool:
        """The filter admits no document: the answer is empty."""
        return self.allowed is not None and not len(self.allowed)

    def track(self, spark: SparkSession, total: bool = False) -> None:
        """Register the ``stats=`` accumulators: ``decoded_blocks``, plus
        ``total_blocks`` (resident block rows) on the served routes."""
        if self.stats is None:
            return
        sc = spark.sparkContext
        self.acc_decoded = self.stats["decoded_blocks"] = sc.accumulator(0)
        if total:
            self.acc_total = self.stats["total_blocks"] = sc.accumulator(0)

    def kernel(self, index: InvertedIndex, block_skip: bool = True, **kw):
        """This request's ``_served_local_topk`` kernel."""
        return _served_local_topk(
            self.token_seqs, self.idf, index.cfg.bm25.k1, index.cfg.bm25.b,
            index.avgdl, self.k, block_skip,
            acc_decoded=self.acc_decoded, acc_total=self.acc_total,
            allowed=self.allowed, min_matches=self.min_matches,
            blocked=self.blocked, after=self.after, **kw)

    def answer(self, tier: str, result: DataFrame) -> DataFrame:
        """Return ``result``, recording ``tier`` as ``stats["tier"]``."""
        if self.stats is not None:
            self.stats["tier"] = tier
        return result


def _request(spark: SparkSession, index: InvertedIndex, queries: list,
             k: int | None, min_match: int | str | None = None,
             filter_docs: DataFrame | None = None,
             exclude_docs: DataFrame | None = None,
             boost_docs: DataFrame | None = None,
             after=None, stats: dict | None = None) -> _Request:
    """Resolve a request once for every route: each query's scoring
    tokens, the idf of their known terms (``query_term_idf`` — the warm
    driver cache, else one driver-side read for the whole batch; none
    when k=0), each query's min_match (``_resolve_min_match``, only for
    queries with a known term) and the (float, int) cursor. ``k=None``: unbounded."""
    seqs = [_tokens(q) for q in queries]
    idf = {} if k == 0 else query_term_idf(
        spark, index, [t for s in seqs for t in s])
    seqs = [s if any(t in idf for t in s) else [] for s in seqs]
    return _Request(
        seqs, idf, [_resolve_min_match(s, min_match) if s else 1
                    for s in seqs], k, filter_docs, exclude_docs,
        boost_docs, None if after is None
        else (float(after[0]), int(after[1])), stats)


def _exact_topk(index: InvertedIndex, req: _Request,
                blocks: DataFrame) -> DataFrame:
    """The exact plan of a single-query request over posting ``blocks``
    (already filtered to its terms): closure scorer → filter/exclude
    joins → token-order fold with min_match → boost → after → top-k, as
    one unexecuted plan ending in TakeOrderedAndProject."""
    partials = _score_blocks_closure_batch(
        blocks, index, [req.idf], acc_blocks=req.acc_decoded)
    partials = _apply_doc_exclude(
        _apply_doc_filter(partials, req.filter_docs), req.exclude_docs)
    scored = _fold_scores_batch(partials, req.token_seqs,
                                req.min_matches).drop("query_id")
    if req.boost_docs is not None:
        # static per-doc score multiplier (function-score / Lucene doc
        # boost): applied AFTER the fold, BEFORE top-k selection, so the
        # boost reorders the ranking, missing docs boost 1.0. The left
        # side is the candidate set (bounded by the query terms' dfs),
        # the right a column-pruned (doc_id, boost) scan — a plain hash
        # join, no corpus materialization.
        scored = (scored
                  .join(req.boost_docs.select("doc_id", "boost"),
                        "doc_id", "left")
                  .select("doc_id",
                          (F.col("score")
                           * F.coalesce(F.col("boost"), F.lit(1.0)))
                          .alias("score")))
    return (_apply_after(scored, req.after)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(req.k))


def _exact_gathered(spark: SparkSession, index: InvertedIndex,
                    req: _Request, pdf: pd.DataFrame) -> DataFrame:
    """The exact plan of a single-query request carried out on the driver
    over its gathered block rows ``pdf`` (the ``exact_gathered`` tier):
    every posting scored by the plan's own map (``_posting_partials``),
    per-doc scores folded in query-token order — each doc gets one
    addition per token it matches, in the order ``_fold_scores_batch``
    adds them (an absent term's +0.0 leaves the float unchanged) — then
    min_match, the filter/exclude masks and ``after``, and the top-k in
    (score DESC, doc_id ASC) order. Zero Spark jobs; no block is
    skipped."""
    import numpy as np
    if req.acc_decoded is not None:
        req.acc_decoded.add(len(pdf))
    part = next(_posting_partials(pdf, [req.idf], index.cfg.bm25.k1,
                                  index.cfg.bm25.b, index.avgdl), None)
    if part is None:
        return local_result(spark)
    _, tuniq, codes, docs, scores = part
    uniq, slot = np.unique(docs, return_inverse=True)
    totals = np.zeros(len(uniq))
    code_of = {t: c for c, t in enumerate(tuniq)}
    for tok in req.token_seq:
        if tok in code_of:
            # a doc holds a term at most once: no repeated slot here
            hit = codes == code_of[tok]
            totals[slot[hit]] += scores[hit]
    if req.min_matches[0] > 1:
        # one partial per (doc, term): the count is the distinct matches
        keep = np.bincount(slot, minlength=len(uniq)) >= req.min_matches[0]
        uniq, totals = uniq[keep], totals[keep]
    uniq, totals = _apply_masks(uniq, totals, req.allowed, req.blocked,
                                req.after)
    top = np.lexsort((uniq, -totals))[:req.k]
    return local_result(spark, uniq[top], totals[top])


def _cold_scores_batch(spark: SparkSession, index: InvertedIndex,
                       req: _Request, warm_ranges: frozenset) -> DataFrame:
    """Exact per-(query_id, doc_id) scores of ``req`` over posting blocks
    whose range_id is NOT in ``warm_ranges`` (a PARTIAL warm serving
    subset, ``InvertedIndex.warm(ranges=...)``; empty → every range),
    with the request's filter, exclude and cursor applied — the on-disk
    half every served path unions in so partial warm stays
    result-identical to full warm. Scores use the same per-block float
    expression and query-token fold as every other path (bitwise
    contract). The resident set is excluded with an isin literal — fine
    for the head-shard warming the memory envelope prescribes (10-10^4
    hot ranges); a fleet warming millions of ranges would swap this for
    a broadcast anti-join."""
    qweights = [{t: float(req.idf[t])
                 for t in sorted({x for x in seq if x in req.idf})}
                for seq in req.token_seqs]
    known = sorted({t for w in qweights for t in w})
    if not known:
        return local_result(spark, schema=_BATCH_SCHEMA)
    blocks = _query_blocks(spark, index, known)
    blocks = blocks.filter(
        ~F.col("range_id").isin([int(r) for r in warm_ranges])
        if warm_ranges else F.lit(True))
    partials = _score_blocks_closure_batch(blocks, index, qweights)
    # min_match stays correct under the warm/cold split: a doc's complete
    # postings live in ONE range, and a range is entirely warm or cold,
    # so each side's per-doc distinct-matched-term count is total
    scores = _fold_scores_batch(partials, req.token_seqs,
                                min_matches=req.min_matches)
    return _apply_after(_apply_doc_exclude(
        _apply_doc_filter(scores, req.filter_docs), req.exclude_docs),
        req.after)


def term_docs(spark: SparkSession, index: InvertedIndex,
              term: str) -> DataFrame:
    """All doc_ids whose postings contain ``term`` (one bucket+term-pruned
    block scan + Arrow decode) — the building block for boolean
    constraints: required terms semi-join, excluded terms anti-join
    (query/parser.py). Size is the term's df, not the corpus."""
    # project to the two columns the kernel touches BEFORE the Python
    # boundary — mapInPandas otherwise ships (and reads) every column
    blocks = _query_blocks(spark, index, [term]).select("n", "doc_bytes")

    def explode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf):
                # one varint pass over the batch's doc buffers; tf/dl
                # never decoded
                yield pd.DataFrame({"doc_id": decode_blocks_bulk(
                    pdf["n"], pdf["doc_bytes"])})

    return blocks.mapInPandas(explode, schema="doc_id long")


def term_vectors(spark: SparkSession, index: InvertedIndex,
                 doc_id: int) -> DataFrame:
    """Term-vectors for one document (the `_termvectors` debugging /
    feature-extraction surface): (term, tf, positions) over the doc's
    K1 token stream, positions 0-based in the kept-token sequence (the
    same coordinate system as the positional table), ordered term ASC.

    Served from the Stage A checkpoint (one packed row per doc) with a
    pushed-down doc_id equality — an id-clustered point read, O(1) row
    groups; no re-tokenize, no postings walk."""
    from ..index.build import LOCAL_TF
    row = (index.io.read(spark, LOCAL_TF)
           .filter(F.col("doc_id") == int(doc_id)))
    ex = row.select(F.posexplode("toks").alias("pos", "term"))
    return (ex.groupBy("term")
            .agg(F.count("*").cast("long").alias("tf"),
                 F.sort_array(F.collect_list("pos")).alias("positions"))
            .orderBy(F.asc("term")))


def explain_score(spark: SparkSession, index: InvertedIndex, query,
                  doc_id: int) -> DataFrame:
    """Score explanation for one (query, document) pair — the `_explain`
    surface every search engine ships: one row per MATCHED query term
    with the inputs and the term's contribution,

        (term, qtf, tf, dl, idf, contribution)
        contribution = idf · qtf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))

    ordered (contribution DESC, term ASC). sum(contribution) equals the
    doc's ranking score up to float addition order (the ranking fold
    adds in query-token order; tests assert exact equality via the same
    fold arithmetic).

    Cost shape at 10^12 docs: the scan is bucket+term-pruned to the
    query terms' blocks AND interval-pruned to the ≤1 block per term
    whose [first_doc_id, last_doc_id] covers the target doc — O(query
    terms) decoded blocks, never a postings walk."""
    qtf = _qtf(query)
    if not qtf:
        return spark.createDataFrame(
            [], "term string, qtf int, tf long, dl long, idf double, "
                "contribution double")
    idf = query_term_idf(spark, index, query)
    did = int(doc_id)
    blocks = _query_blocks(spark, index, sorted(qtf)).filter(
        (F.col("first_doc_id") <= did) & (F.col("last_doc_id") >= did))

    def pick(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in it:
            ns = pdf["n"].to_numpy(dtype=np.int64)
            d, tf, dl = decode_blocks_bulk(ns, pdf["doc_bytes"],
                                           pdf["tf_bytes"], pdf["dl_bytes"])
            hit = d == did       # a doc occurs at most once per term
            if hit.any():
                yield pd.DataFrame({
                    "term": np.repeat(pdf["term"].to_numpy(), ns)[hit],
                    "tf": tf[hit], "dl": dl[hit]})

    hits = blocks.mapInPandas(pick, schema="term string, tf long, dl long")
    k1, b = index.cfg.bm25.k1, index.cfg.bm25.b
    qdf = spark.createDataFrame(
        [(t, int(n), float(idf[t])) for t, n in sorted(qtf.items())
         if t in idf],
        "term string, qtf int, idf double")
    tf = F.col("tf").cast("double")
    unit = (tf * (k1 + 1)
            / (tf + k1 * (1 - b + b * F.col("dl") / index.avgdl)))
    return (hits.join(F.broadcast(qdf), "term")
            .select("term", "qtf", "tf", "dl", "idf",
                    (F.col("idf") * F.col("qtf") * unit)
                    .alias("contribution"))
            .orderBy(F.desc("contribution"), F.asc("term")))


def bm25_topk_exact(spark: SparkSession, index: InvertedIndex, query,
                    k: int = 10, stats: dict | None = None,
                    filter_docs: DataFrame | None = None,
                    min_match: int | str | None = None,
                    exclude_docs: DataFrame | None = None,
                    boost_docs: DataFrame | None = None,
                    after: tuple[float, int] | None = None) -> DataFrame:
    """Exact BM25 top-k, with no block skipped. When the query terms'
    blocks fit the gather budgets (``_PRUNED_LOCAL_BLOCKS_MAX`` rows,
    ``_PRUNED_LOCAL_BYTES_MAX`` encoded bytes) and no ``boost_docs`` is
    given, the ``exact_gathered`` tier reads them from Parquet and runs
    the exact plan on the driver — zero Spark jobs unless a
    ``filter_docs``/``exclude_docs`` mask must be collected (see
    ``_collect_filter_ids``) — and returns a driver-resident result; otherwise the plan is one Spark
    action (``_exact_topk``). Both tiers give the same rows, bit for
    bit. ``filter_docs`` (optional DataFrame
    with a ``doc_id`` column) restricts ranking to those documents —
    applied BEFORE top-k selection (see ``_apply_doc_filter``), so the
    result is the true top-k of the filtered corpus, scored identically
    to the unfiltered path.

    ``min_match``: minimum-should-match — ``"all"`` for conjunctive AND
    semantics, an int m ≥ 1 to require m distinct matched query terms
    (see ``_resolve_min_match``). Applied before top-k like the filter,
    composes with it; scores are untouched.

    ``exclude_docs``: must-NOT filter (see ``_apply_doc_exclude``) —
    composes with both of the above.

    ``boost_docs`` (optional DataFrame with (doc_id, boost)): static
    per-doc score multiplier applied after the fold, before top-k (see
    ``_exact_topk``) — function-score ranking (recency, quality priors).

    ``after`` (optional (score, doc_id) cursor): search-after
    pagination — see ``_apply_after``. Page 2 = the previous page's
    last (UNROUNDED score, doc_id).

    Pass a dict as ``stats`` to receive the ``decoded_blocks``
    accumulator, the ``tier`` taken (``exact_gathered``, ``exact`` or
    ``empty``) and, whenever the gather was tried, ``gathered_rows`` and
    ``gathered_bytes``."""
    # weights ride the task closure (warm: driver idf cache; cold: a
    # driver-side term_stats read — zero jobs either way) — the r6 plan
    # broadcast-joined a weights relation instead, whose
    # BroadcastExchange alone cost ~1.4 s per query at bench scale
    # (measured r7)
    return _topk(spark, index, _request(
        spark, index, [query], k, min_match, filter_docs, exclude_docs,
        boost_docs, after, stats), "exact")


def _served_local_topk(token_seqs: list[list[str]], idf_map: dict,
                       k1: float, b: float, avgdl: float, k: int | None,
                       block_skip: bool,
                       acc_decoded=None, acc_total=None,
                       allowed=None, min_matches=None, blocked=None,
                       after=None, fine_prune=False):
    """The kernel of every served and pruned tier, WITH block-max
    skipping: before decoding anything, every block row's idf-free unit
    upper bound is computed from the resident (max_tf, min_dl) metadata,
    ranges are visited in descending summed-bound order per query, and a
    range whose bound cannot beat the task-local θ (the k-th best score
    so far, once k rows are held, with a tie-safe ulp slack) is never
    decoded — nor is any range after it, since bounds only fall and θ
    only rises. This is what
    keeps warm serving honest for head terms at 10^9+ docs: a shard whose
    best possible doc can't crack its own local top-k stops decoding
    after the few hottest ranges instead of walking every posting block.

    Rank-safety → BITWISE identity (tests/test_wand.py::
    test_served_block_skip_bitwise): a doc's complete postings live in
    one range of one shard, so skipping a range drops whole documents
    whose total score is strictly below θ's slack margin — never a single
    term's contribution — and every surviving doc's score is accumulated
    in QUERY TOKEN order over exactly the same per-block float partials
    as the unskipped kernel.

    ``k=None`` (with ``block_skip=False`` only): every matching doc, no
    top-k cut — hybrid's served per-(query, doc) scores.

    ``min_matches`` (optional list aligned with ``token_seqs``):
    per-query minimum-should-match. A doc's distinct-matched-term count
    is complete within its range (all of a doc's postings live in one
    range of one shard), so the mask is applied per range before the
    running top-k/θ update — θ is the k-th best QUALIFYING score, and
    block-max skipping stays rank-safe for the same reason as with
    ``allowed``: a range bound over all docs upper-bounds the
    qualifying subset.

    ``acc_decoded``/``acc_total`` are optional Spark accumulators
    counting decoded vs resident block rows (task retries may
    double-count; observability only, not part of any result).

    ``allowed`` (optional SORTED unique int64 numpy array): FILTERED
    retrieval — only these doc_ids may enter the local top-k. The mask is
    applied to each range's scored docs BEFORE the running top-k/θ
    update, so θ is the k-th best FILTERED score and the result is the
    true top-k of the filtered corpus. Block-max skipping stays rank-safe
    under the mask: a range bound is an upper bound over ALL its docs,
    hence also over the allowed subset — skipping only gets more eager,
    never wrong. Ships to executors via closure capture (same Spark
    broadcast mechanics as the idf map); callers cap its size
    (``_collect_filter_ids``) and fall back to the join-based exact path
    beyond the cap.

    ``blocked`` (optional SORTED unique int64 numpy array): the NEGATIVE
    mask — excluded docs never enter the local top-k (the `-term` side of
    a boolean query). Same θ/bound rank-safety as ``allowed``: dropping
    docs only lowers θ, and bounds over all docs stay upper bounds.

    ``after`` (optional (score, doc_id) cursor, single-query callers
    only): search-after pagination — docs at or before the cursor in
    (score DESC, doc_id ASC) order never enter the local top-k, so θ is
    the k-th best POST-CURSOR score. Same rank-safety argument as
    ``allowed``/``blocked``.

    Rows come out as (query_id, doc_id, score): each query's ≤ k rows
    in (score DESC, doc_id ASC) order, query_id its slot in
    ``token_seqs``.

    ``fine_prune`` (the pruned tiers): block-level BMW refinement
    INSIDE each visited range (reads the first/last_doc_id columns):
    decode only blocks overlapping a doc interval whose summed clamped
    per-term bound reaches the current θ (``_hot_block_mask``).
    Rank-safe under partial scoring because every kept contribution is
    bounded by its term's CLAMPED (≥ 0) bound, so a partially-scored
    doc's total never exceeds its interval bound < θ — and hot-interval
    docs keep every block, hence exact scores (the ``_hot_block_mask``
    argument, applied locally with a rising θ)."""

    def local_topk(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        frames = [pdf for pdf in it if len(pdf)]
        if not frames:
            return
        pdf = frames[0] if len(frames) == 1 \
            else pd.concat(frames, ignore_index=True)
        terms_col = pdf["term"].to_numpy()
        rids_col = pdf["range_id"].to_numpy(dtype=np.int64)
        ns_col = pdf["n"].to_numpy(dtype=np.int64)
        dbs = pdf["doc_bytes"].to_numpy()
        tbs = pdf["tf_bytes"].to_numpy()
        lbs = pdf["dl_bytes"].to_numpy()
        if fine_prune:
            first_col = pdf["first_doc_id"].to_numpy(dtype=np.int64)
            last_col = pdf["last_doc_id"].to_numpy(dtype=np.int64)
        nrows = len(pdf)
        if acc_total is not None:
            acc_total.add(nrows)

        # idf- and qtf-free unit bound per block row (vectorized; the
        # same float expression as the per-row form: (k1+1)·mtf /
        # (mtf + k1·(1 − b + b·mdl/avgdl))); per (range, term) the bound
        # is the max over that term's blocks in the range
        unit_ub = _bm25_unit(pdf["max_tf"].to_numpy(),
                             pdf["min_dl"].to_numpy(), k1, b, avgdl)
        # group rows by (range, term): stable lexsort keeps each group's
        # row indices in original (ascending) order — the accumulation
        # order the bitwise contract fixes
        tcodes, tuniq = pd.factorize(terms_col)
        order_rows = np.lexsort((tcodes, rids_col))
        so_r = rids_col[order_rows]
        so_t = tcodes[order_rows]
        gch = np.empty(nrows, dtype=bool)
        gch[0] = True
        gch[1:] = (so_r[1:] != so_r[:-1]) | (so_t[1:] != so_t[:-1])
        gstart = np.flatnonzero(gch)
        gend = np.append(gstart[1:], nrows)
        by_range_term: dict[tuple, np.ndarray] = {}
        max_unit: dict[tuple, float] = {}
        for a, e in zip(gstart, gend):
            idxs = order_rows[a:e]
            key = (int(so_r[a]), tuniq[so_t[a]])
            by_range_term[key] = idxs
            max_unit[key] = float(unit_ub[idxs].max())

        decoded: dict[int, tuple] = {}
        _row_w = np.array([idf_map[t] for t in terms_col])

        def decode_bulk(sel: np.ndarray) -> None:
            """Decode MANY block rows in one varint pass per column —
            bitwise-identical per row to decode_block + the per-block
            score expression."""
            nsel = ns_col[sel]
            d_all, tf, ln = decode_blocks_bulk(nsel, dbs[sel], tbs[sel],
                                               lbs[sel])
            s_all = np.repeat(_row_w[sel], nsel) \
                * _bm25_unit(tf, ln, k1, b, avgdl)
            ends = np.cumsum(nsel)
            for i, a, e in zip(sel, ends - nsel, ends):
                decoded[int(i)] = (d_all[a:e], s_all[a:e])
            if acc_decoded is not None:
                acc_decoded.add(len(sel))

        def accum_range(rid: int, seq: list[str], qtf: dict,
                        mm: int, rows_map: dict | None = None) -> tuple:
            """(uniq_docs, totals) for one range of one query —
            per-token vectorized scatter in QUERY TOKEN order (a doc
            appears at most once per term across the range's blocks,
            so `totals[pos] += s` has no duplicate positions and is
            bitwise-equal to the per-row loop). ``rows_map`` (optional
            {term: row-index array}) restricts to a fine-pruned block
            subset for this (range, query)."""
            if rows_map is None:
                rows_map = {t: by_range_term.get((rid, t), ())
                            for t in qtf}
            need = [i for term in qtf
                    for i in rows_map.get(term, ())
                    if int(i) not in decoded]
            if need:
                decode_bulk(np.asarray(need, dtype=np.int64))
            d_parts = [decoded[int(i)][0] for term in qtf
                       for i in rows_map.get(term, ())]
            if not d_parts:
                return (np.empty(0, dtype=np.int64), np.empty(0))
            uniq = np.unique(np.concatenate(d_parts))
            totals = np.zeros(len(uniq))
            for tok in seq:
                idxs = rows_map.get(tok)
                if idxs is None:
                    continue
                for i in idxs:
                    d, s = decoded[int(i)]
                    totals[np.searchsorted(uniq, d)] += s
            if mm > 1:
                # distinct matched terms per doc: one block holds a
                # given (term, doc) at most once, so +1 per distinct
                # query term whose block contains the doc
                nmatch = np.zeros(len(uniq), dtype=np.int32)
                for tok in qtf:
                    for i in rows_map.get(tok, ()):
                        nmatch[np.searchsorted(uniq,
                                               decoded[int(i)][0])] += 1
                keep = nmatch >= mm
                uniq, totals = uniq[keep], totals[keep]
            return uniq, totals

        def fine_rows_map(rid: int, qtf: dict, theta: float) -> dict:
            """Per-(range, query) block-level BMW subset: keep only
            block rows overlapping a doc interval whose summed clamped
            per-term bound reaches θ's slack margin (shared
            ``_hot_block_mask`` core; same ulp slack as the coarse
            skip)."""
            parts = [(t, by_range_term[(rid, t)]) for t in qtf
                     if (rid, t) in by_range_term]
            if not parts:
                return {}
            rows_cat = np.concatenate([ix for _, ix in parts])
            w_cat = np.concatenate(
                [np.full(len(ix), max(idf_map[t], 0.0) * qtf[t])
                 for t, ix in parts])
            keep = _hot_block_mask(
                first_col[rows_cat], last_col[rows_cat],
                w_cat * unit_ub[rows_cat],
                theta - 1e-9 * abs(theta) - 1e-12)
            cuts = np.cumsum([len(ix) for _, ix in parts])[:-1]
            return {t: ix[kp] for (t, ix), kp in zip(parts,
                                                     np.split(keep, cuts))}

        for qi, seq in enumerate(token_seqs):
            qtf = Counter(t for t in seq if t in idf_map)
            # per-range summed bound for THIS query (weight = idf·qtf:
            # a term's max total contribution incl. query multiplicity).
            # NEGATIVE idf (the ε-fixup ε·avg_idf is negative when the
            # vocabulary-mean raw idf is — degenerate/templated corpora)
            # is clamped to 0 in the BOUND only: the unit bound assumes
            # weight ≥ 0 (it maximizes tf/minimizes dl, which for a
            # negative weight is the MINIMUM), so idf·unit would be a
            # lower bound and skipping could drop true top-k docs. A
            # negative-idf term's true contribution is always < 0, so 0
            # is a valid (if loose) upper bound; scoring is unchanged.
            rb: dict[int, float] = {}
            for (rid, term), mu in max_unit.items():
                c = qtf.get(term)
                if c:
                    rb[rid] = rb.get(rid, 0.0) + max(idf_map[term], 0.0) \
                        * c * mu
            if not rb:
                continue
            mm = min_matches[qi] if min_matches is not None else 1
            if not block_skip:
                # no-skip fast path: every range is visited anyway, so
                # accumulate ALL ranges and take ONE top-k — per doc the
                # additions (its own range's blocks, query-token order)
                # and the (score desc, doc_id asc) selection are
                # identical to the incremental per-range merge
                parts = [_apply_masks(*accum_range(rid, seq, qtf, mm),
                                      allowed, blocked, after)
                         for rid in sorted(rb)]
                run_d = np.concatenate([p[0] for p in parts])
                run_s = np.concatenate([p[1] for p in parts])
                sel = np.lexsort((run_d, -run_s))[:k]
                run_d, run_s = run_d[sel], run_s[sel]
            else:
                order = sorted(rb.items(), key=lambda kv: (-kv[1], kv[0]))
                run_d = np.empty(0, dtype=np.int64)
                run_s = np.empty(0)
                theta = float("-inf")   # until k rows are held
                for rid, bound in order:
                    # ≥ with an ulp-scale slack, not >: a range whose
                    # bound TIES θ can hold a doc that ties the k-th
                    # score and wins the doc_id asc tie-break — and the
                    # bound arithmetic rounds in a different order than
                    # the score, so an exact tie can evaluate to θ−ε
                    # (caught at 800k docs). Keeping ε-border ranges
                    # costs pruning, never correctness.
                    if bound < theta - 1e-9 * abs(theta) - 1e-12:
                        # bounds only fall from here and θ only rises
                        break
                    rows_map = (fine_rows_map(rid, qtf, theta)
                                if fine_prune and theta > float("-inf")
                                else None)
                    uniq, totals = _apply_masks(
                        *accum_range(rid, seq, qtf, mm, rows_map),
                        allowed, blocked, after)
                    # each doc lives in exactly one range → concat never
                    # duplicates; keep only the running local top-k
                    run_d = np.concatenate([run_d, uniq])
                    run_s = np.concatenate([run_s, totals])
                    sel = np.lexsort((run_d, -run_s))[:k]
                    run_d, run_s = run_d[sel], run_s[sel]
                    if len(run_d) >= k:
                        theta = run_s[-1]
            if not len(run_d):
                continue
            yield pd.DataFrame({
                "query_id": np.full(len(run_d), qi, dtype=np.int32),
                "doc_id": run_d, "score": run_s})

    return local_topk


def _member(ids, uniq):
    """``uniq``'s membership in the sorted unique id array ``ids``."""
    import numpy as np
    if not len(ids):
        return np.zeros(len(uniq), dtype=bool)
    pos = np.searchsorted(ids, uniq)
    pos[pos >= len(ids)] = 0
    return ids[pos] == uniq


def _apply_masks(uniq, totals, allowed, blocked, after):
    """Keep the scored docs (``uniq``, ``totals``) that the filter mask
    ``allowed`` admits, the exclude mask ``blocked`` does not hold, and
    that come strictly after the ``after`` cursor (each None: no
    constraint) — the driver-side form of the exact plan's semi/anti
    joins and ``_apply_after``."""
    if allowed is not None:
        keep = _member(allowed, uniq)
        uniq, totals = uniq[keep], totals[keep]
    if blocked is not None:
        keep = ~_member(blocked, uniq)
        uniq, totals = uniq[keep], totals[keep]
    if after is not None and len(uniq):
        s_a, d_a = after
        keep = (totals < s_a) | ((totals == s_a) & (uniq > d_a))
        uniq, totals = uniq[keep], totals[keep]
    return uniq, totals


def _run_local(spark: SparkSession, kernel, pdf: pd.DataFrame,
               schema: str = RESULT_SCHEMA) -> DataFrame:
    """Run a ``_served_local_topk`` kernel in-process over one frame of
    block rows; its rows (each query's already in score DESC, doc_id ASC
    order) come back as a driver-resident result (``local_result``) of
    the DDL ``schema``: its fields name (doc_id, score), after query_id
    when there are three."""
    frames = list(kernel(iter([pdf])))
    if not frames:
        return local_result(spark, schema=schema)
    out = frames[0] if len(frames) == 1 \
        else pd.concat(frames, ignore_index=True)
    cols = ["query_id", "doc_id", "score"][-len(_arrow_schema(schema)):]
    return local_result(spark, *(out[c] for c in cols), schema=schema)


def _per_query_topk(scores: DataFrame, req: _Request) -> DataFrame:
    """Each query's top ``req.k`` rows of the (query_id, doc_id, score)
    rows ``scores``, ordered by (query_id, score DESC, doc_id ASC): a
    TakeOrderedAndProject for one query, a window rank for a batch."""
    order = [F.desc("score"), F.asc("doc_id")]
    if len(req.token_seqs) == 1:
        return scores.orderBy(*order).limit(req.k)
    w = Window.partitionBy("query_id").orderBy(*order)
    return (scores.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= req.k).drop("__r")
            .orderBy("query_id", *order))


def _served_scores(spark: SparkSession, index: InvertedIndex,
                   req: _Request, block_skip: bool,
                   schema: str = _BATCH_SCHEMA) -> DataFrame:
    """The one serving stage, which the served tiers,
    ``bm25_topk_served_batch`` and ``search.bm25_scores_batch_served``
    all run: each query's top ``req.k`` rows (every matching doc when
    ``req.k`` is None) from the request's kernel over the query terms'
    rows of the resident serving layout, in the DDL ``schema`` (fields
    as in ``_run_local``). ``warm`` runs on first use, when no layout is
    resident. It records the tier as ``stats["tier"]``:

      driver   — the driver copy: the kernel runs in-process over the
                 rows ``InvertedIndex.serving_rows`` slices out of it,
                 and the answer is a driver-resident result. Zero Spark
                 jobs.
      executor — the executor shards: one map stage of per-shard local
                 top-ks, plus, under a partial warm, the cold ranges'
                 exact scores on disk (``_cold_scores_batch``), then the
                 per-query merge (``_per_query_topk``)."""
    terms = sorted(req.idf)
    if not index.has_serving_layout():
        index.warm(spark)
    kernel = req.kernel(index, block_skip)
    rows = index.serving_rows(terms)
    if rows is not None:
        return req.answer("driver", _run_local(spark, kernel, rows, schema))
    scores = (index.serving_df().filter(F.col("term").isin(terms))
              .mapInPandas(kernel, schema=_BATCH_SCHEMA))
    wr = index.warm_ranges()
    if wr is not None:
        scores = scores.unionByName(_cold_scores_batch(spark, index, req, wr))
    if req.k is not None:
        scores = _per_query_topk(scores, req)
    cols = ["query_id", "doc_id", "score"]
    names = _arrow_schema(schema).names
    return req.answer("executor", scores.select(*(
        F.col(c).alias(n) for c, n in zip(cols[-len(names):], names))))


def _topk(spark: SparkSession, index: InvertedIndex, req: _Request,
          route: str, block_skip: bool = True,
          min_ranges_to_prune: int = 0) -> DataFrame:
    """The planner: the only code that picks the physical tier of a
    single-query request (tier names in the module docstring), from its
    ``route`` (``exact``, ``served`` or ``pruned``) and the index state:

      1. no known query term, or k=0 → ``empty``;
      2. a filter/exclude set over ``_MASK_IDS_MAX`` ids, which the
         sorted-id masks cannot carry, an ``exact`` request with
         ``boost_docs``, or one (or a pruned request on fewer than
         ``min_ranges_to_prune`` ranges) whose blocks exceed the gather
         budgets (``_gather_blocks``, read before any mask) →
         ``exact``, the join-based Spark plan — the honest cost of a
         non-selective filter at scale;
      3. a filter that admits no document → ``empty``;
      4. ``served`` → ``driver`` when ``warm`` kept the driver copy of
         the serving layout, else ``executor`` (``_served_scores``,
         warming the index on first use);
      5. ``pruned`` on a corpus of at least ``min_ranges_to_prune``
         doc-ranges → ``gathered`` when the candidate blocks fit the
         gather budgets, else ``distributed`` (``_pruned_topk``);
      6. the ``exact`` route, and a ``pruned`` request on fewer ranges
         (pruning only pays at scale — a head term at 10^12 docs touches
         ~10^8 ranges) → ``exact_gathered``.

    With ``req.stats`` the planner records the ``tier`` taken and
    registers the ``decoded_blocks`` accumulator (plus ``total_blocks``
    on the served kernel tiers); a pruned request also gets
    ``pruning_engaged``."""
    if req.empty:
        return req.answer("empty", local_result(spark))
    n_ranges = max(1, index.n_docs >> index.cfg.index.range_shift)
    pruning = route == "served" or (route == "pruned"
                                    and n_ranges >= min_ranges_to_prune)
    # the exact tiers read the blocks first: a request over the gather
    # budgets never collects masks that its Spark plan would not use
    pdf = None if pruning or req.boost_docs is not None \
        else _gather_blocks(index, sorted(req.idf), req.stats)
    masked = (pruning or pdf is not None) and req.collect_masks()
    if route == "pruned" and req.stats is not None:
        req.stats["pruning_engaged"] = pruning and masked
    req.track(spark, total=masked and route == "served")
    if not masked:
        return req.answer("exact", _exact_topk(
            index, req, _query_blocks(spark, index, sorted(req.idf))))
    if req.filtered_out:
        return req.answer("empty", local_result(spark))
    if route == "served":
        return _served_scores(spark, index, req, block_skip, RESULT_SCHEMA)
    if pruning:
        return _pruned_topk(spark, index, req)
    return req.answer("exact_gathered",
                      _exact_gathered(spark, index, req, pdf))


def bm25_topk_served(spark: SparkSession, index: InvertedIndex, query: str,
                     k: int = 10, block_skip: bool = True,
                     stats: dict | None = None,
                     filter_docs: DataFrame | None = None,
                     min_match: int | str | None = None,
                     exclude_docs: DataFrame | None = None,
                     after: tuple[float, int] | None = None) -> DataFrame:
    """Low-latency exact BM25 top-k over the serving layout that
    ``InvertedIndex.warm`` (run on first use) keeps, in one of two tiers
    (``_served_scores``):

    * DRIVER tier — a full warm whose encoded posting bytes fit
      ``_DRIVER_SERVING_BYTES_MAX`` keeps a driver copy of the layout,
      read straight from the postings Parquet (one Arrow table sorted by
      term). The query terms' rows are sliced out by binary search and
      the block-max kernel (``_served_local_topk``) runs in-process over
      them, as the gathered pruned tier does; the ≤ k rows come back as
      a driver-resident result (``local_result``), whose collect reads
      them in-process. Zero Spark jobs, filtered requests included,
      except for one JVM-only collect per ``filter_docs``/
      ``exclude_docs`` set that is neither driver-resident nor already
      collected — a filter whose rows cannot change is collected once
      per DataFrame object (``_collect_filter_ids``). Measured at
      local[4], 10k docs: ~3.5 ms a query, collect included.
    * EXECUTOR tier — over that budget, or under a partial warm:
      postings are resident in executor memory re-sharded by
      ``range_id``, so every document's complete postings live in one
      shard. The query is then a single map stage — each shard decodes
      only the query terms' blocks and emits its exact local top-k —
      followed by a k×shards TakeOrderedAndProject merge. No shuffle, no
      join; weights come from the warm idf cache (zero extra jobs).

    Both tiers are rank- AND bitwise-identical to ``bm25_topk_exact``:
    every doc's full score is computed in exactly one range, so the
    global top-k is a subset of the union of local top-ks (a single
    global θ only skips more), and per-doc scores are accumulated in
    QUERY TOKEN ORDER (bit-identical to the exact path's fold and to
    BM25Okapi — see ``_fold_scores_batch``). ``k=0`` returns no rows.

    ``block_skip`` enables per-shard block-max skipping (default on; see
    ``_served_local_topk`` — bitwise-identical either way). Pass a dict
    as ``stats`` to receive the ``tier`` taken and the
    ``decoded_blocks``/``total_blocks`` accumulators, readable after the
    action completes (on the driver tier, as soon as the call returns).

    ``filter_docs`` (optional DataFrame with a ``doc_id`` column):
    FILTERED retrieval — rank only those documents, applied before top-k
    (bitwise-identical scores to ``bm25_topk_exact(filter_docs=...)``,
    gated in tests/test_filtered.py). While the filter survivor set holds
    at most ``_MASK_IDS_MAX`` ids it ships to the kernel as a sorted id
    mask and serving stays zero-shuffle; a larger survivor set sends the
    request to the exact tier's semi-join — the honest cost of a
    non-selective filter at scale.

    ``min_match``: minimum-should-match / conjunctive AND, same contract
    as ``bm25_topk_exact`` (bitwise-identical results — gated in
    tests/test_conjunctive.py).

    ``exclude_docs``: must-NOT filter — ships as a sorted blocked mask
    within ``_MASK_IDS_MAX`` ids (serving stays zero-shuffle), answered
    by the exact tier's anti-join beyond it.

    ``after``: search-after cursor, same contract as
    ``bm25_topk_exact``."""
    return _topk(spark, index, _request(
        spark, index, [query], k, min_match, filter_docs, exclude_docs,
        after=after, stats=stats), "served", block_skip=block_skip)


def bm25_topk_served_batch(spark: SparkSession, index: InvertedIndex,
                           queries: list[str], k: int = 10,
                           block_skip: bool = True,
                           stats: dict | None = None,
                           filter_docs: DataFrame | None = None,
                           min_match: int | str | None = None,
                           exclude_docs: DataFrame | None = None
                           ) -> DataFrame:
    """Batch form of ``bm25_topk_served``: ALL queries answered in ONE
    pass of the served kernel over the resident serving layout
    (``_served_scores``), instead of one request per query. On the
    driver copy that pass runs in-process (zero Spark jobs); on the
    executor shards it is one map stage (at toy scale each Spark action
    costs ~0.3s of pure scheduling; a 10-query golden batch pays it
    once, not 10×).

    The kernel decodes the union of the batch's query terms' blocks
    once, then for every query accumulates full per-doc scores in QUERY
    TOKEN order and emits its exact top-k (per shard on the executor
    layout, merged by a window rank over Q×k×shards rows).
    Bitwise-identical per query to ``bm25_topk_served`` (same decode,
    same fold order, same (score desc, doc_id asc) total order — gated
    by tests/test_wand.py::test_served_batch_topk_equals_per_query).

    Returns (query_id, doc_id, score), k rows per non-empty query.

    ``filter_docs``/``exclude_docs``: filtered retrieval, same contract
    as ``bm25_topk_served`` (sorted-id masks in the kernel within
    ``_MASK_IDS_MAX`` ids; beyond it, the exact per-(query, doc) scores
    over the on-disk blocks with the semi/anti-joins; applied before
    top-k either way).

    ``min_match``: minimum-should-match applied to EVERY query in the
    batch; ``"all"`` resolves per query against its own distinct token
    count (conjunctive AND per query)."""
    req = _request(spark, index, queries, k, min_match, filter_docs,
                   exclude_docs, stats=stats)
    fits = not req.empty and req.collect_masks()
    if req.empty or req.filtered_out:
        return local_result(spark, schema=_BATCH_SCHEMA)
    if not fits:
        # non-selective filter: exact per-(query, doc) scores over the
        # on-disk blocks (warm_ranges=∅ ⇒ all ranges), semi-joined with
        # the filter, then the same per-query top-k
        return _per_query_topk(
            _cold_scores_batch(spark, index, req, frozenset()), req)
    req.track(spark, total=True)
    return _served_scores(spark, index, req, block_skip)


def _hot_block_mask(firsts, lasts, ubs, theta):
    """One range's block-level BMW keep-mask (the kernel's
    ``fine_prune``): per range, each term's upper bound as a function of
    doc id is piecewise constant over its block intervals; summing them
    over the merged breakpoints gives every doc's total bound, and block
    i survives iff it overlaps a doc interval whose total is ≥ θ.

    Rank-safe: any doc whose total bound reaches θ lies in such an
    interval, so every block containing it survives and its score is
    exact; docs whose bound stays below θ cannot displace the k results
    that established θ. ``>=`` not ``>``: a doc whose exact score TIES
    the k-th score can still win the (score desc, doc_id asc) tie-break,
    so any interval whose bound equals θ must survive for strict
    rank-identity."""
    import numpy as np

    # merged breakpoints: interval j = [pts[j], pts[j+1])
    pts = np.unique(np.concatenate([firsts, lasts + 1]))
    starts = pts[:-1]
    # block i covers interval indices [lo_i, hi_i)
    lo = np.searchsorted(starts, firsts, side="left")
    hi = np.searchsorted(starts, lasts, side="right")
    # total bound per interval via a difference array
    diff = np.zeros(len(starts) + 1)
    np.add.at(diff, lo, ubs)
    np.add.at(diff, hi, -ubs)
    total = np.cumsum(diff[:-1])
    hot = total >= theta
    hot_cum = np.concatenate([[0], np.cumsum(hot)])
    return (hot_cum[hi] - hot_cum[lo]) > 0


def _gather_blocks(index: InvertedIndex, terms: list[str],
                   stats: dict | None) -> pd.DataFrame | None:
    """The gathered tiers' input: the block rows of ``terms`` read
    straight from the postings Parquet on the driver
    (``InvertedIndex.read_blocks``) — zero Spark jobs — or None once
    they exceed ``_PRUNED_LOCAL_BLOCKS_MAX`` rows or
    ``_PRUNED_LOCAL_BYTES_MAX`` encoded bytes (the read then stops: the
    candidates are not driver-sized). ``stats`` receives the rows and
    bytes read as ``gathered_rows`` and ``gathered_bytes``."""
    table, rows, nbytes = index.read_blocks(
        terms, _PRUNED_LOCAL_BLOCKS_MAX, _PRUNED_LOCAL_BYTES_MAX)
    if stats is not None:
        stats["gathered_rows"], stats["gathered_bytes"] = rows, nbytes
    return None if table is None else table.to_pandas()


def _pruned_topk(spark: SparkSession, index: InvertedIndex,
                 req: _Request) -> DataFrame:
    """The pruned tiers of an engaged request (the planner's step 5).
    Both run the block-max kernel with block-level refinement
    (``fine_prune``): ranges visited in descending bound order, θ the
    k-th best score of the ranges visited so far, hot blocks only
    inside a visited range (``fine_rows_map``), the remaining ranges
    skipped.

      GATHERED — the query's candidate blocks are coordinator-sized
        (≤ ``_PRUNED_LOCAL_BLOCKS_MAX`` rows and
        ``_PRUNED_LOCAL_BYTES_MAX`` encoded bytes; both bench tiers, and
        any tail/torso query at scale): the still-encoded blocks are read
        straight from the postings Parquet on the driver
        (``_gather_blocks``, bucket- and term-pruned, stopping as soon as
        a budget is exceeded) and the kernel runs there (``_run_local``,
        shared with the served driver tier). Zero Spark jobs.
      DISTRIBUTED — over a gather budget (head terms): the blocks are
        re-sharded by range_id, so every task holds whole ranges, the
        kernel emits each task's local top-k, and the k × tasks rows are
        merged in (score DESC, doc_id ASC) order: one shuffle-map job and
        one result job. This is the served executor tier's shape, and
        its rank-safety: a doc's postings all live in one range, so a
        task-local θ only skips docs that cannot enter that task's top-k,
        and the global top-k is a subset of the union of local top-ks.

    Both return their ≤ k rows as a driver-resident result
    (``local_result``), so the caller's collect runs no further job.

    ``filter_docs``/``exclude_docs``/``min_match``/``after`` are applied
    inside the kernel, before the running top-k, so θ is the k-th best
    QUALIFYING score; range and interval bounds over all docs stay upper
    bounds for any subset (tests/test_filtered.py::test_pruned_filtered),
    and a doc's distinct-matched-term count is complete within its
    range."""
    terms = sorted(req.idf)
    kernel = req.kernel(index, fine_prune=True)
    pdf = _gather_blocks(index, terms, req.stats)
    if pdf is not None:
        if not len(pdf):
            return req.answer("empty", local_result(spark))
        return req.answer("gathered", _run_local(spark, kernel, pdf))
    rows = (_query_blocks(spark, index, terms).select(*_KERNEL_COLS)
            .repartition("range_id").mapInPandas(kernel, _BATCH_SCHEMA)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(req.k)
            .collect())
    return req.answer("distributed", local_result(
        spark, [r["doc_id"] for r in rows], [r["score"] for r in rows]))


def bm25_topk_pruned(spark: SparkSession, index: InvertedIndex, query: str,
                     k: int = 10, min_ranges_to_prune: int = 1024,
                     stats: dict | None = None,
                     filter_docs: DataFrame | None = None,
                     min_match: int | str | None = None,
                     exclude_docs: DataFrame | None = None,
                     after: tuple[float, int] | None = None) -> DataFrame:
    """Rank- and bitwise-identical to ``bm25_topk_exact``; skips
    doc-ranges whose summed per-term upper bounds cannot reach the k-th
    best score, and inside the ranges it visits, blocks no doc can use.
    The planner (``_topk``) picks the gathered tier when the candidate
    blocks fit the gather budgets, else the distributed tier
    (``_pruned_topk``). When the corpus has fewer than
    ``min_ranges_to_prune`` doc-ranges (pruning only pays off at scale —
    a head term at 10^12 docs touches ~10^8 ranges) it answers as the
    exact route does (``exact_gathered`` or ``exact``), and a
    filter/exclude set over ``_MASK_IDS_MAX`` ids sends it to the
    ``exact`` tier. On a never-warmed index, a request the
    gathered tier answers runs no Spark job: idf and the candidate
    blocks are read straight from Parquet on the driver.

    ``filter_docs``, ``min_match``, ``exclude_docs`` and ``after`` have
    the exact route's contract; the kernel applies them before its
    running top-k, so θ is the k-th best QUALIFYING score (see
    ``_pruned_topk`` for the rank-safety argument).

    Pass a dict as ``stats`` to receive the ``tier`` taken,
    ``pruning_engaged``, the ``decoded_blocks`` accumulator and,
    whenever the gather was tried, ``gathered_rows`` and
    ``gathered_bytes`` (the block rows and encoded bytes read before it
    finished or stopped)."""
    return _topk(spark, index, _request(
        spark, index, [query], k, min_match, filter_docs, exclude_docs,
        after=after, stats=stats), "pruned",
        min_ranges_to_prune=min_ranges_to_prune)
