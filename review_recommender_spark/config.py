"""Engine configuration.

All constants that the reference hard-codes or defaults are made explicit
here, with citations into /root/reference (behavior only; the implementation
is Spark-native and original).

Two BM25 parameterizations exist on purpose:
  * ``bm25_reference()`` — rank_bm25.BM25Okapi constructor defaults
    (k1=1.5, b=0.75, epsilon=0.25), which the reference uses implicitly
    (no args passed at app/test.py:156, app/app_product_search.py:142).
  * ``bm25_north()`` — k1=1.2, b=0.75 per the build target (BASELINE.json
    north_rule); epsilon fixup retained.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class BM25Params:
    k1: float = 1.5
    b: float = 0.75
    epsilon: float = 0.25


def bm25_reference() -> BM25Params:
    return BM25Params(k1=1.5, b=0.75, epsilon=0.25)


def bm25_north() -> BM25Params:
    return BM25Params(k1=1.2, b=0.75, epsilon=0.25)


@dataclass(frozen=True)
class FusionWeights:
    """Linear blend weights for the second pass (reference R2).

    CLI defaults from app/test.py:353-357; the Streamlit app's config-driven
    defaults (config.py:67-71) differ — both are representable.
    """

    dense: float = 0.55
    bm25: float = 0.15
    rerank: float = 0.15
    prior: float = 0.10
    best_review: float = 0.05


@dataclass(frozen=True)
class SecondPassConfig:
    """Reference second-pass knobs (SURVEY.md §2.13)."""

    weights: FusionWeights = field(default_factory=FusionWeights)
    pool_floor: int = 100          # CLI floor (app/test.py:238); app uses 150
    rerank_k: int = 50             # config.py:65
    gate_penalty: float = 0.5      # utils.py calculate_gate_factor default
    prior_strength: float = 20.0   # utils.py bayesian_prior
    prior_rating_weight: float = 0.7   # app/test.py:259
    prior_volume_weight: float = 0.3
    trust_min_reviews: int = 8     # utils.py trust_score_from_reviews
    trust_saturation: int = 50
    apply_trust: bool = False      # True only in the Streamlit profile (app:309)
    gate_text_cap: int = 6000      # app/test.py:294
    rerank_text_cap: int = 2000    # app/test.py:264
    max_gate_groups: int = 6       # utils.py build_gate_groups


def cli_profile() -> SecondPassConfig:
    """Mirrors ``python app/test.py`` defaults (reference quirk Q1)."""
    return SecondPassConfig()


def app_profile() -> SecondPassConfig:
    """Mirrors the Streamlit path: pool floor 150, trust multiplier on."""
    return SecondPassConfig(
        weights=FusionWeights(dense=0.55, bm25=0.20, rerank=0.20, prior=0.20,
                              best_review=0.10),
        pool_floor=150,
        apply_trust=True,
    )


@dataclass(frozen=True)
class IndexConfig:
    """Inverted-index build knobs (Spark-native; no reference analogue —
    the reference keeps its whole corpus in RAM via a pickle)."""

    # Postings are encoded in blocks of at most this many postings
    # (delta+varint over sorted doc_ids). 128 matches common block-max
    # literature (Ding & Suel, "Faster top-k document retrieval using
    # block-max indexes", SIGIR'11).
    block_size: int = 128
    # doc_ids are grouped into contiguous ranges of 2**range_shift docs.
    # Encoded blocks never span a range boundary, so query-time pruning can
    # drop whole ranges using per-(term, range) score upper bounds.
    range_shift: int = 13
    # Number of hash buckets used as the parquet partition column for
    # postings (directory-level pruning for query terms). Keep modest
    # locally; at cluster scale this would be O(thousands).
    term_buckets: int = 32
    # Head-term skew treatment: the Stage C shuffle hashes on the PAIR
    # (term, range_id) — a head term's postings are split across reducers
    # by doc-range (range_shift bounds any reducer's share of one term to
    # 2**range_shift docs), which is unconditional salting by doc-range:
    # stronger than df-threshold salting because no df statistics pass is
    # needed and EVERY term is bounded. See index/build.py Stage C and
    # tests/test_plans.py::test_head_term_skew_bounded.
    # K1 tokenizer cap (reference nlp/12_product_prep.py:78).
    token_cap: int = 5000
    # minimum text length to index (reference MIN_TEXT_LEN, nlp/11:22).
    min_text_len: int = 10
    # 'jvm' = pure Spark expressions (codegen, fastest); 'arrow' = pandas UDF
    # frozen to the reference's exact Python regex semantics. A parity test
    # asserts both produce identical tokens on the test corpora.
    tokenizer_impl: str = "jvm"
    # Driver-side pyarrow shortcuts in the index build (corpus scalars from
    # footer/column reads instead of a Spark agg job) are used only while
    # the pulled column stays comfortably driver-sized. ~10M rows ≈ 80 MB
    # of int64 — safe on any driver; beyond that the Spark-agg fallback
    # runs (tests/test_build_stats.py asserts both paths agree).
    driver_pull_max_docs: int = 10_000_000
    driver_pull_max_terms: int = 10_000_000


@dataclass(frozen=True)
class EngineConfig:
    bm25: BM25Params = field(default_factory=bm25_north)
    index: IndexConfig = field(default_factory=IndexConfig)
    second_pass: SecondPassConfig = field(default_factory=cli_profile)


DEFAULT_CONFIG = EngineConfig()
