"""The benchmark's workloads and the corpora they read.

``serve``: the default page corpus, a default build, then ``warm()``;
requests go to ``bm25_topk_served``. ``cold``: a bursty corpus indexed
with small doc-ranges and never warmed; requests go to
``bm25_topk_pruned``. Both run one closed-loop client.
"""

from __future__ import annotations

DOCS = 10_000
CORPUS_PARTITIONS = 8

CORPORA = {
    # pages_df defaults: planted golden phrases, near-uniform tf
    "pages": {"bursty": False, "plant": True, "topics": None},
    # web-like df and tf bursts; rare-term df about 20 docs at 10k docs
    "bursty": {"bursty": True, "plant": False,
               "topics": max(512, DOCS // 60)},
}

# warmup: untimed requests before the window. Served latency is flat
# after two; pruned latency keeps falling for ~15 requests as its several
# jobs per request get compiled, and 6 is what the run time allows.
WORKLOADS = {
    "serve": {"corpus": "pages", "range_shift": None, "warm": True,
              "warmup": 2},
    # 2**7-doc ranges give 78 ranges at 10k docs, above the
    # min_ranges_to_prune=64 the pruned tiers need to engage
    "cold": {"corpus": "bursty", "range_shift": 7, "warm": False,
             "warmup": 6},
}


def corpus_key(name: str, version: str) -> str:
    return f"{name}_{DOCS}_p{CORPUS_PARTITIONS}_v{version}"
