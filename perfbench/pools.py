"""Seeded request pools. The same seed gives the same requests.

A request's kind is fixed by its position in the pool, the words by the
seed: every run sends the same mix in the same order, so a short timed
window does not measure a lucky or unlucky share of costly modifiers.

Every pool draws without repeats: a request whose tokens and modifier
were already drawn (in the warm-up pool or the timed pool of the same
run) is drawn again, so the timed requests are disjoint from the warm-up
ones and never repeat. A pool that runs out of fresh combinations starts
over from its first request.
"""

from __future__ import annotations

import random
from typing import Iterator

from review_recommender_spark.corpus.pages import (COMMON_QUERY_TAILS,
                                                   GOLDEN_PHRASES,
                                                   build_vocab)
from review_recommender_spark.functions.tokenize import (STOP_INDEX,
                                                         tokenize_k2_py)

# serve: positions 1, 5, 9, ... (a quarter) carry a modifier, in this
# order; positions 2, 5 and 8 of every ten (30%) are golden-phrase variants
MODIFIERS = ("filter", "after", "min_match_all")
GOLDEN_POSITIONS = (2, 5, 8)
ZIPF_S = 1.0
TRIES = 50


def _query_vocab() -> list[str]:
    """Corpus words a query can match, in the corpus's frequency order:
    kept by both the query tokenizer and the index stoplist."""
    return [w for w in build_vocab()
            if w not in STOP_INDEX and tokenize_k2_py(w) == [w]]


def draw(make, rng: random.Random, positions, seen: set) -> list[dict]:
    """One request per position from ``make(rng, position)`` whose
    (tokens, modifier) key is not in ``seen``; stops early when a
    position finds no fresh request in TRIES draws."""
    out: list[dict] = []
    for i in positions:
        for _ in range(TRIES):
            req = make(rng, i)
            key = tuple(tokenize_k2_py(req["q"])), req["mod"]
            if key not in seen:
                seen.add(key)
                out.append(req)
                break
        else:
            break
    return out


def serve_request(rng: random.Random, i: int, vocab: list[str],
                  cum: list[float]) -> dict:
    """A golden-phrase variant or 2-4 Zipf-drawn corpus terms."""
    if i % 10 in GOLDEN_POSITIONS:
        words = rng.choice(GOLDEN_PHRASES).split()
        if rng.random() < 0.5 and len(words) > 2:
            words = rng.sample(words, rng.randint(2, len(words) - 1))
        else:
            words = words + rng.choices(vocab, cum_weights=cum, k=1)
    else:
        words = rng.choices(vocab, cum_weights=cum, k=rng.randint(2, 4))
    mod = MODIFIERS[(i // 4) % len(MODIFIERS)] if i % 4 == 1 else None
    return {"q": " ".join(words), "mod": mod}


def cold_request(rng: random.Random, i: int) -> dict:
    """A rare topical phrase (1 or more words of a golden phrase) paired
    with one head word that survives the query stoplist."""
    words = rng.choice(GOLDEN_PHRASES).split()
    words = rng.sample(words, rng.randint(1, len(words)))
    return {"q": " ".join(words + [rng.choice(COMMON_QUERY_TAILS)]),
            "mod": None}


def request_pools(workload: str, seed: int, n_warmup: int
                  ) -> tuple[list[dict], Iterator[dict]]:
    """(warm-up requests, endless iterator of timed requests)."""
    if workload == "serve":
        vocab = _query_vocab()
        cum, acc = [], 0.0
        for rank in range(1, len(vocab) + 1):
            acc += rank ** -ZIPF_S
            cum.append(acc)

        def make(rng, i):
            return serve_request(rng, i, vocab, cum)
    else:
        make = cold_request
    seen: set = set()
    warmup = draw(make, random.Random(f"warmup-{workload}-{seed}"),
                  range(n_warmup), seen)
    timed_rng = random.Random(f"timed-{workload}-{seed}")

    def timed() -> Iterator[dict]:
        drawn: list[dict] = []
        while True:
            batch = draw(make, timed_rng,
                         range(len(drawn), len(drawn) + 64), seen)
            drawn += batch
            yield from batch
            if len(batch) < 64:
                break
        while drawn:
            yield from drawn
    return warmup, timed()
