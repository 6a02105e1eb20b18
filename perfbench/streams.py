"""Seeded request streams. The engine only ever sees the generated
queries; the same seed always gives the same stream.

Query terms are drawn Zipf-weighted from ``engine.fixtures.vocabulary()``
(the same skew the corpus has), with the planted markers mixed in:
``rare0..rare9`` (1-3 docs each), ``ghost0`` (in no doc) and
``MiXeD-Case7!`` (exercises the analyzer's case folding and punctuation
split).
"""

from __future__ import annotations

import numpy as np

from engine.fixtures import vocabulary

MARKERS = tuple(f"rare{i}" for i in range(10)) + ("ghost0", "MiXeD-Case7!")
# Frequency band of each term drawn, in turn: Zipf ranks 1-10 ("head",
# ~52 % of the corpus's token mass), 11-100 ("torso", ~31 %), the rest
# ("tail", ~18 %), and the planted markers (1 term in 10).
BANDS = ("head", "torso", "head", "tail", "head", "torso", "head",
         "marker", "head", "torso")
AND_SLOTS = (2, 5, 8)  # fresh queries i with i % 10 in these are AND
MAX_TERMS = 6
REPEAT_EVERY = 5      # serve: one exact repeat in every 5 calls (20 %)
ZIPF_S = 1.1


def _zipf(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    return w / w.sum()


class _QueryMaker:
    """Draws distinct (query, mode) pairs with a fixed shape. The i-th
    fresh query has ``1 + i % MAX_TERMS`` terms and is AND when
    ``i % 10`` is in AND_SLOTS; the j-th term drawn comes from frequency
    band ``BANDS[j % len(BANDS)]``. The seed picks only the words, so
    every run sends the same mix of query shapes and term weights."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        words = [w for w in vocabulary() if w not in MARKERS]
        ranks = {"head": (0, 10), "torso": (10, 100),
                 "tail": (100, len(words))}
        self.bands = {b: (words[lo:hi], _zipf(hi - lo))
                      for b, (lo, hi) in ranks.items()}
        self.bands["marker"] = (list(MARKERS), None)
        self.seen: set = set()
        self.made = 0
        self.drawn = 0

    def term(self) -> str:
        words, p = self.bands[BANDS[self.drawn % len(BANDS)]]
        self.drawn += 1
        return words[self.rng.choice(len(words), p=p)]

    def fresh(self) -> tuple[str, str]:
        n = 1 + self.made % MAX_TERMS
        mode = "AND" if self.made % 10 in AND_SLOTS else "OR"
        self.made += 1
        while True:
            q = " ".join(self.term() for _ in range(n))
            if (q, mode) not in self.seen:
                self.seen.add((q, mode))
                return q, mode


def serve_stream(seed: int, n_calls: int = 2000) -> list[tuple[str, str]]:
    """Single-query calls. Exactly one call in every ``REPEAT_EVERY`` is
    an exact repeat of an earlier fresh query (a plan-cache hit), picked
    Zipf-weighted by first-issue order; the other calls are fresh
    queries from a pool of ``n_calls * 4 / 5`` distinct queries, larger
    than the engine's 256-entry plan cache."""
    rng = np.random.default_rng([seed, 1])
    maker = _QueryMaker(rng)
    issued: list[tuple[str, str]] = []
    out: list[tuple[str, str]] = []
    for start in range(0, n_calls, REPEAT_EVERY):
        # slot 0 is always fresh, so a repeat always has an earlier query
        rep = int(rng.integers(1, REPEAT_EVERY))
        for slot in range(min(REPEAT_EVERY, n_calls - start)):
            if slot == rep:
                j = int(rng.choice(len(issued), p=_zipf(len(issued))))
                out.append(issued[j])
            else:
                q = maker.fresh()
                issued.append(q)
                out.append(q)
    return out


def batch_stream(seed: int, n_blocks: int = 200,
                 size: int = 20) -> list[list[dict]]:
    """Blocks of ``size`` queries for ``search_batch``; no query repeats
    anywhere in the stream, so every block misses the plan cache."""
    rng = np.random.default_rng([seed, 2])
    maker = _QueryMaker(rng)
    blocks = []
    for b in range(n_blocks):
        block = []
        for i in range(size):
            q, mode = maker.fresh()
            block.append({"id": f"b{b}q{i}", "query": q, "mode": mode})
        blocks.append(block)
    return blocks
