"""Seeded query sampler over ``corpus.VOCAB``.

Keeps the shape of ``queryset.synth_reference_queries``: 1-4 terms, the
first from the band its schedule walks (``VOCAB[0:1700]``), the rest
from the whole vocabulary, and the head term on about one query in 23.
Same seed, same queries; the engine sees only the generated strings.
"""

from __future__ import annotations

import numpy as np

BAND = 1700
HEAD_EVERY = 23


class QueryStream:
    """Endless seeded stream of queries with increasing qids."""

    def __init__(self, seed: int):
        from themis_search_engine_spark.corpus import HEAD_TERM, VOCAB

        self._vocab = VOCAB
        self._head = HEAD_TERM
        self._rng = np.random.default_rng(seed)
        self._next_qid = 0

    def take(self, n: int) -> dict[int, str]:
        rng, vocab = self._rng, self._vocab
        out: dict[int, str] = {}
        for _ in range(n):
            n_terms = int(rng.integers(1, 5))
            terms = [vocab[int(rng.integers(0, BAND))]]
            terms += [vocab[int(j)]
                      for j in rng.integers(0, len(vocab), n_terms - 1)]
            if rng.random() < 1.0 / HEAD_EVERY:
                terms.append(self._head)
            out[self._next_qid] = " ".join(terms)
            self._next_qid += 1
        return out
